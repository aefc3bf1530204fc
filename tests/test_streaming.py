"""The batch sessionize gate row against its DuckDB oracle, and the
multimodal plumbing's determinism."""

from __future__ import annotations

import pytest

from incresql_spark.streaming import sessionize

from .conftest import SF_SMALL
from .oracle import assert_matches_oracle


def test_sessionize_matches_oracle(spark, duck):
    assert_matches_oracle(
        spark, duck, sessionize.sessionize, sessionize.SESSIONIZE_SQL, SF_SMALL
    )


def test_multimodal_plumbing(spark):
    from incresql_spark.operators import multimodal

    out = multimodal.mm_features(spark, SF_SMALL).collect()
    assert len(out) == 500
    assert all(r.feature_dim == 8 for r in out)
    # deterministic: same payload → same features on re-run
    out2 = multimodal.mm_features(spark, SF_SMALL).collect()
    assert [(r.px_sum, r.px_sq_sum) for r in out] == [
        (r.px_sum, r.px_sq_sum) for r in out2
    ]
    # real decode path is an explicit stub
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"xx", "png")
