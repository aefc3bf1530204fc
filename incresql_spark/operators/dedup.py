"""Deduplication operators over ``documents`` / ``embeddings`` — the dedup
stage of a training-data pipeline (BASELINE.json north star).

Every operator is oracle-matched against DuckDB (no weaker rows-only
checks) because all randomness is derived from the cross-engine hash60
primitive (functions/hashing.py):

- ``dedup_exact``            — hash-groupBy on raw content
- ``dedup_passages``         — C4-style cross-doc passage/boilerplate dedup
- ``dedup_ngram_jaccard``    — exact 3-gram-shingle Jaccard over pairs
                               sharing a rare shingle (ground truth)
- ``dedup_minhash_lsh``      — 16 MinHashes → 4 LSH bands → candidates →
                               exact-Jaccard verification (the scale path)
- ``dedup_simhash``          — 60-bit SimHash + banded Hamming pairs
- ``dedup_embedding``        — embedding-cosine near-dup pairs (exact fold)
- ``dedup_substring_winnow`` — alignment-robust substring-level dedup
                               (winnowing fingerprints, MOSS)
- ``dedup_url``              — canonicalized-URL dedup
- ``dedup_contamination``    — eval-set decontamination (broadcast overlap)
- ``dedup_clusters``         — pairs → clusters via min-label propagation

Scale design: every stage is groupBy/join on keys that Spark shuffles
hash-partitioned; nothing collects to the driver.  MinHash signatures are 16
min() aggregates over one explode (one shuffle); LSH banding turns the
quadratic pair search into per-band equi-joins (shuffle on band key — skew
from giant buckets is handled by AQE skew-join splitting).  At 100 TB the
only change needed is a salt on degenerate shingles (empty docs) and
persisting the signature table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.hashing import (
    double_hash_duck,
    double_hash_spark,
    hash60_spark_sql,
    hash60_sql,
)
from ..plans.layout import materialize, materialize_bounded
from ..plans.lsh import (
    bits_for_corpus,
    dot_literal_duck,
    dot_literal_spark,
    hyperplane,
    nbits_sql,
)
from .text import TOKENS_DUCK, TOKENS_SPARK

N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS
JACCARD_THRESHOLD = 0.5

# 3-word shingles over the token array (guarded: <3 tokens → empty).
SHINGLES_SPARK = (
    "CASE WHEN size(tokens) >= 3 THEN "
    "transform(sequence(0, size(tokens) - 3), i -> "
    "concat_ws(' ', element_at(tokens, i + 1), element_at(tokens, i + 2), "
    "element_at(tokens, i + 3))) "
    "ELSE array() END"
)
SHINGLES_DUCK = (
    "list_transform(range(0, greatest(len(tokens) - 2, 0)), i -> "
    "tokens[i + 1] || ' ' || tokens[i + 2] || ' ' || tokens[i + 3])"
)


def doc_shingles_df(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles array<string> distinct, n_shingles) from a raw
    ``documents``-shaped DataFrame (needs doc_id + text).

    The >=3-token guard is applied to the RAW rows, not as ``n_shingles > 0``
    after the shingle projection (the two are equivalent): a filter placed
    above the projection gets predicate-pushed through it, which inlines the
    whole shingle expression — a ``transform`` lambda over
    ``regexp_extract_all`` — into the filter condition.  Higher-order
    functions disable whole-stage codegen for that filter, and the
    interpreted evaluator re-runs the token regex for every element_at
    inside the lambda: ~3 regex executions per shingle per row instead of
    one per row (observed 100x wall-clock blowup at a tiled sf1).  Filtering
    on ``size(tokens) >= 3`` keeps the pushed predicate a single regex run
    and leaves the shingle projection in its own codegen stage."""
    return (
        docs.filter(F.expr(f"size({TOKENS_SPARK}) >= 3"))
        .withColumn("tokens", F.expr(TOKENS_SPARK))
        .withColumn("shingles", F.array_distinct(F.expr(SHINGLES_SPARK)))
        .select("doc_id", "shingles", F.size("shingles").alias("n_shingles"))
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_shingles_df(load_table(spark, sf_dir, "documents"))


_DOC_SHINGLES_DUCK = f"""
  SELECT doc_id, shingles, len(shingles) AS n_shingles
  FROM (
    SELECT doc_id, list_distinct({SHINGLES_DUCK}) AS shingles
    FROM (SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents) tk
  ) sh
  WHERE len(shingles) > 0
"""


# --- Exact dedup -----------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content hash; keeper = min doc_id.

    The reference models dedup as groupBy-all-columns with frequency merge
    (SURVEY §1.1 'all columns are the pk', storage/src/table.rs:320-346);
    this is the same idea keyed on a content digest so only the 16-byte key
    shuffles, not the document bodies.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .orderBy("keeper_doc_id")
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
HAVING COUNT(*) > 1
ORDER BY keeper_doc_id
"""


# --- Exact n-gram Jaccard (ground truth) -----------------------------------
#: max documents a shingle may appear in and still generate candidates: a
#: stop-shingle shared by k docs explodes into k² join pairs, which is the
#: classic inverted-index scale-killer (k=10⁶ at 100 TB → 10¹² pairs from
#: ONE shingle).  Capping df bounds every shingle's contribution at CAP²
#: pairs; a true near-dup pair (J ≥ 0.5) essentially always shares rare
#: shingles too, and the exact verify keeps the output exact for every
#: pair that survives candidate generation.  At the driver's gate/bench
#: scale max df is 7/25, so the cap provably changes nothing there.
SHINGLE_DF_CAP = 64


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with shingle-Jaccard ≥ 0.5, exact-verified.

    Candidates come from an inverted-index self-join restricted to shingles
    with document frequency ≤ SHINGLE_DF_CAP (never a cross product, never
    a quadratic hot-key blowup); each candidate pair is then verified with
    the exact Jaccard over the full distinct-shingle sets — the same
    candidate/verify split dedup_minhash_lsh uses.

    Verify shape (the part that matters at scale): n_common decomposes
    exactly by shingle document-frequency class —
    ``|A∩B| = |A∩B∩rare| + |A∩B∩hot|``.  The rare part falls out of the
    candidate join itself (each joined row IS one shared rare shingle, so a
    pair-key count replaces the distinct), and only the per-doc HOT shingle
    arrays — a handful of boilerplate shingles per doc — travel through the
    verify join.  The naive alternative (carry both docs' full shingle
    arrays to every candidate pair) shuffles ~|pairs| x 2 x |doc| strings:
    measured 190s -> 88.5s end-to-end at the tiled sf1 (5.2M candidates,
    50k docs, DuckDB needs 467s) with byte-identical output.  A 3*min(na,nb) >= na+nb length prefilter
    (necessary for J >= 0.5 since n_common <= min) prunes pairs before the
    residual intersect; the oracle keeps the straightforward full-array
    formulation — values are provably identical.
    """
    docsh = _doc_shingles(spark, sf_dir).persist()
    exploded = docsh.select("doc_id", F.explode("shingles").alias("shingle"))
    dfreq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).persist()
    rare = dfreq.filter(F.col("df") <= SHINGLE_DF_CAP).select("shingle")
    hot = dfreq.filter(F.col("df") > SHINGLE_DF_CAP).select("shingle")
    idx = exploded.join(rare, ["shingle"])
    a = idx.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = idx.select(F.col("doc_id").alias("doc_b"), "shingle")
    candidates = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c_rare"))
    )
    hotdoc = (
        exploded.join(hot, ["shingle"])
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("hot_arr"))
    )
    meta = (
        docsh.select("doc_id", "n_shingles")
        .join(hotdoc, ["doc_id"], "left")
        .withColumn(
            "hot_arr", F.coalesce("hot_arr", F.array().cast("array<string>"))
        )
    )
    sa = meta.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_shingles").alias("na"),
        F.col("hot_arr").alias("hot_a"),
    )
    sb = meta.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_shingles").alias("nb"),
        F.col("hot_arr").alias("hot_b"),
    )
    pairs = (
        candidates.join(sa, ["doc_a"])
        .join(sb, ["doc_b"])
        .filter(3 * F.least("na", "nb") >= F.col("na") + F.col("nb"))
        .withColumn(
            "n_common",
            F.col("c_rare") + F.size(F.array_intersect("hot_a", "hot_b")),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "jaccard")
        .orderBy("doc_a", "doc_b")
    )
    # the pinned result owns no cache: the inputs go once it is computed
    try:
        return materialize_bounded(pairs)
    finally:
        docsh.unpersist()
        dfreq.unpersist()


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH docsh AS ({_DOC_SHINGLES_DUCK}),
exploded AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM docsh
),
rare AS (
  SELECT shingle FROM exploded GROUP BY shingle
  HAVING COUNT(*) <= {SHINGLE_DF_CAP}
),
idx AS (
  SELECT e.doc_id, e.shingle FROM exploded e JOIN rare USING (shingle)
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS n_common,
         sa.n_shingles AS na, sb.n_shingles AS nb
  FROM candidates c
  JOIN docsh sa ON c.doc_a = sa.doc_id
  JOIN docsh sb ON c.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, CAST(n_common AS INT) AS n_common,
       CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) AS jaccard
FROM verified
WHERE CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# --- MinHash + LSH ---------------------------------------------------------
def minhash_bands_long(docsh: DataFrame) -> DataFrame:
    """(doc_id, band_id, bk) LSH band table from a shingle table.

    Kirsch-Mitzenmacher family: 16 minhashes from ONE md5 per shingle
    (h1 + i*h2 < 2^53, overflow-free in both engines).  Long format: ONE
    explode + ONE equi-join on (band_id, bk) instead of N_BANDS separate
    joins (which would recompute the signature pipeline 2×N_BANDS times).
    Shared by the batch operator and the incremental maintainer so both
    produce byte-identical band keys.
    """
    h1, h2 = double_hash_spark("shingle")
    exploded = docsh.select("doc_id", F.explode("shingles").alias("shingle")).select(
        "doc_id", F.expr(h1).alias("h1"), F.expr(h2).alias("h2")
    )
    sig = exploded.groupBy("doc_id").agg(
        *[
            F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"mh{i}")
            for i in range(N_MINHASH)
        ]
    )
    band_structs = [
        F.struct(
            F.lit(j).alias("band_id"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.lit(str(j)),
                    *[F.col(f"mh{j * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
                )
            ).alias("bk"),
        )
        for j in range(N_BANDS)
    ]
    return (
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("band"))
        .select("doc_id", F.col("band.band_id").alias("band_id"), F.col("band.bk").alias("bk"))
    )


def verify_jaccard_pairs(
    candidates: DataFrame, shingles_a: DataFrame, shingles_b: DataFrame
) -> DataFrame:
    """Exact-Jaccard verification of (doc_a, doc_b) candidate pairs against
    two shingle tables (may be the same DataFrame for a self-dedup).  Output
    is deterministic — LSH only pruned the search space."""
    sa = shingles_a.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sha"),
        F.col("n_shingles").alias("na"),
    )
    sb = shingles_b.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("shb"),
        F.col("n_shingles").alias("nb"),
    )
    return (
        candidates.join(sa, ["doc_a"])
        .join(sb, ["doc_b"])
        .withColumn("n_common", F.size(F.array_intersect("sha", "shb")))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures → LSH band buckets → candidates → exact verify.

    16 hash functions (seeded hash60 family), 4 bands × 4 rows — collision
    probability ≈ 1-(1-j⁴)⁴, steep around j≈0.5.  Candidates from any band
    are verified with exact Jaccard via array intersection, so the output is
    deterministic (and oracle-checkable); LSH only prunes the search space.
    """
    # Persist the shingle table: it feeds the signature build AND the final
    # exact-verify join (on a cluster this is the signature/shingle table
    # you would materialize once per corpus snapshot anyway).
    docsh = _doc_shingles(spark, sf_dir).persist()
    bands_long = minhash_bands_long(docsh).persist()
    a = bands_long.select(F.col("doc_id").alias("doc_a"), "band_id", "bk")
    b = bands_long.select(F.col("doc_id").alias("doc_b"), "band_id", "bk")
    candidates = (
        a.join(b, ["band_id", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pairs = verify_jaccard_pairs(candidates, docsh, docsh).orderBy("doc_a", "doc_b")
    # the pinned result owns no cache: the inputs go once it is computed
    try:
        return materialize_bounded(pairs)
    finally:
        docsh.unpersist()
        bands_long.unpersist()


def _minhash_lsh_oracle() -> str:
    dh1, dh2 = double_hash_duck("shingle")
    mh_cols = ",\n         ".join(
        f"MIN(h1 + {i} * h2) AS mh{i}" for i in range(N_MINHASH)
    )
    band_cols = ",\n         ".join(
        "md5(concat_ws(',', '{j}', {cols})) AS band{j}".format(
            j=j,
            cols=", ".join(f"mh{j * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
        )
        for j in range(N_BANDS)
    )
    band_joins = "\n  UNION\n".join(
        f"  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
        f"  FROM bands a JOIN bands b ON a.band{j} = b.band{j} AND a.doc_id < b.doc_id"
        for j in range(N_BANDS)
    )
    return f"""
WITH docsh AS ({_DOC_SHINGLES_DUCK}),
exploded AS (
  SELECT doc_id, {dh1} AS h1, {dh2} AS h2
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM docsh) e
),
sig AS (
  SELECT doc_id,
         {mh_cols}
  FROM exploded
  GROUP BY doc_id
),
bands AS (
  SELECT doc_id,
         {band_cols}
  FROM sig
),
candidates AS (
{band_joins}
)
SELECT c.doc_a,
       c.doc_b,
       len(list_intersect(a.shingles, b.shingles)) AS n_common,
       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         / CAST(a.n_shingles + b.n_shingles
                - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS jaccard
FROM candidates c
JOIN docsh a ON a.doc_id = c.doc_a
JOIN docsh b ON b.doc_id = c.doc_b
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / CAST(a.n_shingles + b.n_shingles
               - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


DEDUP_MINHASH_LSH_SQL = _minhash_lsh_oracle()


# --- SimHash ---------------------------------------------------------------
SIMHASH_BITS = 60
HAMMING_MAX = 8
SIMHASH_BAND_BITS = 15


def _simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): 60-bit SimHash over token multiset."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.withColumn("tokens", F.expr(TOKENS_SPARK))
        .select("doc_id", F.explode("tokens").alias("token"))
        .withColumn("h", F.expr(hash60_spark_sql("token")))
    )
    bits = tok.select(
        "doc_id", "h", F.explode(F.expr("sequence(0, 59)")).alias("b")
    ).groupBy("doc_id", "b").agg(
        F.sum(
            F.when(F.expr("(h div shiftleft(1L, b)) % 2") == 1, 1).otherwise(-1)
        ).alias("bitsum")
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("bitsum") > 0, F.expr("shiftleft(1L, b)")).otherwise(F.lit(0))
        ).alias("simhash")
    )


_SIMHASH_DUCK = f"""
  SELECT doc_id,
         SUM(CASE WHEN bitsum > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
  FROM (
    SELECT doc_id, b,
           SUM(CASE WHEN (h // (CAST(1 AS BIGINT) << b)) % 2 = 1 THEN 1 ELSE -1 END) AS bitsum
    FROM (
      SELECT doc_id, {hash60_sql('token')} AS h
      FROM (SELECT doc_id, unnest({TOKENS_DUCK}) AS token FROM documents) tk
    ) th
    CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bits
    GROUP BY doc_id, b
  ) bs
  GROUP BY doc_id
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash banding + Hamming distance ≤ 8.

    4 bands of 15 bits: any pair within Hamming distance 3 shares a band for
    sure (pigeonhole); ≤8 keeps a wider, still-banded candidate net.  The
    emitted pairs are exactly {{(a,b) sharing a band AND hamming ≤ 8}} —
    deterministic, so oracle-checkable.
    """
    sim = _simhash(spark, sf_dir)
    banded = sim.select(
        "doc_id",
        "simhash",
        *[
            F.expr(
                f"(simhash div shiftleft(1L, {j * SIMHASH_BAND_BITS})) % "
                f"shiftleft(1L, {SIMHASH_BAND_BITS})"
            ).alias(f"sband{j}")
            for j in range(4)
        ],
    )
    pairs = None
    for j in range(4):
        a = banded.select(
            F.col("doc_id").alias("doc_a"),
            F.col("simhash").alias("ha"),
            F.col(f"sband{j}").alias("bk"),
        )
        b = banded.select(
            F.col("doc_id").alias("doc_b"),
            F.col("simhash").alias("hb"),
            F.col(f"sband{j}").alias("bk"),
        )
        p = a.join(b, ["bk"]).filter(F.col("doc_a") < F.col("doc_b")).select(
            "doc_a", "doc_b", "ha", "hb"
        )
        pairs = p if pairs is None else pairs.union(p)
    return (
        pairs.distinct()
        .withColumn("hamming", F.expr("bit_count(ha ^ hb)"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def _simhash_band_sql(j: int, col: str = "simhash") -> str:
    return (
        f"(({col} // (CAST(1 AS BIGINT) << {j * SIMHASH_BAND_BITS}))"
        f" % (CAST(1 AS BIGINT) << {SIMHASH_BAND_BITS}))"
    )


DEDUP_SIMHASH_SQL = f"""
WITH sim AS ({_SIMHASH_DUCK}),
banded AS (
  SELECT doc_id, simhash,
         {", ".join(f"{_simhash_band_sql(j)} AS sband{j}" for j in range(4))}
  FROM sim
),
pairs AS (
{"  UNION".join(
    f'''
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS ha, b.simhash AS hb
  FROM banded a JOIN banded b ON a.sband{j} = b.sband{j} AND a.doc_id < b.doc_id
'''
    for j in range(4)
)}
)
SELECT doc_a, doc_b, bit_count(xor(ha, hb)) AS hamming
FROM pairs
WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}
ORDER BY doc_a, doc_b
"""


# --- Embedding-cosine near-dup ---------------------------------------------
# The synthetic embeddings are not tightly clustered (max pairwise cosine
# ≈ 0.32), so "near-dup" here means the top ~0.1% of the cosine distribution.
COSINE_THRESHOLD = 0.30
_DOT_SPARK = (
    "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0D, (acc, x) -> acc + x)"
)
_NORM_SPARK = (
    "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "0D, (acc, x) -> acc + x))"
)
_DOT_DUCK = (
    "list_reduce(list_transform(list_zip(ea, eb), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
)
_NORM_DUCK = (
    "sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "(acc, x) -> acc + x))"
)


N_EMBED_BANDS = 4
#: per-band width ceiling; also the PLANE-INDEX STRIDE between bands, so a
#: band's j-th hyperplane is the same physical plane at every width — what
#: lets one oracle string adapt its width to any corpus size
EMBED_BAND_HI = 12


def _embed_band_bits(n_rows: int) -> int:
    """Per-band hyperplane bits, grown with the corpus (≤ 2^12 buckets/band)."""
    return bits_for_corpus(n_rows, target_rows_per_bucket=64, lo=4, hi=EMBED_BAND_HI)


def _embed_band_spark(band: int, band_bits: int) -> str:
    bits = [
        f"(CASE WHEN {dot_literal_spark('embedding', hyperplane(band * EMBED_BAND_HI + j, salt='dplane'))} > 0D "
        f"THEN shiftleft(1L, {j}) ELSE 0L END)"
        for j in range(band_bits)
    ]
    return " + ".join(bits)


def _embed_band_duck_dynamic(band: int, nbits_col: str = "nbits") -> str:
    """Width-masked DuckDB twin of ``_embed_band_spark``: all EMBED_BAND_HI
    candidate projections, bit j live only when ``j < nbits`` (the
    corpus-derived width from the ``nbits_sql`` CTE)."""
    bits = [
        f"(CASE WHEN {j} < {nbits_col} "
        f"AND {dot_literal_duck('embedding', hyperplane(band * EMBED_BAND_HI + j, salt='dplane'))} > 0 "
        f"THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
        for j in range(EMBED_BAND_HI)
    ]
    return " + ".join(bits)


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: banded random-hyperplane LSH candidate
    generation + exact cosine verification at COSINE_THRESHOLD (0.30 — the
    synthetic corpus's top-of-distribution; see the comment above).

    Candidates come from {N_EMBED_BANDS} signed-projection bands — a vector
    pair is a candidate iff some band's full bit pattern collides — then the
    exact strict-left-fold cosine (bit-identical in DuckDB) verifies each
    candidate.  The oracle mirrors the banding, so the driver gate checks
    the whole candidate-gen + verify pipeline value-exactly.

    Scale: NO cross join anywhere — each band is an equi-join shuffled on
    its band key, candidates are unioned + distinct'd, then one hash join
    back for the verify.  Band width grows with the corpus
    (plans.lsh.bits_for_corpus), AQE splits residual bucket skew.  Recall
    follows the banding S-curve (more bands → higher recall, wider bands →
    fewer candidates); production tunes both to the target threshold.
    """
    e = load_table(spark, sf_dir, "embeddings")
    band_bits = _embed_band_bits(e.count())
    # Materialized once (plans.layout.materialize; see its cluster fault-tolerance note): the banded projection (norm
    # fold + N_EMBED_BANDS sign-bit folds over literal hyperplanes —
    # megabyte-scale expression trees) feeds every band's self-join plus both
    # verify sides.  Lazily it would be recomputed by each of those ~6 scans,
    # and every downstream task binary would re-ship the hyperplane literals
    # (the 1-2 MB "broadcasting large task binary" warnings).  Checkpointing
    # computes the folds exactly once and truncates the lineage so downstream
    # stages see only the narrow (vec_id, embedding, norm, bands) relation —
    # the signature table a 100 TB run would materialize to storage.
    banded = materialize(
        e.select(
            "vec_id",
            "embedding",
            F.expr(_NORM_SPARK).alias("norm"),
            *[
                F.expr(_embed_band_spark(b, band_bits)).alias(f"band{b}")
                for b in range(N_EMBED_BANDS)
            ],
        )
    )
    cand = None
    for b in range(N_EMBED_BANDS):
        lhs = banded.select(F.col("vec_id").alias("vec_a"), F.col(f"band{b}").alias("bk"))
        rhs = banded.select(F.col("vec_id").alias("vec_b"), F.col(f"band{b}").alias("bk"))
        pairs_b = lhs.join(rhs, "bk").filter(F.col("vec_a") < F.col("vec_b")).select(
            "vec_a", "vec_b"
        )
        cand = pairs_b if cand is None else cand.union(pairs_b)
    cand = cand.distinct()
    a = banded.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("norm").alias("norm_a"),
    )
    b_ = banded.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("norm_b"),
    )
    return (
        cand.join(a, "vec_a")
        .join(b_, "vec_b")
        .withColumn("cosine", F.expr(_DOT_SPARK) / (F.col("norm_a") * F.col("norm_b")))
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    )


def _embed_sql() -> str:
    bands_sel = ",\n         ".join(
        f"({_embed_band_duck_dynamic(b)}) AS band{b}" for b in range(N_EMBED_BANDS)
    )
    union = "\n  UNION\n".join(
        f"  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b\n"
        f"  FROM banded a JOIN banded b ON a.band{b} = b.band{b} AND a.vec_id < b.vec_id"
        for b in range(N_EMBED_BANDS)
    )
    return f"""
WITH nb AS (
  {nbits_sql('embeddings', hi=EMBED_BAND_HI)}
),
banded AS (
  SELECT vec_id, embedding, {_NORM_DUCK} AS norm,
         {bands_sel}
  FROM embeddings, nb
),
cand AS (
{union}
),
pairs AS (
  SELECT c.vec_a, c.vec_b,
         a.embedding AS ea, b.embedding AS eb,
         a.norm AS norm_a, b.norm AS norm_b
  FROM cand c
  JOIN banded a ON c.vec_a = a.vec_id
  JOIN banded b ON c.vec_b = b.vec_id
)
SELECT vec_a, vec_b,
       {_DOT_DUCK} / (norm_a * norm_b) AS cosine
FROM pairs
WHERE {_DOT_DUCK} / (norm_a * norm_b) >= {COSINE_THRESHOLD}
ORDER BY vec_a, vec_b
"""


DEDUP_EMBEDDING_SQL = _embed_sql()


LABEL_PROP_ITERS = 3


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → duplicate CLUSTERS via min-label propagation
    (fixed {LP} iterations) — the step that turns pairwise evidence into an
    actual keep/drop decision set per group.

    Each iteration is one shuffle (group neighbor minima) + one left join;
    a fixed iteration count keeps the whole thing a single deterministic
    Catalyst plan, identical to the oracle's CTE chain whether or not long
    chains have fully converged.  Diameter>{LP} components are rare in dup
    graphs (near-dups are cliques-ish); production raises the constant or
    checkpoints between rounds.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # Materialized once (plans.layout.materialize; see its cluster fault-tolerance note): edges feed BOTH sides of
    # every propagation iteration, and their lineage is the entire
    # ngram-Jaccard candidate/verify pipeline — lazily Catalyst re-executes
    # that pipeline ~2x per iteration (observed 87s -> ~13s at sf0.01 from
    # this checkpoint alone; propagation itself is 0.7s).  This is the
    # standard iterative-graph pattern: materialize the edge list, then each
    # round is one cheap shuffle over it with lineage that starts at the
    # checkpoint instead of the raw corpus.
    edges = materialize(
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        ).toDF("src", "dst")
    )
    lbl = edges.select(F.col("src").alias("doc")).distinct().withColumn(
        "lbl", F.col("doc")
    )
    for _ in range(LABEL_PROP_ITERS):
        nb = (
            edges.join(lbl, edges.src == lbl.doc)
            .groupBy(F.col("dst").alias("doc2"))
            .agg(F.min("lbl").alias("nb_lbl"))
        )
        lbl = lbl.join(nb, lbl.doc == nb.doc2, "left").select(
            "doc",
            F.least(F.col("lbl"), F.coalesce(F.col("nb_lbl"), F.col("lbl"))).alias(
                "lbl"
            ),
        )
    return lbl.select(
        F.col("lbl").alias("cluster_id"), F.col("doc").alias("doc_id")
    ).orderBy("cluster_id", "doc_id")


def _clusters_sql() -> str:
    ctes = [
        f"pairs AS (SELECT doc_a, doc_b FROM ({DEDUP_NGRAM_JACCARD_SQL}))",
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
        "UNION ALL SELECT doc_b, doc_a FROM pairs)",
        "lbl0 AS (SELECT DISTINCT src AS doc, src AS lbl FROM edges)",
    ]
    for i in range(LABEL_PROP_ITERS):
        ctes.append(
            f"nb{i} AS (SELECT e.dst AS doc, MIN(l.lbl) AS nb_lbl "
            f"FROM edges e JOIN lbl{i} l ON e.src = l.doc GROUP BY e.dst)"
        )
        ctes.append(
            f"lbl{i + 1} AS (SELECT l.doc, "
            f"LEAST(l.lbl, COALESCE(n.nb_lbl, l.lbl)) AS lbl "
            f"FROM lbl{i} l LEFT JOIN nb{i} n ON n.doc = l.doc)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT lbl AS cluster_id, doc AS doc_id
FROM lbl{LABEL_PROP_ITERS}
ORDER BY cluster_id, doc_id
"""
    )


DEDUP_CLUSTERS_SQL = _clusters_sql()

dedup_clusters.__doc__ = dedup_clusters.__doc__.replace(
    "{LP}", str(LABEL_PROP_ITERS)
)


EVAL_SET_MAX_DOC = 20  # doc_id < 20 plays the benchmark/eval set


def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination pass: find training docs sharing any shingle with the
    eval set, with the overlap count as evidence.

    Shape: the eval side's shingles are tiny (benchmarks are small) →
    broadcast to every executor; the training corpus streams past it in one
    narrow pass.  No corpus-side shuffle until the per-doc aggregate — at
    100 TB this is the only shape that works.
    """
    docsh = _doc_shingles(spark, sf_dir)
    ev = docsh.filter(F.col("doc_id") < EVAL_SET_MAX_DOC).select(
        F.col("doc_id").alias("eval_doc_id"),
        F.explode("shingles").alias("shingle"),
    )
    tr = docsh.filter(F.col("doc_id") >= EVAL_SET_MAX_DOC).select(
        F.col("doc_id").alias("train_doc_id"),
        F.explode("shingles").alias("shingle"),
    )
    return (
        tr.join(F.broadcast(ev), ["shingle"])
        .groupBy("train_doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_common_shingles"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs_hit"),
        )
        .orderBy("train_doc_id")
    )


DEDUP_CONTAMINATION_SQL = f"""
WITH docsh AS ({_DOC_SHINGLES_DUCK}),
ev AS (
  SELECT doc_id AS eval_doc_id, unnest(shingles) AS shingle
  FROM docsh WHERE doc_id < {EVAL_SET_MAX_DOC}
),
tr AS (
  SELECT doc_id AS train_doc_id, unnest(shingles) AS shingle
  FROM docsh WHERE doc_id >= {EVAL_SET_MAX_DOC}
)
SELECT train_doc_id,
       CAST(count(DISTINCT t.shingle) AS BIGINT) AS n_common_shingles,
       CAST(count(DISTINCT e.eval_doc_id) AS BIGINT) AS n_eval_docs_hit
FROM tr t JOIN ev e USING (shingle)
GROUP BY train_doc_id
ORDER BY train_doc_id
"""


# --- Bloom-filter contamination screen (Bloom 1970, CACM 13(7)) -------------
# dedup_contamination broadcasts the EVAL SET'S SHINGLES — fine while the
# benchmark suite is small, but the broadcast grows with the eval corpus.
# The Bloom screen broadcasts a fixed-size BIT SET instead: k md5-seeded
# probe positions per shingle folded into m bits, so the executor-side
# state is bounded at m bits NO MATTER how many eval shingles exist, and
# bit sets OR-merge (idempotent/commutative — new eval docs just add
# bits).  Bloom guarantees no false negatives, so the screen is a safe
# pre-filter: every exact hit is a Bloom hit; the false-positive columns
# measure the (tunable) overcount.  Everything is integer / membership
# logic on the shared hash60, so the whole report value-hashes
# cross-engine.
BLOOM_M = 1 << 16   # bits
BLOOM_K = 4         # probe hashes per shingle


def _bloom_idx_spark() -> str:
    h = hash60_spark_sql("concat(CAST(j AS STRING), '|', shingle)")
    return f"({h} % {BLOOM_M})"


def _bloom_idx_duck() -> str:
    h = hash60_sql("'' || j || '|' || shingle")
    return f"({h} % {BLOOM_M})"


def bloom_bits(ev: DataFrame) -> DataFrame:
    """Eval-shingle frame (column ``shingle``, need not be distinct) ->
    the m={BLOOM_M}-bit set as an ``idx`` frame of set positions, one row
    per (shingle, probe): duplicates are left in, <= m distinct values.
    Shared by the batch screen and the incremental maintainer
    (streaming/bloom_incremental.py) so maintained bits come from the
    exact code path the batch operator uses; bit sets OR-merge, which on
    this representation is just union + distinct.  No distinct here:
    both consumers fold the frame through an idempotent step anyway —
    the ``_bloom_test`` BIT_OR packing, the maintainer's merge distinct
    — so a trailing one would be a pure extra exchange."""
    seeds = ", ".join(str(j) for j in range(BLOOM_K))
    return (
        ev.select("shingle",
                  F.explode(F.expr(f"array({seeds})")).alias("j"))
        .select(F.expr(_bloom_idx_spark()).alias("idx"))
    )


def _bloom_test(bits: DataFrame):
    """The per-row Bloom membership test over a ``shingle`` column, as
    (word-array literal, predicate SQL): the bit set is packed into m/64
    BIGINT words embedded as a constant-folded array literal, so each row
    tests its k probe positions with element_at + bit shift IN PLACE.
    Shared by the production screen and the verify-mode fused pass (r18).

    The packing happens IN the aggregate (r19, verdict item 6): each task
    folds its idx rows into <= m/64 (word, bits) partial rows via BIT_OR
    — idempotent, so duplicate idx rows need no prior distinct — and the
    driver collects <= 1,024 packed words instead of <= 65,536 idx rows.
    The literal is built as ONE ``F.lit(list)`` call: the previous
    per-word ``F.array(*[F.lit(w) ...])`` issued 2 py4j round-trips per
    word — ~1.7s of serial driver time for a job whose cluster work is
    0.3s (measured; the r18 "serial bits job dominates the row" was this
    loop, not the collect)."""
    word_rows = (
        bits.groupBy(F.shiftright("idx", 6).cast("int").alias("w"))
        .agg(F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 64 AS INT))")
        ).alias("bits"))
        .collect()
    )
    words = [0] * (BLOOM_M // 64)
    for r in word_rows:
        words[int(r["w"])] = int(r["bits"])  # already two's-complement
    arr = F.lit(words).cast("array<bigint>")
    tests = []
    for j in range(BLOOM_K):
        h = hash60_spark_sql(f"concat('{j}', '|', shingle)")
        idx = f"({h} % {BLOOM_M})"
        tests.append(
            f"((shiftright(element_at(__bw, CAST({idx} DIV 64 AS INT) + 1),"
            f" CAST({idx} % 64 AS INT)) & 1) = 1)"
        )
    return arr, " AND ".join(tests)


def bloom_screen(tr: DataFrame, bits: DataFrame) -> DataFrame:
    """Training (train_doc_id, shingle) frame x bit set -> per-doc Bloom
    hit counts (train_doc_id, n_bloom_hits).

    r18 shape (see ``_bloom_test``): the bit set is a constant-folded
    word-array literal probed in place.  The previous shape exploded
    every row k ways, broadcast-joined the bit set and re-grouped by
    (doc, shingle) — a k× row blowup plus a full-width exchange, all to
    evaluate what is a per-row predicate.  Rows are unique per
    (doc, shingle) by construction (doc_shingles_df array_distincts), so
    counting positive rows per doc is identical to the old
    group-then-count.  Executor-side state stays O(m) bits — as a plan
    literal instead of a broadcast relation."""
    arr, pred = _bloom_test(bits)
    return (
        tr.withColumn("__bw", arr)
        .filter(F.expr(pred))
        .groupBy("train_doc_id")
        .agg(F.count("*").cast("bigint").alias("n_bloom_hits"))
    )


bloom_bits.__doc__ = bloom_bits.__doc__.replace("{BLOOM_M}", str(BLOOM_M))


def dedup_contamination_bloom(
    spark: SparkSession, sf_dir: str, verify: bool = True,
    bits: DataFrame | None = None,
) -> DataFrame:
    """Contamination screen through an m={BLOOM_M}, k={BLOOM_K} Bloom
    filter of the eval set's shingles, with the exact overlap ride-along
    (the gate shape) proving no-false-negatives row by row.
    ``verify=False`` (dedup_contamination_bloom_only, the bench row) is
    the production path: ONLY the O(m)-bit broadcast screen — the exact
    O(|eval shingles|) broadcast the screen exists to replace never
    appears in its plan.  ``bits`` injects an externally maintained bit
    set (the incremental maintainer's gate query); None computes it from
    the eval docs via ``bloom_bits``, the same code path.

    Plan shape: the eval pass folds its shingles into <= m distinct bit
    indexes (ONE tiny aggregate, broadcast); the training corpus streams
    past in one narrow pass — each (doc, shingle) is Bloom-positive when
    ALL k of its probe bits are set.  The only corpus-side shuffle is the
    per-doc aggregate, as in dedup_contamination — but the broadcast is
    O(m) bits instead of O(|eval shingles|)."""
    docsh = _doc_shingles(spark, sf_dir)
    ev = docsh.filter(F.col("doc_id") < EVAL_SET_MAX_DOC).select(
        F.explode("shingles").alias("shingle")
    )
    if verify:
        # the exact ride-along broadcast-joins the DISTINCT eval shingles
        # (countDistinct semantics need the set, and the small distinct
        # frame is what gets broadcast)
        ev = ev.distinct()
    # Production mode feeds bloom_bits the RAW exploded shingles: the
    # BIT_OR packing bounds the bit set at <= m/64 words, so a
    # pre-distinct only saves md5 work on the tiny eval side while
    # costing a full exchange in the serial bits-collect job (measured
    # at sf0.1, interleaved min-of-3: 3.31s -> 3.07s without it,
    # rows byte-identical).
    if bits is None:
        bits = bloom_bits(ev)
    tr = docsh.filter(F.col("doc_id") >= EVAL_SET_MAX_DOC).select(
        F.col("doc_id").alias("train_doc_id"),
        F.explode("shingles").alias("shingle"),
    )
    bloom_hits = bloom_screen(tr, bits)
    if not verify:
        return bloom_hits.orderBy("train_doc_id")
    # Verify mode stays TWO training passes (screen + exact broadcast
    # join) DELIBERATELY: an r18 experiment fused them into one pass
    # (bloom predicate as an int column + broadcast LEFT join + a single
    # two-column aggregate — provably row-identical via
    # no-false-negatives), expecting to save a corpus scan, and it
    # MEASURED SLOWER (interleaved min-of-3 at sf0.1: 3.64s vs 3.10s;
    # the bench row moved 3.8→4.2s).  The per-row cost here is the k=4
    # md5 probes and the join hash-probe — both paid identically either
    # way — while the saved scan+shingle pass is cheap and its removal
    # costs the screen its tight filter-before-aggregate codegen span.
    # Revisit only where scan cost dominates per-row hashing (wide
    # corpora on cold storage).
    exact_hits = (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("train_doc_id")
        .agg(F.countDistinct("shingle").alias("n_exact_hits"))
    )
    return (
        bloom_hits.join(exact_hits, "train_doc_id", "left")
        .select(
            "train_doc_id",
            "n_bloom_hits",
            F.coalesce("n_exact_hits", F.lit(0)).cast("bigint")
            .alias("n_exact_hits"),
            (F.col("n_bloom_hits")
             - F.coalesce("n_exact_hits", F.lit(0)))
            .cast("bigint").alias("n_false_positives"),
        )
        .orderBy("train_doc_id")
    )


dedup_contamination_bloom.__doc__ = dedup_contamination_bloom.__doc__ \
    .replace("{BLOOM_M}", str(BLOOM_M)).replace("{BLOOM_K}", str(BLOOM_K))


def _contamination_bloom_sql() -> str:
    seeds = ", ".join(str(j) for j in range(BLOOM_K))
    return f"""
WITH docsh AS ({_DOC_SHINGLES_DUCK}),
ev AS (
  SELECT DISTINCT unnest(shingles) AS shingle
  FROM docsh WHERE doc_id < {EVAL_SET_MAX_DOC}
),
bits AS (
  SELECT DISTINCT {_bloom_idx_duck()} AS idx
  FROM ev, unnest([{seeds}]) AS u(j)
),
tr AS (
  SELECT doc_id AS train_doc_id, unnest(shingles) AS shingle
  FROM docsh WHERE doc_id >= {EVAL_SET_MAX_DOC}
),
probes AS (
  SELECT train_doc_id, shingle, u.j AS j, {_bloom_idx_duck()} AS idx
  FROM tr, unnest([{seeds}]) AS u(j)
),
bloom_hits AS (
  SELECT train_doc_id, CAST(COUNT(*) AS BIGINT) AS n_bloom_hits FROM (
    SELECT train_doc_id, shingle
    FROM probes p JOIN bits b USING (idx)
    GROUP BY train_doc_id, shingle
    HAVING COUNT(*) = {BLOOM_K}
  ) GROUP BY train_doc_id
),
exact_hits AS (
  SELECT train_doc_id,
         CAST(COUNT(DISTINCT shingle) AS BIGINT) AS n_exact_hits
  FROM tr JOIN ev USING (shingle)
  GROUP BY train_doc_id
)
SELECT b.train_doc_id, b.n_bloom_hits,
       CAST(COALESCE(e.n_exact_hits, 0) AS BIGINT) AS n_exact_hits,
       CAST(b.n_bloom_hits - COALESCE(e.n_exact_hits, 0) AS BIGINT)
         AS n_false_positives
FROM bloom_hits b LEFT JOIN exact_hits e USING (train_doc_id)
ORDER BY b.train_doc_id
"""


DEDUP_CONTAMINATION_BLOOM_SQL = _contamination_bloom_sql()


def dedup_contamination_bloom_only(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION Bloom screen (r15 verdict task 4): verify=False — the
    O(m)-bit broadcast path alone, no exact-overlap ride-along, so the
    bench tracks the shape a 100 TB decontamination job actually runs.
    Columns: train_doc_id, n_bloom_hits."""
    return dedup_contamination_bloom(spark, sf_dir, verify=False)


def _contamination_bloom_only_sql() -> str:
    seeds = ", ".join(str(j) for j in range(BLOOM_K))
    return f"""
WITH docsh AS ({_DOC_SHINGLES_DUCK}),
ev AS (
  SELECT DISTINCT unnest(shingles) AS shingle
  FROM docsh WHERE doc_id < {EVAL_SET_MAX_DOC}
),
bits AS (
  SELECT DISTINCT {_bloom_idx_duck()} AS idx
  FROM ev, unnest([{seeds}]) AS u(j)
),
tr AS (
  SELECT doc_id AS train_doc_id, unnest(shingles) AS shingle
  FROM docsh WHERE doc_id >= {EVAL_SET_MAX_DOC}
),
probes AS (
  SELECT train_doc_id, shingle, u.j AS j, {_bloom_idx_duck()} AS idx
  FROM tr, unnest([{seeds}]) AS u(j)
)
SELECT train_doc_id, CAST(COUNT(*) AS BIGINT) AS n_bloom_hits FROM (
  SELECT train_doc_id, shingle
  FROM probes p JOIN bits b USING (idx)
  GROUP BY train_doc_id, shingle
  HAVING COUNT(*) = {BLOOM_K}
) GROUP BY train_doc_id
ORDER BY train_doc_id
"""


DEDUP_CONTAMINATION_BLOOM_ONLY_SQL = _contamination_bloom_only_sql()


def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the web-crawl staple: lowercase, drop the
    query string, strip a ``www.`` prefix and any trailing slash, then group.

    The corpus has no URL column, so deterministic synthetic URLs (varying
    only in non-canonical decoration) are derived per document; groups with
    >1 member are the dup sets.  One narrow map + one hash aggregation —
    the same shape as dedup_exact, linear at 100 TB.
    """
    d = load_table(spark, sf_dir, "documents")
    raw = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
            F.col("source"),
            F.lit(".example.com/"),
            F.col("lang"),
            F.lit("/"),
            (F.col("doc_id") % 50).cast("string"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("?utm_source=x")).otherwise(
                F.lit("")
            ),
        ).alias("url"),
    )
    canon = raw.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.split_part(F.col("url"), F.lit("?"), F.lit(1))),
                "^https://www\\.",
                "https://",
            ),
            "/$",
            "",
        ).alias("canonical_url"),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_dups") > 1)
        .orderBy("canonical_url")
    )


DEDUP_URL_SQL = """
WITH raw AS (
  SELECT doc_id,
         'https://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
         source || '.example.com/' || lang || '/' ||
         CAST(doc_id % 50 AS VARCHAR) ||
         CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
         CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x' ELSE '' END AS url
  FROM documents
),
canon AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(lower(split_part(url, '?', 1)),
                          '^https://www\\.', 'https://'),
           '/$', '') AS canonical_url
  FROM raw
)
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_dups,
       min(doc_id) AS keeper_doc_id
FROM canon
GROUP BY canonical_url
HAVING count(*) > 1
ORDER BY canonical_url
"""


# --- Passage-level boilerplate dedup ---------------------------------------
#: tokens per passage chunk; full chunks only (the ragged tail never matches
#: across documents anyway, so excluding it keeps both engines identical).
PASSAGE_TOKENS = 16
#: a chunk counts as boilerplate once this many distinct docs contain it.
PASSAGE_SHARED_MIN_DOCS = 2
#: docs whose boilerplate chunk fraction reaches this are dropped.
PASSAGE_MAX_SHARED_FRAC = 0.5


#: chunk list expression shared by the batch and incremental passage dedup.
#: sequence(0, -1) DESCENDS in Spark, so short docs are guarded to an empty
#: chunk list (DuckDB's range(0, 0) is already empty).
_CHUNK_EXPR = (
    f"CASE WHEN size(tokens) >= {PASSAGE_TOKENS} THEN "
    f"transform(sequence(0, int(size(tokens) / {PASSAGE_TOKENS}) - 1), "
    f"ci -> concat_ws(' ', slice(tokens, ci * {PASSAGE_TOKENS} + 1, {PASSAGE_TOKENS}))) "
    "ELSE array() END"
)


def doc_chunks_df(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_hash) — one row per 16-token chunk INSTANCE of a raw
    ``documents``-shaped DataFrame (needs doc_id + text).  Shared by the
    batch operator and ``IncrementalPassagesDedup`` so chunk digests are
    byte-identical between the two."""
    return (
        docs.withColumn("tokens", F.expr(TOKENS_SPARK))
        .select("doc_id", F.explode(F.expr(_CHUNK_EXPR)).alias("chunk"))
        .select("doc_id", F.md5("chunk").alias("chunk_hash"))
    )


def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document passage (chunk) boilerplate removal, C4-style.

    Web-scale curation removes *passages* that recur across many documents
    (navigation chrome, license blurbs) even when whole documents are
    unique.  Dataflow: tokenize → split into fixed 16-token chunks
    (array-side, narrow) → count distinct docs per chunk digest (one
    shuffle on a 16-byte md5 key — bodies never shuffle) → join the shared
    set back (second equi-join shuffle, AQE-broadcastable since shared
    chunks are a small fraction) → per-doc boilerplate fraction + keep flag.

    At 100 TB both shuffles key on fixed-width digests and partial
    aggregation collapses the explode before the wire; a hot boilerplate
    chunk concentrates only its (hash, count) pair, never row pairs, so
    there is no quadratic blowup anywhere.
    """
    chunks = doc_chunks_df(load_table(spark, sf_dir, "documents"))
    shared = (
        chunks.groupBy("chunk_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= PASSAGE_SHARED_MIN_DOCS)
        .select("chunk_hash", F.lit(1).alias("is_shared"))
    )
    return (
        chunks.join(shared, "chunk_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.coalesce(F.col("is_shared"), F.lit(0))).alias("n_shared_chunks"),
        )
        .withColumn(
            "shared_frac",
            F.col("n_shared_chunks").cast("double") / F.col("n_chunks").cast("double"),
        )
        .withColumn("keep", F.col("shared_frac") < PASSAGE_MAX_SHARED_FRAC)
        .orderBy("doc_id")
    )


DEDUP_PASSAGES_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(
           t[ci * {PASSAGE_TOKENS} + 1 : ci * {PASSAGE_TOKENS} + {PASSAGE_TOKENS}], ' '
         )) AS chunk_hash
  FROM toks, unnest(range(0, len(t) // {PASSAGE_TOKENS})) AS u(ci)
),
shared AS (
  SELECT chunk_hash, 1 AS is_shared
  FROM chunks GROUP BY chunk_hash
  HAVING count(DISTINCT doc_id) >= {PASSAGE_SHARED_MIN_DOCS}
),
per_doc AS (
  SELECT c.doc_id,
         count(*) AS n_chunks,
         CAST(sum(COALESCE(s.is_shared, 0)) AS BIGINT) AS n_shared_chunks
  FROM chunks c LEFT JOIN shared s USING (chunk_hash)
  GROUP BY c.doc_id
)
SELECT doc_id, n_chunks, n_shared_chunks,
       CAST(n_shared_chunks AS DOUBLE) / CAST(n_chunks AS DOUBLE) AS shared_frac,
       CAST(n_shared_chunks AS DOUBLE) / CAST(n_chunks AS DOUBLE)
         < {PASSAGE_MAX_SHARED_FRAC} AS keep
FROM per_doc
ORDER BY doc_id
"""


# --- Substring-level dedup via winnowing fingerprints ----------------------
WINNOW_K = 20        # character k-gram length
WINNOW_W = 10        # winnowing window (consecutive grams) per fingerprint
WINNOW_MIN_SHARED = 2  # fingerprints two docs must share to pair
WINNOW_DF_CAP = 64   # hot-fingerprint cap (same rationale as SHINGLE_DF_CAP)


def dedup_substring_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level near-dup pairs via winnowing fingerprints
    (Schleimer et al., SIGMOD'03 — the MOSS algorithm; the substring-dedup
    idea of Lee et al., arXiv:2107.06499, made alignment-robust).

    Character {K}-gram hashes at EVERY position, then each window of {W}
    consecutive gram-hashes contributes its minimum as a fingerprint: the
    selection depends only on content, so a long shared substring selects
    the same fingerprints in both documents REGARDLESS of where it starts
    — the property stride-sampled windows lack.  Guarantee: any shared
    substring of length >= K + W - 1 ({G} chars) yields at least one
    shared fingerprint.

    Shape: fingerprinting is a narrow per-doc expression (O(len·W) integer
    mins, no explode until the distinct fingerprint set); candidates come
    from the same capped inverted-index self-join as the shingle pipeline,
    counting shared fingerprints per pair in the join itself.  The md5-based
    gram hash is the cross-engine-verifiability price (winnowing SELECTION
    depends on hash order, so both engines must hash identically); measured
    at the tiled sf1: 50k docs / ~30M gram hashes / 472k pairs in 40.1s
    (DuckDB needs 70.1s there) — linear in corpus bytes, as MOSS is, after
    the round-5 byte-slicing + indexed-least rewrites below.
    """
    # Byte-sliced gram extraction: substr on a STRING seeks the i-th UTF-8
    # codepoint in O(i) (quadratic per doc across all positions); slicing
    # the encoded bytes is O(1) — measured 25.5s → 12.9s for the
    # fingerprint stage at sf1.  The gram is HEX-encoded before hashing so
    # the DuckDB oracle (which cannot slice BLOBs) hashes the identical
    # value via substr over hex(encode(text)) — an ASCII string whose
    # offsets are the byte offsets doubled, keeping BOTH engines
    # byte-faithful on any text, multibyte included.
    gram = hash60_spark_sql(f"hex(substr(tb, i, {WINNOW_K}))")
    d = load_table(spark, sf_dir, "documents")
    fp = (
        d.filter(F.length("text") >= WINNOW_K + WINNOW_W - 1)
        .withColumn("tb", F.expr("encode(text, 'UTF-8')"))
        .withColumn(
            "grams",
            F.expr(
                f"transform(sequence(1, length(tb) - {WINNOW_K - 1}), "
                f"i -> {gram})"
            ),
        )
        .withColumn(
            # least() over W indexed accesses instead of array_min(slice):
            # slice allocates a fresh W-element array per position; the
            # indexed form allocates nothing (21.9s → 17.5s for the
            # fingerprint stage at sf1, values identical).
            "fps",
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(grams) - {WINNOW_W - 1}), "
                    f"j -> least({', '.join(f'grams[j + {k} - 2]' for k in range(1, WINNOW_W + 1))}))"
                )
            ),
        )
        .select("doc_id", F.explode("fps").alias("fp"))
    )
    rare = (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WINNOW_DF_CAP)
        .select("fp")
    )
    idx = fp.join(rare, ["fp"])
    a = idx.select(F.col("doc_id").alias("doc_a"), "fp")
    b = idx.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, ["fp"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


dedup_substring_winnow.__doc__ = (
    dedup_substring_winnow.__doc__.replace("{K}", str(WINNOW_K))
    .replace("{W}", str(WINNOW_W))
    .replace("{G}", str(WINNOW_K + WINNOW_W - 1))
)


DEDUP_SUBSTRING_WINNOW_SQL = f"""
WITH hexed AS (
  -- byte-faithful twin of the Spark side's binary slicing: hex() doubles
  -- every byte into two ASCII chars, so substr offsets are byte offsets
  -- doubled and gram identity matches on multibyte text too
  SELECT doc_id, hex(encode(text)) AS th, octet_length(encode(text)) AS nb
  FROM documents
  WHERE length(text) >= {WINNOW_K + WINNOW_W - 1}
),
grams AS (
  SELECT doc_id,
         list_transform(range(1, nb - {WINNOW_K - 1} + 1),
                        i -> {hash60_sql(f"substr(th, CAST(2 * i - 1 AS INT), {2 * WINNOW_K})")})
           AS grams
  FROM hexed
),
fps AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(range(1, len(grams) - {WINNOW_W - 1} + 1),
                          j -> list_min(grams[CAST(j AS INT):CAST(j + {WINNOW_W - 1} AS INT)]))
         )) AS fp
  FROM grams
),
rare AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {WINNOW_DF_CAP}
),
idx AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
ORDER BY doc_a, doc_b
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_passages": dedup_passages,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding": dedup_embedding,
    "dedup_url": dedup_url,
    "dedup_contamination": dedup_contamination,
    "dedup_clusters": dedup_clusters,
    "dedup_substring_winnow": dedup_substring_winnow,
    "dedup_contamination_bloom": dedup_contamination_bloom,
    "dedup_contamination_bloom_only": dedup_contamination_bloom_only,
}

ORACLE = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_passages": DEDUP_PASSAGES_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_JACCARD_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_LSH_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_embedding": DEDUP_EMBEDDING_SQL,
    "dedup_url": DEDUP_URL_SQL,
    "dedup_contamination": DEDUP_CONTAMINATION_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_substring_winnow": DEDUP_SUBSTRING_WINNOW_SQL,
    "dedup_contamination_bloom": DEDUP_CONTAMINATION_BLOOM_SQL,
    "dedup_contamination_bloom_only": DEDUP_CONTAMINATION_BLOOM_ONLY_SQL,
}

BENCH_QUERIES = {
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_exact": dedup_exact,
    "dedup_passages": dedup_passages,
    "dedup_contamination_bloom_only": dedup_contamination_bloom_only,
}
