"""The benchmark reaps every process it starts, orphans included."""

from __future__ import annotations

import os
import subprocess
import sys

WIREBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A child that starts a grandchild and exits at once, as sut.py exits
# before its JVM does.  The grandchild outlives the grace period, so it
# must be killed, and reaped by the subreaper rather than left to pid 1.
_SCRIPT = f"""
import os, subprocess, sys
sys.path.insert(0, {WIREBENCH!r})
import run
run.become_subreaper()
out = subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"],
                     check=True, capture_output=True, text=True).stdout
grandchild = int(out)
run.end_children(grace=0.5)
print(grandchild, os.path.exists(f"/proc/{{grandchild}}"))
"""


def test_orphaned_grandchild_is_killed_and_reaped():
    out = subprocess.run([sys.executable, "-c", _SCRIPT], check=True,
                         capture_output=True, text=True, timeout=60).stdout
    pid, left = out.split()
    assert left == "False", f"process {pid} was left behind"
