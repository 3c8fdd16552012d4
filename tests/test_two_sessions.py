"""The package's Python UDFs stay bound to the live SparkContext: two
sessions in one process (``tests/run_two_sessions.py``) run the parse
stage's pandas UDF, the url-params UDTF and the text-hash pandas UDFs with
no "Failed to update accumulator" error, and return the same rows. Runs in a subprocess because
stopping a session would stop the suite's shared one."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_second_session_reports_to_live_accumulators():
    r = subprocess.run(
        [sys.executable, str(REPO / "tests" / "run_two_sessions.py")],
        capture_output=True, text=True, timeout=600, cwd=str(REPO),
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-3000:]
    stale = [ln for ln in r.stderr.splitlines()
             if "Failed to update accumulator" in ln]
    assert not stale, stale[:3]
    first, second = json.loads(r.stdout.strip().splitlines()[-1])["sessions"]
    assert first["parsed"] and first["params"] and first["hashes"]
    assert first == second
