"""The batch CLI heals from a kill at any durable step: the enumerated
crash matrix of ``tests/run_crash_matrix.py`` (every manifest commit and
checkpoint save of a clean run, crashed before each and after the last,
each rerun compared with the clean run). Runs in a subprocess because
``cli.main`` stops the Spark session it uses, which would stop the suite's
shared one."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_every_durable_step_heals_on_rerun(tmp_path):
    r = subprocess.run(
        [sys.executable, str(REPO / "tests" / "run_crash_matrix.py"),
         str(tmp_path / "matrix")],
        capture_output=True, text=True, timeout=900, cwd=str(REPO),
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-3000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert res["failures"] == []
    # the enumeration reaches every kind of durable step a batch run has
    assert {"manifest:pages", "manifest:routed", "checkpoint",
            "manifest:agg_by_host", "manifest:agg_by_status_bucket",
            "manifest:agg_by_window"} <= set(res["steps"])
    assert res["cases"] == len(res["steps"]) + 1
