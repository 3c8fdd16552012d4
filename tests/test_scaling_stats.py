"""The scaling bench's per-level summary (``scripts/scaling_bench.py``):
pure functions over recorded trials, no Spark. The clean median — the
median over equal-work trials (job CPU <= 1.15x the level minimum) — is
reported only when at least three trials are clean; otherwise it and the
clean-median efficiency are ``None`` with the reason."""

from __future__ import annotations

import importlib.util
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _bench():
    spec = importlib.util.spec_from_file_location(
        "scaling_bench", REPO / "scripts" / "scaling_bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_clean_median_over_equal_work_trials():
    sb = _bench()
    s = sb.level_stats(2, [10.0, 11.0, 12.0, 30.0], [20.0, 21.0, 22.0, 40.0],
                       n_pages=1000)
    assert s["n_clean"] == 3  # 40 s of CPU > 1.15 x 20 s
    assert s["clean_median_sec"] == 11.0
    assert s["clean_median_reason"] is None
    assert s["pages_per_sec_clean_median"] == round(1000 / 11.0, 1)
    assert s["median_sec"] == 11.5 and s["best_sec"] == 10.0

    hi = sb.level_stats(8, [3.0, 3.0, 3.0], [25.0, 25.0, 25.0], n_pages=1000)
    eff, reason = sb.clean_median_efficiency(s, hi)
    assert reason is None
    assert eff == round((1000 / 3.0) / (1000 / 11.0) / 4.0, 3)


def test_too_few_clean_trials_report_null_with_reason():
    sb = _bench()
    lo = sb.level_stats(2, [10.0, 11.0, 12.0], [20.0, 30.0, 30.0],
                        n_pages=1000)
    assert lo["n_clean"] == 1
    assert lo["clean_median_sec"] is None
    assert lo["pages_per_sec_clean_median"] is None
    assert "1 clean trial(s), fewer than 3" in lo["clean_median_reason"]
    # the raw estimators still report
    assert lo["median_sec"] == 11.0 and lo["best_sec"] == 10.0

    hi = sb.level_stats(8, [3.0, 3.0, 3.0], [25.0, 25.0, 25.0], n_pages=1000)
    eff, reason = sb.clean_median_efficiency(lo, hi)
    assert eff is None
    assert reason.startswith("2 cores: 1 clean trial(s)")


def test_trials_without_cpu_evidence_all_count_clean():
    sb = _bench()
    s = sb.level_stats(2, [10.0, 12.0, 11.0], [], n_pages=600)
    assert s["n_clean"] == 3 and s["clean_median_sec"] == 11.0
