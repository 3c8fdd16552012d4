"""Two-parallelism scaling evidence (the north_rule's N -> 4N gate).

The sandbox has no multi-executor cluster, so per the driver instruction the
two "cluster sizes" are two CPU budgets on identical input. Methodology
(each choice exists because the naive version measures the wrong thing —
see BENCH/BASELINE.md):

- each level runs in a fresh JVM, CPU-pinned via ``sched_setaffinity`` to
  exactly its budget (``local[N]`` alone does NOT bound total CPU: JVM task
  threads + Python UDF workers spill onto extra cores and flatter the small
  level);
- 2 warm-up runs per session (whole-stage-codegen JIT needs several
  iterations), then timed trials (SPARK_GRAFT_SCALE_TRIALS, default 5);
- the default pair is N=2 vs 4N=8 pinned cores over a 4M-page corpus:
  large enough that fixed per-job overhead (~2 s scheduling + broadcast) is
  noise, and below the ~8-busy-core point where THIS shared host's own
  multiprocessing scaling collapses (see the calibration section of
  BENCH/BASELINE.md — pure-ALU eff at 4->16 procs is itself only ~0.72);
- the two levels ALTERNATE across sessions (N, 4N, N, 4N) so ambient noise
  on this shared host hits both comparably; per-level result = best trial
  across sessions (medians also reported);
- ``scripts/machine_calibration.py`` numbers (pure-ALU and memory-stream
  multiprocessing efficiency at the same levels) are recorded alongside, so
  the pipeline's efficiency can be read against what the host physically
  delivers.

efficiency = (T_4N / T_N) / 4   (per-core-normalized, target >= 0.8)

Writes BENCH/BASELINE.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
from datetime import datetime, timezone
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

WORKER = r"""
import json, math, os, sys, time
from pathlib import Path

cores = int(sys.argv[1]); pages_path = sys.argv[2]
os.sched_setaffinity(0, set(range(cores)))

sys.path.insert(0, {repo!r})
from access_log_aggregator_spark.session import get_spark
from access_log_aggregator_spark.sources.pages import generate_host_lookup
from access_log_aggregator_spark.plans.pipeline import build_routed
from bench import bench_scan_conf, _cpu_times, _tree_jiffies, HZ

conf = bench_scan_conf(Path(pages_path), cores)
heap = conf.get("spark.driver.memory", "16g")
conf["spark.driver.extraJavaOptions"] = (
    f"-XX:ActiveProcessorCount={{cores}} -Xms{{heap}}")
spark = get_spark(app_name=f"scaling-{{cores}}", master=f"local[{{cores}}]",
                  shuffle_partitions=cores, extra_conf=conf)
pages = spark.read.parquet(pages_path)  # scan-parallel, no shuffle
lookup = spark.createDataFrame(generate_host_lookup())
df = build_routed(pages, lookup)

def run():
    df.write.format("noop").mode("overwrite").save()

# warm-up: python workers + codegen JIT. One run suffices on large corpora
# (a 16M-page run executes ~80x more loop iterations than the corpus the
# ~7-run JIT plateau was measured on); default 2 preserved for 4M.
for _ in range(int(os.environ.get("SPARK_GRAFT_SCALE_WARMUPS", "2"))):
    run()
trials, steals, cpus = [], [], []
for _ in range(int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", "5"))):
    s0, j0 = _cpu_times(); c0 = _tree_jiffies()["total"]; t0 = time.time()
    run()
    el = time.time() - t0; s1, j1 = _cpu_times()
    trials.append(round(el, 3))
    steals.append(round(100.0 * (s1 - s0) / max(1, j1 - j0), 1))
    # job-tree CPU per trial: a slow trial with ~equal CPU is the host
    # (or a scheduling gap); more CPU is the job itself (GC burst, JIT)
    cpus.append(round((_tree_jiffies()["total"] - c0) / HZ, 1))
print(json.dumps({{"cores": cores, "trials": trials, "steal_pct": steals,
                   "job_cpu_sec": cpus}}))
spark.stop()
"""


#: equal-work trials a level needs before its clean median is reported
MIN_CLEAN_TRIALS = 3


def level_stats(cores: int, trials: list[float], job_cpus: list[float],
                n_pages: int) -> dict:
    """One level's summary over its timed trials.

    The CLEAN median is the median over equal-work trials only (job-tree
    CPU <= 1.15x the level's minimum) — the same attribution filter
    bench.py applies to pipeline spread. Principled because the known
    co-tenant mode (category (d) in BENCH/BASELINE.md) multiplies the
    job's OWN cycles-per-page at zero steal, and it hits the 4N level ~4x
    harder (4x the bandwidth demand): a raw median therefore blends
    host-contaminated trials asymmetrically between levels. Every
    excluded trial stays in the JSON with its CPU evidence. With fewer
    than :data:`MIN_CLEAN_TRIALS` clean trials the clean median is
    ``None`` and ``clean_median_reason`` says why: one or two trials are
    no median."""
    if job_cpus and len(job_cpus) == len(trials):
        floor_cpu = min(job_cpus)
        clean = [w for w, c in zip(trials, job_cpus) if c <= 1.15 * floor_cpu]
    else:  # old-format session output: no CPU evidence
        clean = list(trials)
    enough = len(clean) >= MIN_CLEAN_TRIALS
    clean_median = round(statistics.median(clean), 3) if enough else None
    return {
        "cores": cores,
        "trials": trials,
        "best_sec": min(trials),
        "median_sec": round(statistics.median(trials), 3),
        "clean_median_sec": clean_median,
        "clean_median_reason": None if enough else (
            f"{len(clean)} clean trial(s), fewer than {MIN_CLEAN_TRIALS}"),
        "n_clean": len(clean),
        "pages_per_sec_best": round(n_pages / min(trials), 1),
        "pages_per_sec_median":
            round(n_pages / statistics.median(trials), 1),
        "pages_per_sec_clean_median":
            round(n_pages / clean_median, 1) if enough else None,
    }


def clean_median_efficiency(lo: dict, hi: dict):
    """``(efficiency, None)`` from the two levels' clean medians, or
    ``(None, reason)`` when either level has too few clean trials."""
    reasons = [f"{s['cores']} cores: {s['clean_median_reason']}"
               for s in (lo, hi) if s["clean_median_reason"]]
    if reasons:
        return None, "; ".join(reasons)
    return round((hi["pages_per_sec_clean_median"]
                  / lo["pages_per_sec_clean_median"]) / 4.0, 3), None


def run_session(cores: int, pages_path: str) -> dict:
    script = WORKER.format(repo=str(REPO))
    out = subprocess.run(
        [sys.executable, "-c", script, str(cores), pages_path],
        capture_output=True, text=True, timeout=2400, check=True,
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> int:
    n_pages = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "4000000"))
    n_level = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
    sessions = int(os.environ.get("SPARK_GRAFT_SCALE_SESSIONS", "2"))
    sys.path.insert(0, str(REPO))
    import bench as bench_mod

    pages_path = str(bench_mod._cached_pages(n_pages))

    levels = {n_level: [], 4 * n_level: []}
    steals = {n_level: [], 4 * n_level: []}
    job_cpus = {n_level: [], 4 * n_level: []}
    for s in range(sessions):
        for cores in (n_level, 4 * n_level):  # alternate: noise hits both
            print(f"session {s + 1}/{sessions}: {cores} CPUs ...", file=sys.stderr)
            res = run_session(cores, pages_path)
            print(f"  -> {res['trials']} steal% {res.get('steal_pct')} "
                  f"job-cpu {res.get('job_cpu_sec')}", file=sys.stderr)
            levels[cores].extend(res["trials"])
            steals[cores].extend(res.get("steal_pct", []))
            job_cpus[cores].extend(res.get("job_cpu_sec", []))

    lo, hi = (level_stats(c, levels[c], job_cpus[c], n_pages)
              for c in (n_level, 4 * n_level))
    eff_best = (hi["pages_per_sec_best"] / lo["pages_per_sec_best"]) / 4.0
    eff_median = (hi["pages_per_sec_median"] / lo["pages_per_sec_median"]) / 4.0
    eff_clean_median, clean_reason = clean_median_efficiency(lo, hi)

    if os.environ.get("SPARK_GRAFT_SCALE_SUPPLEMENT"):
        # supplementary pair (e.g. a larger corpus): report JSON only,
        # leave the primary BENCH/BASELINE.md evidence untouched
        print(json.dumps({
            "supplement": True,
            "n_pages": n_pages,
            "N_cores": n_level, "T_N_pages_per_sec": lo["pages_per_sec_best"],
            "4N_cores": 4 * n_level,
            "T_4N_pages_per_sec": hi["pages_per_sec_best"],
            "scaling_efficiency": round(eff_best, 3),
            "scaling_efficiency_median": round(eff_median, 3),
            "scaling_efficiency_clean_median": eff_clean_median,
            "scaling_efficiency_clean_median_reason": clean_reason,
            "trials": {str(k): v for k, v in levels.items()},
            "steal_pct": {str(k): v for k, v in steals.items()},
            "job_cpu_sec": {str(k): v for k, v in job_cpus.items()},
        }))
        return 0

    print("machine calibration ...", file=sys.stderr)
    # never let a calibration failure discard the Spark measurements that
    # already ran for tens of minutes: fall back to a sentinel the report
    # renders honestly. The run itself sits INSIDE the try — a hung
    # calibration raises TimeoutExpired, which is exactly this failure
    # class, not a reason to crash out
    try:
        cal_proc = subprocess.run(
            [sys.executable, str(REPO / "scripts" / "machine_calibration.py")],
            capture_output=True, text=True, timeout=900,
            env={**os.environ, "SPARK_GRAFT_SCALE_N": str(n_level)},
        )
        cal = json.loads(cal_proc.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError,
            subprocess.TimeoutExpired, OSError) as e:
        detail = (f"rc={cal_proc.returncode}: {cal_proc.stderr[-500:]}"
                  if "cal_proc" in locals() else repr(e))
        print(f"calibration failed ({detail})", file=sys.stderr)
        cal = {"pure_alu": {"efficiency": "unavailable"},
               "memory_stream": {"efficiency": "unavailable"}}

    result = {
        "n_pages": n_pages,
        "N_cores": n_level, "T_N_pages_per_sec": lo["pages_per_sec_best"],
        "4N_cores": 4 * n_level, "T_4N_pages_per_sec": hi["pages_per_sec_best"],
        "speedup_best": round(hi["pages_per_sec_best"] / lo["pages_per_sec_best"], 3),
        "scaling_efficiency": round(eff_best, 3),
        "scaling_efficiency_median": round(eff_median, 3),
        "scaling_efficiency_clean_median": eff_clean_median,
        "scaling_efficiency_clean_median_reason": clean_reason,
        "n_clean": {str(lo["cores"]): lo["n_clean"],
                    str(hi["cores"]): hi["n_clean"]},
        "trials": {str(k): v for k, v in levels.items()},
        "steal_pct": {str(k): v for k, v in steals.items()},
        "job_cpu_sec": {str(k): v for k, v in job_cpus.items()},
        "machine_calibration": cal,
        "gate": ">= 0.8",
        "pass": eff_best >= 0.8,
    }

    block = f"""<!-- primary-scaling:begin -->
Measured {datetime.now(timezone.utc).strftime('%Y-%m-%d %H:%M UTC')}
({len(lo['trials'])} trials/level over alternating pinned sessions;
per-trial job-tree CPU + steal recorded).

| level | cores (pinned) | best sec | median sec | clean median sec | pages/sec (best) |
|---|---|---|---|---|---|
| N  | {lo['cores']} | {lo['best_sec']} | {lo['median_sec']} | {lo['clean_median_sec']} ({lo['n_clean']}/{len(lo['trials'])} clean) | {lo['pages_per_sec_best']:,} |
| 4N | {hi['cores']} | {hi['best_sec']} | {hi['median_sec']} | {hi['clean_median_sec']} ({hi['n_clean']}/{len(hi['trials'])} clean) | {hi['pages_per_sec_best']:,} |

**Scaling efficiency = (T_4N / T_N) / 4 = {result['scaling_efficiency']}**
(raw-median-based: {result['scaling_efficiency_median']};
clean-median-based: {result['scaling_efficiency_clean_median']}{f" ({clean_reason})" if clean_reason else ""} —
median over equal-work trials only, job CPU <= 1.15x the level minimum,
the same attribution filter the pipeline spread uses; gate >= 0.8:
{"PASS" if result['pass'] else "FAIL"})

Same-window machine calibration ({n_level} -> {4 * n_level} processes,
no Spark): pure-ALU efficiency {cal['pure_alu']['efficiency']},
memory-stream efficiency {cal['memory_stream']['efficiency']}.
<!-- primary-scaling:end -->"""
    # patch ONLY the marked block: BASELINE.md's prose (methodology,
    # attribution taxonomy, parse-twin table, CPU split, companion
    # measurements) is curated by hand and must survive a refresh —
    # the old whole-file regeneration silently reverted those sections
    path = REPO / "BENCH" / "BASELINE.md"
    text = path.read_text()
    begin, end = "<!-- primary-scaling:begin -->", "<!-- primary-scaling:end -->"
    i, j = text.find(begin), text.find(end)
    if i < 0 or j < 0 or j < i:
        # a hand-edit removed/reordered the markers: the measurements are
        # already in hand, so append rather than abort the whole bench
        print(f"WARNING: {path} is missing/misordering the {begin} / {end} "
              "markers (hand-edited?); appending the block instead — "
              "restore the markers to resume in-place refreshes",
              file=sys.stderr)
        path.write_text(text.rstrip("\n") + "\n\n" + block + "\n")
    else:
        path.write_text(text[:i] + block + text[j + len(end):])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
