"""Benchmark harness (driver contract).

Times the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the full pages
pipeline (parse -> enrich -> route, the north-star throughput metric) over a
deterministic synthesized corpus. Prints exactly ONE JSON line to stdout:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "pipeline_pages_per_sec": ...}

All diagnostics go to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent

#: jiffies-per-second for every /proc stat conversion (one definition so a
#: future fallback fix cannot silently miss a copy)
HZ = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
sys.path.insert(0, str(REPO))

#: 4M pages ≈ 4 GB parquet — sized so one pipeline trial runs ~10 s at 32
#: cores: long enough that single-straggler noise (a GC pause, one stolen
#: jiffy burst) amortizes instead of setting the trial time, which is what
#: drove the r02 3x trial spread on 2-second trials. Same cache key as
#: scripts/scaling_bench.py's default corpus, so the two harnesses share
#: one generated corpus.
PIPELINE_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "4000000"))
PIPELINE_TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "10"))
QUERY_TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_TRIALS", "3"))


def _cpu_times() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat.

    Two contention signals back the spread numbers: classic steal time,
    and JIFFY COVERAGE — total jiffies accrued during a trial divided by
    ``n_cores * elapsed * USER_HZ``. Under Firecracker, a descheduled vCPU
    accrues NO jiffies at all (not even steal), so a trial that ran 10x
    slow with 0% steal but coverage << 1 was a paused VM, not a slow plan.
    """
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError, IndexError):  # pragma: no cover
        return 0, 0


#: last-seen (jiffies, comm-class) of every process ever observed in this
#: job's tree, keyed by (pid, starttime) — starttime (/proc/<pid>/stat
#: field 22) disambiguates pid reuse, so a recycled pid cannot overwrite a
#: dead process's high-water jiffies with its own smaller counter (which
#: would make the "monotonic" cumulative total regress). See the
#: high-water note inside _tree_jiffies.
_TREE_SEEN: dict[tuple[int, int], tuple[int, str]] = {}


def _tree_jiffies() -> dict[str, int]:
    """utime+stime jiffies by process name over THIS job's process tree.

    Walks /proc and keeps every process whose ancestor chain reaches this
    python process (the JVM and pyspark.daemon workers are descendants);
    returns ``{"total": j, "java": j, "python": j}``. Per-trial deltas
    attribute a slow trial three ways: job-tree CPU ≈ cores*elapsed means
    the job itself burned the time (and the java/python split says WHICH
    side — e.g. a JVM GC storm vs worker respawns re-importing numpy);
    job-tree CPU far below it while VM-total jiffy coverage stays ~1.0
    means some OTHER process inside the VM had the cores.
    """
    me = os.getpid()
    procs: dict[int, tuple[int, int, str]] = {}  # pid -> (ppid, jiffies, comm)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
            # field 2 (comm) may contain spaces/parens: split after the
            # last ')'. Parsing stays INSIDE the try: a process dying
            # between open() and read() yields '' (ValueError on index)
            # or a truncated line (IndexError on rest[19]) — skip the pid,
            # never abort a timed trial over a reaped worker.
            comm = s[s.index("(") + 1:s.rindex(")")]
            rest = s[s.rindex(")") + 2:].split()
            parsed = (int(rest[1]), int(rest[11]) + int(rest[12]), comm,
                      int(rest[19]))  # field 22: starttime, pid-reuse key
        except (OSError, ValueError, IndexError):
            continue
        # utime+stime only — deliberately NOT cutime/cstime: a live child is
        # counted via its own stat, and adding the parent's c-fields would
        # double-count it after a wait(). Vanished processes are handled by
        # the _TREE_SEEN high-water map instead, because pyspark's daemon
        # auto-reaps idle workers with SIGCHLD ignored and POSIX does not
        # fold auto-reaped children into cutime — without the map a
        # worker's whole CPU history disappears from the tree at reap time
        # (observed as a -600 s per-run "delta").
        procs[int(d)] = parsed
    out = {"total": 0, "java": 0, "python": 0}
    for pid, (ppid, jif, comm, started) in procs.items():
        p = pid
        for _ in range(64):  # ancestry walk, cycle-bounded
            if p == me:
                key = ("java" if comm.startswith("java")
                       else "python" if comm.startswith("python") else "")
                _TREE_SEEN[(pid, started)] = (jif, key)
                break
            if p <= 1:
                break
            p = procs.get(p, (0, 0, "", 0))[0]
    # high-water: processes that left the tree (exited, or reparented to
    # init when their parent died) contribute their last-seen jiffies
    # forever, keeping the cumulative total monotonic. The unmeasured
    # remainder is only the CPU a process burned between the last snapshot
    # and its death — idle workers being reaped burned none. A recycled pid
    # gets its own (pid, starttime) entry, so it is measured from zero
    # without erasing the dead process's history.
    for _key, (jif, key) in _TREE_SEEN.items():
        out["total"] += jif
        if key:
            out[key] += jif
    return out


def log(*a):
    print(*a, file=sys.stderr, flush=True)


#: bench corpora use KB-scale page texts (Common-Crawl-realistic parse
#: density); unit-test corpora keep the small default.
BENCH_LINES = (15, 40)


def _write_chunk(args) -> str:
    start, count, dest = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    from access_log_aggregator_spark.sources.pages import generate_pages_chunk

    pdf = generate_pages_chunk(start, count, lines=BENCH_LINES)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), dest)
    return dest


def _cached_pages(n: int) -> Path:
    """Generate-once corpus cache (deterministic, seed 42).

    Chunks are generated in parallel (process pool) and written one parquet
    file per chunk, so the scan parallelizes naturally (files >> cores) —
    no repartition shuffle in the measured job, exactly like a real
    many-file table at cluster scale.
    """
    from multiprocessing import Pool

    from access_log_aggregator_spark.sources.pages import CHUNK_ROWS

    cache = REPO / ".bench_cache" / f"pages_{n}_l{BENCH_LINES[0]}-{BENCH_LINES[1]}"
    if not (cache / "_DONE").exists():
        # generate into a private tmp dir, then atomically rename: bench.py
        # and scripts/scaling_bench.py share this cache key BY DESIGN, and
        # two cold-start processes writing the same part files in place
        # could interleave into corrupt parquet that the first _DONE touch
        # then poisons permanently (same pattern as ensure_pipeline_fixtures)
        import shutil
        import uuid

        # sweep leftovers of crashed/killed generators (each is a multi-GB
        # dir nothing else ever reclaims) — but only dirs untouched for an
        # hour: generation takes minutes and updates the dir continuously,
        # so an old mtime means dead, while deleting a LIVE concurrent
        # generator's files mid-write would crash it, not just cost a race
        for junk in cache.parent.glob(f".tmp-{cache.name}-*"):
            try:
                if time.time() - junk.stat().st_mtime > 3600:
                    shutil.rmtree(junk, ignore_errors=True)
            except OSError:
                pass  # vanished while we looked: already cleaned up

        log(f"generating {n}-page corpus ...")
        t0 = time.time()
        tmp = cache.parent / f".tmp-{cache.name}-{uuid.uuid4().hex}"
        tmp.mkdir(parents=True, exist_ok=True)
        jobs = [
            (lo, min(CHUNK_ROWS, n - lo), str(tmp / f"part-{lo // CHUNK_ROWS:05d}.parquet"))
            for lo in range(0, n, CHUNK_ROWS)
        ]
        with Pool(min(32, len(jobs))) as pool:
            pool.map(_write_chunk, jobs)
        (tmp / "_DONE").touch()
        if cache.exists() and not (cache / "_DONE").exists():
            # stale partial from an old-style crash: CLAIM it atomically
            # (rename aside) before deleting, so a concurrent process
            # cannot yank it mid-rmtree and cannot have it deleted out
            # from under a completing rename
            stale = cache.parent / f".stale-{cache.name}-{uuid.uuid4().hex}"
            try:
                os.rename(cache, stale)
            except OSError:
                pass  # another process claimed (or completed) it first
            else:
                shutil.rmtree(stale, ignore_errors=True)
        try:
            os.rename(tmp, cache)
            log(f"generated in {time.time() - t0:.1f}s -> {cache}")
        except OSError:
            # only treat the failure as "a concurrent generator won" when
            # a COMPLETE cache is actually in place; anything else
            # (EACCES, EXDEV, half-deleted target) must propagate, not
            # silently discard the corpus we just generated
            if not (cache / "_DONE").exists():
                raise
            shutil.rmtree(tmp, ignore_errors=True)
            log(f"concurrent generation won the rename; using {cache}")
    return cache


#: scan waves per core: 2 = fewer-but-bigger splits, 4 = better tail balance
#: (measured: 4 waves = 76-80% core utilization vs 70% at 2, ~20% faster)
BENCH_WAVES = int(os.environ.get("SPARK_GRAFT_BENCH_WAVES", "4"))


def bench_scan_conf(pages_dir: Path, cores: int) -> dict[str, str]:
    """Size scan splits so the small bench corpus yields >= BENCH_WAVES
    tasks/core (a real TB-scale table has natural file parallelism instead).
    Also a 16g heap: the sandbox has 128 GiB and the parse path's Arrow
    batches churn the old gen hard enough on 8g that occasional ParallelGC
    full-GC storms doubled a trial's CPU (measured via the per-trial
    job_cpu/gc_sec instrumentation)."""
    total = sum(f.stat().st_size for f in pages_dir.glob("*.parquet"))
    target = max(1_048_576, total // (cores * BENCH_WAVES))
    return {
        "spark.sql.files.maxPartitionBytes": str(target),
        "spark.sql.files.openCostInBytes": str(target // 8),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }


def _noop_run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # parse the sf suffix to a float NOW, not at JSON-emission time: a dir
    # not ending in sf<number> must fall back (-1.0 = unknown), never raise
    # after an hour of completed measurements
    try:
        sf = float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        sf = -1.0

    # pin the whole process tree (JVM task threads + Python UDF workers) to
    # the stated CPU budget — scripts/scaling_bench.py methodology; local[N]
    # alone does not bound total CPU and unpinned runs measure whatever the
    # host happens to give (r01 trials spread 1.9-7.5s)
    try:
        os.sched_setaffinity(0, set(range(int(cpus))))
    except (OSError, ValueError):  # budget exceeds host cores: leave unpinned
        pass

    from access_log_aggregator_spark.queries import QUERIES
    from access_log_aggregator_spark.session import get_spark
    from access_log_aggregator_spark.sources.pages import generate_host_lookup

    pages_path = _cached_pages(PIPELINE_PAGES)

    conf = bench_scan_conf(pages_path, int(cpus))
    # -Xms == -Xmx: letting ParallelGC grow the heap from its small initial
    # size fires repeated full GCs early on (measured: a 62s trial with 30s
    # of stop-the-world right after warm-up); pre-sizing removes the ramp.
    # (-Xmx itself is forbidden in extraJavaOptions; -Xms is allowed.)
    heap = conf.get("spark.driver.memory", "16g")
    conf["spark.driver.extraJavaOptions"] = (
        f"-XX:ActiveProcessorCount={cpus} -Xms{heap}")
    spark = get_spark(app_name="alas-bench", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus), extra_conf=conf)
    timings: dict[str, float] = {}
    try:
        # warm-up: JVM + parquet reader + python workers
        log("warm-up ...")
        QUERIES["events_agg_by_type"].spark_fn(spark, sf_dir).collect()

        # Per-query evidence mirrors the pipeline bench: every trial's wall
        # time plus its job-tree CPU and host-steal snapshot, so a slow
        # round-over-round number is attributable (same job CPU + high
        # steal = host; more job CPU = the plan) instead of a bare wall
        # delta — the r03 route_fanout/agg_by_host/q1 regressions had no
        # such attribution and turned out to be ambient.
        query_evidence: dict[str, dict] = {}
        for name, spec in QUERIES.items():
            if not spec.headline:
                continue
            if os.environ.get("SPARK_GRAFT_BENCH_PIPELINE_ONLY"):  # iteration aid
                continue
            # r5: one UNTIMED warm trial per query before the timed ones.
            # The global warm-up above covers the JVM/reader/worker spawn
            # but not each query's own codegen+JIT: route_fanout's r3/r4
            # "regression" vs r2 (0.929/0.835 vs 0.65) was its trials
            # still DESCENDING toward the ~0.63 s steady state (job CPU
            # fell 4.9 -> 1.8 -> 1.4 across the r4 trials at zero steal —
            # compilation work, not plan work). Best-of-k now measures
            # the plan at JIT steady state; the warm trial's wall is
            # recorded in the evidence for transparency.
            w0 = time.time()
            _noop_run(spec.spark_fn(spark, sf_dir))
            warm_sec = time.time() - w0
            walls, cpus_s, steal_pct = [], [], []
            for _ in range(QUERY_TRIALS):  # best-of-k: ambient noise is additive
                s0, j0 = _cpu_times()
                c0 = _tree_jiffies()["total"]
                t0 = time.time()
                _noop_run(spec.spark_fn(spark, sf_dir))
                walls.append(time.time() - t0)
                s1, j1 = _cpu_times()
                cpus_s.append((_tree_jiffies()["total"] - c0) / HZ)
                steal_pct.append(100.0 * (s1 - s0) / max(1, j1 - j0))
            timings[name] = round(min(walls), 3)
            query_evidence[name] = {
                "warmup_sec": round(warm_sec, 3),
                "trials_sec": [round(w, 3) for w in walls],
                "median_sec": round(sorted(walls)[len(walls) // 2], 3),
                "job_cpu_sec_per_trial": [round(c, 1) for c in cpus_s],
                "host_steal_pct_per_trial": [round(s, 1) for s in steal_pct],
            }
            log(f"{name}: best {timings[name]}s "
                f"(trials {query_evidence[name]['trials_sec']}, "
                f"job cpu {query_evidence[name]['job_cpu_sec_per_trial']}, "
                f"steal {query_evidence[name]['host_steal_pct_per_trial']})")

        # north-star: full pipeline throughput over the synthesized corpus.
        # Warm-up covers python-worker spawn, the parquet page cache, and C2
        # JIT. The stop criterion is the JIT PLATEAU ITSELF, not a wall-time
        # proxy: per-run job-tree CPU (JVM + python workers) declines while
        # the concurrent compiler threads still have a backlog (measured on
        # the 4M corpus at 32 cores: 838 s -> 423 s -> ~285 s flat), so warm
        # until the last THREE runs' CPU agree within 10% — plus a >= 3
        # runs / >= 100 s wall floor (page cache, worker spawn) and a
        # 15-run / 450 s cap. Three-run window, not run-over-run: a single
        # contaminated run (co-tenant cycle-stretch inflates the job's own
        # jiffies) could land within 10% of its still-declining predecessor
        # and fake a plateau; fooling a 3-run window needs two consecutive
        # contaminated runs in a coordinated band, and the per-trial CPU
        # arrays below would still expose the miss (timed trials' CPU
        # continuing to decline). Steady-state throughput is the number
        # that projects to a long-running 100 TB job.
        from access_log_aggregator_spark.plans.pipeline import build_routed

        lookup = spark.createDataFrame(generate_host_lookup())
        pages = spark.read.parquet(str(pages_path))  # scan-parallel, no shuffle
        warm_wall, warm_runs = 0.0, 0
        warm_cpus = []
        while warm_runs < 15 and warm_wall < 450.0:
            c0 = _tree_jiffies()["total"]
            w0 = time.time()
            _noop_run(build_routed(pages, lookup))
            warm_wall += time.time() - w0
            warm_runs += 1
            warm_cpus.append(round((_tree_jiffies()["total"] - c0) / HZ, 1))
            window = warm_cpus[-3:]
            if (warm_runs >= 3 and warm_wall >= 100.0
                    and max(window) <= 1.10 * min(window)):
                break
        log(f"warm-up: {warm_runs} runs, {warm_wall:.1f}s, "
            f"per-run job cpu {warm_cpus} (plateau when last 3 runs "
            f"agree within 10%)")
        def _gc_ms() -> int:
            """Cumulative stop-the-world GC milliseconds of the local JVM."""
            beans = (spark._jvm.java.lang.management.ManagementFactory
                     .getGarbageCollectorMXBeans())
            return sum(b.getCollectionTime() for b in beans)

        trials = []
        steals = []
        coverage = []
        job_cpu = []  # job-tree CPU seconds per trial (JVM + python workers)
        jvm_cpu = []
        py_cpu = []
        gc_sec = []  # JVM stop-the-world GC seconds per trial
        n_host = os.cpu_count() or int(cpus)
        for i in range(PIPELINE_TRIALS):
            s0, j0 = _cpu_times()
            g0 = _tree_jiffies()
            gc0 = _gc_ms()
            t0 = time.time()
            _noop_run(build_routed(pages, lookup))
            el = time.time() - t0
            trials.append(el)
            s1, j1 = _cpu_times()
            g1 = _tree_jiffies()
            gc_sec.append((_gc_ms() - gc0) / 1000.0)
            steals.append(100.0 * (s1 - s0) / max(1, j1 - j0))
            coverage.append((j1 - j0) / max(1e-9, n_host * el * HZ))
            job_cpu.append((g1["total"] - g0["total"]) / HZ)
            jvm_cpu.append((g1["java"] - g0["java"]) / HZ)
            py_cpu.append((g1["python"] - g0["python"]) / HZ)
            log(f"pipeline trial {i + 1}: {el:.3f}s "
                f"(host steal {steals[-1]:.1f}%, jiffy coverage "
                f"{coverage[-1]:.2f}, job cpu {job_cpu[-1]:.0f}s = "
                f"{job_cpu[-1] / (n_host * el):.0%} of cores "
                f"[jvm {jvm_cpu[-1]:.0f} / py {py_cpu[-1]:.0f}], "
                f"gc {gc_sec[-1]:.1f}s)")
        order = sorted(range(len(trials)), key=lambda k: trials[k])
        trials_sorted = [trials[k] for k in order]
        pipe_sec = trials_sorted[0]
        pipe_median = trials_sorted[len(trials_sorted) // 2]
        # trimmed spread: drop the 2 slowest trials — on this shared host
        # steal bursts are additive outliers (the per-trial steal% log
        # ties each slow trial to its contamination), so max/min over all
        # trials measures the hypervisor, not the plan
        trimmed = trials_sorted[:-2] if len(trials_sorted) > 4 else trials_sorted
        # CLEAN spread: the spread that measures the PLAN is over trials
        # that did the same work — job-tree CPU within 15% of the minimum.
        # A co-tenant saturating the host's memory bandwidth multiplies the
        # job's own cycles-per-page (observed 2.3x), so an equal-work filter
        # on the job's OWN CPU excludes exactly the contaminated trials,
        # each of which is listed with its attribution (steal%, coverage,
        # job_cpu, gc) in the per-trial arrays. Residual variation inside
        # the clean set still includes ambient steal (steal stretches wall
        # without adding job CPU), so clean-spread is an upper bound on the
        # plan's own nondeterminism.
        min_cpu = min(job_cpu) if job_cpu else 0.0
        clean = [t for t, c in zip(trials, job_cpu) if c <= 1.15 * min_cpu]
        clean_spread = (max(clean) / min(clean)) if clean else float("nan")
        timings["pipeline_full"] = round(pipe_sec, 3)
        pages_per_sec = round(PIPELINE_PAGES / pipe_sec, 1)
        log(f"pipeline_full: best {pipe_sec:.3f}s / median {pipe_median:.3f}s "
            f"/ spread {trials_sorted[-1] / pipe_sec:.2f}x "
            f"(trimmed {trimmed[-1] / pipe_sec:.2f}x, "
            f"clean {clean_spread:.2f}x over {len(clean)}/{len(trials)} "
            f"equal-work trials) = {pages_per_sec} pages/s")

        total = round(sum(timings.values()), 3)
        print(json.dumps({
            "metric": "headline_queries_plus_pipeline_wall_seconds",
            "value": total,
            "unit": "sec",
            "queries": timings,
            # round-over-round comparable headline: the query set minus
            # pipeline_full (whose corpus grew 200k -> 4M pages in r03)
            "queries_total_sec": round(
                sum(v for k, v in timings.items() if k != "pipeline_full"), 3),
            # per-query attribution (trials, median, job-tree CPU, steal):
            # compare wall deltas against job_cpu — equal CPU + higher
            # steal/wall is the host, more CPU is the plan
            "query_evidence": query_evidence,
            "sf": sf,
            "pipeline_pages": PIPELINE_PAGES,
            "pipeline_pages_per_sec": pages_per_sec,
            # round-over-round: compare per-query timings and
            # pipeline_pages_per_sec, NOT "value" — the pipeline corpus grew
            # 200k (r02) -> 4M pages so its wall-clock term is 20x more work
            # (155,379 -> ~300k pages/s on the same host is the real delta)
            "note": "pipeline_full runs the full 4M-page corpus since r03; "
                    "'value' is not comparable to rounds that used 200k",
            "pipeline_median_sec": round(pipe_median, 3),
            "pipeline_trial_spread": round(trials_sorted[-1] / pipe_sec, 2),
            "pipeline_trial_spread_trimmed": round(trimmed[-1] / pipe_sec, 2),
            # spread over equal-work trials only (job CPU <= 1.15x min) —
            # excluded trials are host-contaminated, see per-trial arrays
            "pipeline_trial_spread_clean": round(clean_spread, 2),
            "pipeline_clean_trials": len(clean),
            "pipeline_trials_sec": [round(t, 3) for t in trials],
            # warm-up stops at the measured C2-JIT plateau (per-run job CPU
            # decline < 10%), so trial 1 starts at steady state
            "warmup_runs": warm_runs,
            "warmup_job_cpu_sec_per_run": warm_cpus,
            "host_steal_pct_per_trial": [round(s, 1) for s in steals],
            # 1.0 = the guest's clocks ticked on every host core for the
            # whole wall interval; << 1 on a trial = the VM itself was
            # descheduled by the VMM (invisible to steal accounting) — the
            # proof that a slow outlier trial measured the host, not the plan
            "jiffy_coverage_per_trial": [round(c, 2) for c in coverage],
            # this job tree's own CPU seconds per trial: a slow trial whose
            # job_cpu matches the fast trials did the same work — the extra
            # wall time went to something else on the box; a slow trial with
            # proportionally MORE job_cpu points at the job (e.g. GC)
            "job_cpu_sec_per_trial": [round(c, 1) for c in job_cpu],
            "jvm_cpu_sec_per_trial": [round(c, 1) for c in jvm_cpu],
            "py_cpu_sec_per_trial": [round(c, 1) for c in py_cpu],
            # stop-the-world GC seconds inside the trial (JMX collector
            # beans): ties job-side slow trials to collector behavior
            "gc_sec_per_trial": [round(c, 1) for c in gc_sec],
        }))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
