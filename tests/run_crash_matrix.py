"""Crash matrix for the batch CLI: kill a run at every durable step, rerun,
and compare with a clean run.

The durable steps of a run are its manifest commits
(``SnapshotTable._write_manifest``: table creation, pages appends, routed
commits, aggregate-table commits, property writes) and its checkpoint
saves (``Checkpoint.save``). A clean ``--generate 600 --snapshots 2``
batch run is counted first; then, for each k, a fresh layout runs the
same command with a crash raised just before the k-th durable step, plus
one case with the crash raised just after the last one. The crash is a
``BaseException`` so no ``except Exception`` in the program can absorb
it, like a kill. Each crashed layout is then rerun without the crash and
must equal the clean run in:

- routed live rows per match class (urls compared as multisets),
- the three aggregate tables, row for row,
- the batch checkpoint cursor,
- the summary table the rerun prints (minus its clock line).

All runs share one Spark session (``SparkSession.stop`` is a no-op until
the end), because ``cli.main`` stops its session and a fresh JVM per run
would put the matrix far past its time budget.

Usage: python tests/run_crash_matrix.py WORKDIR
Prints one JSON line ``{"steps": [...], "cases": N, "failures": [...]}``;
exit 0 iff every crashed layout heals to the clean run.
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from access_log_aggregator_spark import cli  # noqa: E402
from access_log_aggregator_spark.plans.checkpoint import Checkpoint  # noqa: E402
from access_log_aggregator_spark.plans.pipeline import AGG_TABLES  # noqa: E402
from access_log_aggregator_spark.sources.tableio import SnapshotTable  # noqa: E402


class Crash(BaseException):
    """The injected kill."""


class Durable:
    """Counts durable steps and raises :class:`Crash` just before step
    ``before`` or just after step ``after`` (1-based)."""

    def __init__(self):
        self.steps: list[str] = []
        self.before = self.after = None

    def wrap(self, owner, name, label):
        orig = getattr(owner, name)

        def step(obj, *args, **kwargs):
            self.steps.append(label(obj))
            if len(self.steps) == self.before:
                raise Crash(f"before step {self.before}")
            out = orig(obj, *args, **kwargs)
            if len(self.steps) == self.after:
                raise Crash(f"after step {self.after}")
            return out

        setattr(owner, name, step)

    def run(self, argv, before=None, after=None) -> tuple[bool, str]:
        """Run ``cli.main(argv)``; returns (crashed, stdout)."""
        self.steps, self.before, self.after = [], before, after
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                cli.main(argv)
        except Crash:
            return True, buf.getvalue()
        finally:
            self.before = self.after = None
        return False, buf.getvalue()


def outcome(data: Path, stdout: str) -> dict:
    """What a finished run leaves: live routed urls per class, aggregate
    rows, checkpoint cursor, printed summary table."""
    routed = SnapshotTable(data / "out" / "routed")
    urls: dict[str, list[str]] = {}
    for f in routed.data_files():
        cls = Path(f).parent.name
        urls.setdefault(cls, []).extend(
            pq.read_table(f, columns=["url"]).column("url").to_pylist())
    aggs = {}
    for name in AGG_TABLES:
        t = SnapshotTable(data / "out" / name)
        files = t.data_files() if t.exists() else []
        rows = pq.read_table(files).to_pylist() if files else []
        aggs[name] = sorted(repr(sorted(r.items())) for r in rows)
    return {
        "routed_rows": {c: len(u) for c, u in sorted(urls.items())},
        "routed_urls": {c: sorted(Counter(u).items())
                        for c, u in sorted(urls.items())},
        "aggregates": aggs,
        "cursor": Checkpoint(data / "checkpoint.json").load().last_snapshot_id,
        "summary": [ln for ln in stdout.splitlines()[1:]
                    if "Summary as of" not in ln],
    }


def main() -> int:
    work = Path(sys.argv[1])
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    stop = SparkSession.stop
    SparkSession.stop = lambda self: None
    d = Durable()
    d.wrap(SnapshotTable, "_write_manifest", lambda t: f"manifest:{t.root.name}")
    d.wrap(Checkpoint, "save", lambda _c: "checkpoint")

    def argv(data):
        return ["--generate", "600", "--snapshots", "2", "--data-dir",
                str(data), "--master", "local[2]"]

    try:
        crashed, out = d.run(argv(work / "clean"))
        assert not crashed
        steps = list(d.steps)
        want = outcome(work / "clean", out)
        failures = []
        cases = [(k, None) for k in range(1, len(steps) + 1)]
        cases.append((None, len(steps)))
        for before, after in cases:
            k = before or after
            label = f"{'before' if before else 'after'} step {k} ({steps[k - 1]})"
            data = work / f"k{k}{'' if before else '-after'}"
            crashed, _ = d.run(argv(data), before=before, after=after)
            if not crashed:
                failures.append(f"{label}: the run did not reach the step")
                continue
            _, out = d.run(argv(data))
            got = outcome(data, out)
            diff = sorted(key for key in want if got[key] != want[key])
            if diff:
                failures.append(f"{label}: {diff} differ from the clean run")
            print(f"{label}: {'FAIL ' + str(diff) if diff else 'healed'}",
                  file=sys.stderr)
            shutil.rmtree(data, ignore_errors=True)
    finally:
        SparkSession.stop = stop
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    print(json.dumps({"steps": steps, "cases": len(cases),
                      "failures": failures}))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
