"""Self-tests of the benchmark: span arithmetic, and a tiny-corpus smoke run
of every workload through the correctness gate that leaves no process behind.

    python -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark, so the whole file takes several minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(HERE))

from spans import Span, Tracer, covered, self_times, slope  # noqa: E402

BENCH = json.loads((REPO / "BENCHMARK.json").read_text())


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    # children spilling outside the parent only count inside it
    assert covered([(-2, 1), (9, 12)], 0, 10) == pytest.approx(2)
    assert covered([(3, 3), (5, 4)], 0, 10) == 0


def test_self_time_is_span_minus_children_union():
    spans = [
        Span(0, "unit", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 6.0, parent=0),     # overlaps a: union is 1..6
        Span(3, "a.child", 1.5, 2.5, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)


def test_slope_fits_a_line_and_ignores_a_single_x():
    assert slope([(1, 3), (2, 5), (4, 9)]) == pytest.approx(2)
    assert slope([(1, 1), (2, 3), (3, 2)]) == pytest.approx(0.5)
    assert slope([(5, 1), (5, 2)]) == 0
    assert slope([]) == 0


def test_tracer_nests_and_uninstalls():
    ticks = iter(range(100))
    tr = Tracer("t", clock=lambda: float(next(ticks)))

    class Layer:
        def work(self, x):
            with tr.span("inner"):
                return x * 2

    orig = Layer.__dict__["work"]
    tr.wrap(Layer, "work", "layer.work",
            on_result=lambda a, out, args: a.update(out=out))
    with tr.span("outer"):
        assert Layer().work(3) == 6
    tr.uninstall()
    assert Layer.__dict__["work"] is orig
    outer, call, inner = tr.spans
    assert (call.parent, inner.parent) == (outer.id, call.id)
    assert call.attrs == {"out": 6}
    Layer().work(1)  # uninstalled: only the method's own span is new
    assert [s.name for s in tr.spans[3:]] == ["inner"]
    tr.enabled = False
    with tr.span("off"):
        pass
    assert len(tr.spans) == 4


#: runs the command as a child subreaper: every process the run leaves
#: behind is re-parented to this wrapper, which counts (and ends) them
_ADOPT = r"""
import ctypes, os, signal, subprocess, sys, time
ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)
rc = subprocess.call(sys.argv[1:])
time.sleep(0.5)


def children():
    out = []
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            stat = open(f"/proc/{d}/stat").read()
        except OSError:
            continue
        if stat.rsplit(")", 1)[1].split()[1] == str(os.getpid()):
            out.append(int(d))
    return out


left = set()
while True:
    live = children()
    left.update(live)
    for pid in live:
        os.kill(pid, signal.SIGKILL)
    try:
        pid, _ = os.waitpid(-1, 0)
        left.add(pid)
    except ChildProcessError:
        break
print(f"left behind: {len(left)}", file=sys.stderr)
sys.exit(rc)
"""


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", _ADOPT,
         sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.05"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_passes_the_correctness_gate(workload, trace):
    # no cached corpus for the seed, so the run starts its generation pool
    for d in (HERE / ".work" / "cache").glob("*-s3-*"):
        shutil.rmtree(d)
    p = _run(REPO, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    # the run waits for every process it started before it exits
    assert p.stderr.endswith("left behind: 0\n"), p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in res["metrics"].items()}


def test_refuses_without_the_program(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(tmp_path, "backfill", 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
