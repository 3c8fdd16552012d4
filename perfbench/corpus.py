"""Seeded inputs and their expected outputs, generated ahead of every timed run.

A workload's corpus is a list of snapshots; each snapshot is a list of
parquet files, and each file is one ``generate_pages_chunk`` call (chunks
are seeded by ``(seed, start row)``, so every file is reproducible on its
own). The worker that writes a file also folds it through the oracle
(``classify_page`` + the reference fold), so the expected per-class counts
and ``agg_by_host`` rows come from the same pages the program reads, and
never from the program itself.

The cache lives in the benchmark's work directory, one directory per
(workload, seed, layout). A manifest records each file's size and SHA-256;
every use re-hashes the files and regenerates on any mismatch.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import uuid
from dataclasses import dataclass
from decimal import Decimal
from pathlib import Path

#: host looked up in every lookup round that no page ever carries
ABSENT_HOST = "absent.invalid"
HOT_HOST = "chatgpt.com"

_DEC18 = Decimal("1." + "0" * 18)


@dataclass(frozen=True)
class FileSpec:
    start: int          # first row index (also the chunk seed offset)
    rows: int
    lines: tuple[int, int]


@dataclass
class Corpus:
    """Generated snapshots (lists of parquet paths) plus the oracle per file."""

    root: Path
    snapshots: list[list[Path]]
    oracle: list[list[dict]]      # parallel to snapshots: one fold per file

    def pages(self) -> int:
        return sum(o["rows"] for snap in self.oracle for o in snap)

    def expected(self, n_snapshots: int | None = None) -> dict:
        """Merged oracle over the first ``n_snapshots`` (default: all)."""
        return merge_folds([o for snap in self.oracle[:n_snapshots] for o in snap])


def _fold_file(pdf, bot_hosts: frozenset) -> dict:
    """Oracle fold of one file: per-class counts, and per host the request
    count, 2xx count, exact decimal duration sum and float sum in row order."""
    from access_log_aggregator_spark.oracle.parser import classify_page

    classes = {"parsed": 0, "unparsed": 0, "bot": 0, "error": 0}
    hosts: dict[str, list] = {}   # host -> [total, 2xx, decimal sum, float sum]
    for html, text in zip(pdf["html"], pdf["text"]):
        c = classify_page(html, text, bot_hosts)
        classes[c.match_class] += 1
        rec = c.record
        if rec is None:
            continue
        h = hosts.setdefault(rec.host, [0, 0, Decimal(0), 0.0])
        h[0] += 1
        h[1] += 200 <= rec.status_code < 300
        h[2] += Decimal(repr(rec.duration)).quantize(_DEC18)
        h[3] += rec.duration
    return {
        "rows": len(pdf),
        "classes": classes,
        "hosts": {k: [v[0], v[1], str(v[2]), v[3]] for k, v in hosts.items()},
    }


def merge_folds(folds: list[dict]) -> dict:
    out = {"rows": 0, "classes": {}, "hosts": {}}
    for f in folds:
        out["rows"] += f["rows"]
        for c, n in f["classes"].items():
            out["classes"][c] = out["classes"].get(c, 0) + n
        for h, (n, n2, dec, fl) in f["hosts"].items():
            acc = out["hosts"].setdefault(h, [0, 0, Decimal(0), 0.0])
            acc[0] += n
            acc[1] += n2
            acc[2] += Decimal(dec)
            acc[3] += fl
    return out


def _write_file(job) -> dict:
    spec, seed, dest = job
    import pyarrow as pa
    import pyarrow.parquet as pq

    from access_log_aggregator_spark.sources.pages import (
        BOT_HOSTS,
        generate_pages_chunk,
    )

    pdf = generate_pages_chunk(spec.start, spec.rows, seed, spec.lines)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), dest)
    return _fold_file(pdf, frozenset(BOT_HOSTS))


def _sha256(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _verified(cache: Path) -> dict | None:
    """The cache manifest if every file still matches its recorded size
    and hash, else None."""
    try:
        man = json.loads((cache / "manifest.json").read_text())
    except (OSError, ValueError):
        return None
    for rel, (size, digest) in man["files"].items():
        p = cache / rel
        try:
            if p.stat().st_size != size or _sha256(p) != digest:
                return None
        except OSError:
            return None
    return man


def build(work: Path, key: str, seed: int, layout: list[list[FileSpec]],
          workers: int) -> Corpus:
    """Generate (or reuse a verified cache of) one corpus.

    ``layout`` is a list of snapshots, each a list of :class:`FileSpec`.
    Generation runs in one pool of at most ``workers`` spawned processes.
    """
    sig = hashlib.sha256(
        json.dumps([[(f.start, f.rows, list(f.lines)) for f in s]
                    for s in layout]).encode()).hexdigest()[:12]
    cache = work / "cache" / f"{key}-s{seed}-{sig}"
    man = _verified(cache)
    if man is None:
        shutil.rmtree(cache, ignore_errors=True)
        tmp = cache.parent / f".tmp-{cache.name}-{uuid.uuid4().hex}"
        tmp.mkdir(parents=True)
        jobs = [(spec, seed, str(tmp / f"s{i:03d}-f{j:03d}.parquet"))
                for i, snap in enumerate(layout)
                for j, spec in enumerate(snap)]
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(max(1, min(workers, len(jobs)))) as pool:
            folds = pool.map(_write_file, jobs)
        files = {Path(d).name: [Path(d).stat().st_size, _sha256(Path(d))]
                 for _, _, d in jobs}
        it = iter(folds)
        man = {
            "files": files,
            "snapshots": [[Path(d).name for _, _, d in jobs
                           if Path(d).name.startswith(f"s{i:03d}-")]
                          for i in range(len(layout))],
            "oracle": [[next(it) for _ in snap] for snap in layout],
        }
        (tmp / "manifest.json").write_text(json.dumps(man))
        os.rename(tmp, cache)
    return Corpus(
        root=cache,
        snapshots=[[cache / n for n in snap] for snap in man["snapshots"]],
        oracle=man["oracle"],
    )


def lookup_hosts(expected: dict) -> dict[str, str]:
    """The three lookup classes for a corpus: the hottest host (in every
    file), the rarest tail host that has valid rows (pruned from most
    files), and a host no page carries (every file pruned)."""
    tail = sorted((v[0], h) for h, v in expected["hosts"].items()
                  if h.endswith(".example.net") and h.startswith("host"))
    return {"hot": HOT_HOST, "rare": tail[0][1], "absent": ABSENT_HOST}
