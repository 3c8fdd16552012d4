"""Checkpointed, snapshot-incremental execution (resumability).

The reference's incremental cursor is "seek to EOF at open, then tail"
(internal/tailer/model.go:49-51); its crash-safety is drain-before-final
(internal/app/aggregate.go:28-41). The Spark-native analog:

- the pages table exposes immutable snapshots (SnapshotTable / Iceberg);
- a JSON checkpoint records the last fully-processed snapshot id plus
  per-batch metrics (atomic ``os.replace`` commit);
- each batch's sink commit carries the batch id as an idempotence marker,
  so a crash between sink-commit and checkpoint-commit re-runs the batch as
  a no-op — exactly-once accounting without a transaction coordinator.

``--from-start`` (the reference flag, internal/config/flags.go:11) maps to
"ignore any existing checkpoint and process from snapshot 0".

This module also owns the routed sink's marker format and the one rule
that keeps the input modes out of each other's sinks. Every routed commit
is filed under a marker that names the mode which made it:
``pages-snap-<snapshot id>`` (batch), ``stream-<micro-batch id>``
(stream) and ``logfiles-<files signature>`` (``--log-file``).
:func:`mint_marker` and :func:`parse_marker` are the only code that
spells those prefixes, and :func:`check_sink_owner` is the only code that
decides from them whether a mode may write a sink.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import asdict, dataclass, field
from dataclasses import fields as dataclass_fields
from pathlib import Path
from typing import Optional

from pyspark.sql import SparkSession

from ..sources.tableio import SnapshotTable
from .pipeline import BatchResult, Pipeline


#: per-batch metric records kept in the checkpoint file. The CURSOR is
#: last_snapshot_id alone; batches[] is diagnostic history nothing reads
#: back programmatically, and the whole state is rewritten after every
#: batch — unbounded history would make each commit pay
#: O(total-batches-ever) serialization (quadratic cumulative I/O over a
#: table's lifetime) for entries only humans ever look at.
BATCH_HISTORY_LIMIT = 1000


#: idempotence-marker prefix of each input mode's routed-sink commits
MARKER_PREFIX = {"batch": "pages-snap-", "stream": "stream-",
                 "logfiles": "logfiles-"}


def mint_marker(mode: str, key) -> str:
    """The routed-sink idempotence marker of ``mode``'s batch ``key``."""
    return f"{MARKER_PREFIX[mode]}{key}"


def parse_marker(marker: str) -> tuple[Optional[str], str]:
    """``(mode, key)`` of a routed-sink marker, ``(None, marker)`` when no
    mode minted it."""
    for mode, prefix in MARKER_PREFIX.items():
        if marker.startswith(prefix):
            return mode, marker[len(prefix):]
    return None, marker


class SinkOwnershipError(RuntimeError):
    """A run would write a routed sink (or read a pages table) that another
    input mode owns."""


def _listed(markers: list[str]) -> str:
    return f"{markers[:3]}{'...' if len(markers) > 3 else ''}"


def has_committed_offsets(checkpoint_dir: str | Path) -> bool:
    """True iff the stream checkpoint holds at least one COMMITTED offset
    file — the definition of "resumable": Spark's HDFSMetadataLog names
    batch files ``0``, ``1``, ...; ``.``-prefixed entries are CRC sidecars
    and in-flight ``.<id>.<uuid>.tmp`` writes. A bare ``offsets/`` dir
    (crash before offset 0 was written) or one holding only sidecar/tmp
    litter (crash mid-write of offset 0) still restarts at batch id 0,
    exactly the collision a fresh checkpoint has."""
    offsets = Path(checkpoint_dir) / "offsets"
    if not offsets.is_dir():
        return False
    return any(not e.name.startswith(".") and not e.name.endswith(".tmp")
               for e in offsets.iterdir())


def check_sink_owner(mode: str, out: str | Path, *,
                     pages: str | Path | None = None,
                     checkpoint: str | Path | None = None,
                     from_start: bool = False,
                     stream_checkpoint: str | Path | None = None) -> None:
    """Raise :class:`SinkOwnershipError` when a ``mode`` run (``batch``,
    ``stream`` or ``logfiles``) over the routed sink ``<out>/routed``
    would corrupt what another mode committed there. Reads manifests and
    checkpoint files only: no Spark, no writes, so callers run it before
    any side effect.

    - ``logfiles`` rebuilds the sink (truncate + recommit), so it refuses
      any marker it did not mint: it would destroy a batch/stream
      pipeline's rows while that pipeline's checkpoint still claims them.
    - ``batch`` and ``stream`` refuse ``logfiles-*``: their rows would mix
      a second corpus into the sink.
    - ``stream`` refuses ``pages-snap-*``: a fresh stream checkpoint lists
      every part-* file of the pages table and would re-route every
      batch-processed row under stream-* markers. It refuses
      ``stream-*`` unless ``stream_checkpoint`` holds committed offsets: a
      fresh checkpoint restarts micro-batch ids at 0, so its batches
      would collide with those markers and be dropped as duplicates.
    - ``batch`` refuses a ``pages`` table whose registered stream
      checkpoints drained snapshots above the batch cursor (the cursor in
      ``checkpoint``, or 0 with ``from_start``): batch would re-route them
      under pages-snap-* markers. The drained set comes from each
      checkpoint's file-source log; a checkpoint whose log is gone may
      have drained anything, so that refuses too (fail closed)."""
    routed = SnapshotTable(Path(out) / "routed")
    owned: dict[Optional[str], list[str]] = {}
    for m in sorted(routed.committed_markers() if routed.exists() else ()):
        owned.setdefault(parse_marker(m)[0], []).append(m)
    if mode == "logfiles":
        foreign = sorted(m for k, ms in owned.items() if k != mode for m in ms)
        if foreign:
            raise SinkOwnershipError(
                f"{out}/routed is managed by the snapshot pipeline "
                f"(markers {_listed(foreign)}): --log-file rebuilds the "
                "routed sink from the files' current state and would "
                "destroy those rows. Point --out at a separate directory.")
        return
    if "logfiles" in owned:
        raise SinkOwnershipError(
            f"{out}/routed is managed by --log-file (markers "
            f"{_listed(owned['logfiles'])}): appending snapshot-pipeline "
            "rows would mix the two corpora in one sink. Point --out at a "
            "separate directory.")
    if mode == "stream":
        if "batch" in owned:
            raise SinkOwnershipError(
                f"{out}/routed already holds batch-committed rows (markers "
                f"{_listed(owned['batch'])}): a stream checkpoint keeps its "
                "own cursor and idempotence markers (stream-*), so "
                "streaming this layout would re-route every "
                "batch-processed row as a duplicate. Continue in batch "
                "mode, use --maintenance-only for maintenance, or start "
                "the stream on a fresh layout.")
        if "stream" in owned and not has_committed_offsets(stream_checkpoint):
            raise SinkOwnershipError(
                f"{out}/routed already holds rows committed by another "
                f"stream checkpoint (markers {_listed(owned['stream'])}): a "
                "fresh checkpoint restarts micro-batch ids at 0, so its "
                "batches would collide with those markers and be dropped "
                "as duplicates. Resume the original checkpoint, or point "
                "the output at a fresh directory.")
        return
    table = SnapshotTable(pages)
    streams = table.stream_markers()
    drained = [table.stream_drained_snapshots(m) for m in streams]
    unknown = [m for m, d in zip(streams, drained) if d is None]
    if unknown:
        raise SinkOwnershipError(
            f"{pages} is managed by stream checkpoint(s) {unknown} whose "
            "drain state cannot be read (checkpoint dir deleted or "
            "moved?): a batch run could duplicate every streamed row in "
            "the routed sink. Restore the checkpoint, or --retire-stream "
            "if the stream is permanently done (then audit the sink for "
            "stream-* markers).")
    cursor = 0 if from_start else Checkpoint(checkpoint).load().last_snapshot_id
    overlap = sorted({s for d in drained for s in d if s > cursor})
    if overlap:
        raise SinkOwnershipError(
            f"{pages} is managed by stream checkpoint(s) {streams} which "
            f"already drained snapshot(s) {overlap} ahead of the batch "
            f"cursor ({cursor} at {checkpoint}): a batch run would "
            "duplicate those rows in the routed sink. Use --stream to "
            "resume the stream, or --maintenance-only for maintenance, or "
            "--retire-stream first if the stream is permanently done.")


@dataclass
class CheckpointState:
    last_snapshot_id: int = 0
    batches: list[dict] = field(default_factory=list)


class Checkpoint:
    def __init__(self, path: str | Path):
        self.path = Path(path)

    def load(self) -> CheckpointState:
        if not self.path.exists():
            return CheckpointState()
        with open(self.path) as f:
            d = json.load(f)
        # ignore unknown keys: a checkpoint annotated by a newer release
        # (or by hand) must still load, not crash every subsequent run
        # with a TypeError before any processing happens
        known = {f.name for f in dataclass_fields(CheckpointState)}
        return CheckpointState(**{k: v for k, v in d.items() if k in known})

    def save(self, state: CheckpointState) -> None:
        state.batches = state.batches[-BATCH_HISTORY_LIMIT:]
        self.path.parent.mkdir(parents=True, exist_ok=True)
        tmp = self.path.with_suffix(f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(asdict(state), f, indent=1)
        os.replace(tmp, self.path)


def run_incremental(
    spark: SparkSession,
    pages_table: SnapshotTable,
    pipeline: Pipeline,
    checkpoint: Checkpoint,
    from_start: bool = False,
    max_batches: Optional[int] = None,
) -> list[BatchResult]:
    """Process every unprocessed pages snapshot, one batch per snapshot.

    Returns the BatchResults of this invocation. Safe to kill between
    batches and re-run: completed batches are skipped via the checkpoint,
    and a batch whose sink committed but whose checkpoint didn't is
    deduplicated by the sink's idempotence marker.
    """
    state = CheckpointState() if from_start else checkpoint.load()
    results: list[BatchResult] = []

    def step(snap_id: int, batch_df, **extra) -> None:
        # an empty snapshot (batch_df None) still advances the cursor
        if batch_df is not None:
            res = pipeline.process_batch(
                batch_df, batch_id=mint_marker("batch", snap_id))
            results.append(res)
            state.batches.append(
                {"batch_id": res.batch_id, "pages_snapshot": snap_id,
                 "routed_snapshot": res.snapshot_id,
                 "rows_in": res.rows_in, "sink_counts": res.sink_counts,
                 "malformed": res.malformed, **extra})
        state.last_snapshot_id = snap_id
        checkpoint.save(state)

    # fail closed on expired history: appends removed by compact+expire
    # live only in the replace base, which the incremental loop below
    # skips BY DESIGN (a replace carries no new rows) — so a cursor
    # behind the highest expired append id would otherwise silently
    # advance past rows it never processed. --from-start over a sink
    # with no batch-routed rows below the base may instead REBUILD from
    # the base's full content (one batch, marker pages-snap-<base>).
    ceiling = pages_table.expired_append_ceiling()
    if ceiling and state.last_snapshot_id < ceiling:
        base = pages_table.live_base_id()
        sink_markers = (pipeline.routed_table.committed_markers()
                        if pipeline.routed_table.exists() else set())
        # a rebuild re-commits the base's FULL content, so any sink rows
        # committed under a marker the rebuild will not reuse would be
        # duplicated: pages-snap ids below the base (pre-expiry batch
        # runs) AND every non-batch marker (stream-N, logfiles-* — rows
        # the base also contains, filed under a different lineage).
        # Allowed: pages-snap-<base> itself (idempotent rebuild retry)
        # and pages-snap ids above the base (the incremental loop below
        # re-processes those snapshots under the SAME marker = no-op).
        parsed = {m: parse_marker(m) for m in sink_markers}
        foreign = sorted(
            m for m, (mode, key) in parsed.items()
            if not (mode == "batch" and key.isdigit() and int(key) >= base))
        if not from_start or foreign:
            raise RuntimeError(
                f"snapshot(s) up to id {ceiling} of {pages_table.root} "
                "were compacted + expired before this checkpoint "
                f"(cursor {state.last_snapshot_id}) processed them; their "
                "rows now exist only in the replace base, which "
                "incremental reads skip. "
                + (f"The routed sink already holds rows committed under "
                   f"marker(s) {_listed(foreign)} from before the "
                   "expiry, so a rebuild here would duplicate them — "
                   "rerun with --from-start into a FRESH --out."
                   if foreign else
                   "Rerun with --from-start to rebuild from the live "
                   "view, or continue via the stream-managed path.")
            )
        step(base, pages_table.read(spark, end=base), rebuild_from_base=True)

    snaps = [s for s in pages_table.snapshots() if s.id > state.last_snapshot_id]
    for s in snaps[:max_batches]:
        step(s.id, pages_table.read(spark, start_after=s.id - 1, end=s.id))
    return results
