"""SnapshotTable — the table-format seam (Iceberg-shaped, Parquet-backed).

The pipeline is written against this narrow interface so the storage backend
can be swapped for real Iceberg on a cluster (the sandbox bundles no Iceberg
runtime jars and has no network — SURVEY.md §7.0). What the pipeline relies
on, and what this implementation preserves:

- **atomic commits**: a snapshot becomes visible only via an atomic
  manifest swap (``os.replace``), so readers never see partial writes —
  the property that replaces the reference's rotation-safe tailing
  (internal/tailer/tailer.go:27-75);
- **immutable snapshots with monotonically increasing ids**: incremental
  processing = "files added after snapshot X" (the analog of the
  reference's seek-to-EOF tail cursor, internal/tailer/model.go:49-51);
- **idempotent commits**: a commit tagged with a ``marker`` (e.g. a batch
  id) is a no-op if that marker was already committed — Iceberg-style
  write idempotence for exactly-once accounting.

At 100 TB this maps 1:1 onto Iceberg: manifest -> table metadata,
snapshot id -> Iceberg snapshot id, marker -> WAP/commit property,
``read(start_after=...)`` -> ``option("start-snapshot-id", ...)``.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import shutil
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path
from typing import Optional, Sequence

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from . import filestats

_MANIFEST = "manifest.json"

#: Data files written by appends are named ``part-*``; compaction outputs
#: are named ``compact-*``. Directory-based streaming readers
#: (streaming/stream.py) glob ONLY ``part-*.parquet``, so a compaction can
#: never double-feed a stream — whether the stream was running during the
#: rewrite or started later with a fresh checkpoint. (Real Iceberg reads
#: manifests instead; this naming convention is the directory-listing
#: analog of that isolation.)
STREAM_GLOB = "part-*.parquet"

#: How many expired snapshots' idempotence markers the manifest retains
#: (kept in commit order; the OLDEST age out first). Retention exists so a replayed
#: commit still dedupes after maintenance removed its snapshot; replays
#: only ever reference RECENT commits (a streaming checkpoint replays at
#: most the batch in flight at a crash, a batch rerun its last
#: checkpointed snapshot), so a bounded tail is enough — an unbounded
#: list would grow the manifest forever on a long-lived streamed sink.
#: Iceberg bounds its WAP/txn-id retention the same way.
EXPIRED_MARKER_RETENTION = 10_000


def write_parquet(table: pa.Table, dest) -> pq.FileMetaData:
    """Write ``table`` as ONE parquet file and return its footer (the
    ``metadata_collector`` copy: the caller's stats record costs no
    read). Laid out like the Spark writer's files: no Arrow schema in the
    footer, and dictionary encoding only on the columns that repeat
    values (``2 * distinct <= rows``, the Spark writer's fallback rule) —
    a dictionary over unique urls or sums only adds bytes. Nested and
    all-null columns stay out of the rule (no distinct-count kernel
    exists for them); dictionary columns keep their dictionary. Every
    data file a SnapshotTable writes goes through here, via
    :func:`_write_file`."""
    repeats = [f.name for f in table.schema
               if pa.types.is_dictionary(f.type)
               or not (pa.types.is_nested(f.type) or pa.types.is_null(f.type))
               and 2 * pc.count_distinct(table[f.name]).as_py()
               <= table.num_rows]
    mc: list = []
    pq.write_table(table, dest, metadata_collector=mc, store_schema=False,
                   use_dictionary=repeats)
    return mc[0]


def _write_file(table: pa.Table, dest, bloom_cols: Sequence[str]) -> dict:
    """Write ``table`` as one data file (:func:`write_parquet`) and return
    its stats record, taken from the footer just written, with equality
    blooms for ``bloom_cols`` built from the values in hand. The one
    write step of every commit path that writes files (``append_pandas``,
    ``append_spark``'s write tasks, ``compact``, ``overwrite_arrow``), so
    each of them commits its files with their stats and no file has to
    be read back."""
    rec = filestats.stats_from_metadata(write_parquet(table, dest))
    if bloom_cols:
        filestats.add_blooms(rec, table, bloom_cols)
    return rec


#: one record per file an ``append_spark`` write task wrote: its staged
#: path, its ``partition_by`` value and its stats record as JSON
_WRITTEN = "path string, part string, stats string"


def _task_writer(staging: str, partition_by: Optional[str],
                 bloom_cols: Sequence[str]):
    """The ``append_spark`` write task: hold the task's share of the frame
    as ONE Arrow table (the per-task bound is in SCALE.md), write it to
    ``staging`` as one file per ``partition_by`` value (one file when
    None), the partition column kept out of the files, and yield one
    :data:`_WRITTEN` record per file."""
    def write(batches):
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        table = pa.Table.from_batches(batches)
        parts = [(None, table)]
        if partition_by is not None:
            col = table[partition_by]
            if col.null_count:
                # pc.equal never selects a null: its rows would vanish
                raise ValueError(f"null {partition_by!r} partition value")
            parts = [(str(v), table.filter(pc.equal(col, v))
                      .drop_columns([partition_by]))
                     for v in pc.unique(col).to_pylist()]
        out = []
        for v, part in parts:
            path = os.path.join(staging, f"part-{uuid.uuid4().hex}.parquet")
            out.append((path, v, json.dumps(
                _write_file(part, path, bloom_cols))))
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, pa.string()) for c in zip(*out)],
            names=["path", "part", "stats"])
    return write


class CommitConflict(RuntimeError):
    """Optimistic-commit validation failed: the table advanced between when
    a maintenance operation captured its base state and when it tried to
    commit (Iceberg's base-metadata CAS failure). The caller may retry."""


class SchemaMismatch(ValueError):
    """An append's schema is incompatible with the table's tracked schema
    (Iceberg write-time schema enforcement). Schema changes are explicit
    metadata operations — :meth:`SnapshotTable.add_column` /
    :meth:`SnapshotTable.drop_column` — never a side effect of writing
    drifted data."""


def _schema_from_json(j: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson(j)


def _current_schema(m: dict):
    """The table's current tracked StructType, or None (legacy/untracked)."""
    sid = m.get("current_schema_id")
    if sid is None:
        return None
    for e in m["schemas"]:
        if e["id"] == sid:
            return _schema_from_json(e["json"])
    return None


def _parse_ddl_type(ddl: str):
    """A Spark DataType from a DDL type string. Atomic types parse locally
    (no JVM), so metadata-only evolution works without an active
    SparkSession — ``StructType.fromDDL`` needs a live SparkContext and
    would make ``add_column`` crash in a sessionless maintenance process.
    Complex types (array<...>, struct<...>, map<...>, decimal(p,s)) fall
    back to ``fromDDL`` and therefore do need a session."""
    from pyspark.sql import types as T

    atomic = {
        "string": T.StringType(), "int": T.IntegerType(),
        "integer": T.IntegerType(), "bigint": T.LongType(),
        "long": T.LongType(), "smallint": T.ShortType(),
        "short": T.ShortType(), "tinyint": T.ByteType(),
        "byte": T.ByteType(), "double": T.DoubleType(),
        "float": T.FloatType(), "real": T.FloatType(),
        "boolean": T.BooleanType(), "timestamp": T.TimestampType(),
        "timestamp_ntz": T.TimestampNTZType(), "date": T.DateType(),
        "binary": T.BinaryType(),
    }
    t = atomic.get(ddl.strip().lower())
    if t is not None:
        return t
    return T.StructType.fromDDL(f"`c` {ddl}").fields[0].dataType


def _spark_schema_of_arrow(asch: pa.Schema):
    """The Spark StructType a parquet/arrow schema reads back as, or None
    when a type falls outside the arrow<->Spark mapping (schema tracking
    then fails open: the commit is untracked, reads sample footers)."""
    try:
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(asch)
    except Exception:
        return None


def _check_schema_compatible(incoming, table) -> None:
    """Raise :class:`SchemaMismatch` unless every incoming field exists in
    the table schema with the identical type (by-name resolution; order
    and nullability don't matter). Table columns ABSENT from the incoming
    data are fine — readers fill them with null, exactly as they do for
    files that predate an added column."""
    by_name = {f.name: f for f in table.fields}
    for f in incoming.fields:
        tf = by_name.get(f.name)
        if tf is None:
            raise SchemaMismatch(
                f"column {f.name!r} ({f.dataType.simpleString()}) is not in "
                f"the table schema {table.simpleString()} — evolve "
                f"explicitly with add_column({f.name!r}, "
                f"{f.dataType.simpleString()!r}) before writing it")
        if tf.dataType != f.dataType:
            raise SchemaMismatch(
                f"column {f.name!r} is {tf.dataType.simpleString()} in the "
                f"table schema but the append writes "
                f"{f.dataType.simpleString()} — rewrite the data or evolve "
                "the table to a new column name")


def _live_set(snaps: list[dict]) -> tuple[int, list[dict]]:
    """The (base id, live snapshots) of a raw manifest snapshot list: the
    latest ``replace`` snapshot (the rewritten base, -1 if none) plus every
    ``append`` above it. THE one copy of the live-set rule —
    ``changes_since()``, ``expire_snapshots()`` and ``_live_snapshots()``
    all derive from it, so a future operation kind (delete) changes the
    rule in exactly one place and the aggregate fold's row invariant can
    never desynchronize from the actual live view."""
    base = -1
    for s in snaps:
        if s.get("operation", "append") == "replace":
            base = s["id"]
    live = [
        s for s in snaps
        if s["id"] >= base
        and (s.get("operation", "append") == "append" or s["id"] == base)
    ]
    return base, live


def _marker_snapshot_id(m: dict, marker: str) -> Optional[int]:
    """The snapshot id an already-committed ``marker`` resolves to, or None
    if the marker was never committed. A marker whose snapshot was removed
    by :meth:`SnapshotTable.expire_snapshots` (retained in
    ``expired_markers``) resolves to the live base — the replace snapshot
    that carries its rows now — so a deduped replay still gets a real,
    readable snapshot id back."""
    for s in m["snapshots"]:
        if s.get("marker") == marker:
            return s["id"]
    if marker in m.get("expired_markers", []):
        base, _ = _live_set(m["snapshots"])
        return base if base >= 0 else None
    return None


def _drop_history(m: dict) -> list[str]:
    """Empty a raw manifest for a full rewrite (:meth:`SnapshotTable.truncate`
    and the ``overwrite`` commit) and return the dropped generation's files,
    which the caller unlinks after the manifest commit."""
    doomed = sorted({f for s in m["snapshots"] for f in s["files"]})
    # preserve the id high-water mark: the first post-truncate
    # commit must NOT re-mint a dropped id, or a maintenance CAS
    # that captured its base before the truncate would pass
    # against the rebuilt table (ABA) and resurrect the dropped
    # generation's files in a replace snapshot.
    m["last_id"] = max(
        int(m.get("last_id", 0)),
        max((s["id"] for s in m["snapshots"]), default=0),
    )
    m["snapshots"] = []
    # a truncate voids the idempotence history along with the rows:
    # a marker retained past the rebuild would silently no-op the
    # very re-commit the truncate exists to enable. The expiry
    # metadata goes with it — the expired history it described no
    # longer exists, and a stale stream_floor would make a fresh
    # post-rebuild checkpoint warn about compact-* rows that were
    # deleted, not compacted.
    m.pop("expired_markers", None)
    m.pop("expired_append_ceiling", None)
    m.pop("stream_floor", None)
    # the schema history goes with the rows: truncate is
    # full-recompute mode, and the rewriter may legitimately write
    # a different shape (its first post-truncate append re-adopts)
    m.pop("schemas", None)
    m.pop("current_schema_id", None)
    return doomed


@dataclass
class Snapshot:
    id: int
    files: list[str]
    row_count: int
    marker: Optional[str] = None
    #: "append" adds rows; "replace" rewrites the live file set without
    #: changing table contents (compaction — Iceberg's rewrite_data_files).
    #: Incremental readers skip replace snapshots: they carry no new rows.
    operation: str = "append"
    #: Per-file column statistics (Iceberg lower/upper-bounds analog),
    #: keyed by the file's manifest-relative path; see sources/filestats.py.
    #: None / missing entries mean "no stats recorded" — scan planning
    #: fails OPEN on them. Every commit path of this release records
    #: them at write time; files committed by earlier releases may lack
    #: them, and :meth:`SnapshotTable.analyze` fills them in with a
    #: distributed footer sweep.
    stats: Optional[dict] = None
    #: The manifest schema entry this snapshot was written under (Iceberg
    #: ties every snapshot to a schema id the same way). None on snapshots
    #: from untracked (legacy) tables and on routed-sink commits, whose
    #: hive layout keeps the partition column out of the files.
    schema_id: Optional[int] = None


@dataclass(frozen=True)
class Changes:
    """What a consumer that has folded every snapshot up to a cursor must
    fold next, from ONE manifest read (:meth:`SnapshotTable.changes_since`).
    File lists are absolute paths."""

    head: int            # highest snapshot id minted so far (0 = none)
    live_rows: int       # rows in the live view
    live_files: list[str]
    new_rows: int        # rows of the append snapshots past the cursor
    new_files: list[str]


class SnapshotTable:
    """A directory of immutable Parquet files + an atomically-swapped manifest."""

    def __init__(self, root: str | Path):
        self.root = Path(root)

    # -- lifecycle -----------------------------------------------------------
    @classmethod
    def create(cls, root: str | Path, name: str = "table") -> "SnapshotTable":
        t = cls(root)
        t.root.mkdir(parents=True, exist_ok=True)
        (t.root / "data").mkdir(exist_ok=True)
        if not (t.root / _MANIFEST).exists():
            t._write_manifest({"name": name, "snapshots": []})
        return t

    def exists(self) -> bool:
        return (self.root / _MANIFEST).exists()

    # -- manifest ------------------------------------------------------------
    def _manifest(self) -> dict:
        with open(self.root / _MANIFEST) as f:
            return json.load(f)

    def _write_manifest(self, m: dict) -> None:
        tmp = self.root / f"{_MANIFEST}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self.root / _MANIFEST)  # the atomic commit point

    def snapshots(self) -> list[Snapshot]:
        return [Snapshot(**s) for s in self._manifest()["snapshots"]]

    def current_snapshot_id(self) -> Optional[int]:
        snaps = self._manifest()["snapshots"]
        return snaps[-1]["id"] if snaps else None

    def stream_floor(self) -> Optional[int]:
        """Snapshot id below which history has been expired (rows live only
        in compact-* files streams do not glob), or None if never expired.
        Stream checkpoints created after expiry observe only appends above
        this floor; batch :meth:`read` still serves full content."""
        return self._manifest().get("stream_floor")

    def expired_append_ceiling(self) -> int:
        """Highest APPEND snapshot id ever removed by
        :meth:`expire_snapshots` (0 if none). A snapshot-incremental
        consumer whose cursor is BELOW this id can never see those
        appends' rows again — they live only in replace snapshots, which
        incremental reads skip by design — so such a consumer must fail
        closed instead of silently advancing past them
        (plans/checkpoint.py enforces this). Reset by :meth:`truncate`."""
        return int(self._manifest().get("expired_append_ceiling", 0))

    def live_base_id(self) -> int:
        """Snapshot id of the latest replace snapshot (the live base), or
        -1 when the live view is appends-only."""
        return _live_set(self._manifest()["snapshots"])[0]

    def committed_markers(self) -> set[str]:
        """Every idempotence marker this table has EVER committed (until a
        truncate voids the history): live/time-travel snapshots' markers
        plus the ``expired_markers`` retention list (markers whose
        snapshots :meth:`expire_snapshots` removed — bounded, see
        :data:`EXPIRED_MARKER_RETENTION`). Marker lifetime is
        deliberately decoupled from snapshot lifetime — Iceberg retains
        WAP/txn ids in table metadata the same way — because the markers
        are what make a replayed commit a no-op: a streaming checkpoint
        that replays a batch AFTER maintenance expired that batch's
        snapshot must still dedupe, or the replay double-commits rows."""
        m = self._manifest()
        return ({s["marker"] for s in m["snapshots"] if s.get("marker")}
                | set(m.get("expired_markers", [])))

    def changes_since(self, cursor: int) -> Changes:
        """The live view plus the APPEND snapshots past ``cursor`` (the
        ``read(start_after=)`` rule: replace snapshots carry no new rows),
        from one manifest read. ``head`` is the cursor that covers this
        whole view; ids stay monotonic across truncate, so a consumer
        whose ``rows + new_rows`` differs from ``live_rows`` lost sight of
        rows (truncate, or appends expired before it folded them) and
        must rebuild from ``live_files``."""
        m = self._manifest()
        snaps = m["snapshots"]
        new = [s for s in snaps if s["id"] > cursor
               and s.get("operation", "append") == "append"]
        return Changes(
            head=max([int(m.get("last_id", 0))] + [s["id"] for s in snaps]),
            live_rows=sum(s["row_count"] for s in _live_set(snaps)[1]),
            live_files=self._data_files_from(m, None, None, None),
            new_rows=sum(s["row_count"] for s in new),
            new_files=self._data_files_from(m, cursor, None, None),
        )

    # -- table properties (Iceberg table-properties analog) -------------------
    def properties(self) -> dict:
        return dict(self._manifest().get("properties", {}))

    def bloom_cols(self) -> list[str]:
        """Columns the ``bloom_cols`` table property asks equality blooms
        for (comma-separated; Iceberg's write.parquet.bloom-filter-enabled
        / puffin analog). Opt-in because blooms need column VALUES (free
        on in-memory write paths, one column read on add_files/analyze)
        and only pay off on moderate-cardinality string columns — see
        filestats.py. Set via ``set_properties(bloom_cols="host,lang")``."""
        raw = self.properties().get("bloom_cols", "")
        return [c.strip() for c in raw.split(",") if c.strip()]

    def set_properties(self, **kv: str) -> None:
        """Merge key/value properties into the manifest (read-modify-write
        under the manifest lock, so concurrent commits are not lost)."""
        with self._manifest_lock():
            m = self._manifest()
            m.setdefault("properties", {}).update(kv)
            self._write_manifest(m)

    # -- concurrency ---------------------------------------------------------
    @contextmanager
    def _manifest_lock(self):
        """Host-local advisory lock serializing manifest read-modify-write
        (the single-host analog of Iceberg's catalog compare-and-swap).
        Writers on the same machine — e.g. an ingest job and a maintenance
        ``compact()`` — commit atomically with respect to each other; a
        multi-host deployment swaps this seam for a real catalog."""
        import fcntl

        lock_path = self.root / ".manifest.lock"
        with open(lock_path, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)

    # -- stream registration --------------------------------------------------
    @staticmethod
    def _stream_key(checkpoint_dir: str | Path) -> str:
        """Marker filename key: md5 of the ABSOLUTE checkpoint path, so the
        same checkpoint spelled relative vs absolute (or from different
        cwds) maps to one marker. abspath, not resolve: a checkpoint
        reached via a stable symlink keeps its spelled identity, matching
        the logfiles-mode convention."""
        return hashlib.md5(
            os.path.abspath(str(checkpoint_dir)).encode()).hexdigest()

    def register_stream(self, checkpoint_dir: str | Path) -> None:
        """Record that a directory-based stream tails this table (one marker
        per checkpoint location). Maintenance that would delete data files
        (:meth:`expire_snapshots`) refuses while markers exist. Taken
        under the manifest lock so registration serializes against a
        concurrent expiry's marker check."""
        with self._manifest_lock():
            d = self.root / ".streams"
            d.mkdir(exist_ok=True)
            # payload is the ABSOLUTE path (like the key): consumers read
            # it back from arbitrary cwds (cli.py's mixed-mode guard calls
            # stream_drained_snapshots on it) — a relative spelling would
            # resolve against THEIR cwd and fail closed on a healthy
            # checkpoint
            (d / f"{self._stream_key(checkpoint_dir)}.json").write_text(
                json.dumps(
                    {"checkpoint": os.path.abspath(str(checkpoint_dir))}))

    def unregister_stream(self, checkpoint_dir: str | Path) -> bool:
        """Retire a stream checkpoint's marker, unblocking
        :meth:`expire_snapshots`. Call this only when the checkpoint will
        never be resumed: the marker is what stops expiry from deleting
        ``part-*`` files an incremental drain has not listed yet (a
        drained-but-resumable checkpoint still needs appends committed
        after its last run if they get compacted+expired in between).
        Returns True when a marker was removed. Markers written by older
        releases were keyed on the raw path spelling; both keys are
        checked so they stay retirable."""
        removed = False
        for key in {self._stream_key(checkpoint_dir),
                    hashlib.md5(str(checkpoint_dir).encode()).hexdigest()}:
            p = self.root / ".streams" / f"{key}.json"
            if p.exists():
                p.unlink(missing_ok=True)
                removed = True
        return removed

    def stream_markers(self) -> list[str]:
        d = self.root / ".streams"
        if not d.is_dir():
            return []
        return [json.loads(p.read_text())["checkpoint"]
                for p in sorted(d.glob("*.json"))]

    def stream_drained_snapshots(
            self, checkpoint_dir: str | Path) -> Optional[set[int]]:
        """Snapshot ids whose data files a registered stream checkpoint has
        already ingested, recovered from Spark's FileStreamSource metadata
        log (``<checkpoint>/sources/0/*`` — ``v1`` header then one JSON entry
        per seen file; ``*.compact`` versions re-list full history, which is
        harmless to a set union). ``part-*`` basenames are UUID-unique, so
        the file→snapshot mapping is by basename.

        Returns ``None`` — drain state UNKNOWN — when the checkpoint's
        file-source metadata dir is missing (checkpoint deleted or moved
        while still registered). Callers guarding against double-routing
        must fail CLOSED on None: the stream may well have drained
        snapshots, the evidence is just gone. A torn/unreadable individual
        log entry (transient, mid-write) still only skips that entry: an
        entry Spark never durably recorded is an entry the stream will
        re-process, so treating it as not-drained is the conservative
        reading."""
        src = Path(checkpoint_dir) / "sources" / "0"
        if not src.is_dir():
            return None
        seen: set[str] = set()
        for log in src.iterdir():
            if not log.is_file() or log.name.startswith("."):
                continue  # .<n>.crc checksum sidecars are binary
            try:
                for line in log.read_text().splitlines():
                    if not line.startswith("{"):
                        continue  # "v1" version header
                    path = json.loads(line).get("path", "")
                    if path:
                        seen.add(path.rsplit("/", 1)[-1])
            except (OSError, UnicodeDecodeError, json.JSONDecodeError):
                continue  # torn/in-flight log entry: treat as not drained
        return {
            s.id for s in self.snapshots()
            if any(f.rsplit("/", 1)[-1] in seen for f in s.files)
        }

    # -- writes --------------------------------------------------------------
    def _commit_files(self, files: list[Path], row_count: int,
                      marker: Optional[str], operation: str = "append",
                      expected_current: Optional[int] = None,
                      stats: Optional[dict] = None,
                      schema=None, unconvertible: bool = False,
                      overwrite: bool = False,
                      properties: Optional[dict] = None) -> int:
        """``stats`` (optional) maps ``str(path)`` — as spelled in
        ``files`` — to its filestats record; recorded in the snapshot
        under the manifest-relative path. Files without an entry are
        committed statless (scan planning fails open on them).

        ``schema`` (optional StructType): the physical schema of ``files``.
        On the table's FIRST commit it becomes the tracked table schema;
        afterwards it is validated (under the manifest lock, so a racing
        first-append pair can't both initialize) against the current
        schema and the snapshot records the schema id it wrote under.
        ``None`` commits untracked (legacy tables, the hive-partitioned
        routed sink whose files deliberately omit the partition column).

        ``overwrite`` makes the new snapshot the table's whole content (the
        history is dropped as :meth:`truncate` drops it, and its files are
        unlinked after the commit); ``properties`` merge into the table
        properties in the same manifest write. ``expected_current`` is
        the snapshot id the caller's rewrite read, 0 for an empty table."""
        from pyspark.sql.types import StructField, StructType

        with self._manifest_lock():
            m = self._manifest()
            # cleanup basis for the dedupe/refusal paths below: a file is
            # safe to unlink ONLY if NO snapshot in the manifest references
            # it — not merely if it left the LIVE view. A losing compact
            # passes carried pre-existing files in ``files``; if the
            # winning racer's replace merged those same files they are
            # gone from the live set but still referenced by older append
            # snapshots (time travel, behind-cursor incremental reads), so
            # a live-set basis would delete rows readers can still ask for.
            referenced = {str(self.root / f)
                          for s in m["snapshots"] for f in s["files"]}
            keep = False  # set once the snapshot is built and will commit
            try:
                dup_id = (_marker_snapshot_id(m, marker)
                          if marker is not None else None)
                if dup_id is not None:
                    # duplicate commit: keep the table as-is
                    return dup_id
                cur = m["snapshots"][-1]["id"] if m["snapshots"] else None
                # optimistic commit (Iceberg CAS): a replace snapshot is
                # only valid against the exact base it rewrote — an append
                # that landed in between would be silently dropped from
                # the live view if we committed anyway. Sound only because
                # ids are MONOTONIC ACROSS TRUNCATE (``last_id`` below): a
                # truncate+rebuild between base capture and this check can
                # never re-mint the captured id (ABA), so id equality
                # really does mean "the exact state the rewrite read".
                if (expected_current is not None
                        and (cur or 0) != expected_current):
                    raise CommitConflict(
                        f"table advanced (current={cur}, expected="
                        f"{expected_current}); retry the operation"
                    )
                if unconvertible and "schemas" in m:
                    # in-lock twin of _precheck_schema's refusal: a racing
                    # first-append may have adopted a schema since the
                    # precheck
                    raise SchemaMismatch(
                        "frame contains arrow types outside the Spark type "
                        "mapping — cannot validate against the tracked "
                        "table schema; convert the column first")
                doomed = _drop_history(m) if overwrite else []
                schema_id = None
                if schema is not None:
                    if "schemas" not in m:
                        if not m["snapshots"]:
                            # first-ever commit: adopt this schema as the
                            # table schema (Iceberg records schema 0 at
                            # table create; we don't know it until the
                            # first write). Adopt all fields as NULLABLE:
                            # a read schema promising non-null over a later
                            # file that holds nulls is undefined behavior
                            # in Spark, and evolution makes "later file
                            # with nulls" the normal case
                            adopted = StructType([
                                StructField(f.name, f.dataType, True,
                                            f.metadata)
                                for f in schema.fields])
                            m["schemas"] = [{"id": 1,
                                             "json": adopted.jsonValue()}]
                            m["current_schema_id"] = 1
                            schema_id = 1
                        # else: legacy manifest predating schema tracking —
                        # commit untracked, preserving its read behavior
                    else:
                        _check_schema_compatible(schema, _current_schema(m))
                        schema_id = m["current_schema_id"]
                sid = max(cur or 0, int(m.get("last_id", 0))) + 1
                m["last_id"] = sid
                snap = {"id": sid,
                        "files": [str(f.relative_to(self.root))
                                  for f in files],
                        "row_count": row_count, "marker": marker,
                        "operation": operation}
                if stats:
                    rel_stats = {
                        str(f.relative_to(self.root)): stats[str(f)]
                        for f in files if str(f) in stats
                    }
                    if rel_stats:
                        snap["stats"] = rel_stats
                if schema_id is not None:
                    snap["schema_id"] = schema_id
                m["snapshots"].append(snap)
                if properties:
                    m.setdefault("properties", {}).update(properties)
                keep = True
            finally:
                if not keep:
                    # a dedupe or a refusal commits nothing: the staged
                    # files no snapshot references must not leak
                    for f in files:
                        if str(f) not in referenced:
                            f.unlink(missing_ok=True)
            self._write_manifest(m)
            for f in doomed:
                (self.root / f).unlink(missing_ok=True)
            return sid

    def compact(self, rows_per_file: int = 1_000_000,
                marker: Optional[str] = None,
                sort_by: Optional[Sequence[str]] = None,
                zorder_by: Optional[Sequence[str]] = None,
                spark: Optional[SparkSession] = None) -> Optional[int]:
        """Small-file compaction (Iceberg ``rewrite_data_files`` analog):
        merge each directory's SMALL live files (< ``rows_per_file`` rows)
        into ~``rows_per_file``-row files and commit a ``replace`` snapshot.
        Table contents are unchanged; old files stay on disk so earlier
        snapshots remain readable (time travel / snapshot isolation) until
        :meth:`expire_snapshots` removes them.

        ``sort_by`` (Iceberg's sort-strategy rewrite / ``SORTED BY`` table
        order analog) clusters each directory's merged rows by the given
        columns before slicing into output files, so consecutive outputs
        cover DISJOINT ranges of the leading sort column and the manifest
        bounds (sources/filestats.py) stay tight: without it, compaction
        merges arrival-ordered files and a time-bounded
        ``read(where=[("warc_ts", ">=", X)])`` can no longer prune what it
        pruned before the rewrite. Set it to the table's dominant scan
        predicate column (``warc_ts`` for log tables). Only the rewritten
        small files are clustered — carried full files keep their existing
        order and bounds, exactly like Iceberg's rewrite, so re-compacting
        stays a no-op. Unknown columns raise ``ValueError``: on tracked
        tables UPFRONT against the table schema (so a typo surfaces even
        on a no-op run); on untracked tables per merged group (nothing is
        committed; staged outputs are reclaimed). A group whose files all
        predate an added sort column reads all-null for it and keeps its
        order.

        Idempotent and growth-bounded: a directory is rewritten only when
        it has >= 2 small files, and already-full files (>= rows_per_file
        rows — including previous compaction outputs) are carried as-is, so
        re-running compact on a compacted table is a no-op rather than a
        fresh full-directory copy. Incremental readers are unaffected:
        ``read(start_after=cursor)`` only returns APPEND snapshots.
        Directory-based streams are unaffected too: they glob only
        ``part-*.parquet`` (:data:`STREAM_GLOB`), and compaction outputs are
        named ``compact-*`` — but do NOT :meth:`expire_snapshots` a streamed
        table (that deletes part-* files; enforced there).

        Safe beside a concurrent writer: the replace commit validates (under
        the manifest lock) that the snapshot it rewrote is still current and
        raises :class:`CommitConflict` otherwise — retry then.

        ``spark``: when given and any live file lacks manifest stats
        (files committed by earlier releases), those files are auto-swept
        through the distributed :meth:`analyze` job first, so the
        planning pass does ZERO driver footer reads; without a session,
        each statless file pays one driver ``pq.read_metadata``.

        ``zorder_by`` (Iceberg's z-order rewrite strategy analog,
        mutually exclusive with ``sort_by``) clusters the rewritten rows
        along a Morton curve over 1-4 columns (sources/zorder.py; one
        column is a coarser rank sort — prefer ``sort_by`` there) instead
        of lexicographically: each output file then covers a TIGHT range
        of EVERY listed column, so predicate reads prune on any of them —
        where ``sort_by=[a, b]`` keeps only ``a``'s bounds tight and a
        ``b``-only predicate scans every file. Same validation, carried-
        file, and schema-evolution semantics as ``sort_by``.

        Returns the new snapshot id, or None when nothing needs compacting.
        """
        from collections import defaultdict

        if sort_by and zorder_by:
            raise ValueError("compact takes sort_by OR zorder_by, not both")
        cluster_cols = list(sort_by or zorder_by or [])

        if marker is not None:
            # pre-check BEFORE touching any files: the duplicate-marker
            # path of _commit_files unlinks whatever it is passed, and
            # compact may pass pre-existing live files (carried singles)
            dup_id = _marker_snapshot_id(self._manifest(), marker)
            if dup_id is not None:
                return dup_id
        if self.stream_markers():
            import warnings

            warnings.warn(
                f"compacting {self.root} while directory-based stream(s) "
                f"tail it: safe (streams glob {STREAM_GLOB} and compaction "
                "writes compact-*), but do not expire_snapshots until the "
                "streams are done", stacklevel=2,
            )
        base = self.current_snapshot_id()  # the state this rewrite is valid for
        live = self.data_files()
        known = self._file_stats()  # manifest stats: rows without footer IO
        if spark is not None and any(f not in known for f in live):
            # statless files (files committed by earlier releases) would each
            # pay a DRIVER footer read in the planning pass below — at 10^5
            # files that serializes on the driver. With a session available,
            # enqueue them into the distributed analyze sweep instead (one
            # task per slice of files; also builds any configured blooms),
            # so planning reads rows from the refreshed manifest stats and
            # the carried files keep stats for downstream pruning.
            if self.analyze(spark):
                known = self._file_stats()
        # the replace snapshot commits under the CURRENT schema (Iceberg
        # rewrites do the same): without a schema_id on the base, a
        # post-expire table — where the base is the only snapshot left —
        # would resolve table_schema(end=base) to None and fall back to
        # footer-sampled reads, resurrecting dropped columns
        cur_schema = self.table_schema()
        bcols = self.bloom_cols()  # once: each call parses the manifest
        if cluster_cols and cur_schema is not None:
            missing = [c for c in cluster_cols
                       if c not in {f.name for f in cur_schema.fields}]
            if missing:
                raise ValueError(
                    f"compact {'sort_by' if sort_by else 'zorder_by'} "
                    f"column(s) {missing} not in the table "
                    f"schema {cur_schema.simpleString()}")
        if zorder_by:  # surface a column-count error before any file IO
            from .zorder import MAX_COLS

            if not 1 <= len(zorder_by) <= MAX_COLS:
                raise ValueError(
                    f"zorder_by takes 1..{MAX_COLS} columns, "
                    f"got {len(zorder_by)}")
        groups: dict[Path, list[str]] = defaultdict(list)
        for f in live:
            # merge only within a directory: hive-partitioned layouts keep
            # the partition value in the dir name, not the file, so a
            # cross-directory merge would lose the partition column
            groups[Path(f).parent].append(f)
        out: list[Path] = []
        staged: list[Path] = []  # freshly-written compact-* outputs only
        stats: dict[str, dict] = {}
        total = 0
        any_merge = False
        try:
            for d, fs in sorted(groups.items()):
                # per-file rows from the manifest stats when recorded —
                # the planning pass then does zero footer reads; only
                # statless files (files committed by earlier releases) pay one
                nrows = {
                    f: (known[f]["rows"] if f in known
                        else pq.read_metadata(f).num_rows)
                    for f in fs
                }
                smalls = [f for f in fs if nrows[f] < rows_per_file]
                carry = [f for f in fs if f not in smalls]
                if len(smalls) < 2:  # nothing mergeable here: carry everything
                    carry = fs
                    smalls = []
                for f in carry:
                    out.append(Path(f))
                    total += nrows[f]
                    if f in known:  # carried files keep their stats
                        stats[f] = known[f]
                if not smalls:
                    continue
                any_merge = True
                merged = pa.concat_tables(
                    [pq.read_table(f) for f in smalls],
                    promote_options="default"
                )
                if cluster_cols:
                    present = [c for c in cluster_cols
                               if c in merged.schema.names]
                    missing = [c for c in cluster_cols if c not in present]
                    if missing and cur_schema is None:
                        # untracked table: the physical schema is the only
                        # witness, so an absent column is a caller typo
                        raise ValueError(
                            f"compact "
                            f"{'sort_by' if sort_by else 'zorder_by'} "
                            f"column(s) {missing} not in "
                            f"{d}: schema has {merged.schema.names}")
                    # tracked tables validated the columns upfront; a
                    # group whose files all predate an added column reads
                    # all-null for it — any order is sorted (the z-path
                    # codes an absent column all-zero for the same effect)
                    if sort_by and present:
                        merged = merged.sort_by(
                            [(c, "ascending") for c in present])
                    elif zorder_by and present:
                        from .zorder import zorder_sort_indices

                        merged = merged.take(
                            zorder_sort_indices(merged, list(zorder_by)))
                total += merged.num_rows
                for lo in range(0, max(merged.num_rows, 1), rows_per_file):
                    sl = merged.slice(lo, rows_per_file)
                    dest = d / f"compact-{uuid.uuid4().hex}.parquet"
                    out.append(dest)
                    staged.append(dest)
                    stats[str(dest)] = _write_file(sl, dest, bcols)
            if not any_merge:
                return None
            return self._commit_files(out, total, marker,
                                      operation="replace",
                                      expected_current=base,
                                      stats=stats, schema=cur_schema)
        except BaseException:
            # a failed footer/content read (concurrent truncate/expire
            # unlinked a listed file) or a CommitConflict must not leak the
            # compact-* outputs already written for EARLIER groups: nothing
            # references them, so no later expire/truncate would ever
            # reclaim them. (_commit_files' conflict path also unlinks
            # unreferenced staged files; missing_ok makes that overlap
            # harmless, and carried pre-existing files are protected there
            # by the referenced-by-any-snapshot basis.)
            for f in staged:
                f.unlink(missing_ok=True)
            raise

    def expire_snapshots(self, force: bool = False) -> list[str]:
        """Remove snapshots older than the live base (the latest replace)
        and DELETE data files referenced only by them — the disk-reclaim
        half of compaction (Iceberg ``expire_snapshots``). After expiry,
        time travel to pre-compaction snapshots and incremental reads from
        cursors older than the base are gone — exactly Iceberg's contract.

        Refuses (RuntimeError) while a directory-based stream is registered
        on this table: expiry deletes ``part-*`` files, which are the very
        files such streams read (a stream that has not yet listed them
        would silently lose rows). Pass ``force=True`` only when every
        registered checkpoint is known dead. Returns the deleted paths.
        """
        with self._manifest_lock():
            # marker check INSIDE the lock: register_stream serializes on
            # the same lock, so a stream registering concurrently either
            # lands before this check (expiry refuses) or after the floor
            # commit (the fresh-checkpoint floor warning fires) — never in
            # a window where it silently misses both
            if self.stream_markers() and not force:
                raise RuntimeError(
                    f"refusing to expire snapshots of {self.root}: stream "
                    f"checkpoint(s) registered ({self.stream_markers()}); "
                    "stop the streams or pass force=True"
                )
            m = self._manifest()
            snaps = m["snapshots"]
            base, keep = _live_set(snaps)
            if base < 0:
                return []
            drop = [s for s in snaps if s["id"] < base]
            kept_files = {f for s in keep for f in s["files"]}
            doomed = sorted({f for s in drop for f in s["files"]} - kept_files)
            m["snapshots"] = keep
            # retain the dropped snapshots' idempotence markers: a stream
            # checkpoint that replays a batch after its snapshot expired
            # must still find the marker, or the replay re-commits the
            # rows as duplicates (committed_markers documents the
            # contract). Kept in drop (= commit) order and bounded by
            # EXPIRED_MARKER_RETENTION so a long-lived streamed sink's
            # manifest stays small; reset by truncate.
            retained = list(m.get("expired_markers", []))
            seen = set(retained)
            for s in drop:
                mk = s.get("marker")
                if mk and mk not in seen:
                    retained.append(mk)
                    seen.add(mk)
            # explicit <=0 branch: retained[-0:] is the WHOLE list, so a
            # zero cap would silently mean "retain everything", not "none"
            m["expired_markers"] = (retained[-EXPIRED_MARKER_RETENTION:]
                                    if EXPIRED_MARKER_RETENTION > 0 else [])
            # record the highest APPEND id this expiry removes: incremental
            # consumers below it fail closed (expired_append_ceiling) —
            # their unprocessed rows now exist only in the replace base
            m["expired_append_ceiling"] = max(
                int(m.get("expired_append_ceiling", 0)),
                max((s["id"] for s in drop
                     if s.get("operation", "append") == "append"), default=0),
            )
            # record the expiry floor: pre-compaction rows now exist ONLY in
            # compact-* files, which directory-based streams deliberately do
            # not glob — a stream checkpoint created after this point can
            # observe appends after `base` but never the expired history
            # (batch read() still serves full content via the manifest).
            # _page_stream warns fresh checkpoints using this field.
            m["stream_floor"] = base
            self._write_manifest(m)
            # unlink INSIDE the lock (still after the manifest commit, so
            # a crash mid-unlink orphans files, never corrupts the live
            # view): register_stream serializes on this lock, so a stream
            # registering concurrently can only list the data dir after
            # the doomed part-* files are gone — released-lock unlinking
            # left a window where a fresh stream's file source listed a
            # doomed file and then crashed on FileNotFound mid-batch
            for f in doomed:
                (self.root / f).unlink(missing_ok=True)
        return [str(self.root / f) for f in doomed]

    def _precheck_schema(self, schema, unconvertible: bool = False) -> None:
        """Fast-fail an incompatible append OUTSIDE the lock, before any
        data is written or staged; the authoritative re-check runs inside
        ``_commit_files`` under the manifest lock (racing first-appends).

        ``unconvertible`` marks a frame whose arrow schema has no Spark
        mapping: on a TRACKED table that is refused outright — silently
        committing it untracked would plant data the tracked read schema
        then chokes on at scan time, with no SchemaMismatch ever raised.
        On an untracked/empty table it commits untracked (and a first
        commit leaves the table untracked)."""
        if unconvertible:
            if "schemas" in self._manifest():
                raise SchemaMismatch(
                    "frame contains arrow types outside the Spark type "
                    "mapping — cannot validate against the tracked table "
                    "schema; convert the column first")
            return
        if schema is None:
            return
        m = self._manifest()
        if "schemas" not in m:
            return
        _check_schema_compatible(schema, _current_schema(m))

    def append_pandas(self, pdf: pd.DataFrame, marker: Optional[str] = None,
                      schema: Optional[pa.Schema] = None) -> int:
        table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
        st = _spark_schema_of_arrow(table.schema)
        self._precheck_schema(st, unconvertible=st is None)
        dest = self.root / "data" / f"part-{uuid.uuid4().hex}.parquet"
        rec = _write_file(table, dest, self.bloom_cols())
        return self._commit_files(
            [dest], len(pdf), marker, stats={str(dest): rec},
            schema=st, unconvertible=st is None)

    def overwrite_arrow(self, table: pa.Table, expected_current: int,
                        **properties: str) -> int:
        """Replace the table's whole content with ``table`` and merge
        ``properties``, in ONE manifest commit: a reader sees the old rows
        and properties or the new ones, never an empty table between
        (truncate + append + set_properties would be three commits).
        Guarded by the ``expected_current`` CAS (the snapshot id the
        rewrite was computed from, 0 for an empty table): a concurrent
        commit raises :class:`CommitConflict`. One file, written by
        :func:`_write_file`. Not for streamed tables: the old ``part-*``
        files are deleted."""
        dest = self.root / "data" / f"part-{uuid.uuid4().hex}.parquet"
        rec = _write_file(table, dest, self.bloom_cols())
        return self._commit_files(
            [dest], table.num_rows, None, expected_current=expected_current,
            stats={str(dest): rec},
            schema=_spark_schema_of_arrow(table.schema), overwrite=True,
            properties=properties)

    def add_files(self, files, marker: Optional[str] = None) -> int:
        """Register PRE-EXISTING parquet files as one append snapshot — the
        Iceberg ``add_files`` migration-procedure analog: no data rewrite,
        each source is hardlinked into ``data/`` (copied when the link
        crosses filesystems) under a fresh ``part-*`` name and committed
        atomically. Row counts come from parquet footers, not a scan —
        and the same footer read yields the files' column stats, so
        migrated files are prunable from day one. The files' UNION schema
        (by-name; conflicting types raise :class:`SchemaMismatch`) is
        validated against the table schema before anything is staged."""
        from pyspark.sql.types import StructType

        srcs = [Path(s) for s in files]
        fields: dict[str, object] = {}
        union_ok = True
        for src in srcs:
            st = _spark_schema_of_arrow(
                pq.read_metadata(src).schema.to_arrow_schema())
            if st is None:
                union_ok = False  # exotic type: commit untracked, fail open
                break
            for f in st.fields:
                prev = fields.get(f.name)
                if prev is None:
                    fields[f.name] = f
                elif prev.dataType != f.dataType:
                    raise SchemaMismatch(
                        f"add_files inputs disagree on column {f.name!r}: "
                        f"{prev.dataType.simpleString()} vs "
                        f"{f.dataType.simpleString()} ({src})")
        union = (StructType(list(fields.values()))
                 if union_ok and fields else None)
        self._precheck_schema(union, unconvertible=not union_ok)
        staged: list[Path] = []
        stats: dict[str, dict] = {}
        n = 0
        bcols = self.bloom_cols()  # once: each call parses the manifest
        for src in srcs:
            dest = self.root / "data" / f"part-{uuid.uuid4().hex}.parquet"
            try:
                os.link(src, dest)
            except OSError:
                shutil.copy2(src, dest)
            rec = filestats.stats_from_footer(str(dest))
            if bcols:  # one column read per file: migrated files get
                # equality blooms day one, like their footer bounds
                filestats.add_blooms_from_file(rec, str(dest), bcols)
            n += rec["rows"]
            stats[str(dest)] = rec
            staged.append(dest)
        return self._commit_files(staged, n, marker, stats=stats,
                                  schema=union, unconvertible=not union_ok)

    def append_spark(self, df: DataFrame, marker: Optional[str] = None,
                     partition_by: Optional[str] = None,
                     bloom_cols: Optional[list[str]] = None) -> int:
        """Write a DataFrame as one snapshot in ONE Spark job and return the
        committed snapshot id.

        Each write task writes its rows itself (:func:`_task_writer`) and
        returns one record per file: its staged path and its stats record,
        taken from the footer it just wrote, with equality blooms for
        ``bloom_cols`` (default: the table's ``bloom_cols`` property). The
        driver moves the files out of ``_staging-*`` and commits them with
        their stats, so the commit does ZERO driver-side footer reads — at
        10^5 files/commit a footer sweep (one ~KB metadata read per file,
        serial) would be the last sequential stage of an otherwise
        parallel pipeline — and no later job sweeps the files for stats.
        The renames that remain are pure metadata ops and map onto a
        manifest rewrite (no move at all) on a real object-store catalog.
        Only the files of the attempts ``collect()`` returns are
        committed; staging is removed whatever happens.

        ``partition_by`` lays the files out hive-style, one file per task
        and value under ``data/<column>=<value>/``, with the column kept
        out of the files (the routed sink's layout); such a commit is
        untracked, since the files' schema lacks the column. Otherwise
        ``df.schema`` is validated before the job and tracked."""
        schema = None if partition_by else df.schema
        self._precheck_schema(schema)  # fail BEFORE running the write job
        if bloom_cols is None:
            bloom_cols = self.bloom_cols()
        staging = self.root / f"_staging-{uuid.uuid4().hex}"
        staging.mkdir()
        try:
            written = df.mapInArrow(
                _task_writer(str(staging), partition_by, bloom_cols),
                _WRITTEN).collect()
            files, stats = [], {}
            for r in written:
                d = self.root / "data"
                if partition_by:
                    d = d / f"{partition_by}={r.part}"
                    d.mkdir(exist_ok=True)
                dest = d / Path(r.path).name
                os.replace(r.path, dest)
                files.append(dest)
                stats[str(dest)] = json.loads(r.stats)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return self._commit_files(
            files, sum(rec["rows"] for rec in stats.values()), marker,
            stats=stats, schema=schema)

    def truncate(self) -> None:
        """Drop all snapshots and DELETE their data files (full-recompute
        mode: --log-file's routed-sink rebuild calls this whenever the
        files changed — keeping the dropped generation's
        parquet on disk would grow the layout by one dead generation per
        run, with no code path ever able to reclaim it, since
        :meth:`expire_snapshots` only frees files superseded by a replace
        snapshot still in the manifest). Files are unlinked after the
        manifest commit, mirroring expire_snapshots: a crash in between
        orphans at most one generation, never corrupts the live view.

        Refuses (RuntimeError) while a directory-based stream is
        registered on this table, for the same reason expire_snapshots
        does: it deletes the very ``part-*`` files such streams read."""
        with self._manifest_lock():
            # marker check INSIDE the lock (like expire_snapshots):
            # register_stream serializes on the same lock, so a stream
            # registering concurrently either blocks this truncate or
            # registers after the manifest is already emptied
            if self.stream_markers():
                raise RuntimeError(
                    f"refusing to truncate {self.root}: stream "
                    f"checkpoint(s) registered ({self.stream_markers()}); "
                    "retire them first"
                )
            m = self._manifest()
            doomed = _drop_history(m)
            self._write_manifest(m)
            # unlink INSIDE the lock (like expire_snapshots, still after
            # the manifest commit): a stream registering the instant the
            # lock is released must list an already-empty data dir —
            # otherwise its file source ingests the dropped generation's
            # still-on-disk part-* files, resurrecting truncated rows
            for f in doomed:
                (self.root / f).unlink(missing_ok=True)

    # -- statistics (Iceberg manifest column-bounds analog) -------------------
    def _file_stats(self) -> dict[str, dict]:
        """Every per-file stats record the manifest knows, keyed by
        ABSOLUTE path string; later snapshots win (analyze/compact may
        re-record a carried file). Files without stats are absent."""
        out: dict[str, dict] = {}
        for s in self._manifest()["snapshots"]:
            for f, rec in (s.get("stats") or {}).items():
                out[str(self.root / f)] = rec
        return out

    def analyze(self, spark: SparkSession,
                parallelism: Optional[int] = None,
                bloom_cols: Optional[list[str]] = None) -> int:
        """Fill in column statistics for files committed without them —
        files committed by earlier releases, whose ``append_spark`` wrote
        no stats; every commit path of this release records them at write
        time. The footer sweep runs as a Spark job
        (:func:`~.filestats.collect_stats_distributed`), one task per
        slice of files, so at 10^5 files it parallelizes across the
        cluster instead of serializing on the driver; the driver collects
        only the ~100-byte stats records. When the ``bloom_cols``
        property is set, the same sweep also builds equality blooms
        (reading just those columns' values — the one stat footers cannot
        provide) for files whose records predate the property. Re-running
        is a no-op, including for columns that stored no bloom (the
        considered-set marker). ``bloom_cols`` overrides the property for
        this sweep (the CLI applies its default before persisting it).
        Returns the number of files whose stats were recorded.

        The Iceberg analog is the write-path stats collection plus
        ``rewrite_manifests`` — run it after bulk ingests so scan
        planning (:meth:`read` ``where=``) can prune."""
        m = self._manifest()
        bcols = self.bloom_cols() if bloom_cols is None else bloom_cols
        missing: set[str] = set()
        for s in m["snapshots"]:
            have = s.get("stats") or {}
            # a file also needs the sweep when its record predates some of
            # the requested bloom columns (bloom_cols set after the stats
            # landed); the considered-set marker keeps re-runs no-ops even
            # for columns that stored no bloom (overflow / non-string)
            missing.update(f for f in s["files"]
                           if filestats.needs_bloom_sweep(have.get(f), bcols))
        if not missing:
            return 0
        recs = filestats.collect_stats_distributed(
            spark, [str(self.root / f) for f in sorted(missing)],
            parallelism, bloom_cols=bcols)
        rel = {f: recs[str(self.root / f)] for f in missing
               if recs.get(str(self.root / f)) is not None}
        if not rel:
            return 0
        with self._manifest_lock():
            m = self._manifest()
            for s in m["snapshots"]:
                st = s.get("stats") or {}
                merged = False
                for f in s["files"]:
                    if f in rel and filestats.needs_bloom_sweep(
                            st.get(f), bcols):
                        # fresh footer stats + newly-considered blooms,
                        # carrying blooms the old record holds for
                        # columns this sweep no longer asked about.
                        # carry_blooms mutates its `new` argument, so give
                        # each snapshot its OWN copy — sharing rel[f] would
                        # alias one dict across snapshots and accumulate
                        # bloom unions from earlier snapshots' old records
                        st[f] = filestats.carry_blooms(
                            st.get(f), copy.deepcopy(rel[f]))
                        merged = True
                if merged:
                    s["stats"] = st
            self._write_manifest(m)
        return len(rel)

    # -- schema evolution (Iceberg metadata-only evolution analog) -----------
    def table_schema(self, end: Optional[int] = None):
        """The tracked StructType as of snapshot ``end`` (None = current),
        or None for untracked (legacy / routed-hive) tables. Time travel
        resolves through the SNAPSHOT's recorded schema id, like Iceberg:
        a metadata-only add/drop between snapshots does not rewrite what
        an earlier snapshot's read sees."""
        return self._table_schema_from(self._manifest(), end)

    def _table_schema_from(self, m: dict, end: Optional[int] = None):
        if "schemas" not in m:
            return None
        if end is None:
            return _current_schema(m)
        sid = None
        for s in m["snapshots"]:
            if s["id"] <= end and s.get("schema_id") is not None:
                sid = s["schema_id"]
        if sid is None:
            return None
        for e in m["schemas"]:
            if e["id"] == sid:
                return _schema_from_json(e["json"])
        return None

    def add_column(self, name: str, ddl_type: str) -> int:
        """Add a nullable column — METADATA ONLY, no data rewrite: rows in
        every existing file read back as NULL for it (Iceberg
        ``ADD COLUMN``). Returns the new schema id.

        Refuses a name any HISTORICAL schema used (even a dropped one):
        this layer resolves parquet columns BY NAME, so re-adding a
        dropped name would resurrect the old files' values — the hazard
        Iceberg's field-ids exist to prevent; a fresh name is free."""
        from pyspark.sql.types import StructField, StructType

        dtype = _parse_ddl_type(ddl_type)
        with self._manifest_lock():
            m = self._manifest()
            if "schemas" not in m:
                raise RuntimeError(
                    f"{self.root} tracks no schema (empty or pre-tracking "
                    "table): append data first")
            current = _current_schema(m)
            if any(f.name == name for f in current.fields):
                raise SchemaMismatch(f"column {name!r} already exists")
            historical = {f["name"] for e in m["schemas"]
                          for f in e["json"]["fields"]}
            if name in historical:
                raise SchemaMismatch(
                    f"column name {name!r} was used by an earlier schema "
                    "version: by-name parquet resolution would resurrect "
                    "the dropped column's values from old files — use a "
                    "new name (Iceberg avoids this with field ids)")
            new = StructType(list(current.fields)
                             + [StructField(name, dtype, True)])
            nid = max(e["id"] for e in m["schemas"]) + 1
            m["schemas"].append({"id": nid, "json": new.jsonValue()})
            m["current_schema_id"] = nid
            self._write_manifest(m)
            return nid

    def drop_column(self, name: str) -> int:
        """Drop a column — METADATA ONLY: files keep the bytes (time travel
        to pre-drop snapshots still reads them), current reads exclude it
        (Iceberg ``DROP COLUMN``). Returns the new schema id."""
        from pyspark.sql.types import StructType

        with self._manifest_lock():
            m = self._manifest()
            if "schemas" not in m:
                raise RuntimeError(
                    f"{self.root} tracks no schema (empty or pre-tracking "
                    "table): append data first")
            current = _current_schema(m)
            if not any(f.name == name for f in current.fields):
                raise SchemaMismatch(f"no column {name!r} in "
                                     f"{current.simpleString()}")
            if len(current.fields) == 1:
                raise SchemaMismatch("cannot drop the last column")
            new = StructType([f for f in current.fields if f.name != name])
            nid = max(e["id"] for e in m["schemas"]) + 1
            m["schemas"].append({"id": nid, "json": new.jsonValue()})
            m["current_schema_id"] = nid
            self._write_manifest(m)
            return nid

    # -- reads ---------------------------------------------------------------
    def _live_snapshots(self, end: Optional[int] = None) -> list[Snapshot]:
        """The snapshots composing the table STATE as of ``end`` (default:
        current): the latest replace snapshot (the rewritten base) plus
        every append after it."""
        raw = [s for s in self._manifest()["snapshots"]
               if end is None or s["id"] <= end]
        _, live = _live_set(raw)
        return [Snapshot(**s) for s in live]

    def data_files(self, start_after: Optional[int] = None,
                   end: Optional[int] = None,
                   where: Optional[list] = None) -> list[str]:
        """The scan plan's file list. ``where`` — a conjunction of
        ``(column, op, value)`` terms (sources/filestats.py) — prunes
        files whose manifest column bounds prove they hold no matching
        row, BEFORE any Spark job is planned: at 10^5 live files a
        time-bounded scan schedules tasks for the matching suffix only.
        Files without recorded stats are always kept (fail open), so
        pruning is sound on mixed tables."""
        return self._data_files_from(self._manifest(), start_after, end,
                                     where)

    def _data_files_from(self, m: dict, start_after: Optional[int],
                         end: Optional[int], where: Optional[list]
                         ) -> list[str]:
        """One-manifest-view body of :meth:`data_files` — ``read`` threads
        the same parsed manifest through file listing and schema
        resolution, so a 10^5-entry manifest is json-parsed once per scan
        plan and both derivations see one consistent state."""
        if start_after is not None:
            # incremental scan: NEW ROWS only — append snapshots past the
            # cursor (replace snapshots rewrite existing rows; including
            # them would double-process after a compaction)
            snaps = [Snapshot(**s) for s in m["snapshots"]
                     if s["id"] > start_after
                     and s.get("operation", "append") == "append"
                     and (end is None or s["id"] <= end)]
        else:
            raw = [s for s in m["snapshots"]
                   if end is None or s["id"] <= end]
            snaps = [Snapshot(**s) for s in _live_set(raw)[1]]
        table_cols = None
        if where:
            filestats.validate_predicates(where)
            st = self._table_schema_from(m, end)
            if st is not None:
                # tracked table: an unknown predicate column is the same
                # error a full scan + .filter() raises (unresolved column)
                # — pruning must never turn that error into "no rows"
                table_cols = {f.name for f in st.fields}
                unknown = sorted({c for c, _, _ in where
                                  if c not in table_cols})
                if unknown:
                    raise ValueError(
                        f"predicate column(s) {unknown} not in the table "
                        f"schema {st.simpleString()}")
        out: list[str] = []
        for s in snaps:
            for f in s.files:
                if where:
                    rec = (s.stats or {}).get(f)
                    if not filestats.file_may_match(rec, where,
                                                    table_cols=table_cols):
                        continue
                out.append(str(self.root / f))
        return out

    def read(self, spark: SparkSession, start_after: Optional[int] = None,
             end: Optional[int] = None,
             where: Optional[list] = None) -> Optional[DataFrame]:
        """Scan the table (optionally an incremental snapshot range).

        ``where`` prunes data files by their manifest column bounds (see
        :meth:`data_files`) AND applies the identical predicate as a
        Catalyst filter on the result — so passing ``where`` is always
        exactly equivalent to a full scan plus ``.filter(...)``, just
        with fewer scheduled tasks; the same terms also reach the parquet
        readers as pushed filters for row-group skipping within the
        surviving files.

        Returns None when the range is empty (or ``where`` pruned every
        file) — the caller decides whether that means "nothing new"
        (incremental) or an error (full scan).
        """
        m = self._manifest()  # ONE parse: files + schema from the same view
        files = self._data_files_from(m, start_after, end, where)
        if not files:
            return None
        # schema-tracked tables read under the schema AS OF ``end`` (like
        # Iceberg: time travel sees the snapshot's schema): files predating
        # an added column surface it as NULL, dropped columns disappear,
        # and the result schema is deterministic — never "whichever file's
        # footer Spark sampled first"
        st = self._table_schema_from(m, end)
        reader = spark.read.schema(st) if st is not None else spark.read
        df = reader.parquet(*files)
        if where:
            df = df.filter(filestats.spark_filter(where))
        return df

    def row_count(self) -> int:
        return sum(s.row_count for s in self._live_snapshots())
