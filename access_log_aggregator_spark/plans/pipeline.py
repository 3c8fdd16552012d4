"""The full parse -> enrich -> route -> aggregate job.

One scan of the pages table feeds everything (SURVEY.md §4.2 item 6):

    pages ──parse_stage──▶ enrich(broadcast dim) ──route──▶ narrow routed
        └─ html/text dropped here; only ~100-byte columns continue
    routed ──single write job, one file per (task, match_class)──▶ routed sink
    routed sink (columnar, partition-pruned) ──▶ per-class views + aggregates

The routed table is written once, hive-laid-out by ``match_class``, and
the four sinks are partition-pruned views of it — the single-pass fan-out
(SURVEY.md §2.5 K3): one pass over the TB-scale input, no persist()
memory pressure, and each aggregate then scans only the small, narrow,
column-pruned routed data. The write is ``SnapshotTable.append_spark``
with ``partition_by="match_class"``: its tasks write the parquet files
and return each file's stats with its host bloom, so the batch commit
reads no footer and no second job sweeps the files for stats.

Per-batch counts come from the committed snapshot's per-file rows (the
malformRecord-counter analog, internal/app/aggregate.go:15,38-41) and
per-partition lineage from the ``source_partition`` column stamped at
parse time.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import extract as X
from ..operators.aggregate import (
    aggregate_by_host,
    aggregate_by_status_bucket,
    aggregate_by_window,
    merge_state,
    partial_aggregates,
)
from ..operators.enrich import enrich
from ..operators.parse import parse_stage
from ..operators.route import route
from ..sources.tableio import CommitConflict, SnapshotTable

#: columns persisted to the routed sink (narrow — html/text already dropped)
ROUTED_COLUMNS = [
    "url", "warc_ts", "lang", "lang_norm", "extracted_text", "log_time_str",
    "host", "status_code", "duration", "log_ts", "geo", "category",
    "reject_reason", "source_partition", "match_class",
]

#: equality-bloom columns of the routed sink while its ``bloom_cols``
#: property is unset: point lookups filter on host
DEFAULT_ROUTED_BLOOM_COLS = ("host",)

#: the three materialized aggregate sinks written by write_aggregates
AGG_TABLES = ("agg_by_host", "agg_by_status_bucket", "agg_by_window")

#: routed partitions the aggregates read: the reference-valid classes
_VALID_DIRS = {f"match_class={c}" for c in (X.CLASS_PARSED, X.CLASS_BOT)}

#: the routed columns the aggregates read, given to the reader so that no
#: footer-inference job runs
_AGG_INPUT = "host string, status_code bigint, duration double, log_ts timestamp"

#: how often write_aggregates re-reads and folds again after losing a race
_FOLD_ATTEMPTS = 5


def observe_routed_classes(routed: DataFrame, name: str):
    """Attach the per-class routing counters to ``routed`` as observe()
    metrics (rows_in + one count per match class) for the summary-only
    --log-file path, whose only job is the aggregate. The sink-committing
    path (process_batch) counts from the per-file rows of the snapshot
    it committed instead; ``test_cli_maintenance`` pins that the two
    report the same counts. Returns (df, observation)."""
    obs = Observation(name)
    counted = routed.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        *[
            F.count_if(F.col("match_class") == c).alias(c)
            for c in X.ALL_CLASSES
        ],
    )
    return counted, obs


def build_routed(pages: DataFrame, lookup: DataFrame) -> DataFrame:
    """The lazy logical plan for one batch (no action taken)."""
    parsed = parse_stage(pages)
    enriched = enrich(parsed, lookup)
    routed = route(enriched)
    return routed.select(*ROUTED_COLUMNS)


@dataclass
class BatchResult:
    batch_id: str
    snapshot_id: Optional[int]          # routed-table snapshot committed
    sink_counts: dict[str, int] = field(default_factory=dict)
    malformed: int = 0
    rows_in: int = 0


class Pipeline:
    """Batch pipeline bound to a routed sink table + aggregate tables."""

    def __init__(self, spark: SparkSession, out_root: str | Path,
                 lookup: DataFrame, write_partitions: Optional[int] = None):
        self.spark = spark
        self.out_root = Path(out_root)
        self.lookup = lookup
        #: explicit pre-write repartition on url (north_rule: "handles
        #: warc_ts/url skew via explicit repartitioning"): url hashes spread
        #: uniformly regardless of host/warc_ts skew, so write tasks balance
        #: and the routed table gets a bounded file count per batch. None =
        #: keep the zero-shuffle plan (right for small batches).
        self.write_partitions = write_partitions
        self.routed_table = SnapshotTable.create(self.out_root / "routed", "routed")

    # -- one batch ------------------------------------------------------------
    def process_batch(self, pages: DataFrame, batch_id: str) -> BatchResult:
        """Parse+enrich+route one batch of pages and commit it to the routed
        sink in ONE write job (:meth:`SnapshotTable.append_spark`,
        hive-laid-out by match_class: the single-pass fan-out). Idempotent
        on batch_id: a committed batch returns ``snapshot_id=None`` and
        zero counts without running a job. Counts come from the committed
        snapshot's per-file rows — no second scan of the input, no footer
        read."""
        t = self.routed_table
        counts = dict.fromkeys(X.ALL_CLASSES, 0)
        sid = None
        if batch_id not in t.committed_markers():
            routed = build_routed(pages, self.lookup)
            if self.write_partitions:
                routed = routed.repartition(self.write_partitions,
                                            F.col("url"))
            sid = t.append_spark(
                routed, marker=batch_id, partition_by="match_class",
                bloom_cols=(t.bloom_cols() if "bloom_cols" in t.properties()
                            else list(DEFAULT_ROUTED_BLOOM_COLS)))
            (snap,) = [s for s in t.snapshots() if s.id == sid]
            for f, rec in (snap.stats or {}).items():
                counts[Path(f).parent.name.split("=", 1)[1]] += rec["rows"]
        return BatchResult(
            batch_id=batch_id,
            snapshot_id=sid,
            sink_counts=counts,
            malformed=counts[X.CLASS_UNPARSED] + counts[X.CLASS_ERROR],
            rows_in=sum(counts.values()),
        )

    # -- reads over the routed sink -------------------------------------------
    def routed(self) -> Optional[DataFrame]:
        files = self.routed_table.data_files()
        if not files:
            return None
        return (
            self.spark.read.option("basePath", str(self.routed_table.root / "data"))
            .parquet(*files)
        )

    def sink(self, match_class: str) -> Optional[DataFrame]:
        """Per-class sink view — partition-pruned scan of the routed table."""
        df = self.routed()
        return None if df is None else df.filter(F.col("match_class") == match_class)

    def valid_records(self) -> Optional[DataFrame]:
        """All reference-valid records (parsed ∪ bot) — the exact domain the
        reference aggregates over (it has no bot concept; SURVEY.md §2.5)."""
        df = self.routed()
        if df is None:
            return None
        return df.filter(F.col("match_class").isin(X.CLASS_PARSED, X.CLASS_BOT))

    # -- aggregate views --------------------------------------------------------
    def agg_by_host(self) -> Optional[DataFrame]:
        v = self.valid_records()
        return None if v is None else aggregate_by_host(v)

    def agg_by_status_bucket(self) -> Optional[DataFrame]:
        v = self.valid_records()
        return None if v is None else aggregate_by_status_bucket(v)

    def agg_by_window(self, duration: str = "1 hour") -> Optional[DataFrame]:
        v = self.valid_records()
        return None if v is None else aggregate_by_window(v, duration)

    def write_aggregates(self) -> dict[str, int]:
        """Fold the routed rows appended since the last call into the
        three aggregate tables (SURVEY.md §2.5 K1: the authoritative sinks
        are tables, stdout is presentation). Returns rows per table
        written, ``{}`` when there was nothing to fold.

        Each table carries its cursor as properties: ``agg_through``, the
        routed snapshot id it covers, and ``agg_rows``, the routed live
        rows it covers. New table = old table ⊕ the partial aggregate of
        the valid-class files of the routed APPEND snapshots past
        ``agg_through`` (compaction's replace snapshots carry no new
        rows). The same fold from an empty table over every live file is
        the rebuild, taken when a table is missing or has no cursor, the
        cursors disagree (a crash between two table commits), or
        ``agg_rows`` + the new appends' rows != the routed live rows (a
        truncate, or appends compacted and expired before they were
        folded). An idle call runs no Spark job and writes nothing.

        The partial is ONE grouping-sets job over the new files only; the
        merge runs in Arrow on the driver, bounded by distinct keys, not
        rows (SCALE.md). Each table's rows and cursor land in one
        manifest commit guarded by its CAS, so a reader never sees an
        empty or half-written table and two concurrent folds cannot
        double-count: the loser re-reads and folds again."""
        for _ in range(_FOLD_ATTEMPTS):
            try:
                return self._fold_aggregates()
            except (CommitConflict, FileNotFoundError):
                # a concurrent fold committed (and unlinked the previous
                # rows' file) since this one read its tables: start over
                continue
        raise CommitConflict(
            f"aggregate fold lost {_FOLD_ATTEMPTS} races; retry the call")

    def _fold_aggregates(self) -> dict[str, int]:
        tables = [SnapshotTable(self.out_root / n) for n in AGG_TABLES]
        # each head is read BEFORE the cursor and rows: every commit mints
        # a new id, so the CAS on it covers everything read after it
        heads = [(t.current_snapshot_id() if t.exists() else None) or 0
                 for t in tables]
        cursors = {(p.get("agg_through"), p.get("agg_rows")) for p in
                   (t.properties() if t.exists() else {} for t in tables)}
        through, rows = cursors.pop() if len(cursors) == 1 else (None, None)
        ch = self.routed_table.changes_since(
            -1 if through is None else int(through))
        fold = rows is not None and int(rows) + ch.new_rows == ch.live_rows
        if fold and not ch.new_files:
            return {}
        files = [f for f in (ch.new_files if fold else ch.live_files)
                 if Path(f).parent.name in _VALID_DIRS]
        partial = None
        if files:
            valid = self.spark.read.schema(_AGG_INPUT).parquet(*files)
            partial = partial_aggregates(valid).toArrow()
        out: dict[str, int] = {}
        for name, t, head in zip(AGG_TABLES, tables, heads):
            prior = None
            if fold:
                prior = pa.concat_tables(
                    [pq.read_table(f) for f in t.data_files()])
            table = merge_state(name, prior, partial)
            SnapshotTable.create(t.root, name).overwrite_arrow(
                table, expected_current=head,
                agg_through=str(ch.head), agg_rows=str(ch.live_rows))
            out[name] = table.num_rows
        return out

    def summary_text(self, now=None) -> str:
        """Reference-format table (print.go:26-49) rendered from the aggregate."""
        return summary_text_from_agg(self.agg_by_host(), now=now)


def summary_text_from_agg(agg: Optional[DataFrame], now=None) -> str:
    """Reference-format summary table (print.go:26-49) from an
    aggregate_by_host frame (None -> the empty table). The collect is
    bounded: one row per distinct host."""
    from ..oracle.summaries import Summaries, Summary, format_summaries

    ss = Summaries()
    if agg is not None:
        for r in agg.collect():
            ss.by_host[r["host"]] = Summary(
                request_total=r["total_requests"],
                request_2xx=r["requests_2xx"],
                duration_total=float(r["sum_duration_s"]),
            )
    return format_summaries(ss, now=now)
