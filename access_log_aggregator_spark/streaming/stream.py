"""Structured Streaming mode — the reference's periodic-emit analog.

The reference re-prints its cumulative summary every ``-interval`` tick
(internal/app/aggregate.go:12,24-26) and drains everything before the final
summary on shutdown (aggregate.go:28-41). The Spark-native analog:

- ``readStream`` over the pages table's data directory (new snapshot files
  are discovered as they commit — the tail),
- ``foreachBatch`` feeding the SAME batch pipeline (fan-out sinks need
  foreachBatch; multi-sink streaming writes aren't supported natively),
- ``Trigger.AvailableNow`` = process-everything-then-stop, the drain-before-
  final-summary semantics; ``processingTime`` = the live ``-interval`` mode,
- the stream's own checkpoint gives exactly-once batch ids, and the sink's
  idempotence markers make replays no-ops.

Batch-incremental mode (plans/checkpoint.py) remains the primary engine;
this module proves the same operators run unchanged under streaming.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..plans.checkpoint import check_sink_owner, mint_marker
from ..plans.pipeline import BatchResult, Pipeline
from ..sources.tableio import STREAM_GLOB, SnapshotTable

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampNTZType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def _page_stream(spark: SparkSession, pages_table: SnapshotTable,
                 checkpoint_dir: str | Path, max_files_per_trigger: int):
    """Directory-listing file source over the pages table, restricted to
    append outputs (``part-*.parquet``): compaction writes ``compact-*``
    files into the same directories, and without the glob a compaction —
    or a stream started after one — would ingest every merged row twice
    (tableio.STREAM_GLOB documents the convention). Registers the
    checkpoint on the table so expire_snapshots refuses to delete the
    part-* files this stream reads; retire the marker with
    table.unregister_stream(checkpoint) once the checkpoint is done for
    good (a resumable checkpoint keeps its marker so appends committed
    between drains cannot be compacted+expired out from under it)."""
    # register FIRST, read the floor AFTER: registration serializes on the
    # table's manifest lock against expire_snapshots' marker check, so a
    # stream landing concurrently with an expiry either blocks the expiry
    # or (registering just after it) reads the committed floor here and
    # warns — there is no window where it misses both.
    pages_table.register_stream(checkpoint_dir)
    floor = pages_table.stream_floor()
    if floor is not None and not Path(checkpoint_dir).exists():
        import warnings

        warnings.warn(
            f"starting a FRESH stream checkpoint on {pages_table.root}, "
            f"whose history below snapshot {floor} has been expired: rows "
            f"from snapshots before {floor} live only in compact-* files, "
            "which streams do not read — this stream observes appends "
            f"committed after snapshot {floor} (their part-* files survive "
            "expiry), nothing earlier; use batch table.read() for full "
            "content, and do not ALSO backfill post-floor appends from a "
            "batch read or they will arrive twice",
            stacklevel=2,
        )
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", STREAM_GLOB)
        .parquet(str(pages_table.root / "data"))
    )


def _start_fanout(spark: SparkSession, pages_table: SnapshotTable,
                  pipeline: Pipeline, checkpoint_dir: str | Path,
                  max_files_per_trigger: int, **trigger):
    """Start the foreachBatch fan-out of the pages stream into the batch
    pipeline, each micro-batch committed under its stream-<id> marker,
    after the sink-ownership check. Returns ``(query, processed)``, with
    ``processed`` the live list of this query's BatchResults."""
    check_sink_owner("stream", pipeline.out_root,
                     stream_checkpoint=checkpoint_dir)
    processed: list[BatchResult] = []

    def handle(batch_df, batch_id: int) -> None:
        processed.append(pipeline.process_batch(
            batch_df, batch_id=mint_marker("stream", batch_id)))

    q = (
        _page_stream(spark, pages_table, checkpoint_dir, max_files_per_trigger)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(**trigger)
        .start()
    )
    return q, processed


def run_streaming(
    spark: SparkSession,
    pages_table: SnapshotTable,
    pipeline: Pipeline,
    checkpoint_dir: str | Path,
    max_files_per_trigger: int = 16,
) -> list["BatchResult"]:
    """Drain the pages table through the batch pipeline via foreachBatch
    (AvailableNow: process every unseen file, then stop — the
    graceful-shutdown drain).

    Returns the :class:`~..plans.pipeline.BatchResult` per batch processed
    IN THIS INVOCATION (so callers report per-run counts, not the routed
    table's all-time totals). For the live ticker use
    :func:`start_live_stream`, which hands back the StreamingQuery the
    caller needs to stop/await — a fire-and-forget live start with no
    handle would be unmanageable. Raises
    :class:`~..plans.checkpoint.SinkOwnershipError` on a sink another
    mode (or another stream checkpoint) owns.
    """
    q, processed = _start_fanout(spark, pages_table, pipeline, checkpoint_dir,
                                 max_files_per_trigger, availableNow=True)
    q.awaitTermination()
    return processed


def run_windowed_stream(
    spark: SparkSession,
    pages_table: SnapshotTable,
    lookup,
    checkpoint_dir: str | Path,
    query_name: str = "windowed_hits",
    watermark: str = "2 hours",
    duration: str = "1 hour",
    max_files_per_trigger: int = 1,
):
    """Event-time tumbling-window aggregate with a WATERMARK — the
    late-data-bounded streaming twin of ``aggregate_by_window``.

    The batch aggregate counts late records regardless of age (the
    reference's semantics); a real always-on stream cannot hold state
    forever, so this variant bounds lateness: records later than
    ``watermark`` behind the max seen event time are dropped and each
    window's state is evicted once the watermark passes its end
    (``append`` output — a window emits exactly once, when it is final).
    The whole parse -> enrich -> route plan runs unchanged inside the
    stream; only the aggregate differs.

    Returns the in-memory result table name; rows appear as windows close.
    ``max_files_per_trigger=1`` processes one snapshot file per micro-batch
    so watermark advancement across out-of-order batches is exercised.
    """
    from pyspark.sql import functions as F

    from ..functions import extract as X
    from ..plans.pipeline import build_routed

    _require_fresh_memory_sink_checkpoint(checkpoint_dir, query_name)
    # one-shot by construction (memory sink — see the precheck): retire
    # the marker even on failure — a failed run leaves offsets behind, so
    # it can never be resumed either way, and a leaked marker would block
    # expire_snapshots forever. _page_stream (which REGISTERS the marker)
    # sits inside the try: a failure after registration — floor read,
    # fresh-past-floor warning escalated to an error, readStream build —
    # must retire it too.
    q = None
    try:
        stream = _page_stream(spark, pages_table, checkpoint_dir,
                              max_files_per_trigger)
        routed = build_routed(stream, lookup)
        valid = routed.filter(
            F.col("match_class").isin(X.CLASS_PARSED, X.CLASS_BOT))
        agg = (
            valid.withWatermark("log_ts", watermark)
            .groupBy(F.window("log_ts", duration).alias("w"), F.col("host"))
            .agg(F.count(F.lit(1)).alias("hits"))
            .select(F.col("w.start").alias("window_start"), "host", "hits")
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("memory").queryName(query_name)
            .option("checkpointLocation", str(checkpoint_dir))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # stop BEFORE retiring: KeyboardInterrupt in awaitTermination
        # leaves the query running on Spark's thread, and retiring the
        # marker then would let a follow-up expire_snapshots delete the
        # very part-* files the still-active query is reading. stop() is
        # bounded by spark.sql.streaming.stopTimeout (session factory
        # sets 60s) and is a no-op on a terminated query.
        if q is not None:
            try:
                q.stop()
            except Exception:
                pass
        pages_table.unregister_stream(checkpoint_dir)
    return query_name


def run_dedup_stream(
    spark: SparkSession,
    pages_table: SnapshotTable,
    checkpoint_dir: str | Path,
    query_name: str = "deduped_pages",
    key: str = "url",
    watermark_col: str = "warc_ts",
    delay: str = "1 day",
):
    """Streaming EXACT dedup: keep the first arrival of each ``key`` across
    micro-batches, with state BOUNDED by a watermark
    (``dropDuplicatesWithinWatermark``) — the streaming twin of
    ``operators.dedup.exact_dedup_keep_first``.

    A crawl re-delivers the same url across snapshots; batch dedup would
    re-scan everything, while this holds one state row per key only until
    the watermark passes ``delay`` beyond its event time, so an always-on
    ingest stream drops re-crawls within the horizon at O(recent-keys)
    state instead of O(all-keys-ever). Returns the in-memory result table
    name (first arrivals only).
    """
    from pyspark.sql import functions as F

    _require_fresh_memory_sink_checkpoint(checkpoint_dir, query_name)
    # one-shot by construction (memory sink): retire the marker even on
    # failure — a failed run leaves offsets behind, so it can never be
    # resumed either way, and a leaked marker would block
    # expire_snapshots forever. _page_stream (which REGISTERS the marker)
    # sits inside the try so a post-registration failure retires it too.
    q = None
    try:
        stream = _page_stream(spark, pages_table, checkpoint_dir, 1)
        # watermarks need an instant (TIMESTAMP); warc_ts is stored NTZ-UTC
        deduped = (
            stream.withColumn("_event_ts",
                              F.col(watermark_col).cast("timestamp"))
            .withWatermark("_event_ts", delay)
            .dropDuplicatesWithinWatermark([key])
            .select("url", "warc_ts", "lang")
        )
        q = (
            deduped.writeStream.outputMode("append")
            .format("memory").queryName(query_name)
            .option("checkpointLocation", str(checkpoint_dir))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # stop BEFORE retiring (see run_windowed_stream): an interrupted
        # awaitTermination leaves the query active, and the marker must
        # outlive every read it protects. Bounded by stopTimeout=60s.
        if q is not None:
            try:
                q.stop()
            except Exception:
                pass
        pages_table.unregister_stream(checkpoint_dir)
    return query_name


def _require_fresh_memory_sink_checkpoint(
        checkpoint_dir: str | Path, query_name: str) -> None:
    """Spark refuses to RECOVER an append-mode memory sink from an
    existing checkpoint ('this query does not support recovering from
    checkpoint location'), so the two in-memory demo streams are one-shot
    per checkpoint dir. Fail up front with guidance instead of letting
    startQuery throw after the stream marker is already registered.

    Deliberately NOT :func:`~..plans.checkpoint.has_committed_offsets`:
    Spark's ``recoverFromCheckpointLocation`` refusal is existence-based
    — it throws on a bare ``offsets/`` dir with zero committed offsets
    (verified against the installed Spark) — so this precheck mirrors
    that exact definition. Using the committed-offsets test here would
    wave through a litter-only checkpoint and let startQuery throw the
    raw AnalysisException after the marker was already registered."""
    if (Path(checkpoint_dir) / "offsets").exists():
        raise ValueError(
            f"{query_name}: Spark cannot recover an append-mode memory "
            f"sink from the existing checkpoint {checkpoint_dir}; these "
            "demo streams are one-shot — use a fresh checkpoint dir, or "
            "run_streaming/start_live_stream for resumable processing"
        )


def start_live_stream(
    spark: SparkSession,
    pages_table: SnapshotTable,
    pipeline: Pipeline,
    checkpoint_dir: str | Path,
    processing_time: str = "10 seconds",
):
    """The live ticker mode (the reference's ``-interval`` loop,
    internal/app/aggregate.go:12,24-26): fires a micro-batch every
    ``processing_time`` and keeps running until the caller stops it.

    Returns ``(StreamingQuery, processed)`` where ``processed`` is a live
    list of per-batch :class:`~..plans.pipeline.BatchResult`, appended as
    batches commit. ``query.stop()`` waits for the in-flight batch to
    finish — the graceful-shutdown drain (aggregate.go:28-41): everything
    enqueued is counted before exit. Refuses a sink another mode owns,
    like :func:`run_streaming`.
    """
    return _start_fanout(spark, pages_table, pipeline, checkpoint_dir, 16,
                         processingTime=processing_time)
