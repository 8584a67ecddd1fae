"""Structured Streaming wrappers over the batch operators (SURVEY §2.9).

The reference hand-rolls a micro-batch loop: scan a directory every 5 s,
process new files, move them to imported/ or failed/
(src/importer/mod.rs:295-359, 523-555).  Structured Streaming's file
source replaces all of it: checkpointed exactly-once file tracking (T2),
trigger cadence (T1), and late-file semantics via watermarks (T5).  Each
micro-batch reuses the *same* batch transformations (build_records,
merge_records) inside foreachBatch — batch/stream parity by
construction.

State (T3, the per-vehicle prediction-basis dedup) is intentionally
stateless-recomputed: latest-wins MERGE yields the same table contents
as the reference's mutex-guarded basis map, with no state store to
lose (SURVEY §7 hard parts #6).  Retention (T4) is `apply_retention`,
run as a maintenance step per batch or on a schedule.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas as S
from ..operators.records import build_records, merge_records

MAX_ESTIMATED_TRIP_DURATION_H = 12  # src/importer/mod.rs:26-28


@contextmanager
def stream_state_partitions(spark: SparkSession, n: int = 8):
    """Size the STATE partitioning of a streaming query explicitly.

    Stateful operators (windowed aggs, session windows, stream-stream
    joins) inherit ``spark.sql.shuffle.partitions`` as their state-store
    count, locked in at the query's first run — and every state
    partition carries fixed per-batch overhead (store open, snapshot,
    commit) regardless of how little state it holds.  Batch-width
    defaults are wrong in both directions: 32 stores for a few thousand
    sessions is pure overhead (measured 10.5 s → 2.8 s at sf0.1 for the
    stream-stream join), while a 100 TB stream wants hundreds, sized to
    state volume.  The conf is restored afterwards so the BATCH width is
    untouched; the stream must ``start()`` inside the block."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


@contextmanager
def rocksdb_state(spark: SparkSession, changelog_checkpointing: bool = True):
    """Run streaming queries with the RocksDB state store provider.

    The default HDFSBackedStateStoreProvider keeps every state
    partition's full map (and recent versions) in EXECUTOR HEAP — fine
    for thousands of keys, fatal when the near-dup signature index or
    the per-vehicle basis store grows to corpus scale.  RocksDB keeps
    state on local disk with a block cache, so state volume is bounded
    by disk, not heap; ``changelog_checkpointing`` uploads per-batch
    deltas instead of re-snapshotting full SST files (the production
    knob for low-latency commits).

    The provider is part of a query's checkpoint contract: pick it
    BEFORE the first run of a query; an existing checkpoint keeps the
    provider it started with.  The conf is session-wide while the block
    is open (queries read it at ``start()``) and restored afterwards.
    """
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    prev_changelog = spark.conf.get(
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled",
        None,
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled",
        "true" if changelog_checkpointing else "false",
    )
    try:
        yield
    finally:
        for key, prev in (
            ("spark.sql.streaming.stateStore.providerClass", prev_provider),
            (
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled",
                prev_changelog,
            ),
        ):
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


@contextmanager
def catalog_stream_state(spark: SparkSession, n: int = 8):
    """State config for the catalog's stateful streaming entries:
    ``stream_state_partitions(n)`` + the RocksDB provider BY DEFAULT.

    RocksDB is the only viable store at corpus scale (state on local
    disk + block cache vs. full maps in executor heap), so the demo
    entries run what production runs.  How it compares with the heap
    store is unmeasured: every leg of BENCH_sf1_state.json, its
    "default" leg included, ran RocksDB (the harness entered this
    context for each leg).  Set ``SPARK_GRAFT_HEAP_STATE=1`` to fall
    back to the default HDFSBackedStateStoreProvider (the knob, e.g.
    for an environment without local-disk scratch).  Every catalog entry uses a fresh
    checkpoint per invocation, so flipping providers between rounds
    never violates a checkpoint's provider contract.
    """
    import os

    with ExitStack() as stack:
        stack.enter_context(stream_state_partitions(spark, n))
        if os.environ.get("SPARK_GRAFT_HEAP_STATE") != "1":
            stack.enter_context(rocksdb_state(spark))
        yield


def drain_availablenow_stream(
    query, timeout_s: float = 300.0, expect_data: bool = False
) -> None:
    """Wait for an availableNow query to exhaust its source, then stop it.

    A stateful operator configured with ``ProcessingTimeTimeout`` always
    reports "run another batch" (processing time keeps advancing, so a
    timeout could always fire next batch —
    FlatMapGroupsWithStateExecBase.shouldRunAnotherBatch); under
    ``Trigger.AvailableNow`` the multi-batch executor therefore loops
    zero-input "cleaning up state" batches forever and the query NEVER
    self-terminates.  ``awaitTermination`` alone deadlocks.

    This helper polls progress until a zero-input batch has committed
    (availableNow pins the file set at start, so an empty batch proves
    every pending file was processed), then stops the query.  Stopping
    there loses no output: timeout-fired groups only ``state.remove()``
    — all data-driven output is already committed to the sink.  Safe for
    ``NoTimeout`` queries too (they just terminate on their own first).

    ``expect_data=True`` additionally requires a batch with input rows in
    THIS run before an empty batch counts as proof: a restart from a
    stopped checkpoint first re-runs the pending (empty) cleanup batch
    from the offset WAL, which would otherwise be mistaken for "source
    exhausted" before newly-landed files are even read.  Pass it whenever
    the caller knows unprocessed data is waiting.
    """
    import time as _time

    deadline = _time.monotonic() + timeout_s
    while _time.monotonic() < deadline:
        if not query.isActive:
            return  # self-terminated (NoTimeout path)
        progresses = query.recentProgress  # this run only — resets on start
        last = progresses[-1] if progresses else None
        drained = (
            last is not None
            and last["numInputRows"] == 0
            and (
                not expect_data
                or any(p["numInputRows"] > 0 for p in progresses)
            )
        )
        if drained:
            query.stop()
            query.awaitTermination(60)
            return
        _time.sleep(0.2)
    query.stop()
    raise TimeoutError(
        f"stream did not drain within {timeout_s} s (lastProgress="
        f"{query.lastProgress})"
    )


def stream_rt_updates(spark: SparkSession, rt_dir: str) -> DataFrame:
    """File-source stream of flattened rt updates (parquet landing zone).
    For wire protobuf feeds use :func:`stream_wire_feeds` instead."""
    return spark.readStream.schema(S.RT_UPDATES).parquet(rt_dir)


def stream_wire_feeds(spark: SparkSession, rt_dir: str) -> DataFrame:
    """S2 as a stream: binaryFile file-source over raw GTFS-rt protobuf
    FeedMessages, decoded per micro-batch by the same pure-Python wire
    decoder the batch path uses (sources/rt.wire_decoder) — checkpointed
    exactly-once per file (T2), header timestamps from filenames (C4)."""
    from ..sources.rt import decode_feed_messages

    files = (
        spark.readStream.format("binaryFile")
        # binaryFile's fixed schema, required explicitly for streams
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .load(rt_dir)
    )
    return decode_feed_messages(files)


def start_records_stream(
    spark: SparkSession,
    rt_dir: str,
    trips: DataFrame,
    stop_times: DataFrame,
    source: str,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_seconds: int = 5,
    available_now: bool = False,
    ping_url: str | None = None,
    wire: bool = False,
    schedule_file_name: str | None = None,
):
    """rt stream → per-batch records build → caller's sink (typically a
    MERGE into the records table).  ``available_now=True`` drains the
    backlog once and stops — batch parity mode for tests/backfills.

    ``schedule_file_name`` tags every record, as in
    :func:`..operators.records.build_records` (which falls back to the
    feed file's path when it is None).

    ``wire=True`` tails raw GTFS-rt protobuf files (binaryFile source +
    the pure-Python wire decoder) instead of a parquet landing zone —
    the reference's `import automatic` directory layout directly.

    ``ping_url``: the reference's automatic-mode liveness ping
    (src/importer/mod.rs:266-292) — after each micro-batch the driver
    GETs the URL at most once per minute, errors swallowed.  Driver-side
    only; never runs on executors."""
    from ..sources.ping import RateLimitedPing

    ping = RateLimitedPing(ping_url)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        recs = build_records(
            batch_df, trips, stop_times, source=source,
            schedule_file_name=schedule_file_name,
        )
        # in-batch latest-wins dedup before handing to the sink
        deduped = merge_records(recs.limit(0), recs, key=S.RECORDS_KEY)
        sink(deduped, epoch_id)
        ping.maybe_ping()

    src = (
        stream_wire_feeds(spark, rt_dir)
        if wire
        else stream_rt_updates(spark, rt_dir)
    )
    writer = (
        src.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def apply_retention(
    predictions: DataFrame,
    now_ts,
    max_trip_age_hours: int = MAX_ESTIMATED_TRIP_DURATION_H,
    current_schedule_file: str | None = None,
) -> DataFrame:
    """T4: drop predictions whose trip started more than 12 h ago
    (src/importer/mod.rs:174-198) and, when a new schedule lands,
    schedule-origin predictions from outdated schedule files
    (src/importer/scheduled_predictions_importer.rs:244-265).
    Expressed as a filter; on a Delta table this is the predicate of a
    DELETE WHERE."""
    from ..functions.time import service_day_timestamp

    trip_start = service_day_timestamp(
        F.col("trip_start_date"), F.col("trip_start_time")
    )
    keep = trip_start >= F.lit(now_ts) - F.expr(
        f"INTERVAL {max_trip_age_hours} HOURS"
    )
    if current_schedule_file is not None:
        keep = keep & (
            (F.col("origin_type") != S.ORIGIN_SCHEDULE)
            | (F.col("schedule_file_name") == current_schedule_file)
        )
    return predictions.filter(keep)
