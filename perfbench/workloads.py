"""The two workloads, driven through the engine's public layer functions.

``lifecycle``: feed files → import → analyse → predict; a traced pass
then serves the departure boards of its predictions over HTTP (the
four CLI commands, src/main.rs:231-251 in the reference).

``incremental_import``: feed files land in batches; each batch is
drained by ``streaming.pipeline.start_records_stream(available_now=True,
wire=True)`` into the latest-wins merge and compaction rewrite that
``import --automatic`` uses.

A pass writes only to fresh directories under its own root and removes
them when its outputs have been checked.  With a tracer each layer's
frame is persisted and forced with a ``noop`` write inside its span, so
the next layer starts from it and the span holds only its own work; the
untraced pass keeps the engine's fused plans.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import statistics
import threading
import time
import urllib.parse
import urllib.request
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

from dystonse_gtfs_data_spark.__main__ import _merge_into_records
from dystonse_gtfs_data_spark.monitor_http import board_rows_json, start_monitor_server
from dystonse_gtfs_data_spark.operators import monitor as monitor_ops
from dystonse_gtfs_data_spark.operators.default_curves import (
    default_statistics,
    variant_section_curves,
)
from dystonse_gtfs_data_spark.operators.predict import generate_realtime_predictions
from dystonse_gtfs_data_spark.operators.records import build_records, merge_records
from dystonse_gtfs_data_spark.operators.specific_curves import (
    enrich_records,
    specific_statistics,
    stop_indexed,
)
from dystonse_gtfs_data_spark.schemas import PRECISION_SPECIFIC, RECORDS_KEY
from dystonse_gtfs_data_spark.sources.gtfs import read_gtfs
from dystonse_gtfs_data_spark.sources.rt import decode_feed_messages
from dystonse_gtfs_data_spark.sources.sinks import (
    load_predictions,
    load_statistics,
    save_predictions,
    save_statistics,
)
from dystonse_gtfs_data_spark.streaming import pipeline as stream_pipeline

import oracle as oracle_mod
from inputs import Inputs
from isolation import Isolation, require_fresh
from tracing import Tracer, cpu_sample

#: incremental import: the feed files land in this many batches
IMPORT_BATCHES = 8
#: departure-board serving after a traced lifecycle pass
BOARD_PAGES = 6  # distinct pages; exactly this many requests run Spark
BOARD_REQUESTS = 120
BOARD_CLIENTS = 4
BOARD_ZIPF_S = 1.1
#: page windows per service day (UTC): a page is a replica's 16 stops
#: plus one of these windows on one weekday
BOARD_WINDOWS = ((dt.time(8, 0), dt.time(9, 15)), (dt.time(9, 0), dt.time(10, 30)))
SERVICE_DAYS = [dt.date(2024, 1, 1) + dt.timedelta(days=d) for d in range(5)]


@dataclass
class Ctx:
    spark: object
    workload: str
    inputs: Inputs
    oracle: oracle_mod.Oracle
    isolation: Isolation
    rng: random.Random
    tracer: Tracer | None = None
    stage_dir: str = ""  # traced passes stage each layer's output here
    staged: int = 0
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def layer(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext(None)

    def force(self, df, span=None, count: str | None = None, extra=None):
        """Traced passes only: run ``df`` inside the span by writing it to
        a staging table under ``self.stage_dir``, counting its rows (and
        ``extra`` aggregates) into ``span.counts``, and hand the next
        layer the staged copy.  (A persisted frame is not reused here:
        the curve plans do not match their own cache entries.)
        Untraced passes get ``df`` back untouched."""
        if self.tracer is None:
            return df
        self.staged += 1
        path = os.path.join(self.stage_dir, str(self.staged))
        obs = Observation()
        aggs = [F.count(F.lit(1)).alias("rows")] + list(extra or [])
        df.observe(obs, *aggs).write.parquet(path)
        for k, v in obs.get.items():
            span.counts[f"{count}.{k}" if count else k] = v
        return df.sparkSession.read.parquet(path)

    def record(self, problems: list[str]) -> None:
        """Count one checked operation; any problem fails it."""
        self.attempted += 1
        self.failed += bool(problems)
        self.failures += problems


def _tag(span, table: str) -> None:
    """Name the table a sinks span wrote."""
    if span is not None:
        span.counts["table"] = table


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


@dataclass
class PassResult:
    pass_s: float
    cpu_s: float
    import_s: list[float]  # one entry per landed batch
    updates: int
    records_bytes: int
    counts: dict = field(default_factory=dict)


# --- lifecycle ----------------------------------------------------------------


def lifecycle_import(ctx: Ctx, records_path: str):
    """The import of a lifecycle pass: the feed files merged into the
    records table at ``records_path``.  Returns the schedule's trips,
    stop_times and routes."""
    spark = ctx.spark
    with ctx.layer("gtfs") as s:
        sched = read_gtfs(spark, ctx.inputs.schedule_dir)
        trips, stop_times, routes = (
            ctx.force(sched[name], s, count=name) for name in ("trips", "stop_times", "routes")
        )
    with ctx.layer("rt") as s:
        files = spark.read.format("binaryFile").load(os.path.join(ctx.inputs.root, "rt"))
        updates = ctx.force(decode_feed_messages(files), s)
    with ctx.layer("records") as s:
        # the schedule's own name, not the feed file path the CLI import
        # tags records with (see check_sensitivity.py)
        recs = build_records(
            updates, trips, stop_times, source=oracle_mod.SOURCE,
            schedule_file_name=os.path.basename(ctx.inputs.schedule_dir),
        )
        merged = ctx.force(merge_records(recs.limit(0), recs, key=RECORDS_KEY), s)
    with ctx.layer("sinks") as s:
        _merge_into_records(spark, merged, records_path)
        _tag(s, "records")
    return trips, stop_times, routes


def lifecycle_warm_import(ctx: Ctx, root: str) -> None:
    """Set-up of the lifecycle workload: one checked import into a
    records table that is then removed."""
    records_path = os.path.join(root, "records")
    require_fresh(root)
    os.makedirs(root)
    lifecycle_import(ctx, records_path)
    ctx.record(ctx.oracle.check_records(
        ctx.spark.read.parquet(records_path).toPandas(),
        ctx.oracle.expected_records(ctx.inputs.updates),
    ))
    shutil.rmtree(root)
    ctx.record(ctx.isolation.check([root]))


def lifecycle_pass(ctx: Ctx, root: str) -> PassResult:
    """One pass over the feed files; a traced pass then also serves the
    departure boards of its predictions (serve_boards)."""
    spark = ctx.spark
    records_path, stats_path, preds_path = (
        os.path.join(root, n) for n in ("records", "curves", "predictions")
    )
    require_fresh(root)
    os.makedirs(root)
    ctx.stage_dir = os.path.join(root, "staged")
    counts: dict = {}
    cpu0 = cpu_sample()
    t0 = time.perf_counter()
    trips, stop_times, routes = lifecycle_import(ctx, records_path)
    import_s = time.perf_counter() - t0

    records = spark.read.parquet(records_path)
    sti = stop_indexed(stop_times)
    with ctx.layer("specific_curves") as s:
        specific = ctx.force(specific_statistics(records, stop_times), s)
    enriched = enrich_records(records, sti)
    with ctx.layer("default_curves") as s:
        default = ctx.force(default_statistics(enriched, routes), s)
    with ctx.layer("sinks") as s:
        save_statistics(specific.unionByName(default), stats_path)
        _tag(s, "statistics")
    with ctx.layer("predict") as s:
        preds = generate_realtime_predictions(
            records, sti, routes, trips, load_statistics(spark, stats_path)
        )
        preds = ctx.force(preds, s, extra=[
            F.sum((F.col("precision_type") == PRECISION_SPECIFIC).cast("int")).alias("specific"),
        ])
    with ctx.layer("sinks") as s:
        save_predictions(preds, preds_path)
        _tag(s, "predictions")
    pass_s = time.perf_counter() - t0
    cpu = cpu_sample()
    ctx.isolation.release_known_leak(variant_section_curves(enriched, routes))

    rec_bytes, rec_files = dir_bytes(records_path)
    counts["sinks.records_files"] = rec_files
    counts["sinks.predictions_files"] = dir_bytes(preds_path)[1]
    ctx.record(_check_lifecycle(ctx, stats_path, preds_path))
    if ctx.tracer is not None:
        counts.update(serve_boards(ctx, preds_path, stop_times))
    shutil.rmtree(root)
    ctx.record(ctx.isolation.check([root]))
    n_updates = len(ctx.inputs.updates)
    return PassResult(pass_s, cpu.total_s - cpu0.total_s, [import_s], n_updates,
                      rec_bytes, counts)


def knots(curve: str) -> list:
    """A curve column as its x and y knots, float32 widened exactly."""
    return [
        F.transform(curve, lambda p: p[axis].cast("double")).alias(f"curve_{axis}")
        for axis in ("x", "y")
    ]


def specific_rows(statistics):
    """The specific and semi_specific statistics as oracle.STAT_COLS."""
    return (
        statistics.filter(F.col("scope").isin("specific", "semi_specific"))
        .select(
            *[c for c in oracle_mod.STAT_COLS
              if c not in ("focus_delay", "curve_x", "curve_y")],
            F.col("focus_delay").cast("double").alias("focus_delay"),
            *knots("curve"),
        )
        .toPandas()
    )


def _check_lifecycle(ctx: Ctx, stats_path: str, preds_path: str) -> list[str]:
    spark = ctx.spark
    stats = specific_rows(spark.read.parquet(stats_path))
    preds = spark.read.parquet(preds_path).select(
        "source",
        F.col("event_type").cast("int").alias("event_type"),
        "stop_id", "stop_sequence", "route_id", "trip_id",
        F.col("trip_start_date").cast("string").alias("trip_start_date"),
        "trip_start_time",
        F.unix_micros("prediction_min").alias("prediction_min_us"),
        F.unix_micros("prediction_max").alias("prediction_max_us"),
        F.col("precision_type").cast("int").alias("precision_type"),
        F.col("origin_type").cast("int").alias("origin_type"),
        "sample_size",
        *knots("prediction_curve"),
    ).toPandas()
    return ctx.oracle.check_statistics(stats) + ctx.oracle.check_predictions(preds)


# --- departure boards ---------------------------------------------------------


def _pages(ctx: Ctx) -> list[tuple]:
    """BOARD_PAGES distinct (replica, window start, window end) pages."""
    allp = [
        (rep, dt.datetime.combine(day, a), dt.datetime.combine(day, b))
        for rep in ctx.inputs.replicas
        for day in SERVICE_DAYS
        for a, b in BOARD_WINDOWS
    ]
    return ctx.rng.sample(allp, BOARD_PAGES)


def _script(rng: random.Random, n_pages: int) -> list[int]:
    """Seeded Zipf request script in which every page occurs."""
    weights = [1.0 / (k + 1) ** BOARD_ZIPF_S for k in range(n_pages)]
    script = rng.choices(range(n_pages), weights, k=BOARD_REQUESTS - n_pages)
    for page in range(n_pages):
        script.insert(rng.randrange(len(script) + 1), page)
    return script


def _page_url(port: int, page) -> str:
    rep, wmin, wmax = page
    qs = urllib.parse.urlencode({
        "stop_ids": ",".join(rep.key(f"s{i}") for i in range(16)),
        "start": wmin.isoformat(),
        "end": wmax.isoformat(),
    })
    return f"http://127.0.0.1:{port}/departures?{qs}"


def serve_boards(ctx: Ctx, preds_path: str, stop_times) -> dict:
    """Serve the pages over HTTP with the board cache on: BOARD_CLIENTS
    threads in a closed loop over the seeded script.  Every response is
    checked against the oracle board.  Returns the http.* counts; with a
    tracer also calls ``departure_board`` directly on each page, one
    after another, so its jobs carry the monitor label."""
    spark = ctx.spark
    preds = load_predictions(spark, preds_path)
    trip_max = stop_times.groupBy("trip_id").agg(F.max("stop_sequence").alias("max_stop_sequence"))
    pages = _pages(ctx)
    script = _script(ctx.rng, len(pages))
    expected = [ctx.oracle.board(*p) for p in pages]

    computes = []
    real_board = monitor_ops.departure_board

    def counted_board(*a, **kw):  # the handler resolves it per request
        computes.append(1)
        return real_board(*a, **kw)

    monitor_ops.departure_board = counted_board
    server, port = start_monitor_server(
        spark, preds, trip_max_sequences=trip_max, materialize_ttl=3600.0
    )
    log: list[tuple] = []  # (page, issued, done, rows | None)
    lock = threading.Lock()
    nxt = iter(script)

    def client() -> None:
        while True:
            with lock:
                page = next(nxt, None)
            if page is None:
                return
            issued = time.perf_counter()
            try:
                with urllib.request.urlopen(_page_url(port, pages[page]), timeout=120) as r:
                    rows = json.load(r)
            except OSError as exc:
                rows = {"error": str(exc)}
            done = time.perf_counter()
            with lock:
                log.append((page, issued, done, rows))

    try:
        threads = [threading.Thread(target=client) for _ in range(BOARD_CLIENTS)]
        t0 = time.perf_counter()
        with ctx.layer("http"):
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=170)
        serve_s = time.perf_counter() - t0
    finally:
        server.shutdown()
        server.server_close()
        monitor_ops.departure_board = real_board
    if any(t.is_alive() for t in threads):
        raise RuntimeError("board clients did not finish")

    first_done: dict[int, float] = {}
    first_issued: dict[int, float] = {}
    for page, issued, done, _ in sorted(log, key=lambda e: e[1]):
        first_issued.setdefault(page, issued)
        first_done.setdefault(page, done)
    hits, coalesced, misses = [], 0, []
    for page, issued, done, rows in log:
        problems = (
            [f"board {page}: {rows['error']}"] if isinstance(rows, dict)
            else ctx.oracle.check_board(str(page), rows, expected[page])
        )
        ctx.record(problems)
        ms = (done - issued) * 1e3
        if issued == first_issued[page]:
            misses.append(ms)
        elif issued < first_done[page]:
            coalesced += 1
        else:
            hits.append(ms)
    if len(computes) != len(pages):
        ctx.record([f"{len(computes)} board queries ran Spark for {len(pages)} pages"])
    counts = {
        "http.requests": len(log),
        "http.rps": len(log) / serve_s,
        "http.hit_p50_ms": statistics.median(hits) if hits else 0.0,
        "http.miss_p50_ms": statistics.median(misses),
        "http.hit_ratio": len(hits) / len(log),
        "http.coalesced": coalesced,
        "http.spark_queries": len(computes),
    }
    if ctx.tracer is not None:
        board_ms = []
        for page, (rep, wmin, wmax) in enumerate(pages):
            with ctx.layer("monitor"):
                t = time.perf_counter()
                board = real_board(
                    preds, stop_ids=[rep.key(f"s{i}") for i in range(16)],
                    window_min=wmin, window_max=wmax, trip_max_sequences=trip_max,
                )
                rows = board_rows_json(board)
                board_ms.append((time.perf_counter() - t) * 1e3)
            ctx.record(ctx.oracle.check_board(str(page), rows, expected[page]))
        counts["monitor.board_ms"] = statistics.median(board_ms)
        counts["monitor.boards"] = len(board_ms)
    return counts


# --- incremental import -------------------------------------------------------


def import_pass(ctx: Ctx, root: str) -> PassResult:
    """Land the feed files in IMPORT_BATCHES batches, draining and
    checking the records table after each."""
    spark = ctx.spark
    land, ckpt, records_path = (
        os.path.join(root, n) for n in ("rt", "checkpoint", "records")
    )
    require_fresh(root)
    os.makedirs(land)
    ctx.stage_dir = os.path.join(root, "staged")
    files = ctx.inputs.rt_files
    per = -(-len(files) // IMPORT_BATCHES)
    by_name: dict[str, list[dict]] = {}
    for u in ctx.inputs.updates:
        by_name.setdefault(u["feed_name"], []).append(u)

    with ctx.layer("gtfs"):
        sched = read_gtfs(spark, ctx.inputs.schedule_dir)
    real_build = stream_pipeline.build_records

    def traced_build(batch_df, *a, **kw):
        # the stream's decoded micro-batch, forced under the rt label
        with ctx.layer("rt") as s:
            batch_df = ctx.force(batch_df, s)
        return real_build(batch_df, *a, **kw)

    def sink(batch_records, _epoch: int) -> None:
        with ctx.layer("records") as s:
            batch_records = ctx.force(batch_records, s)
        with ctx.layer("sinks") as s:
            _merge_into_records(spark, batch_records, records_path)
            _tag(s, "records")

    landed: list[dict] = []
    batch_s, cpu_s, written = [], 0.0, 0
    counts: dict = {}
    if ctx.tracer is not None:
        stream_pipeline.build_records = traced_build
    try:
        for b in range(IMPORT_BATCHES):
            names = files[b * per:(b + 1) * per]
            cpu0 = cpu_sample()
            t0 = time.perf_counter()
            with ctx.layer("stream") as s:
                for f in names:
                    shutil.copy(f, land)
                if s is not None:
                    s.counts["query_start"] = time.time()
                q = stream_pipeline.start_records_stream(
                    spark, land, sched["trips"], sched["stop_times"],
                    source=oracle_mod.SOURCE, sink=sink, checkpoint_dir=ckpt,
                    available_now=True, wire=True,
                )
                q.awaitTermination()
                spark.read.parquet(records_path).count()  # readable
            batch_s.append(time.perf_counter() - t0)
            cpu_s += cpu_sample().total_s - cpu0.total_s
            size, n_files = dir_bytes(records_path)
            written += size
            counts["sinks.records_files"] = n_files
            for f in names:
                landed += by_name[os.path.basename(f)]
            ctx.record(ctx.oracle.check_records(
                spark.read.parquet(records_path).toPandas(),
                ctx.oracle.expected_records(landed),
            ))
    finally:
        stream_pipeline.build_records = real_build
    shutil.rmtree(root)
    ctx.record(ctx.isolation.check([root]))
    counts["stream.batches"] = IMPORT_BATCHES
    return PassResult(sum(batch_s), cpu_s, batch_s, len(landed), written, counts)
