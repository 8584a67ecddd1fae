"""CLI — the reference's four top-level commands, Spark-first.

Mirrors ``dystonse-gtfs-data {import|analyse|predict|monitor}``
(src/main.rs:123-201), with the MySQL backend replaced by a parquet
"database" under ``--dir``:

    {dir}/schedules/   GTFS schedule zips/dirs (input)
    {dir}/rt/          GTFS-rt protobuf files (input)
    {dir}/db/records   RECORDS table      (import writes)
    {dir}/db/predictions  PREDICTIONS     (import/predict write)
    {dir}/curves       statistics tree    (analyse writes, S8 layout)

``monitor`` prints JSON lines by default; ``monitor --serve`` starts
the reference's HTTP mode (src/monitor/mod.rs:102-190) via
monitor_http.py — /autocomplete, /stop-by-name, /departures served
from the same operators.  ``import`` here is
the reference's batch mode; the streaming path (automatic mode) lives
in streaming/pipeline.start_records_stream and is exercised by tests.

Usage examples:
    python -m dystonse_gtfs_data_spark --dir data --source vbn import
    python -m dystonse_gtfs_data_spark --dir data --source vbn analyse
    python -m dystonse_gtfs_data_spark --dir data --source vbn predict \
        --trip-id t1 --date-time "2024-01-01 08:00:00"
    python -m dystonse_gtfs_data_spark --dir data --source vbn monitor \
        --stop-ids s1,s2 --window-start "2024-01-01 08:00:00" \
        --window-end "2024-01-01 09:00:00"
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys


def _schedule_path(args) -> str:
    if args.schedule:
        return args.schedule
    candidates = sorted(
        glob.glob(os.path.join(args.dir, "schedules", "*"))
    )
    if not candidates:
        sys.exit(f"no schedule found under {args.dir}/schedules (use --schedule)")
    return candidates[-1]  # newest by name (date-stamped filenames)


def _merge_into_records(spark, records, records_path: str) -> None:
    """Latest-wins merge of ``records`` into the parquet table via a
    staging write + atomic rename (the MERGE the reference does row-wise
    against MySQL, src/importer/batched_statements.rs:40-107).

    The rewrite is compacted as it lands: file count tracks the table's
    on-disk bytes (never the shuffle width — a micro-batch sink would
    otherwise rewrite a small table as 32 near-empty files every batch),
    range-partitioned and sorted by the merge key so files carry tight
    trip_id min-max footer stats for pruned reads."""
    import math
    import shutil

    from .operators.records import merge_records
    from .schemas import RECORDS_KEY

    target_file_bytes = 128 * 1024 * 1024
    old = records_path + ".old"
    # crash recovery FIRST: a crash between the two swap renames below
    # leaves the only copy of the table in '.old' with records_path
    # missing — restore it before anything else, or the blind cleanup
    # below would destroy all historical records and this import would
    # silently rebuild the table from the new batch alone
    if not os.path.exists(records_path) and os.path.exists(old):
        os.rename(old, records_path)
    # a first batch merges against an empty table, so latest-wins also
    # holds within it (and its byte count of 0 gives one file)
    existing = (
        spark.read.parquet(records_path)
        if os.path.exists(records_path)
        else records.limit(0)
    )
    merged = merge_records(existing, records, key=RECORDS_KEY)
    total = sum(
        os.path.getsize(os.path.join(r, n))
        for r, _d, names in os.walk(records_path)
        for n in names
        if n.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total * 1.1 / target_file_bytes))
    tmp = records_path + ".staging"
    shutil.rmtree(tmp, ignore_errors=True)  # stale staging from a crash
    (
        merged.repartitionByRange(n_files, *RECORDS_KEY)
        .sortWithinPartitions(*RECORDS_KEY)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    # with the restore above, a populated '.old' here can only be the
    # PREVIOUS table version from a swap that crashed before cleanup
    # (records_path exists) — safe to clear so os.rename cannot wedge
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(records_path):
        os.rename(records_path, old)
    os.rename(tmp, records_path)
    if os.path.exists(old):
        shutil.rmtree(old)


def cmd_import(spark, args) -> None:
    """rt files → records (+ realtime predictions).  Default: the
    reference's `import batch` path (src/importer/mod.rs:138-151);
    ``--automatic``: the streaming path — a checkpointed Structured
    Streaming job over the same directory (exactly-once per file,
    restartable), drained with availableNow so the CLI returns."""
    from pyspark.sql import functions as F

    from .operators.predict import generate_realtime_predictions
    from .operators.records import build_records
    from .operators.specific_curves import stop_indexed
    from .sources.gtfs import read_gtfs
    from .sources.rt import decode_feed_messages
    from .sources.sinks import load_statistics, save_predictions

    schedule_path = _schedule_path(args)
    sched = read_gtfs(spark, schedule_path)
    # records carry the schedule's name, not the feed file they came from
    schedule_name = os.path.basename(os.path.normpath(schedule_path))
    rt_dir = os.path.join(args.dir, "rt")
    records_path = os.path.join(args.dir, "db", "records")

    if args.automatic:
        from .streaming.pipeline import start_records_stream

        def sink(batch_records, _epoch: int) -> None:
            _merge_into_records(spark, batch_records, records_path)

        q = start_records_stream(
            spark,
            rt_dir,
            sched["trips"],
            sched["stop_times"],
            source=args.source,
            sink=sink,
            checkpoint_dir=os.path.join(args.dir, "db", "_records_ckpt"),
            available_now=True,
            ping_url=args.ping_url,
            wire=True,
            schedule_file_name=schedule_name,
        )
        q.awaitTermination()
    else:
        feed_files = spark.read.format("binaryFile").load(rt_dir)
        updates = decode_feed_messages(feed_files)
        records = build_records(
            updates, sched["trips"], sched["stop_times"], source=args.source,
            schedule_file_name=schedule_name,
        )
        _merge_into_records(spark, records, records_path)
    n = spark.read.parquet(records_path).count()
    print(json.dumps({"command": "import", "records": n}))

    curves_path = os.path.join(args.dir, "curves")
    if os.path.exists(curves_path):
        stats = load_statistics(spark, curves_path)
        preds = generate_realtime_predictions(
            spark.read.parquet(records_path),
            stop_indexed(sched["stop_times"]),
            sched["routes"],
            sched["trips"],
            stats,
        )
        pred_path = os.path.join(args.dir, "db", "predictions")
        save_predictions(preds, pred_path)
        try:
            n_pred = spark.read.parquet(pred_path).count()
        except Exception:
            n_pred = 0  # no basis fans out to a later stop → empty table
        print(json.dumps({"command": "import", "predictions": n_pred}))


def cmd_analyse(spark, args) -> None:
    """compute-curves: records → specific + default statistics tree
    (src/analyser/mod.rs:143-189); ``--what count`` prints the per-
    interval record/delay report instead (src/analyser/count.rs)."""
    from .operators.default_curves import default_statistics
    from .operators.specific_curves import (
        enrich_records,
        specific_statistics,
        stop_indexed,
    )
    from .sources.gtfs import read_gtfs
    from .sources.sinks import save_statistics

    sched = read_gtfs(spark, _schedule_path(args))
    records = spark.read.parquet(os.path.join(args.dir, "db", "records"))
    if args.what == "count":
        from .operators.count import count_report

        for row in count_report(records, args.interval).collect():
            print(json.dumps(row.asDict(), default=str))
        return
    if args.route_ids:
        records = records.filter(records.route_id.isin(args.route_ids.split(",")))
    sti = stop_indexed(sched["stop_times"])
    if args.what == "draw-curves":
        from pyspark.sql import functions as F

        from .curves.udfs import curve_to_rows  # noqa: F401 (doc pointer)
        from .operators.render import curve_svg_paths
        from .sources.sinks import load_statistics

        stats = load_statistics(spark, os.path.join(args.dir, "curves"))
        knots = stats.select(
            F.concat_ws(
                "/", "scope", "route_id", "route_variant",
                F.col("event_type").cast("string"),
            ).alias("event_type"),
            F.explode("curve").alias("pt"),
        ).select("event_type", F.col("pt.x").alias("x"), F.col("pt.y").alias("y"))
        out_dir = os.path.join(args.dir, "curves_svg")
        os.makedirs(out_dir, exist_ok=True)
        n = 0
        for row in curve_svg_paths(knots).collect():
            safe = row["event_type"].replace("/", "_")
            with open(os.path.join(out_dir, f"{safe}.svg"), "w") as fh:
                fh.write(row["svg"])
            n += 1
        print(json.dumps({"command": "analyse", "svg_files": n}))
        return
    # compute-curves (default) / compute-specific-curves /
    # compute-default-curves — src/analyser/mod.rs:50-87
    parts = []
    if args.what in ("compute-curves", "compute-specific-curves"):
        parts.append(specific_statistics(records, sched["stop_times"]))
    if args.what in ("compute-curves", "compute-default-curves"):
        parts.append(
            default_statistics(enrich_records(records, sti), sched["routes"])
        )
    stats = parts[0]
    for p in parts[1:]:
        stats = stats.unionByName(p)
    path = os.path.join(args.dir, "curves")
    save_statistics(stats, path)
    try:
        n = spark.read.parquet(path).count()
    except Exception:
        n = 0  # all groups below the min-sample guards → empty tree
    print(json.dumps({"command": "analyse", "statistics_rows": n}))


def cmd_predict(spark, args) -> None:
    """Single prediction lookup (src/predictor/mod.rs:118-239)."""
    from pyspark.sql import functions as F

    from .functions.route import route_section
    from .functions.time import time_slot_id
    from .operators.predict import predict
    from .operators.specific_curves import stop_indexed
    from .sources.gtfs import read_gtfs
    from .sources.sinks import load_statistics

    sched = read_gtfs(spark, _schedule_path(args))
    stats = load_statistics(spark, os.path.join(args.dir, "curves"))
    sti = stop_indexed(sched["stop_times"])
    trips = sched["trips"].filter(F.col("trip_id") == args.trip_id)
    if args.route_id:
        trips = trips.filter(F.col("route_id") == args.route_id)
    req = (
        trips.join(sti, "trip_id")
        .join(sched["routes"].select("route_id", "route_type"), "route_id")
    )
    if args.stop_sequence is not None:
        req = req.filter(F.col("stop_sequence") == args.stop_sequence)
    from .schemas import EVENT_ARRIVAL, EVENT_DEPARTURE

    event = EVENT_ARRIVAL if args.event_type == "arrival" else EVENT_DEPARTURE
    ts = F.lit(args.date_time).cast("timestamp")
    # --start-stop-sequence: the realtime-basis position (the reference's
    # `predict single --start-stop-sequence`, src/predictor/mod.rs:69-81)
    # activates the curve-set interpolation rung together with
    # --initial-delay
    if args.start_stop_sequence is not None:
        start_idx = (
            sti.filter(
                (F.col("trip_id") == args.trip_id)
                & (F.col("stop_sequence") == args.start_stop_sequence)
            )
            .select("stop_index")
            .first()
        )
        start_idx_lit = F.lit(
            start_idx["stop_index"] if start_idx else None
        ).cast("int")
    else:
        start_idx_lit = F.lit(None).cast("int")
    req = req.select(
        F.lit(args.source).alias("source"),
        "route_id",
        "route_variant",
        "route_type",
        "trip_id",
        start_idx_lit.alias("start_stop_index"),
        F.col("stop_index").alias("end_stop_index"),
        "stop_sequence",
        "stop_id",
        F.lit(args.initial_delay).cast("double").alias("initial_delay"),
        F.lit(event).cast("int").alias("event_type"),
        ts.alias("scheduled_time"),
        time_slot_id(ts).alias("time_slot_id"),
        route_section(F.col("stop_index"), F.col("stop_count")).alias(
            "route_section"
        ),
    )
    # one trip's worth of request rows — skip the batch path's
    # defaultParallelism fan-out (fixed shuffle+task latency, no gain)
    out = predict(stats, req, wide=False)
    for row in out.collect():
        d = row.asDict()
        curve = d.pop("prediction_curve", None)
        d["curve_points"] = len(curve) if curve is not None else 0
        d = {
            k: (str(v) if not isinstance(v, (int, float, str, type(None))) else v)
            for k, v in d.items()
        }
        print(json.dumps(d, default=str))


def cmd_monitor(spark, args) -> None:
    """Departure board query — the stop page's data
    (src/monitor/mod.rs:426-591) as JSON lines; with ``--serve``, the
    reference's HTTP mode (mod.rs:102-190): /autocomplete,
    /stop-by-name, /departures served live from the same operators."""
    from pyspark.sql import functions as F

    from .operators.monitor import departure_board
    from .sources.sinks import load_predictions

    preds = load_predictions(spark, os.path.join(args.dir, "db", "predictions"))
    trip_max = None
    stops = None
    sched_path = _schedule_path(args) if args.schedule or glob.glob(
        os.path.join(args.dir, "schedules", "*")
    ) else None
    if sched_path:
        from .sources.gtfs import read_gtfs

        sched = read_gtfs(spark, sched_path)
        stops = sched.get("stops")
        trip_max = sched["stop_times"].groupBy("trip_id").agg(
            F.max("stop_sequence").alias("max_stop_sequence")
        )
    if getattr(args, "serve", False):
        import threading

        from .monitor_http import start_monitor_server

        server, port = start_monitor_server(
            spark, preds, stops=stops, trip_max_sequences=trip_max,
            port=args.port, materialize_ttl=args.materialize_ttl,
        )
        print(json.dumps({"serving": {"port": port}}), flush=True)
        # block like the reference's server loop; tests set the env var
        # and drive the live port directly
        if os.environ.get("SPARK_GRAFT_MONITOR_NO_BLOCK") != "1":
            threading.Event().wait()
        return
    if not (args.stop_ids and args.window_start and args.window_end):
        raise SystemExit(
            "monitor: --stop-ids/--window-start/--window-end required "
            "unless --serve"
        )
    board = departure_board(
        preds,
        stop_ids=args.stop_ids.split(","),
        window_min=args.window_start,
        window_max=args.window_end,
        trip_max_sequences=trip_max,
    )
    for row in board.collect():
        d = {
            k: v
            for k, v in row.asDict().items()
            if k != "prediction_curve"
        }
        print(json.dumps(d, default=str))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(
        prog="dystonse_gtfs_data_spark",
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    p.add_argument("--dir", required=True, help="data directory (schedules/, rt/, db/, curves)")
    p.add_argument("--source", required=True, help="data-source identifier")
    p.add_argument("--schedule", help="explicit GTFS schedule path (else newest under {dir}/schedules)")
    p.add_argument("--master", default=os.environ.get("SPARK_MASTER", "local[*]"))
    sub = p.add_subparsers(dest="command", required=True)

    imp = sub.add_parser(
        "import",
        help="decode rt files into records (+ predictions if curves exist)",
    )
    imp.add_argument(
        "--automatic",
        action="store_true",
        help="checkpointed streaming import (exactly-once per file, "
        "restartable); drains the backlog and returns",
    )
    imp.add_argument("--ping-url", help="liveness ping URL (automatic mode)")
    a = sub.add_parser("analyse", help="compute the statistics tree from records")
    a.add_argument("--route-ids", help="comma-separated route filter")
    a.add_argument(
        "--what",
        choices=[
            "compute-curves",
            "compute-specific-curves",
            "compute-default-curves",
            "count",
            "draw-curves",
        ],
        default="compute-curves",
        help="count = interval report; draw-curves = SVG per stored "
        "curve group; specific/default = one statistics family only",
    )
    a.add_argument(
        "--interval", type=int, default=3600, help="count bucket seconds"
    )
    pr = sub.add_parser("predict", help="single prediction lookup")
    pr.add_argument("--trip-id", required=True)
    pr.add_argument("--route-id", help="disambiguate non-unique trip ids")
    pr.add_argument("--stop-sequence", type=int)
    pr.add_argument(
        "--start-stop-sequence",
        type=int,
        help="realtime-basis stop (with --initial-delay activates the "
        "curve-set interpolation rung)",
    )
    pr.add_argument("--event-type", choices=["arrival", "departure"], default="departure")
    pr.add_argument("--date-time", required=True, help="YYYY-MM-DD HH:MM:SS")
    pr.add_argument("--initial-delay", type=float)
    m = sub.add_parser(
        "monitor", help="departure board as JSON lines, or --serve for HTTP"
    )
    m.add_argument("--stop-ids", help="comma-separated stop ids")
    m.add_argument("--window-start")
    m.add_argument("--window-end")
    m.add_argument(
        "--serve", action="store_true",
        help="serve the monitor HTTP endpoints (reference mod.rs:102-190)",
    )
    m.add_argument("--port", type=int, default=3000)
    m.add_argument(
        "--materialize-ttl", type=float, default=None, metavar="SECONDS",
        help="serve repeated (stop-set, window) departure pages from a "
        "driver-side cache for this many seconds instead of re-running "
        "the Spark query per request (SURVEY §3.3 serving shape)",
    )

    args = p.parse_args(argv)

    from .session import build_session

    spark = build_session(f"cli-{args.command}", master=args.master)
    {
        "import": cmd_import,
        "analyse": cmd_analyse,
        "predict": cmd_predict,
        "monitor": cmd_monitor,
    }[args.command](spark, args)


if __name__ == "__main__":
    main()
