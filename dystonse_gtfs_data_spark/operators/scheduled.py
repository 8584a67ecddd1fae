"""T6: schedule-origin predictions — predictions for every upcoming
scheduled stop event in a time window, for trips with no realtime basis
(src/importer/scheduled_predictions_importer.rs:64-242).

The reference advances a bounded look-ahead window (≥1000 trips or
≥6 min per iteration, 7.5-day horizon) against a MySQL high-watermark.
Batch Spark generates the whole window in one job — the windowing
becomes partition pruning on the service date, and incremental refresh
is a MERGE of the window's output.  The two-service-day rule (a trip
with >24:00:00 times belongs to the *previous* service day's window,
:101-139) is handled by exploding both candidate service days.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.time import service_day_timestamp
from ..schemas import ORIGIN_SCHEDULE
from ..sources.tables import maybe_broadcast
from .predict import finish_predictions, predict, request_rows
from .specific_curves import stop_indexed

_WEEKDAY_COLS = ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]


def prediction_high_watermark(predictions: DataFrame):
    """T6 resume point: the latest (trip_start_date + trip_start_time)
    present in the sink — the reference's `ORDER BY ... DESC LIMIT 1`
    high-watermark query (src/importer/scheduled_predictions_importer.rs:
    304-336).  Returns a 1-row DataFrame with `watermark` (timestamp);
    the next window's begin."""
    ts = service_day_timestamp(F.col("trip_start_date"), F.col("trip_start_time"))
    return predictions.agg(F.max(ts).alias("watermark"))


def active_trip_instances(
    trips: DataFrame,
    calendar: DataFrame,
    stop_times: DataFrame,
    window_begin: dt.datetime,
    window_end: dt.datetime,
) -> DataFrame:
    """(trip × service day) instances whose span may intersect the window.
    Candidate days run from the day before window_begin (previous-service-
    day rule) through window_end's day."""
    spark = trips.sparkSession
    d0 = window_begin.date() - dt.timedelta(days=1)
    days = (window_end.date() - d0).days + 1
    dates = spark.range(days).select(
        F.date_add(F.lit(d0), F.col("id").cast("int")).alias("service_day")
    )
    cal = calendar.select(
        "service_id",
        "start_date",
        "end_date",
        F.array(*[F.col(c) for c in _WEEKDAY_COLS]).alias("_dayflags"),
    )
    active = (
        dates.crossJoin(F.broadcast(cal))
        .filter(
            (F.col("service_day") >= F.col("start_date"))
            & (F.col("service_day") <= F.col("end_date"))
            & F.element_at(F.col("_dayflags"), F.weekday(F.col("service_day")) + 1)
        )
        .select("service_id", "service_day")
    )
    first_dep = stop_times.groupBy("trip_id").agg(
        F.min("departure_time").alias("trip_start_time")
    )
    return (
        trips.join(F.broadcast(active), "service_id")
        # first_dep is a stop_times-wide aggregate — size-guard the hint
        .join(maybe_broadcast(first_dep), "trip_id")
        .select(
            "trip_id",
            "route_id",
            "route_variant",
            F.col("service_day").alias("trip_start_date"),
            F.col("trip_start_time").cast("int").alias("trip_start_time"),
        )
    )


def generate_scheduled_predictions(
    trips: DataFrame,
    calendar: DataFrame,
    stop_times: DataFrame,
    routes: DataFrame,
    statistics: DataFrame,
    window_begin: dt.datetime,
    window_end: dt.datetime,
    source: str = "schedule",
    schedule_file_name: str | None = None,
) -> DataFrame:
    """Every (trip instance × stop × event) whose scheduled time falls in
    [window_begin, window_end) → no-basis prediction (SemiSpecific or the
    default ladder), origin Schedule."""
    sti = stop_indexed(stop_times)
    instances = active_trip_instances(trips, calendar, stop_times, window_begin, window_end)
    rt = F.broadcast(routes.select("route_id", "route_type"))

    # stop_times-sized frame: size-guard the hint
    targets = instances.join(
        maybe_broadcast(
            sti.select(
                "trip_id", "stop_sequence", "stop_id",
                F.col("stop_index").alias("end_stop_index"), "stop_count",
                "arrival_time", "departure_time",
            )
        ),
        "trip_id",
    ).join(rt, "route_id").select(
        "*",
        F.lit(source).alias("source"),
        F.lit(None).cast("int").alias("start_stop_index"),
        F.lit(None).cast("double").alias("initial_delay"),
        F.lit(schedule_file_name).cast("string").alias("schedule_file_name"),
    )
    requests = request_rows(targets).filter(
        (F.col("scheduled_time") >= F.lit(window_begin))
        & (F.col("scheduled_time") < F.lit(window_end))
    )
    return finish_predictions(predict(statistics, requests), ORIGIN_SCHEDULE)
