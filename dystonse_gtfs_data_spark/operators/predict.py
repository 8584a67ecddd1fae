"""Prediction lookup: the fallback-hierarchy coalesce join (J10),
replacing the reference's pointer-chasing ladder
(src/predictor/mod.rs:178-335) with ordered left joins.

Ladder, most → least specific (PrecisionType in parentheses):
1. specific curve set at (route, variant, start_idx, end_idx, slot,
   event) + initial delay → interpolated curve       (Specific, 0)
2. same but with the DEFAULT time slot               (FallbackSpecific, 1)
3. no start basis: general_delay at (variant, end_idx, event)
                                                     (SemiSpecific, 2)
4. default curve at (route_type, section, slot, event)
                         (General 3 / FallbackGeneral 4 / SuperGeneral 5
                          — prefilled at build time by default_statistics)

Spark shape: the statistics tables are small relative to the request
stream (they are aggregates), so every join broadcasts; one pandas UDF
interpolates curve sets against initial delays, everything else is
column logic.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..curves.core import Curve, curve_set_interpolate, simplify, simplify_to_max_points
from ..curves.udfs import CURVE_TYPE, curve_to_rows, rows_to_curve
from ..functions.route import route_section
from ..functions.time import DEFAULT_SLOT, service_day_timestamp, time_slot_id
from ..schemas import (
    PRECISION_FALLBACK_SPECIFIC,
    PRECISION_SEMI_SPECIFIC,
    PRECISION_SPECIFIC,
)
from ..sources.tables import maybe_broadcast
from .curve_steps import event_fanout

_CURVE_SET_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("focus_delay", T.FloatType()),
            T.StructField("curve", CURVE_TYPE),
        ]
    )
)


@F.pandas_udf(CURVE_TYPE)
def _interpolate_set(curve_set: pd.Series, initial_delay: pd.Series) -> pd.Series:
    """curve_at_x_with_continuation over a collected curve set
    (src/predictor/mod.rs:324)."""
    out = []
    for cs, delay in zip(curve_set, initial_delay):
        if cs is None or len(cs) == 0 or delay is None:
            out.append(None)
            continue
        members: list[tuple[float, Curve]] = []
        for m in cs:
            c = rows_to_curve(m["curve"])
            if c is not None:
                members.append((float(m["focus_delay"]), c))
        if not members:
            out.append(None)
            continue
        # bound stored-curve size like the reference's 120-byte compact cap
        # (src/importer/per_schedule_importer.rs:362): ε=0.001 keeps ~15-30
        # points instead of the blended curves' union grid
        blended = simplify(curve_set_interpolate(members, float(delay)), 0.001)
        out.append(curve_to_rows(blended))
    return pd.Series(out)


def _grouped_sets(statistics: DataFrame, slot: int | None = None) -> DataFrame:
    df = statistics.filter(F.col("scope") == "specific")
    if slot is not None:
        df = df.filter(F.col("time_slot_id") == slot)
    return (
        df.groupBy(
            "route_id", "route_variant", "start_stop_index", "end_stop_index",
            "time_slot_id", "event_type",
        )
        .agg(
            F.sort_array(
                F.collect_list(F.struct("focus_delay", "curve"))
            ).alias("curve_set"),
            F.first("sample_size").alias("sample_size"),
        )
    )


def predict(
    statistics: DataFrame, requests: DataFrame, wide: bool = True
) -> DataFrame:
    """requests columns: route_id, route_variant, route_type,
    route_section (of the target stop), time_slot_id, event_type,
    end_stop_index, and optionally start_stop_index + initial_delay
    (the realtime basis).  Returns requests + prediction_curve +
    precision_type + sample_size.

    ``wide`` selects the batch shape (default): fan the requests over
    defaultParallelism partitions so the Python curve tail runs wide.
    Interactive callers (``predict single``, a one-trip board lookup)
    pass ``wide=False``: a handful of request rows gains nothing from a
    full shuffle + defaultParallelism task launches of fixed latency.
    """
    # The ladder joins below are broadcasts, so the expensive Python
    # stage (the interpolate UDFs here, the caller's cap/bounds
    # mapInPandas) inherits the REQUESTS exchange's partitioning — and
    # AQE coalesces that exchange by BYTES.  Curve rows are byte-small
    # but CPU-heavy: the R=100 scaled rehearsal (BENCH_gtfs_scaled.json)
    # found AQE folding the whole tail into ONE task (45.8 s vs ~11 s
    # parallel).  An explicit numPartitions repartition is exempt from
    # AQE coalescing; its shuffle moves only slim request rows.
    if wide:
        requests = requests.repartition(
            requests.sparkSession.sparkContext.defaultParallelism
        )
    grouped = _grouped_sets(statistics)
    sets_specific = grouped.select(
        F.col("route_id").alias("s1_route"),
        F.col("route_variant").alias("s1_variant"),
        F.col("start_stop_index").alias("s1_start"),
        F.col("end_stop_index").alias("s1_end"),
        F.col("time_slot_id").alias("s1_slot"),
        F.col("event_type").alias("s1_et"),
        F.col("curve_set").alias("s1_set"),
        F.col("sample_size").alias("s1_n"),
    )
    # the default-slot rung is the same grouped aggregate restricted to
    # DEFAULT_SLOT.  Slot is a group key, so Catalyst pushes the filter
    # below the aggregate: the plan runs the collect_list aggregation a
    # second time, over the DEFAULT-slot curve rows only
    sets_default_slot = grouped.filter(
        F.col("time_slot_id") == DEFAULT_SLOT
    ).select(
        F.col("route_id").alias("s2_route"),
        F.col("route_variant").alias("s2_variant"),
        F.col("start_stop_index").alias("s2_start"),
        F.col("end_stop_index").alias("s2_end"),
        F.col("event_type").alias("s2_et"),
        F.col("curve_set").alias("s2_set"),
        F.col("sample_size").alias("s2_n"),
    )
    semi = statistics.filter(F.col("scope") == "semi_specific").select(
        F.col("route_id").alias("g_route"),
        F.col("route_variant").alias("g_variant"),
        F.col("stop_index").alias("g_stop"),
        F.col("event_type").alias("g_et"),
        F.col("curve").alias("g_curve"),
        F.col("sample_size").alias("g_n"),
    )
    dflt = statistics.filter(F.col("scope") == "default").select(
        F.col("route_type").alias("d_rt"),
        F.col("route_section").alias("d_sec"),
        F.col("time_slot_id").alias("d_slot"),
        F.col("event_type").alias("d_et"),
        F.col("curve").alias("d_curve"),
        F.col("precision_type").alias("d_precision"),
        F.col("sample_size").alias("d_n"),
    )

    # ladder rungs are HINTED broadcasts (maybe_broadcast), not forced:
    # a single-feed statistics table is a page-sized build side, but a
    # merged national feed's curve table is multi-GB — the R=100 scaled
    # rehearsal (BENCH_gtfs_scaled.json) caught the forced hint shipping
    # a 108k-curve build side into every task; above the size ceiling
    # the planner falls back to a shuffle join
    has_basis = F.col("start_stop_index").isNotNull() & F.col("initial_delay").isNotNull()

    r = (
        requests.join(
            maybe_broadcast(sets_specific),
            (F.col("route_id") == F.col("s1_route"))
            & (F.col("route_variant") == F.col("s1_variant"))
            & (F.col("start_stop_index") == F.col("s1_start"))
            & (F.col("end_stop_index") == F.col("s1_end"))
            & (F.col("time_slot_id") == F.col("s1_slot"))
            & (F.col("event_type") == F.col("s1_et")),
            "left",
        )
        .join(
            maybe_broadcast(sets_default_slot),
            (F.col("route_id") == F.col("s2_route"))
            & (F.col("route_variant") == F.col("s2_variant"))
            & (F.col("start_stop_index") == F.col("s2_start"))
            & (F.col("end_stop_index") == F.col("s2_end"))
            & (F.col("event_type") == F.col("s2_et")),
            "left",
        )
        .join(
            maybe_broadcast(semi),
            (F.col("route_id") == F.col("g_route"))
            & (F.col("route_variant") == F.col("g_variant"))
            & (F.col("end_stop_index") == F.col("g_stop"))
            & (F.col("event_type") == F.col("g_et")),
            "left",
        )
        .join(
            maybe_broadcast(dflt),
            (F.col("route_type") == F.col("d_rt"))
            & (F.col("route_section") == F.col("d_sec"))
            & (F.col("time_slot_id") == F.col("d_slot"))
            & (F.col("event_type") == F.col("d_et")),
            "left",
        )
    )

    s1_curve = F.when(has_basis, _interpolate_set(F.col("s1_set"), F.col("initial_delay")))
    s2_curve = F.when(has_basis, _interpolate_set(F.col("s2_set"), F.col("initial_delay")))
    semi_curve = F.when(~has_basis, F.col("g_curve"))

    out = (
        r.withColumn("_c1", s1_curve)
        .withColumn("_c2", s2_curve)
        .withColumn("_c3", semi_curve)
        .withColumn(
            "prediction_curve", F.coalesce("_c1", "_c2", "_c3", "d_curve")
        )
        .withColumn(
            "precision_type",
            F.when(F.col("_c1").isNotNull(), F.lit(PRECISION_SPECIFIC))
            .when(F.col("_c2").isNotNull(), F.lit(PRECISION_FALLBACK_SPECIFIC))
            .when(F.col("_c3").isNotNull(), F.lit(PRECISION_SEMI_SPECIFIC))
            .otherwise(F.col("d_precision")),
        )
        .withColumn(
            "sample_size",
            F.when(F.col("_c1").isNotNull(), F.col("s1_n"))
            .when(F.col("_c2").isNotNull(), F.col("s2_n"))
            .when(F.col("_c3").isNotNull(), F.col("g_n"))
            .otherwise(F.col("d_n")),
        )
    )
    drop = [c for c in out.columns if c.startswith(("s1_", "s2_", "g_", "d_", "_c"))]
    return out.drop(*drop)


def realtime_bases(records: DataFrame) -> DataFrame:
    """T3/J11: per vehicle, the latest observation with a departure delay
    — the prediction basis (src/importer/per_schedule_importer.rs:266-313;
    src/predictor/real_time.rs:31-107).  Stateless recompute + latest-wins
    (the documented deviation from the reference's mutex-guarded HashMap:
    same table contents, no state to lose)."""
    from pyspark.sql import Window

    w = Window.partitionBy("trip_id", "trip_start_date", "trip_start_time").orderBy(
        F.desc("time_of_recording"), F.desc("stop_sequence")
    )
    return (
        records.filter(F.col("delay_departure").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "source",
            "route_id",
            "route_variant",
            "trip_id",
            "trip_start_date",
            "trip_start_time",
            F.col("stop_sequence").alias("basis_stop_sequence"),
            F.col("delay_departure").alias("initial_delay"),
            "schedule_file_name",
        )
    )


def build_prediction_requests(
    bases: DataFrame,
    stop_times_idx: DataFrame,
    routes: DataFrame,
    trips: DataFrame,
) -> DataFrame:
    """Fan a basis out to every later stop × {arrival, departure}
    (src/importer/per_schedule_importer.rs:315-366): each target stop
    gets route_section, time slot (from its scheduled event time) and
    the scheduled absolute event timestamp."""
    # stop_times-sized frames: size-guard the hints (schedule tables for a
    # country feed are far beyond broadcast range)
    basis_idx = bases.join(
        maybe_broadcast(
            stop_times_idx.select(
                "trip_id",
                F.col("stop_sequence").alias("basis_stop_sequence"),
                F.col("stop_index").alias("start_stop_index"),
            )
        ),
        ["trip_id", "basis_stop_sequence"],
    )
    targets = basis_idx.join(
        maybe_broadcast(
            stop_times_idx.select(
                "trip_id",
                "stop_sequence",
                "stop_id",
                F.col("stop_index").alias("end_stop_index"),
                "stop_count",
                "arrival_time",
                "departure_time",
            )
        ),
        "trip_id",
    ).filter(F.col("end_stop_index") > F.col("start_stop_index"))

    rt = F.broadcast(routes.select("route_id", "route_type"))
    return request_rows(targets.join(rt, "route_id"))


def request_rows(targets: DataFrame) -> DataFrame:
    """Target stops → :func:`predict` requests, one per arrival and one
    per departure event, each with its scheduled absolute event time,
    the time slot of that time and the target stop's route section.
    ``targets`` carries the request columns selected below, plus
    ``stop_count``, ``arrival_time`` and ``departure_time``."""
    events = targets.select(
        "*", event_fanout(event_time=("arrival_time", "departure_time"))
    )
    event_dt = service_day_timestamp(F.col("trip_start_date"), F.col("event_time"))
    return events.select(
        "source",
        "route_id",
        "route_variant",
        "route_type",
        "trip_id",
        "trip_start_date",
        "trip_start_time",
        "start_stop_index",
        "end_stop_index",
        "stop_sequence",
        "stop_id",
        "initial_delay",
        "schedule_file_name",
        "event_type",
        event_dt.alias("scheduled_time"),
        time_slot_id(event_dt).alias("time_slot_id"),
        route_section(F.col("end_stop_index"), F.col("stop_count")).alias(
            "route_section"
        ),
    )


def generate_realtime_predictions(
    records: DataFrame,
    stop_times_idx: DataFrame,
    routes: DataFrame,
    trips: DataFrame,
    statistics: DataFrame,
) -> DataFrame:
    """records → bases → fan-out requests → fallback-ladder lookup →
    PREDICTIONS-shaped rows (origin Realtime).  prediction_min/max =
    scheduled event time + curve min/max x (src/importer/
    per_schedule_importer.rs:341-366)."""
    from ..schemas import ORIGIN_REALTIME

    requests = build_prediction_requests(
        realtime_bases(records), stop_times_idx, routes, trips
    )
    return finish_predictions(predict(statistics, requests), ORIGIN_REALTIME)


def _cap_with_bounds(batches):
    """Drop curves with fewer than two knots, cap the rest at 30 points
    and append their x bounds as ``_min_x``/``_max_x``."""
    for pdf in batches:
        keep, capped, mns, mxs = [], [], [], []
        for i, rows in enumerate(pdf["prediction_curve"]):
            c = rows_to_curve(rows)
            if c is None:
                continue
            c = simplify_to_max_points(c, 30)
            keep.append(i)
            capped.append(curve_to_rows(c))
            mns.append(float(c.min_x()))
            mxs.append(float(c.max_x()))
        out = pdf.iloc[keep].copy()
        out["prediction_curve"] = capped
        out["_min_x"] = mns
        out["_max_x"] = mxs
        yield out


def finish_predictions(predicted: DataFrame, origin_type: int) -> DataFrame:
    """:func:`predict` output → PREDICTIONS-shaped rows of one origin.
    The stored curve is capped at 30 points (the reference's ≤120-byte
    cap, src/importer/per_schedule_importer.rs:362), and prediction_min/max
    = scheduled event time + the capped curve's min/max x.

    Cap, bounds and the drop of curves with fewer than two knots run in
    ONE mapInPandas pass, whose outputs are plain ATTRIBUTES that
    downstream expressions reference for free.  Separate scalar UDFs
    over the curve get inlined into each other's arguments by
    projection collapse (the cap then ran three times per row), and a
    separate null filter re-derives ``_interpolate_set`` in a second
    Arrow stage."""
    out_schema = T.StructType(
        predicted.schema.fields
        + [
            T.StructField("_min_x", T.DoubleType()),
            T.StructField("_max_x", T.DoubleType()),
        ]
    )
    finished = predicted.mapInPandas(_cap_with_bounds, out_schema)
    sched = F.col("scheduled_time").cast("double")
    return finished.select(
        "source",
        F.col("event_type").cast("byte").alias("event_type"),
        "stop_id",
        "stop_sequence",
        "route_id",
        "trip_id",
        "trip_start_date",
        "trip_start_time",
        F.timestamp_seconds(sched + F.col("_min_x")).alias("prediction_min"),
        F.timestamp_seconds(sched + F.col("_max_x")).alias("prediction_max"),
        F.col("precision_type").cast("byte").alias("precision_type"),
        F.lit(origin_type).cast("byte").alias("origin_type"),
        "sample_size",
        "prediction_curve",
        "schedule_file_name",
    )
