"""Specific-curve analytics: per route variant, build

- ``general_delay`` curves: ECDF of all delays at each stop index
  (A8; generate_delay_curve_data, src/analyser/specific_curves.rs:356-369)
- stop-pair ``curve_sets``: for every (start_index < end_index, time
  slot, event type), a family of CDFs keyed by initial delay
  (A7; src/analyser/specific_curves.rs:279-351, 371-426)

Spark shape replacing the reference's per-route driver loop + O(n²)
nested pair matching: derive stop_index/slots as columns, one self-join
on the vehicle key for pair matching (J4), then grouped pandas UDFs
running the numpy curve builders.  Partitioning is by (route_id,
route_variant) — the unit the reference holds in memory — so a
1000-executor cluster processes variants independently.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..curves.core import build_curve_set
from ..curves.udfs import CURVE_DDL, curve_to_rows
from ..functions.delays import CURVE_DELAY_BOUND, DELAY_ROUND_STEP
from ..functions.time import DEFAULT_SLOT, service_day_timestamp, time_slot_id
from ..sources.tables import maybe_broadcast
from ..schemas import (
    EVENT_ARRIVAL,
    EVENT_DEPARTURE,
    PRECISION_SEMI_SPECIFIC,
    PRECISION_SPECIFIC,
)
from .curve_steps import delay_ecdfs, event_fanout, statistics_rows
from .grouped_map import map_grouped_in_pandas

MIN_PAIRS_FOR_CURVE_SET = 20  # strictly-greater guard (:337)
MIN_DATA_FOR_GENERAL_CURVE = 20  # >= guard (:359-361)

VEHICLE_KEY = ["trip_id", "trip_start_date", "trip_start_time"]


def stop_indexed(stop_times: DataFrame) -> DataFrame:
    """stop_times + stop_index (0-based position in the trip) + stop_count.
    The reference indexes by position in trip.stop_times; we derive it
    with a per-trip window (sequence order == position order)."""
    w = Window.partitionBy("trip_id").orderBy("stop_sequence")
    wc = Window.partitionBy("trip_id")
    return stop_times.select(
        "*",
        (F.row_number().over(w) - 1).alias("stop_index"),
        F.count("*").over(wc).alias("stop_count"),
    )


def enrich_records(records: DataFrame, stop_times_idx: DataFrame) -> DataFrame:
    """records + stop_index/stop_count + per-event scheduled datetimes and
    time-slot ids.

    Slot datetime = trip_start_date + scheduled arrival/departure seconds
    (NOT including the delay) — DbItem::get_datetime_from_trip,
    src/types/db_item.rs:44-60.  Deviation from the reference: stops are
    matched by stop_sequence, not stop_id (its own TODO at
    src/analyser/specific_curves.rs:287-289 asks for exactly this).
    """
    st = maybe_broadcast(
        stop_times_idx.select(
            "trip_id", "stop_sequence", "stop_index", "stop_count",
            "arrival_time", "departure_time",
        )
    )
    r = records.join(st, ["trip_id", "stop_sequence"])
    arr_dt = service_day_timestamp(F.col("trip_start_date"), F.col("arrival_time"))
    dep_dt = service_day_timestamp(F.col("trip_start_date"), F.col("departure_time"))
    return r.select(
        "*",
        time_slot_id(arr_dt).alias("slot_arrival"),
        time_slot_id(dep_dt).alias("slot_departure"),
    )


def project_missing_delays(records: DataFrame, stop_times: DataFrame) -> DataFrame:
    """J6 gap projection: synthesize records for scheduled stops a vehicle
    never reported, carrying the delays of the *next* reported stop
    backward (the reference's loop reads the current item's delays into
    gap rows before it, src/analyser/specific_curves.rs:157-252; its
    comment says "previous" but the code copies from the following
    observation).  Scheduled stops after a vehicle's last report are not
    synthesized.
    """
    st = maybe_broadcast(stop_times.select("trip_id", "stop_sequence", "stop_id"))
    vehicles = records.select(
        "source", "route_id", "route_variant", "schedule_file_name", *VEHICLE_KEY
    ).distinct()
    grid = vehicles.join(st, "trip_id")

    r = records.select(
        *VEHICLE_KEY,
        "stop_sequence",
        F.lit(1).alias("_observed"),
        F.col("delay_arrival").alias("_obs_arr"),
        F.col("delay_departure").alias("_obs_dep"),
        F.col("time_of_recording").alias("_obs_tor"),
    )
    g = grid.join(r, [*VEHICLE_KEY, "stop_sequence"], "left")

    w_next = (
        Window.partitionBy(*VEHICLE_KEY)
        .orderBy("stop_sequence")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    # both delays travel together from the same next-observed row
    nxt = F.first(
        F.when(
            F.col("_observed").isNotNull(),
            F.struct("_obs_arr", "_obs_dep", "_obs_tor"),
        ),
        ignorenulls=True,
    ).over(w_next)
    return (
        g.withColumn("_next", nxt)
        .filter(F.col("_next").isNotNull())  # drop stops after last report
        .select(
            "source",
            "route_id",
            "route_variant",
            "trip_id",
            "trip_start_date",
            "trip_start_time",
            "stop_sequence",
            "stop_id",
            F.col("_next._obs_tor").alias("time_of_recording"),
            F.col("_next._obs_arr").alias("delay_arrival"),
            F.col("_next._obs_dep").alias("delay_departure"),
            "schedule_file_name",
        )
    )


def general_delay_curves(enriched: DataFrame) -> DataFrame:
    """A8: per (variant, stop index, event type) ECDF of raw delays
    (>= 20 values, simplify(0.01), precision SemiSpecific).  The
    reference's slot loop overwrites each slot's result with the
    DEFAULT slot's (it iterates TIME_SLOTS_WITH_DEFAULT and inserts
    unconditionally, src/analyser/specific_curves.rs:276-369), so the
    net semantics are slot-independent — implemented directly."""
    stacked = enriched.select(
        "route_id",
        "route_variant",
        "stop_index",
        event_fanout(delay=("delay_arrival", "delay_departure")),
    )
    return delay_ecdfs(
        stacked,
        ("route_id", "route_variant", "stop_index", "event_type"),
        MIN_DATA_FOR_GENERAL_CURVE,
        0.01,
    )


def _curve_set_udf(key: tuple, pdf: pd.DataFrame) -> dict | None:
    if len(pdf) <= MIN_PAIRS_FOR_CURVE_SET:
        return None
    # deterministic pair order: build_curve_set's stable sort breaks start-
    # delay ties by input order, so sort fully by (d_start, d_end) — the
    # order the partition sort already delivers — so reruns and the
    # single-node differential oracle produce identical curves
    pairs = pdf[["d_start", "d_end"]].to_numpy(dtype=np.float64)
    pairs = pairs[np.lexsort((pairs[:, 1], pairs[:, 0]))]
    built = build_curve_set(pairs)
    if built is None:
        return None
    curves, sample_size = built
    route_id, route_variant, start, end, slot, event_type = key
    n = len(curves)
    return {
        "route_id": [route_id] * n,
        "route_variant": [route_variant] * n,
        "start_stop_index": [int(start)] * n,
        "end_stop_index": [int(end)] * n,
        "time_slot_id": [int(slot)] * n,
        "event_type": [int(event_type)] * n,
        "focus_delay": [focus for focus, _ in curves],
        "curve": [curve_to_rows(c) for _, c in curves],
        "sample_size": [sample_size] * n,
    }


_CURVE_SET_SCHEMA = (
    "route_id string, route_variant long, start_stop_index int, end_stop_index int, "
    f"time_slot_id int, event_type int, focus_delay float, curve {CURVE_DDL}, "
    "sample_size int"
)


def stop_pair_curve_sets(enriched: DataFrame) -> DataFrame:
    """A7/J4: the stop-pair self-join + curve-set build.

    Pair semantics (src/analyser/specific_curves.rs:279-351): join two
    observations of the same vehicle with start_index < end_index; the
    initial delay is the *departure* delay at the start stop, the outcome
    delay is the event-type delay at the end stop; both must be within
    ±3000 s exclusive; both are rounded toward zero to 12-s multiples; a
    pair belongs to a specific time slot only if BOTH endpoint datetimes
    match it, and always to the DEFAULT slot; > 20 pairs per group.

    The join runs once: one generator fans each joined row out to its
    (event type × {matched slot, DEFAULT}) rows, and the rows whose
    outcome delay or matched slot does not apply are filtered after it.

    Dispatch: the curve build runs through
    :func:`..operators.grouped_map.map_grouped_in_pandas` — one Python
    invocation and one output frame per Arrow batch, not one per group
    as ``applyInPandas`` would pay.  Rows reach the group function
    sorted by (keys, d_start, d_end), so each group's pair order is
    deterministic.
    """
    starts = enriched.filter(F.col("delay_departure").isNotNull()).select(
        "route_id",
        "route_variant",
        *VEHICLE_KEY,
        F.col("stop_index").alias("start_stop_index"),
        F.col("delay_departure").alias("d_start_raw"),
        F.col("slot_arrival").alias("s_slot_arr"),
        F.col("slot_departure").alias("s_slot_dep"),
    )
    ends = enriched.select(
        *VEHICLE_KEY,
        F.col("stop_index").alias("end_stop_index"),
        F.col("delay_arrival").alias("d_end_arr"),
        F.col("delay_departure").alias("d_end_dep"),
        F.col("slot_arrival").alias("e_slot_arr"),
        F.col("slot_departure").alias("e_slot_dep"),
    )
    t = CURVE_DELAY_BOUND
    paired = starts.join(ends, VEHICLE_KEY).filter(
        (F.col("start_stop_index") < F.col("end_stop_index"))
        & (F.col("d_start_raw") > -t) & (F.col("d_start_raw") < t)
    )

    # (event type × {matched slot, DEFAULT}) arms of one joined row; a
    # null matched slot (the endpoints' slots differ) drops its arm
    arms = [
        F.struct(
            F.lit(et).alias("event_type"),
            F.col(d_end).alias("d_end_raw"),
            slot.alias("time_slot_id"),
        )
        for et, d_end, s_slot, e_slot in (
            (EVENT_ARRIVAL, "d_end_arr", "s_slot_arr", "e_slot_arr"),
            (EVENT_DEPARTURE, "d_end_dep", "s_slot_dep", "e_slot_dep"),
        )
        for slot in (
            F.when(F.col(s_slot) == F.col(e_slot), F.col(s_slot)),
            F.lit(DEFAULT_SLOT),
        )
    ]

    def rounded(col):
        d = col.cast("long")
        return (F.signum(d) * F.floor(F.abs(d) / DELAY_ROUND_STEP) * DELAY_ROUND_STEP).cast(
            "float"
        )

    all_pairs = (
        paired.select(
            "route_id", "route_variant", "start_stop_index", "end_stop_index",
            "d_start_raw", F.inline(F.array(*arms)),
        )
        .filter(
            F.col("time_slot_id").isNotNull()
            & F.col("d_end_raw").isNotNull()
            & (F.col("d_end_raw") > -t) & (F.col("d_end_raw") < t)
        )
        .select(
            "route_id",
            "route_variant",
            "start_stop_index",
            "end_stop_index",
            "time_slot_id",
            "event_type",
            rounded(F.col("d_start_raw")).alias("d_start"),
            rounded(F.col("d_end_raw")).alias("d_end"),
        )
    )

    keys = [
        "route_id", "route_variant", "start_stop_index", "end_stop_index",
        "time_slot_id", "event_type",
    ]
    # explicit hash repartition on the group keys at defaultParallelism,
    # as predict sizes its curve tail: every group in one partition, and
    # exempt from AQE byte-coalescing.  (d_start, d_end) in the partition
    # sort makes build_curve_set's pair order deterministic at the input
    # (the UDF's own lexsort becomes a no-op pass over sorted data)
    return map_grouped_in_pandas(
        all_pairs,
        keys,
        _curve_set_udf,
        _CURVE_SET_SCHEMA,
        num_partitions=enriched.sparkSession.sparkContext.defaultParallelism,
        order_cols=("d_start", "d_end"),
    )


def specific_statistics(records: DataFrame, stop_times: DataFrame) -> DataFrame:
    """Full specific-curve build → DELAY_CURVES-shaped rows
    (scopes 'specific' + 'semi_specific')."""
    sti = stop_indexed(stop_times)
    projected = project_missing_delays(records, stop_times)
    enriched = enrich_records(projected, sti)

    sets = statistics_rows(
        stop_pair_curve_sets(enriched),
        scope="specific",
        precision_type=PRECISION_SPECIFIC,
    )
    general = statistics_rows(
        general_delay_curves(enriched),
        scope="semi_specific",
        precision_type=PRECISION_SEMI_SPECIFIC,
    )
    return sets.unionByName(general)
