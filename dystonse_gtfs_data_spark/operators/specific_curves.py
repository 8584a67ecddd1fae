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

from ..curves.core import build_curve_set, make_curve, simplify
from ..curves.udfs import curve_to_rows
from ..functions.delays import CURVE_DELAY_BOUND, DELAY_ROUND_STEP
from ..functions.time import service_day_timestamp, time_slot_id
from ..sources.tables import maybe_broadcast
from ..schemas import (
    DELAY_CURVES,
    EVENT_ARRIVAL,
    EVENT_DEPARTURE,
    PRECISION_SEMI_SPECIFIC,
    PRECISION_SPECIFIC,
)

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


def _ecdf_udf(key: tuple, pdf: pd.DataFrame) -> dict | None:
    """Grouped fn: raw delay values → one general_delay curve row."""
    values = pdf["delay"].to_numpy(dtype=float)
    if len(values) < MIN_DATA_FOR_GENERAL_CURVE:
        return None
    made = make_curve(values, None)
    if made is None:
        return None
    route_id, route_variant, stop_index, event_type = key
    return {
        "route_id": [route_id],
        "route_variant": [route_variant],
        "stop_index": [int(stop_index)],
        "event_type": [int(event_type)],
        "curve": [curve_to_rows(simplify(made[0], 0.01))],
        "sample_size": [len(values)],
    }


_GENERAL_SCHEMA = (
    "route_id string, route_variant long, stop_index int, event_type int, "
    "curve array<struct<x: float, y: float>>, sample_size int"
)


def general_delay_curves(enriched: DataFrame) -> DataFrame:
    """A8: per (variant, stop index, event type) ECDF of raw delays
    (>= 20 values, simplify(0.01), precision SemiSpecific).  The
    reference's slot loop overwrites each slot's result with the
    DEFAULT slot's (it iterates TIME_SLOTS_WITH_DEFAULT and inserts
    unconditionally, src/analyser/specific_curves.rs:276-369), so the
    net semantics are slot-independent — implemented directly."""
    per_event = []
    for et, delay_col in ((EVENT_ARRIVAL, "delay_arrival"), (EVENT_DEPARTURE, "delay_departure")):
        per_event.append(
            enriched.filter(F.col(delay_col).isNotNull()).select(
                "route_id",
                "route_variant",
                "stop_index",
                F.lit(et).alias("event_type"),
                F.col(delay_col).alias("delay"),
            )
        )
    stacked = per_event[0].unionByName(per_event[1])
    # batched grouped-map dispatch (see stop_pair_curve_sets): the
    # per-group math is a plain sorted ECDF, order-insensitive
    # (make_curve np.sorts internally), so no order_cols needed
    from .grouped_map import map_grouped_in_pandas

    return map_grouped_in_pandas(
        stacked,
        ("route_id", "route_variant", "stop_index", "event_type"),
        _ecdf_udf,
        _GENERAL_SCHEMA,
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
    "time_slot_id int, event_type int, focus_delay float, "
    "curve array<struct<x: float, y: float>>, sample_size int"
)

DEFAULT_SLOT = 12

#: Groups-aware sizing of the curve-set grouped-map stage.  The
#: W=100@R=100 width rehearsal (BENCH_gtfs_scaled.json) found the
#: binding constraint is per-task AGGREGATION STATE (groups × pair
#: lists), not shuffle bytes: inheriting the session's shuffle
#: partitions put ~60 k groups in one hash-agg task and hit a JVM
#: memory cliff at the default heap, while 256 partitions (~7.5 k
#: groups/task) ran clean.  AQE cannot fix this — it coalesces by
#: BYTES, and curve state is byte-small/state-heavy (the round-7
#: defect class) — so the operator derives an explicit partition
#: count from a group-count estimate instead of a manual knob.
#: ~8 k groups/task reproduces the proven-clean manual point (256
#: partitions over 1.93 M groups ≈ 7.5 k/task ran green at 8 g) with a
#: ~7× margin under the measured ~60 k/task cliff; the first cut at
#: 4 k/task was green too but paid ~31% in per-task overhead (491.8 s
#: vs 374.6 s hand-tuned at W=100@R=100).
_CURVE_SET_GROUPS_PER_TASK = 8192
_CURVE_SET_MAX_PARTITIONS = 65536


#: Estimate cache keyed on (Spark application id, plan semanticHash):
#: the same enriched subtree asked for twice — the catalog query
#: re-built per run, a test loop — pays the eager
#: group-count job ONCE per session instead of once per construction
#: (round-10 verdict task: default construction should stop running a
#: Spark job per build).  semanticHash canonicalizes the analyzed
#: plan, so two structurally-identical builds over the same source hit;
#: the application id guards against hash reuse across restarted
#: sessions reading different data at the same path.
_PARTITION_ESTIMATE_CACHE: dict[tuple[str, int], int] = {}
_PARTITION_ESTIMATE_CACHE_MAX = 256


def _curve_set_partitions(enriched: DataFrame) -> int:
    """Estimate the (variant × pair × slot × event) group count from a
    slim per-variant aggregate of ``enriched`` (one extra
    map-side-combined pass over the already-built subtree: W_v distinct
    stops → W_v(W_v−1)/2 pairs, ×2 event types, ×(distinct slots + 1
    default) — an upper-bound estimate, and overestimating costs only
    near-empty tasks), then size the explicit repartition so each task
    holds ~_CURVE_SET_GROUPS_PER_TASK groups.  Memoized per
    (application, plan) — see _PARTITION_ESTIMATE_CACHE."""
    cache_key: tuple[str, int] | None
    try:
        cache_key = (
            enriched.sparkSession.sparkContext.applicationId,
            enriched.semanticHash(),
        )
    except Exception:  # pragma: no cover - connect/remote sessions
        cache_key = None
    if cache_key is not None:
        hit = _PARTITION_ESTIMATE_CACHE.get(cache_key)
        if hit is not None:
            return hit
    row = (
        enriched.groupBy("route_id", "route_variant")
        .agg(
            F.count_distinct(F.col("stop_index")).alias("w"),
            F.count_distinct(F.col("slot_departure")).alias("s"),
        )
        .select(
            F.sum(
                F.col("w")
                * (F.col("w") - 1)
                * (F.col("s") + F.lit(1))  # matched slots + DEFAULT
            ).alias("g")  # ×2 event types and ÷2 pair orientations cancel
        )
        .collect()[0]
    )
    est = int(row["g"] or 0)
    floor = enriched.sparkSession.sparkContext.defaultParallelism
    result = max(
        floor,
        min(
            _CURVE_SET_MAX_PARTITIONS,
            -(-est // _CURVE_SET_GROUPS_PER_TASK),
        ),
    )
    if cache_key is not None:
        if len(_PARTITION_ESTIMATE_CACHE) >= _PARTITION_ESTIMATE_CACHE_MAX:
            _PARTITION_ESTIMATE_CACHE.clear()  # tiny int cache: reset > LRU
        _PARTITION_ESTIMATE_CACHE[cache_key] = result
    return result


def stop_pair_curve_sets(
    enriched: DataFrame,
    num_partitions: int | None = None,
) -> DataFrame:
    """A7/J4: the stop-pair self-join + curve-set build.

    Pair semantics (src/analyser/specific_curves.rs:279-351): join two
    observations of the same vehicle with start_index < end_index; the
    initial delay is the *departure* delay at the start stop, the outcome
    delay is the event-type delay at the end stop; both must be within
    ±3000 s exclusive; both are rounded toward zero to 12-s multiples; a
    pair belongs to a specific time slot only if BOTH endpoint datetimes
    match it, and always to the DEFAULT slot; > 20 pairs per group.

    NOTE: with ``num_partitions=None`` (the default) BUILDING the
    returned DataFrame runs one eager Spark job — the
    :func:`_curve_set_partitions` group-count estimate over the
    enriched subtree that sizes the curve-agg repartition — the FIRST
    time a given subtree is seen; repeat constructions over the same
    plan (re-built catalog queries, test loops) hit the
    per-(application, semanticHash) estimate cache and run zero jobs.
    Callers constructing plans without executing them (or who already
    know the group count) can pass an explicit ``num_partitions`` to
    keep even the first construction lazy.

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
    paired = starts.join(ends, VEHICLE_KEY).filter(
        F.col("start_stop_index") < F.col("end_stop_index")
    )

    def rounded(col):
        d = col.cast("long")
        return (F.signum(d) * F.floor(F.abs(d) / DELAY_ROUND_STEP) * DELAY_ROUND_STEP).cast(
            "float"
        )

    t = CURVE_DELAY_BOUND
    per_event = []
    for et, d_end, e_slot, s_slot in (
        (EVENT_ARRIVAL, "d_end_arr", "e_slot_arr", "s_slot_arr"),
        (EVENT_DEPARTURE, "d_end_dep", "e_slot_dep", "s_slot_dep"),
    ):
        p = paired.filter(
            F.col(d_end).isNotNull()
            & (F.col("d_start_raw") > -t) & (F.col("d_start_raw") < t)
            & (F.col(d_end) > -t) & (F.col(d_end) < t)
        ).select(
            "route_id",
            "route_variant",
            "start_stop_index",
            "end_stop_index",
            F.lit(et).alias("event_type"),
            rounded(F.col("d_start_raw")).alias("d_start"),
            rounded(F.col(d_end)).alias("d_end"),
            F.col(s_slot).alias("slot_start"),
            F.col(e_slot).alias("slot_end"),
        )
        per_event.append(p)
    pairs = per_event[0].unionByName(per_event[1])

    slotted = pairs.filter(F.col("slot_start") == F.col("slot_end")).withColumn(
        "time_slot_id", F.col("slot_start")
    )
    default_slot = pairs.withColumn("time_slot_id", F.lit(DEFAULT_SLOT))
    all_pairs = slotted.unionByName(default_slot).drop("slot_start", "slot_end")

    keys = [
        "route_id", "route_variant", "start_stop_index", "end_stop_index",
        "time_slot_id", "event_type",
    ]
    # explicit hash repartition on the group keys: puts each group in
    # one partition, is exempt from AQE byte-coalescing, and its count
    # comes from the group estimate — see _curve_set_partitions
    n_parts = (
        num_partitions
        if num_partitions is not None
        else _curve_set_partitions(enriched)
    )
    from .grouped_map import map_grouped_in_pandas

    # (d_start, d_end) in the partition sort: build_curve_set's pair
    # order is then deterministic at the input (the UDF's own stable
    # sort becomes a no-op pass over sorted data)
    return map_grouped_in_pandas(
        all_pairs,
        keys,
        _curve_set_udf,
        _CURVE_SET_SCHEMA,
        num_partitions=n_parts,
        order_cols=("d_start", "d_end"),
    )


def specific_statistics(records: DataFrame, stop_times: DataFrame) -> DataFrame:
    """Full specific-curve build → DELAY_CURVES-shaped rows
    (scopes 'specific' + 'semi_specific')."""
    sti = stop_indexed(stop_times)
    projected = project_missing_delays(records, stop_times)
    enriched = enrich_records(projected, sti)

    sets = stop_pair_curve_sets(enriched).select(
        F.lit("specific").alias("scope"),
        "route_id",
        "route_variant",
        "start_stop_index",
        "end_stop_index",
        F.lit(None).cast("int").alias("stop_index"),
        F.lit(None).cast("int").alias("route_type"),
        F.lit(None).cast("string").alias("route_section"),
        "time_slot_id",
        "event_type",
        "focus_delay",
        "curve",
        F.lit(PRECISION_SPECIFIC).alias("precision_type"),
        "sample_size",
    )
    general = general_delay_curves(enriched).select(
        F.lit("semi_specific").alias("scope"),
        "route_id",
        "route_variant",
        F.lit(None).cast("int").alias("start_stop_index"),
        F.lit(None).cast("int").alias("end_stop_index"),
        "stop_index",
        F.lit(None).cast("int").alias("route_type"),
        F.lit(None).cast("string").alias("route_section"),
        F.lit(None).cast("int").alias("time_slot_id"),
        "event_type",
        F.lit(None).cast("float").alias("focus_delay"),
        "curve",
        F.lit(PRECISION_SEMI_SPECIFIC).alias("precision_type"),
        "sample_size",
    )
    return sets.unionByName(general)
