"""Default-curve rollup (A6): the three-level fallback hierarchy of
delay CDFs, from src/analyser/default_curves.rs:42-248.

Level 1: per (route_type, route_section, time_slot, event_type) — the
         average of per-route-variant ECDFs (each variant curve needs
         >= 10 delay values; simplify(0.001)).
Level 2 fallback: per (route_type, event_type) — average over ALL of
         that type's per-variant curves, any section/slot.
Level 3: one super-default curve — average over everything (inputs
         simplified at 0.01 first).
The final grid covers every (route_type, section, slot∈11, event) key,
gaps filled from level 2, then level 3 (PrecisionType General /
FallbackGeneral / SuperGeneral).

Spark shape: the per-variant ECDFs scale with the feed and are built by
a batched grouped map (:func:`variant_section_curves`).  Their number is
bounded by variants × grid keys, and level 3 needs all of them in one
place anyway, so the rollup itself — all three levels and the grid fill
(8 types × 3 sections × 11 slots × 2 events = 528 keys) — runs as ONE
``groupBy().applyInPandas`` task over the variant curves: one stage, no
cache, no joins.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..curves.core import Curve, average_curves, make_curve, simplify
from ..curves.udfs import curve_to_rows, rows_to_curve
from ..functions.route import route_section
from ..functions.time import TIME_SLOTS
from ..schemas import (
    EVENT_ARRIVAL,
    EVENT_DEPARTURE,
    PRECISION_FALLBACK_GENERAL,
    PRECISION_GENERAL,
    PRECISION_SUPER_GENERAL,
)

MIN_DATA_FOR_CURVE = 10  # src/analyser/default_curves.rs:21
ROUTE_TYPES = [0, 1, 2, 3, 4, 5, 6, 7]  # GTFS codes present in FIXTURES.md
SECTIONS = ["beginning", "middle", "end"]
SLOT_IDS = [s[0] for s in TIME_SLOTS]  # the 11 non-DEFAULT slots


def variant_section_curves(enriched: DataFrame, routes: DataFrame) -> DataFrame:
    """Per-variant ECDFs keyed (route_type, section, slot, event,
    route_id, route_variant): the map side of the rollup
    (default_curves.rs:83-160)."""
    r = enriched.join(
        F.broadcast(routes.select("route_id", "route_type")), "route_id"
    ).withColumn(
        "route_section", route_section(F.col("stop_index"), F.col("stop_count"))
    )
    stacked = r.select(
        "route_type",
        "route_section",
        "route_id",
        "route_variant",
        F.inline(F.array(
            F.struct(
                F.col("slot_arrival").alias("time_slot_id"),
                F.lit(EVENT_ARRIVAL).alias("event_type"),
                F.col("delay_arrival").cast("double").alias("delay"),
            ),
            F.struct(
                F.col("slot_departure").alias("time_slot_id"),
                F.lit(EVENT_DEPARTURE).alias("event_type"),
                F.col("delay_departure").cast("double").alias("delay"),
            ),
        )),
    ).filter(F.col("delay").isNotNull())

    def build(key: tuple, pdf: pd.DataFrame) -> dict | None:
        values = pdf["delay"].to_numpy(dtype=float)
        if len(values) < MIN_DATA_FOR_CURVE:
            return None
        made = make_curve(values, None)
        if made is None:
            return None
        route_type, section, slot, event_type, route_id, route_variant = key
        return {
            "route_type": [int(route_type)],
            "route_section": [section],
            "time_slot_id": [int(slot)],
            "event_type": [int(event_type)],
            "route_id": [route_id],
            "route_variant": [route_variant],
            "curve": [curve_to_rows(simplify(made[0], 0.001))],
            "sample_size": [len(values)],
        }

    schema = (
        "route_type int, route_section string, time_slot_id int, event_type int, "
        "route_id string, route_variant long, "
        "curve array<struct<x: float, y: float>>, sample_size int"
    )
    # batched grouped-map dispatch (see stop_pair_curve_sets): one
    # Python invocation per Arrow batch over the variant-keyed groups
    # (the ×R-scaling group space); the per-group ECDF is
    # order-insensitive (make_curve np.sorts internally)
    from .grouped_map import map_grouped_in_pandas

    return map_grouped_in_pandas(
        stacked,
        (
            "route_type", "route_section", "time_slot_id", "event_type",
            "route_id", "route_variant",
        ),
        build,
        schema,
    )


_GRID_KEYS = ["route_type", "route_section", "time_slot_id", "event_type"]
_MEMBER_SORT_COLS = [*_GRID_KEYS, "route_id", "route_variant"]


def _average(
    members: pd.DataFrame, curves: list[Curve | None], extra_simplify: float | None = None
) -> tuple[list, int] | None:
    """One rollup cell: the simplified mean of ``members``' curves
    (``curves[i]`` is the parsed curve of member row ``i``) and the
    mean of their sample sizes, or None without a curve."""
    # float summation in average_curves is order-sensitive at the ulp
    # level, so members are summed in _MEMBER_SORT_COLS order (a total
    # order: one variant curve per grid key and variant), as in the
    # single-node oracle, whatever order the shuffle delivered them in
    members = members.sort_values(_MEMBER_SORT_COLS)
    picked = []
    for i in members.index:
        c = curves[i]
        if c is not None:
            picked.append(simplify(c, extra_simplify) if extra_simplify else c)
    if not picked:
        return None
    merged = simplify(average_curves(picked), 0.001)
    return curve_to_rows(merged), int(members["sample_size"].mean())


def _rollup(pdf: pd.DataFrame) -> pd.DataFrame:
    """All variant curves → every grid key's curve, precision type and
    sample size (levels 1-3 and the gap fill in one pass)."""
    pdf = pdf.reset_index(drop=True)
    curves = [rows_to_curve(rows) for rows in pdf["curve"]]
    level1 = {}
    for key, members in pdf.groupby(_GRID_KEYS, sort=False):
        got = _average(members, curves)
        if got is not None:
            level1[key] = got
    level2 = {}
    for key, members in pdf.groupby(["route_type", "event_type"], sort=False):
        got = _average(members, curves)
        if got is not None:
            level2[key] = got
    level3 = _average(pdf, curves, extra_simplify=0.01)

    out: dict[str, list] = {c: [] for c in (*_GRID_KEYS, "curve", "precision_type", "sample_size")}
    for rt in ROUTE_TYPES:
        for sec in SECTIONS:
            for slot in SLOT_IDS:
                for et in (EVENT_ARRIVAL, EVENT_DEPARTURE):
                    if (rt, sec, slot, et) in level1:
                        cell, precision = level1[(rt, sec, slot, et)], PRECISION_GENERAL
                    elif (rt, et) in level2:
                        cell, precision = level2[(rt, et)], PRECISION_FALLBACK_GENERAL
                    elif level3 is not None:
                        cell, precision = level3, PRECISION_SUPER_GENERAL
                    else:
                        continue
                    for c, v in zip(_GRID_KEYS, (rt, sec, slot, et)):
                        out[c].append(v)
                    out["curve"].append(cell[0])
                    out["precision_type"].append(precision)
                    out["sample_size"].append(cell[1])
    return pd.DataFrame(out)


def default_statistics(enriched: DataFrame, routes: DataFrame) -> DataFrame:
    """The full rollup + gap fill → DELAY_CURVES-shaped rows
    (scope 'default', every grid key populated)."""
    filled = variant_section_curves(enriched, routes).groupBy().applyInPandas(
        _rollup,
        "route_type int, route_section string, time_slot_id int, event_type int, "
        "curve array<struct<x: float, y: float>>, precision_type int, sample_size int",
    )
    return filled.select(
        F.lit("default").alias("scope"),
        F.lit(None).cast("string").alias("route_id"),
        F.lit(None).cast("long").alias("route_variant"),
        F.lit(None).cast("int").alias("start_stop_index"),
        F.lit(None).cast("int").alias("end_stop_index"),
        F.lit(None).cast("int").alias("stop_index"),
        "route_type",
        "route_section",
        "time_slot_id",
        "event_type",
        F.lit(None).cast("float").alias("focus_delay"),
        "curve",
        "precision_type",
        "sample_size",
    )
