"""Single-node pandas/numpy reimplementation of the demo statistics →
predictions pipeline, used as a differential oracle.

The distributed pipeline (operators/specific_curves.py, default_curves.py,
predict.py) is re-derived here with pandas groupbys and explicit loops —
same semantics, independent orchestration — so the driver's DuckDB gate
can verify the Spark run row-for-row (the twins just ``read_parquet`` the
expected output this module writes).  The curve *interiors* intentionally
reuse ``curves.core`` (numpy-pure, pinned by their own unit tests against
reference semantics); what this oracle independently checks is everything
around them: gap projection, enrichment, slotting, the pair self-join,
min-sample guards, the rollup/gap-fill grid, the fallback ladder, and the
prediction time shifts.

Float discipline: wherever the Spark pipeline stores a curve in a
DataFrame (array<struct<x: float, y: float>>, float32) before the next
stage reads it back, ``_store`` applies the same float32 round-trip so
both sides feed later stages identical numbers.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from ..curves.core import (
    Curve,
    average_curves,
    build_curve_set,
    curve_set_interpolate,
    make_curve,
    simplify,
    simplify_to_max_points,
)
from ..functions.time import DEFAULT_SLOT, TIME_SLOTS
from ..schemas import (
    EVENT_ARRIVAL,
    EVENT_DEPARTURE,
    PRECISION_FALLBACK_GENERAL,
    PRECISION_FALLBACK_SPECIFIC,
    PRECISION_GENERAL,
    PRECISION_SEMI_SPECIFIC,
    PRECISION_SPECIFIC,
    PRECISION_SUPER_GENERAL,
)
from .demo import records_rows, schedule_rows

VEHICLE_KEY = ["trip_id", "trip_start_date", "trip_start_time"]
MIN_PAIRS_FOR_CURVE_SET = 20
MIN_DATA_FOR_GENERAL_CURVE = 20
MIN_DATA_FOR_DEFAULT_CURVE = 10
DELAY_ROUND_STEP = 12
CURVE_DELAY_BOUND = 3000
ROUTE_TYPES = [0, 1, 2, 3, 4, 5, 6, 7]
SECTIONS = ["beginning", "middle", "end"]
SLOT_IDS = [s[0] for s in TIME_SLOTS]

REC_COLS = [
    "source", "route_id", "route_variant", "trip_id", "trip_start_date",
    "trip_start_time", "stop_sequence", "stop_id", "time_of_recording",
    "delay_arrival", "delay_departure", "schedule_file_name",
]

STAT_COLS = [
    "scope", "route_id", "route_variant", "start_stop_index", "end_stop_index",
    "stop_index", "route_type", "route_section", "time_slot_id", "event_type",
    "focus_delay", "curve", "precision_type", "sample_size",
]

# member-order sort used by the Spark rollup's _average (default_curves.py)
_MEMBER_SORT_COLS = [
    "route_type", "route_section", "time_slot_id", "event_type",
    "route_id", "route_variant",
]


def _store(curve: Curve) -> Curve:
    """Emulate the array<struct<float,float>> (float32) storage boundary."""
    return Curve(
        np.asarray(curve.xs, np.float32).astype(np.float64),
        np.asarray(curve.ys, np.float32).astype(np.float64),
    )


def _f32(v: float) -> float:
    return float(np.float32(v))


def _slot_id(ts: dt.datetime) -> int:
    wd, hr = ts.weekday(), ts.hour
    for sid, min_wd, max_wd, min_hr, max_hr in TIME_SLOTS:
        day = (min_wd <= wd <= max_wd) if min_wd <= max_wd else (wd >= min_wd or wd <= max_wd)
        hour = (min_hr <= hr < max_hr) if min_hr <= max_hr else (hr >= min_hr or hr < max_hr)
        if day and hour:
            return sid
    return DEFAULT_SLOT


def _route_section(stop_index: int, stop_count: int) -> str:
    size = min(5, int(stop_count / 3))
    if stop_index < size:
        return "beginning"
    if stop_count - stop_index <= size:
        return "end"
    return "middle"


def _service_dt(date: dt.date, seconds: int) -> dt.datetime:
    return dt.datetime(date.year, date.month, date.day) + dt.timedelta(seconds=int(seconds))


def _round_delay(d: int) -> float:
    sign = 1 if d >= 0 else -1
    return _f32(sign * (abs(int(d)) // DELAY_ROUND_STEP) * DELAY_ROUND_STEP)


def _records_df() -> pd.DataFrame:
    return pd.DataFrame(records_rows(), columns=REC_COLS)


def _stop_times_df() -> pd.DataFrame:
    st = pd.DataFrame(
        schedule_rows()["stop_times"],
        columns=["trip_id", "stop_sequence", "stop_id", "arrival_time", "departure_time"],
    ).sort_values(["trip_id", "stop_sequence"], ignore_index=True)
    st["stop_index"] = st.groupby("trip_id").cumcount()
    st["stop_count"] = st.groupby("trip_id")["stop_sequence"].transform("size")
    return st


def _routes_df() -> pd.DataFrame:
    return pd.DataFrame(
        schedule_rows()["routes"],
        columns=["route_id", "agency_id", "route_short_name", "route_type"],
    )


def _projected_records(rec: pd.DataFrame, st: pd.DataFrame) -> pd.DataFrame:
    """J6 gap projection (specific_curves.project_missing_delays): per
    vehicle, the grid of scheduled stops, unobserved stops carrying the
    NEXT observed stop's (arrival, departure, time_of_recording) together;
    stops after the last report dropped."""
    vehicles = rec[
        ["source", "route_id", "route_variant", "schedule_file_name", *VEHICLE_KEY]
    ].drop_duplicates()
    grid = vehicles.merge(st[["trip_id", "stop_sequence", "stop_id"]], on="trip_id")
    obs = rec[[*VEHICLE_KEY, "stop_sequence", "delay_arrival", "delay_departure",
               "time_of_recording"]].copy()
    obs["_observed"] = 1
    g = grid.merge(obs, on=[*VEHICLE_KEY, "stop_sequence"], how="left")
    g = g.sort_values([*VEHICLE_KEY, "stop_sequence"], ignore_index=True)
    g["_src"] = np.where(g["_observed"].notna(), g.index.to_numpy(dtype=float), np.nan)
    g["_src"] = g.groupby(VEHICLE_KEY, sort=False)["_src"].transform("bfill")
    keep = g["_src"].notna()
    src = g.loc[keep, "_src"].astype(int).to_numpy()
    out = g.loc[
        keep,
        ["source", "route_id", "route_variant", *VEHICLE_KEY,
         "stop_sequence", "stop_id", "schedule_file_name"],
    ].reset_index(drop=True)
    out["delay_arrival"] = g["delay_arrival"].to_numpy()[src]
    out["delay_departure"] = g["delay_departure"].to_numpy()[src]
    out["time_of_recording"] = g["time_of_recording"].to_numpy()[src]
    return out


def _enrich(records: pd.DataFrame, st: pd.DataFrame) -> pd.DataFrame:
    e = records.merge(
        st[["trip_id", "stop_sequence", "stop_index", "stop_count",
            "arrival_time", "departure_time"]],
        on=["trip_id", "stop_sequence"],
    )
    e["slot_arrival"] = [
        _slot_id(_service_dt(d, s)) for d, s in zip(e["trip_start_date"], e["arrival_time"])
    ]
    e["slot_departure"] = [
        _slot_id(_service_dt(d, s)) for d, s in zip(e["trip_start_date"], e["departure_time"])
    ]
    return e


def _specific_curve_sets(enriched: pd.DataFrame) -> list[dict]:
    """A7/J4 stop-pair curve sets (specific_curves.stop_pair_curve_sets)."""
    starts = enriched[enriched["delay_departure"].notna()][
        ["route_id", "route_variant", *VEHICLE_KEY, "stop_index",
         "delay_departure", "slot_arrival", "slot_departure"]
    ].rename(columns={
        "stop_index": "start_stop_index", "delay_departure": "d_start_raw",
        "slot_arrival": "s_slot_arr", "slot_departure": "s_slot_dep",
    })
    ends = enriched[
        [*VEHICLE_KEY, "stop_index", "delay_arrival", "delay_departure",
         "slot_arrival", "slot_departure"]
    ].rename(columns={
        "stop_index": "end_stop_index", "delay_arrival": "d_end_arr",
        "delay_departure": "d_end_dep", "slot_arrival": "e_slot_arr",
        "slot_departure": "e_slot_dep",
    })
    paired = starts.merge(ends, on=VEHICLE_KEY)
    paired = paired[paired["start_stop_index"] < paired["end_stop_index"]]

    t = CURVE_DELAY_BOUND
    frames = []
    for et, d_end, e_slot, s_slot in (
        (EVENT_ARRIVAL, "d_end_arr", "e_slot_arr", "s_slot_arr"),
        (EVENT_DEPARTURE, "d_end_dep", "e_slot_dep", "s_slot_dep"),
    ):
        p = paired[
            paired[d_end].notna()
            & (paired["d_start_raw"] > -t) & (paired["d_start_raw"] < t)
            & (paired[d_end] > -t) & (paired[d_end] < t)
        ].copy()
        p["event_type"] = et
        p["d_start"] = [_round_delay(v) for v in p["d_start_raw"]]
        p["d_end"] = [_round_delay(v) for v in p[d_end]]
        p["slot_start"] = p[s_slot]
        p["slot_end"] = p[e_slot]
        frames.append(p[["route_id", "route_variant", "start_stop_index",
                         "end_stop_index", "event_type", "d_start", "d_end",
                         "slot_start", "slot_end"]])
    pairs = pd.concat(frames, ignore_index=True)

    slotted = pairs[pairs["slot_start"] == pairs["slot_end"]].copy()
    slotted["time_slot_id"] = slotted["slot_start"]
    default_slot = pairs.copy()
    default_slot["time_slot_id"] = DEFAULT_SLOT
    all_pairs = pd.concat([slotted, default_slot], ignore_index=True)

    rows = []
    keys = ["route_id", "route_variant", "start_stop_index", "end_stop_index",
            "time_slot_id", "event_type"]
    for key, grp in all_pairs.groupby(keys, sort=False):
        pair_list = sorted(zip(grp["d_start"], grp["d_end"]))
        if len(pair_list) <= MIN_PAIRS_FOR_CURVE_SET:
            continue
        built = build_curve_set(pair_list)
        if built is None:
            continue
        curves, sample_size = built
        kd = dict(zip(keys, key))
        for focus, curve in curves:
            rows.append(
                {
                    **kd,
                    "focus_delay": _f32(focus),
                    "curve": _store(curve),
                    "sample_size": int(sample_size),
                }
            )
    return rows


def _general_curves(enriched: pd.DataFrame) -> list[dict]:
    """A8 per-stop ECDFs (specific_curves.general_delay_curves)."""
    frames = []
    for et, col in ((EVENT_ARRIVAL, "delay_arrival"), (EVENT_DEPARTURE, "delay_departure")):
        f = enriched[enriched[col].notna()][
            ["route_id", "route_variant", "stop_index", col]
        ].rename(columns={col: "delay"})
        f["event_type"] = et
        frames.append(f)
    stacked = pd.concat(frames, ignore_index=True)
    rows = []
    for key, grp in stacked.groupby(
        ["route_id", "route_variant", "stop_index", "event_type"], sort=False
    ):
        values = grp["delay"].to_numpy(dtype=float)
        if len(values) < MIN_DATA_FOR_GENERAL_CURVE:
            continue
        made = make_curve(values, None)
        if made is None:
            continue
        curve = _store(simplify(made[0], 0.01))
        rows.append(
            {
                "route_id": key[0], "route_variant": key[1],
                "stop_index": int(key[2]), "event_type": int(key[3]),
                "curve": curve, "sample_size": len(values),
            }
        )
    return rows


def _variant_section_curves(enriched: pd.DataFrame, routes: pd.DataFrame) -> pd.DataFrame:
    r = enriched.merge(routes[["route_id", "route_type"]], on="route_id")
    r["route_section"] = [
        _route_section(i, c) for i, c in zip(r["stop_index"], r["stop_count"])
    ]
    frames = []
    for et, col, slot_col in (
        (EVENT_ARRIVAL, "delay_arrival", "slot_arrival"),
        (EVENT_DEPARTURE, "delay_departure", "slot_departure"),
    ):
        f = r[r[col].notna()][
            ["route_type", "route_section", slot_col, "route_id", "route_variant", col]
        ].rename(columns={slot_col: "time_slot_id", col: "delay"})
        f["event_type"] = et
        frames.append(f)
    stacked = pd.concat(frames, ignore_index=True)
    rows = []
    for key, grp in stacked.groupby(
        ["route_type", "route_section", "time_slot_id", "event_type",
         "route_id", "route_variant"],
        sort=False,
    ):
        values = grp["delay"].to_numpy(dtype=float)
        if len(values) < MIN_DATA_FOR_DEFAULT_CURVE:
            continue
        made = make_curve(values, None)
        if made is None:
            continue
        rows.append(
            {
                "route_type": int(key[0]), "route_section": key[1],
                "time_slot_id": int(key[2]), "event_type": int(key[3]),
                "route_id": key[4], "route_variant": key[5],
                "curve": _store(simplify(made[0], 0.001)),
                "sample_size": len(values),
            }
        )
    return pd.DataFrame(rows)


def _average(members: pd.DataFrame, extra_simplify: float | None = None):
    members = members.sort_values(
        [c for c in _MEMBER_SORT_COLS if c in members.columns]
    )
    curves = []
    for c in members["curve"]:
        if c is None or len(c.xs) < 2:
            continue
        curves.append(simplify(c, extra_simplify) if extra_simplify else c)
    if not curves:
        return None
    merged = _store(simplify(average_curves(curves), 0.001))
    sample = int(members["sample_size"].mean())
    return merged, sample


def _default_statistics(enriched: pd.DataFrame, routes: pd.DataFrame) -> list[dict]:
    vc = _variant_section_curves(enriched, routes)
    level1: dict[tuple, tuple] = {}
    if len(vc):
        for key, grp in vc.groupby(
            ["route_type", "route_section", "time_slot_id", "event_type"], sort=False
        ):
            got = _average(grp)
            if got:
                level1[key] = got
        level2: dict[tuple, tuple] = {}
        for key, grp in vc.groupby(["route_type", "event_type"], sort=False):
            got = _average(grp)
            if got:
                level2[key] = got
        level3 = _average(vc, extra_simplify=0.01)
    else:
        level2, level3 = {}, None

    rows = []
    for rt in ROUTE_TYPES:
        for sec in SECTIONS:
            for slot in SLOT_IDS:
                for et in (EVENT_ARRIVAL, EVENT_DEPARTURE):
                    if (rt, sec, slot, et) in level1:
                        curve, n = level1[(rt, sec, slot, et)]
                        precision = PRECISION_GENERAL
                    elif (rt, et) in level2:
                        curve, n = level2[(rt, et)]
                        precision = PRECISION_FALLBACK_GENERAL
                    elif level3 is not None:
                        curve, n = level3
                        precision = PRECISION_SUPER_GENERAL
                    else:
                        continue
                    rows.append(
                        {
                            "route_type": rt, "route_section": sec,
                            "time_slot_id": slot, "event_type": et,
                            "curve": curve, "precision_type": precision,
                            "sample_size": n,
                        }
                    )
    return rows


def expected_statistics() -> pd.DataFrame:
    """The demo_statistics table (scopes specific / semi_specific /
    default), curves as Curve objects in the ``curve`` column."""
    rec = _records_df()
    st = _stop_times_df()
    routes = _routes_df()
    projected = _projected_records(rec, st)
    enriched_proj = _enrich(projected, st)
    enriched_raw = _enrich(rec, st)

    rows: list[dict] = []
    for r in _specific_curve_sets(enriched_proj):
        rows.append(
            {
                "scope": "specific", "route_id": r["route_id"],
                "route_variant": r["route_variant"],
                "start_stop_index": r["start_stop_index"],
                "end_stop_index": r["end_stop_index"], "stop_index": None,
                "route_type": None, "route_section": None,
                "time_slot_id": r["time_slot_id"], "event_type": r["event_type"],
                "focus_delay": r["focus_delay"], "curve": r["curve"],
                "precision_type": PRECISION_SPECIFIC, "sample_size": r["sample_size"],
            }
        )
    for r in _general_curves(enriched_proj):
        rows.append(
            {
                "scope": "semi_specific", "route_id": r["route_id"],
                "route_variant": r["route_variant"], "start_stop_index": None,
                "end_stop_index": None, "stop_index": r["stop_index"],
                "route_type": None, "route_section": None, "time_slot_id": None,
                "event_type": r["event_type"], "focus_delay": None,
                "curve": r["curve"], "precision_type": PRECISION_SEMI_SPECIFIC,
                "sample_size": r["sample_size"],
            }
        )
    for r in _default_statistics(enriched_raw, routes):
        rows.append(
            {
                "scope": "default", "route_id": None, "route_variant": None,
                "start_stop_index": None, "end_stop_index": None,
                "stop_index": None, "route_type": r["route_type"],
                "route_section": r["route_section"],
                "time_slot_id": r["time_slot_id"], "event_type": r["event_type"],
                "focus_delay": None, "curve": r["curve"],
                "precision_type": r["precision_type"],
                "sample_size": r["sample_size"],
            }
        )
    return pd.DataFrame(rows, columns=STAT_COLS)


def expected_gtfs_statistics() -> pd.DataFrame:
    """q_gtfs_statistics projection: one row per curve, curve → n_points."""
    stats = expected_statistics()
    out = stats.drop(columns=["curve"]).copy()
    out["n_points"] = [len(c.xs) for c in stats["curve"]]
    cols = ["scope", "route_id", "route_variant", "start_stop_index",
            "end_stop_index", "stop_index", "route_type", "route_section",
            "time_slot_id", "event_type", "focus_delay", "n_points",
            "precision_type", "sample_size"]
    return out[cols]


def expected_gtfs_statistics_wide(width: int = 12) -> pd.DataFrame:
    """q_gtfs_statistics_width's expected rows: the SAME single-node
    specific/semi_specific replica run on the WIDE fixture (one trip,
    ``width`` stops — sources/demo.py wide_schedule_rows/
    wide_records_rows), so the O(width²) stop-pair grid the reference
    brute-forces per route (src/analyser/specific_curves.rs:279-351) is
    hash-checked at a wider variant than the 16-stop demo bus."""
    from .demo import wide_records_rows, wide_schedule_rows

    rec = pd.DataFrame(wide_records_rows(width), columns=REC_COLS)
    st = pd.DataFrame(
        wide_schedule_rows(width)["stop_times"],
        columns=["trip_id", "stop_sequence", "stop_id", "arrival_time",
                 "departure_time"],
    ).sort_values(["trip_id", "stop_sequence"], ignore_index=True)
    st["stop_index"] = st.groupby("trip_id").cumcount()
    st["stop_count"] = st.groupby("trip_id")["stop_sequence"].transform("size")

    projected = _projected_records(rec, st)
    enriched = _enrich(projected, st)
    rows: list[dict] = []
    for r in _specific_curve_sets(enriched):
        rows.append(
            {
                "scope": "specific", "route_id": r["route_id"],
                "route_variant": r["route_variant"],
                "start_stop_index": r["start_stop_index"],
                "end_stop_index": r["end_stop_index"], "stop_index": None,
                "time_slot_id": r["time_slot_id"],
                "event_type": r["event_type"],
                "focus_delay": r["focus_delay"],
                "n_points": len(r["curve"].xs),
                "precision_type": PRECISION_SPECIFIC,
                "sample_size": r["sample_size"],
            }
        )
    for r in _general_curves(enriched):
        rows.append(
            {
                "scope": "semi_specific", "route_id": r["route_id"],
                "route_variant": r["route_variant"],
                "start_stop_index": None, "end_stop_index": None,
                "stop_index": r["stop_index"], "time_slot_id": None,
                "event_type": r["event_type"], "focus_delay": None,
                "n_points": len(r["curve"].xs),
                "precision_type": PRECISION_SEMI_SPECIFIC,
                "sample_size": r["sample_size"],
            }
        )
    cols = ["scope", "route_id", "route_variant", "start_stop_index",
            "end_stop_index", "stop_index", "time_slot_id", "event_type",
            "focus_delay", "n_points", "precision_type", "sample_size"]
    return pd.DataFrame(rows, columns=cols)


# --------------------------------------------------------------------------
# Realtime predictions (predict.py) — fallback ladder + time shift
# --------------------------------------------------------------------------


def _realtime_bases(rec: pd.DataFrame) -> pd.DataFrame:
    """T3/J11: latest observation with a departure delay per vehicle."""
    f = rec[rec["delay_departure"].notna()].copy()
    f = f.sort_values(
        [*VEHICLE_KEY, "time_of_recording", "stop_sequence"],
        ascending=[True, True, True, False, False],
    )
    first = f.groupby(VEHICLE_KEY, sort=False).head(1)
    return first[
        ["source", "route_id", "route_variant", *VEHICLE_KEY,
         "stop_sequence", "delay_departure", "schedule_file_name"]
    ].rename(columns={
        "stop_sequence": "basis_stop_sequence", "delay_departure": "initial_delay",
    })


def _stats_lookup(stats: pd.DataFrame):
    """Index the statistics table for the fallback ladder."""
    specific = [r for _, r in stats[stats["scope"] == "specific"].iterrows()]
    sets_any: dict[tuple, tuple] = {}
    sets_default: dict[tuple, tuple] = {}
    for r in specific:
        k6 = (r["route_id"], r["route_variant"], r["start_stop_index"],
              r["end_stop_index"], r["time_slot_id"], r["event_type"])
        entry = sets_any.setdefault(k6, ([], r["sample_size"]))
        entry[0].append((r["focus_delay"], r["curve"]))
        if r["time_slot_id"] == DEFAULT_SLOT:
            k5 = k6[:4] + (r["event_type"],)
            e2 = sets_default.setdefault(k5, ([], r["sample_size"]))
            e2[0].append((r["focus_delay"], r["curve"]))
    semi = {
        (r["route_id"], r["route_variant"], r["stop_index"], r["event_type"]):
            (r["curve"], r["sample_size"])
        for _, r in stats[stats["scope"] == "semi_specific"].iterrows()
    }
    dflt = {
        (r["route_type"], r["route_section"], r["time_slot_id"], r["event_type"]):
            (r["curve"], r["precision_type"], r["sample_size"])
        for _, r in stats[stats["scope"] == "default"].iterrows()
    }
    return sets_any, sets_default, semi, dflt


def _member_key(m):
    # Spark sorts struct(focus_delay, curve): focus first, then the
    # curve's (x, y) pairs lexicographically
    return (m[0], tuple(zip(m[1].xs, m[1].ys)))


def _realtime_predictions_full() -> list[dict]:
    """Full realtime prediction rows incl. the capped curve object."""
    rec = _records_df()
    st = _stop_times_df()
    routes = _routes_df()
    sets_any, sets_default, _semi, dflt = _stats_lookup(expected_statistics())

    bases = _realtime_bases(rec)
    basis_idx = bases.merge(
        st[["trip_id", "stop_sequence", "stop_index"]].rename(
            columns={"stop_sequence": "basis_stop_sequence",
                     "stop_index": "start_stop_index"}
        ),
        on=["trip_id", "basis_stop_sequence"],
    )
    targets = basis_idx.merge(
        st[["trip_id", "stop_sequence", "stop_id", "stop_index", "stop_count",
            "arrival_time", "departure_time"]].rename(
            columns={"stop_sequence": "target_stop_sequence",
                     "stop_id": "target_stop_id", "stop_index": "end_stop_index"}
        ),
        on="trip_id",
    )
    targets = targets[targets["end_stop_index"] > targets["start_stop_index"]]
    targets = targets.merge(routes[["route_id", "route_type"]], on="route_id")

    out_rows = []
    for _, row in targets.iterrows():
        for et, time_col in ((EVENT_ARRIVAL, "arrival_time"), (EVENT_DEPARTURE, "departure_time")):
            event_dt = _service_dt(row["trip_start_date"], row[time_col])
            slot = _slot_id(event_dt)
            section = _route_section(row["end_stop_index"], row["stop_count"])
            delay = float(row["initial_delay"])

            k6 = (row["route_id"], row["route_variant"], row["start_stop_index"],
                  row["end_stop_index"], slot, et)
            k5 = k6[:4] + (et,)

            def _interp(members, delay):
                return _store(simplify(
                    curve_set_interpolate(sorted(members, key=_member_key), delay),
                    0.001,
                ))

            # fallback ladder (predict.py): the semi_specific rung applies
            # only without a realtime basis, so it is never taken here
            if k6 in sets_any:
                members, n = sets_any[k6]
                curve, precision = _interp(members, delay), PRECISION_SPECIFIC
            elif k5 in sets_default:
                members, n = sets_default[k5]
                curve, precision = _interp(members, delay), PRECISION_FALLBACK_SPECIFIC
            elif (row["route_type"], section, slot, et) in dflt:
                curve, precision, n = dflt[(row["route_type"], section, slot, et)]
            else:
                continue
            capped = _store(simplify_to_max_points(curve, 30))
            sched = event_dt.replace(tzinfo=dt.timezone.utc).timestamp()
            out_rows.append(
                {
                    "source": row["source"],
                    "event_type": et,
                    "stop_id": row["target_stop_id"],
                    "stop_sequence": row["target_stop_sequence"],
                    "route_id": row["route_id"],
                    "trip_id": row["trip_id"],
                    "trip_start_date": str(row["trip_start_date"]),
                    "trip_start_time": row["trip_start_time"],
                    "prediction_min_us": int((sched + capped.min_x()) * 1_000_000),
                    "prediction_max_us": int((sched + capped.max_x()) * 1_000_000),
                    "precision_type": precision,
                    "origin_type": 1,
                    "sample_size": n,
                    "n_curve_points": len(capped.xs),
                    "_curve": capped,
                }
            )
    return out_rows


def expected_realtime_predictions() -> pd.DataFrame:
    """q_gtfs_predictions projection (origin Realtime)."""
    rows = _realtime_predictions_full()
    return pd.DataFrame([{k: v for k, v in r.items() if k != "_curve"} for r in rows])


def expected_departure_board() -> pd.DataFrame:
    """q_departure_board projection (monitor.departure_board semantics:
    F5 overlap, W2 realtime-over-schedule [all-realtime here], F9 last-stop
    filter, F6 quantile band, median extraction)."""
    import math

    rows = _realtime_predictions_full()
    st = _stop_times_df()
    max_seq = st.groupby("trip_id")["stop_sequence"].max().to_dict()
    stop_ids = {f"s{i}" for i in range(16)}
    utc = dt.timezone.utc
    wmin = dt.datetime(2024, 1, 1, 8, 0, tzinfo=utc)
    wmax = dt.datetime(2024, 1, 6, 10, 0, tzinfo=utc)
    wmin_us = int(wmin.timestamp() * 1_000_000)
    wmax_us = int(wmax.timestamp() * 1_000_000)
    wmin_s, wmax_s = wmin.timestamp(), wmax.timestamp()

    out = []
    for r in rows:
        if r["stop_id"] not in stop_ids:
            continue
        if not (r["prediction_min_us"] < wmax_us and r["prediction_max_us"] > wmin_us):
            continue
        if r["stop_sequence"] >= max_seq[r["trip_id"]]:
            continue
        c = r["_curve"]
        q05 = float(np.interp(0.05, c.ys, c.xs))
        q50 = float(np.interp(0.5, c.ys, c.xs))
        q95 = float(np.interp(0.95, c.ys, c.xs))
        # base = prediction_min cast to double seconds (µs / 1e6)
        base = r["prediction_min_us"] / 1_000_000.0
        if not (base + q05 < wmax_s and base + q95 > wmin_s):
            continue
        # Spark's timestamp_seconds(double) truncates toward zero at µs
        median_us = math.trunc((base + q50) * 1_000_000)
        out.append(
            {
                "stop_id": r["stop_id"],
                "stop_sequence": r["stop_sequence"],
                "event_type": r["event_type"],
                "trip_id": r["trip_id"],
                "trip_start_date": r["trip_start_date"],
                "trip_start_time": r["trip_start_time"],
                "precision_type": r["precision_type"],
                "origin_type": r["origin_type"],
                "median_time_us": median_us,
            }
        )
    return pd.DataFrame(out)


def expected_scheduled_predictions() -> pd.DataFrame:
    """q_scheduled_predictions projection: T6 schedule-origin predictions
    for window [2024-01-08 06:00, 2024-01-09 06:00), no realtime basis —
    ladder rungs semi_specific → default only (operators/scheduled.py)."""
    st = _stop_times_df()
    routes = _routes_df()
    sched_rows = schedule_rows()
    trips = pd.DataFrame(
        sched_rows["trips"],
        columns=["trip_id", "route_id", "service_id", "trip_headsign", "route_variant"],
    )
    calendar = pd.DataFrame(
        sched_rows["calendar"],
        columns=["service_id", "monday", "tuesday", "wednesday", "thursday",
                 "friday", "saturday", "sunday", "start_date", "end_date"],
    )
    _sa, _sd, semi, dflt = _stats_lookup(expected_statistics())

    window_begin = dt.datetime(2024, 1, 8, 6, 0, 0)
    window_end = dt.datetime(2024, 1, 9, 6, 0, 0)
    day_cols = ["monday", "tuesday", "wednesday", "thursday", "friday",
                "saturday", "sunday"]
    d0 = window_begin.date() - dt.timedelta(days=1)
    days = [(d0 + dt.timedelta(days=i)) for i in range((window_end.date() - d0).days + 1)]

    active = []
    for _, c in calendar.iterrows():
        for d in days:
            if c["start_date"] <= d <= c["end_date"] and bool(c[day_cols[d.weekday()]]):
                active.append((c["service_id"], d))
    first_dep = st.groupby("trip_id")["departure_time"].min().to_dict()

    out = []
    for _, t in trips.iterrows():
        rt = int(routes.set_index("route_id").loc[t["route_id"], "route_type"])
        for svc, day in active:
            if svc != t["service_id"]:
                continue
            start_time = int(first_dep[t["trip_id"]])
            for _, s in st[st["trip_id"] == t["trip_id"]].iterrows():
                for et, tcol in ((EVENT_ARRIVAL, "arrival_time"), (EVENT_DEPARTURE, "departure_time")):
                    event_dt = _service_dt(day, s[tcol])
                    if not (window_begin <= event_dt < window_end):
                        continue
                    slot = _slot_id(event_dt)
                    section = _route_section(s["stop_index"], s["stop_count"])
                    k_semi = (t["route_id"], t["route_variant"], s["stop_index"], et)
                    if k_semi in semi:
                        curve, n = semi[k_semi]
                        precision = PRECISION_SEMI_SPECIFIC
                    elif (rt, section, slot, et) in dflt:
                        curve, precision, n = dflt[(rt, section, slot, et)]
                    else:
                        continue
                    capped = _store(simplify_to_max_points(curve, 30))
                    sched = event_dt.replace(tzinfo=dt.timezone.utc).timestamp()
                    out.append(
                        {
                            "source": "schedule",
                            "event_type": et,
                            "stop_id": s["stop_id"],
                            "stop_sequence": s["stop_sequence"],
                            "route_id": t["route_id"],
                            "trip_id": t["trip_id"],
                            "trip_start_date": str(day),
                            "trip_start_time": start_time,
                            "prediction_min_us": int((sched + capped.min_x()) * 1_000_000),
                            "prediction_max_us": int((sched + capped.max_x()) * 1_000_000),
                            "precision_type": int(precision),
                            "origin_type": 2,
                            "sample_size": int(n),
                            "n_curve_points": len(capped.xs),
                        }
                    )
    return pd.DataFrame(out)


def _haversine_m(lat1, lon1, lat2, lon2) -> float:
    # mirrors functions/geo.haversine_m operation order (float64 throughout)
    import math

    rlat1, rlat2 = math.radians(lat1), math.radians(lat2)
    dlat = math.radians(lat2 - lat1) / 2.0
    dlon = math.radians(lon2 - lon1) / 2.0
    a = math.sin(dlat) ** 2 + math.cos(rlat1) * math.cos(rlat2) * math.sin(dlon) ** 2
    return 2.0 * 6371000.0 * math.asin(math.sqrt(a))


def expected_journey_transfers() -> pd.DataFrame:
    """q_journey_transfers: walk legs (≤400 m, directional, no self) ⊕
    synthetic arrival/departure curves → reach convolution + transfer
    probability (operators/journey.py transfer_chain)."""
    from ..curves.core import convolve_cdfs, transfer_probability, walk_time_curve

    sched = schedule_rows()
    stops = pd.DataFrame(
        sched["stops"], columns=["stop_id", "stop_name", "stop_lat", "stop_lon"]
    )
    st = pd.DataFrame(
        sched["stop_times"],
        columns=["trip_id", "stop_sequence", "stop_id", "arrival_time", "departure_time"],
    )

    legs = []
    for _, a in stops.iterrows():
        for _, b in stops.iterrows():
            if a["stop_id"] == b["stop_id"]:
                continue
            d = _haversine_m(a["stop_lat"], a["stop_lon"], b["stop_lat"], b["stop_lon"])
            if d <= 400.0:
                legs.append((a["stop_id"], b["stop_id"], d, _store(walk_time_curve(d))))

    def _syn(x0, x1):
        return _store(Curve([float(x0), float(x1)], [0.0, 1.0]))

    arrivals = [
        (r["trip_id"], r["stop_id"], _syn(r["arrival_time"] - 60, r["arrival_time"] + 120))
        for _, r in st.iterrows()
    ]
    departures = [
        (r["trip_id"], r["stop_id"], _syn(r["departure_time"], r["departure_time"] + 180))
        for _, r in st.iterrows()
    ]
    dep_by_stop: dict[str, list] = {}
    for trip, stop, curve in departures:
        dep_by_stop.setdefault(stop, []).append((trip, curve))

    out = []
    for arr_trip, from_stop, arr_curve in arrivals:
        for leg_from, to_stop, dist, walk in legs:
            if leg_from != from_stop:
                continue
            reach = _store(convolve_cdfs(arr_curve, walk))
            for dep_trip, dep_curve in dep_by_stop.get(to_stop, []):
                if dep_trip == arr_trip:
                    continue
                p = transfer_probability(reach, dep_curve)
                out.append(
                    {
                        "arr_trip": arr_trip,
                        "from_stop": from_stop,
                        "dep_trip": dep_trip,
                        "to_stop": to_stop,
                        "distance_m": round(dist, 3),
                        "transfer_probability": round(float(p), 6),
                    }
                )
    return pd.DataFrame(out).sort_values(
        ["arr_trip", "from_stop", "dep_trip", "to_stop"], ignore_index=True
    )


def expected_journey_chain() -> pd.DataFrame:
    """q_journey_chain: the 3-leg Stop→Trip→Stop→Walk→Stop→Trip→Stop
    accumulation (operators/journey.py journey_chain) re-derived with
    explicit loops; curve interiors shared with the engine
    (golden-pinned), orchestration independent."""
    from ..curves.core import convolve_cdfs, transfer_probability, walk_time_curve

    sched = schedule_rows()
    stops = pd.DataFrame(
        sched["stops"], columns=["stop_id", "stop_name", "stop_lat", "stop_lon"]
    )
    st = pd.DataFrame(
        sched["stop_times"],
        columns=["trip_id", "stop_sequence", "stop_id", "arrival_time", "departure_time"],
    )

    def _syn(x0, x1):
        return _store(Curve([float(x0), float(x1)], [0.0, 1.0]))

    out = []
    for trip1, g in st.groupby("trip_id"):
        g = g.sort_values("stop_sequence")
        first, last = g.iloc[0], g.iloc[-1]
        start = _syn(first["departure_time"] - 150, first["departure_time"] - 90)
        dep1 = _syn(first["departure_time"], first["departure_time"] + 180)
        prob1 = transfer_probability(start, dep1)
        arr1 = _syn(last["arrival_time"] - 60, last["arrival_time"] + 120)
        b = stops[stops["stop_id"] == last["stop_id"]].iloc[0]
        for _, c in stops.iterrows():
            if c["stop_id"] == last["stop_id"]:
                continue
            d = _haversine_m(
                b["stop_lat"], b["stop_lon"], c["stop_lat"], c["stop_lon"]
            )
            if d > 400.0:
                continue
            walk = _store(walk_time_curve(d))
            reach = _store(convolve_cdfs(arr1, walk))
            b2s = st[(st["stop_id"] == c["stop_id"]) & (st["trip_id"] != trip1)]
            for _, b2 in b2s.iterrows():
                dep2 = _syn(b2["departure_time"], b2["departure_time"] + 180)
                prob = prob1 * transfer_probability(reach, dep2)
                down = st[
                    (st["trip_id"] == b2["trip_id"])
                    & (st["stop_sequence"] > b2["stop_sequence"])
                ]
                for _, a2 in down.iterrows():
                    arr2 = _syn(a2["arrival_time"] - 60, a2["arrival_time"] + 120)
                    out.append(
                        {
                            "trip1": trip1,
                            "board_stop": first["stop_id"],
                            "alight1_stop": last["stop_id"],
                            "walk_stop": c["stop_id"],
                            "trip2": b2["trip_id"],
                            "final_stop": a2["stop_id"],
                            "walk_m": round(float(d), 3),
                            "journey_probability": round(float(prob), 6),
                            "final_arrival_median": round(
                                float(arr2.x_at_y(0.5)), 3
                            ),
                        }
                    )
    return pd.DataFrame(out).sort_values(
        ["trip1", "walk_stop", "trip2", "final_stop"], ignore_index=True
    )


def corpus_fingerprint(ids, vecs) -> int:
    """Integer fingerprint of an embeddings table, computable identically
    in SQL: sum((vec_id+1) * floor(first_component * 1e6)).  float32
    components promote to float64 exactly in both engines, so the floor
    is deterministic and the arithmetic all-integer afterwards."""
    import math

    return sum(
        (int(vid) + 1) * int(math.floor(float(v[0]) * 1000000.0))
        for vid, v in zip(ids, vecs)
    )


CORPUS_FINGERPRINT_SQL = (
    "(SELECT CAST(sum((vec_id + 1) * CAST(floor(CAST(embedding[1] AS DOUBLE)"
    " * 1000000) AS BIGINT)) AS BIGINT) FROM embeddings)"
)


def expected_lsh_topk(sf_dir: str, k: int = 5, n_planes: int = 8, n_tables: int = 4) -> pd.DataFrame:
    """Bit-exact single-node replica of operators/similarity.lsh_topk for
    the catalog query (queries = vec_id < 5): same LCG hyperplanes, and
    dot products as float64 left-folds matching the JVM aggregate()."""
    import math

    import pyarrow.parquet as pq

    from ..operators.similarity import _hyperplanes

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    ids = [int(i) for i in t["vec_id"]]
    vecs = [[float(x) for x in v] for v in t["embedding"]]
    fp = corpus_fingerprint(ids, vecs)

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    buckets = []
    for ti in range(n_tables):
        planes = _hyperplanes(len(vecs[0]), n_planes, seed=7 + ti)
        bt = {}
        for i, v in zip(ids, vecs):
            b = 0
            for pi, p in enumerate(planes):
                if fold_dot(v, p) >= 0:
                    b |= 1 << pi
            bt[i] = b
        buckets.append(bt)
    norms = {i: math.sqrt(fold_dot(v, v)) for i, v in zip(ids, vecs)}
    vec_by_id = dict(zip(ids, vecs))

    out = []
    for q in (i for i in ids if i < 5):
        cands = set()
        for bt in buckets:
            bq = bt[q]
            cands |= {i for i in ids if i != q and bt[i] == bq}
        scored = sorted(
            (
                (q, c, fold_dot(vec_by_id[q], vec_by_id[c]) / (norms[q] * norms[c]))
                for c in cands
            ),
            key=lambda r: (-r[2], r[1]),
        )
        for rank, (qq, cc, cos) in enumerate(scored[:k], 1):
            out.append(
                {
                    "corpus_fp": fp,
                    "query_id": qq,
                    "neighbor_id": cc,
                    "cosine": cos,
                    "rank": rank,
                }
            )
    return pd.DataFrame(out)


def expected_ivf_topk(
    sf_dir: str, k_codebook: int = 8, iterations: int = 2, k: int = 5, n_probe: int = 3
) -> pd.DataFrame:
    """Bit-exact single-node replica of operators/similarity.ivf_topk for
    the catalog query: same numpy codebook (kmeans_codebook is shared and
    deterministic), JVM-fold dot products, array_sort/reverse probe
    order, and BigDecimal HALF_UP rounding."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow.parquet as pq

    from ..functions.xxh import xxhash64_long
    from ..operators.similarity import kmeans_codebook

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    ids = [int(i) for i in t["vec_id"]]
    vecs = [[float(x) for x in v] for v in t["embedding"]]
    fp = corpus_fingerprint(ids, vecs)
    # content-independent sample order, replicating the engine's
    # orderBy(xxhash64(vec_id), vec_id) bit-for-bit via the pure-Python
    # hash (functions/xxh.py) — see train_centroids' hazard note
    order = sorted(range(len(ids)), key=lambda i: (xxhash64_long(ids[i]), ids[i]))
    sample = [vecs[i] for i in order[:4096]]
    cents = np.asarray(kmeans_codebook(sample, k_codebook, iterations), dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    cent_lists = [[float(v) for v in c] for c in cents]

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    norms = {i: math.sqrt(fold_dot(v, v)) for i, v in zip(ids, vecs)}

    def probes(v, nid, n):
        scored = sorted(
            ((fold_dot(v, c) / norms[nid], ci) for ci, c in enumerate(cent_lists))
        )
        return [ci for _s, ci in reversed(scored)][:n]

    corpus_list: dict[int, list[int]] = {}
    for i, v in zip(ids, vecs):
        corpus_list.setdefault(probes(v, i, 1)[0], []).append(i)

    vec_by_id = dict(zip(ids, vecs))
    out = []
    for q in (i for i in ids if i < 5):
        cands = set()
        for ci in probes(vec_by_id[q], q, n_probe):
            cands |= {c for c in corpus_list.get(ci, []) if c != q}
        scored = sorted(
            (
                (q, c, fold_dot(vec_by_id[q], vec_by_id[c]) / (norms[q] * norms[c]))
                for c in cands
            ),
            key=lambda r: (-r[2], r[1]),
        )
        for rank, (qq, cc, cos) in enumerate(scored[:k], 1):
            rounded = float(
                Decimal(cos).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
            )
            out.append(
                {
                    "corpus_fp": fp,
                    "query_id": qq,
                    "neighbor_id": cc,
                    "cosine": rounded,
                    "rank": rank,
                }
            )
    return pd.DataFrame(out)


def expected_ivfpq_topk(
    sf_dir: str,
    k_codebook: int = 8,
    iterations: int = 2,
    k: int = 5,
    n_probe: int = 3,
    m_sub: int = 8,
    ksub: int = 8,
) -> pd.DataFrame:
    """Bit-exact single-node replica of operators/similarity.ivfpq_topk:
    shared coarse + PQ codebook trainers (kmeans_codebook /
    pq_train_codebooks are deterministic numpy used verbatim by both
    sides), then every per-row float op replayed in the engine's exact
    left-fold order — subspace d2 folds with (d2, code) tie order, the
    (m, d)-ordered ADC fold, the m-ordered norm² fold, and BigDecimal
    HALF_UP rounding."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow.parquet as pq

    from ..functions.xxh import xxhash64_long
    from ..operators.similarity import (
        fold_dot_py,
        kmeans_codebook,
        pq_train_codebooks,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    ids = [int(i) for i in t["vec_id"]]
    vecs = [[float(x) for x in v] for v in t["embedding"]]
    fp = corpus_fingerprint(ids, vecs)
    if not ids:
        return pd.DataFrame(
            columns=["corpus_fp", "query_id", "neighbor_id", "cosine", "rank"]
        )
    # content-independent sample order, replicating the engine's
    # orderBy(xxhash64(vec_id), vec_id) bit-for-bit via the pure-Python
    # hash (functions/xxh.py) — see train_centroids' hazard note
    order = sorted(range(len(ids)), key=lambda i: (xxhash64_long(ids[i]), ids[i]))
    sample = [vecs[i] for i in order[:4096]]
    cents = np.asarray(
        kmeans_codebook(sample, k_codebook, iterations), dtype=np.float64
    )
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    cent_lists = [[float(v) for v in c] for c in cents]
    books = pq_train_codebooks(sample, m_sub, ksub, iterations)
    sd = len(books[0][0])
    norm2 = [[fold_dot_py(c, c) for c in book] for book in books]

    norms = {i: math.sqrt(fold_dot_py(v, v)) for i, v in zip(ids, vecs)}

    def probes(v, nid, n):
        scored = sorted(
            ((fold_dot_py(v, c) / norms[nid], ci) for ci, c in enumerate(cent_lists))
        )
        return [ci for _s, ci in reversed(scored)][:n]

    def encode(v):
        codes = []
        for m, book in enumerate(books):
            best = []
            for ci, c in enumerate(book):
                acc = 0.0
                for d, cv in enumerate(c):
                    diff = float(v[m * sd + d]) - float(cv)
                    acc = acc + diff * diff
                best.append((acc, ci))
            codes.append(sorted(best)[0][1])
        return codes

    corpus_list: dict[int, list[int]] = {}
    codes_by_id: dict[int, list[int]] = {}
    for i, v in zip(ids, vecs):
        corpus_list.setdefault(probes(v, i, 1)[0], []).append(i)
        codes_by_id[i] = encode(v)

    def adc_cosine(q, codes):
        # per-subspace partial dot then subspace-ordered sum — the same
        # float grouping as the engine's per-m zip_with/aggregate folds
        adc = 0.0
        for m, book in enumerate(books):
            code = codes[m]
            pm = 0.0
            for d in range(sd):
                pm = pm + float(q[m * sd + d]) * float(book[code][d])
            adc = adc + pm
        n2 = 0.0
        for m in range(len(books)):
            n2 = n2 + norm2[m][codes[m]]
        return adc / (math.sqrt(fold_dot_py(q, q)) * math.sqrt(n2))

    vec_by_id = dict(zip(ids, vecs))
    out = []
    for q in (i for i in ids if i < 5):
        cands = set()
        for ci in probes(vec_by_id[q], q, n_probe):
            cands |= {c for c in corpus_list.get(ci, []) if c != q}
        scored = sorted(
            ((q, c, adc_cosine(vec_by_id[q], codes_by_id[c])) for c in cands),
            key=lambda r: (-r[2], r[1]),
        )
        for rank, (qq, cc, cos) in enumerate(scored[:k], 1):
            rounded = float(
                Decimal(cos).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
            )
            out.append(
                {
                    "corpus_fp": fp,
                    "query_id": qq,
                    "neighbor_id": cc,
                    "cosine": rounded,
                    "rank": rank,
                }
            )
    return pd.DataFrame(out)


def merge_word_py(syms, a: str, b: str):
    """Pure-Python twin of operators/bpe.merge_pair_expr's fold: replace
    non-overlapping (a, b) left-to-right."""
    out, pend = [], None
    for x in syms:
        if pend == a and x == b:
            out.append(a + b)
            pend = None
        else:
            if pend is not None:
                out.append(pend)
            pend = x
    if pend is not None:
        out.append(pend)
    return out


def expected_bpe_merges(sf_dir: str, rounds: int = 6) -> pd.DataFrame:
    """Independent single-node replica of the distributed BPE trainer:
    word counts via Counter, overlapping adjacent-pair counts weighted
    by word frequency, argmax with (-freq, lhs, rhs) tie order, greedy
    left-to-right merge.  Keyed by the documents fingerprint
    sum((doc_id+1) * length(text)) so each SF selects its own rows."""
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet").to_pydict()
    fp = 0
    wc: Counter = Counter()
    for did, text in zip(t["doc_id"], t["text"]):
        text = str(text)
        fp += (int(did) + 1) * len(text)
        for w in re.split(r"\s+", text.lower().strip()):
            if w:
                wc[w] += 1
    syms = {w: list(w) for w in wc}
    out = []
    for r in range(1, rounds + 1):
        pc: Counter = Counter()
        for w, n in wc.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += n
        if not pc:
            break
        (a, b), freq = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        out.append(
            {"corpus_fp": fp, "round": r, "lhs": a, "rhs": b, "freq": freq}
        )
        for w in syms:
            syms[w] = merge_word_py(syms[w], a, b)
    return pd.DataFrame(
        out, columns=["corpus_fp", "round", "lhs", "rhs", "freq"]
    )


def expected_bpe_tokens(
    sf_dir: str, rounds: int = 6, k: int = 20
) -> pd.DataFrame:
    """Replica of train-then-apply: after the ``rounds`` merges of
    expected_bpe_merges, count token occurrences weighted by word
    frequency and keep the top ``k`` by (count desc, token asc)."""
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet").to_pydict()
    fp = 0
    wc: Counter = Counter()
    for did, text in zip(t["doc_id"], t["text"]):
        text = str(text)
        fp += (int(did) + 1) * len(text)
        for w in re.split(r"\s+", text.lower().strip()):
            if w:
                wc[w] += 1
    syms = {w: list(w) for w in wc}
    for _r in range(1, rounds + 1):
        pc: Counter = Counter()
        for w, n in wc.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += n
        if not pc:
            break
        (a, b), _freq = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        for w in syms:
            syms[w] = merge_word_py(syms[w], a, b)
    tok: Counter = Counter()
    for w, n in wc.items():
        for s in syms[w]:
            tok[s] += n
    top = sorted(tok.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    out = [
        {"corpus_fp": fp, "token": s, "cnt": c, "rank": i}
        for i, (s, c) in enumerate(top, 1)
    ]
    return pd.DataFrame(out, columns=["corpus_fp", "token", "cnt", "rank"])


def _java_mod(x: int, m: int) -> int:
    """Java's % (remainder truncates toward zero; negative for negative x)."""
    r = abs(x) % m
    return -r if x < 0 else r


def _doc_tokens_fp(sf_dir: str):
    """(fingerprint, [(doc_id, tokens)]) shared by the xxhash replicas;
    tokenization mirrors dedup.tokens(): split(lower(trim(text)), \\s+)."""
    import re

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet").to_pydict()
    fp, docs = 0, []
    for did, text in zip(t["doc_id"], t["text"]):
        text = str(text)
        fp += (int(did) + 1) * len(text)
        docs.append((int(did), re.split(r"\s+", text.strip().lower())))
    return fp, docs


def expected_minhash_xxhash(
    sf_dir: str,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> pd.DataFrame:
    """Independent single-node replica of
    minhash_near_duplicates(base_hash='xxhash64'): pure-Python xxHash64
    (functions/xxh.py, validated against Spark bit-for-bit) + numpy
    affine permutations, banding, candidate join, exact-Jaccard verify.
    Keyed by the documents fingerprint like the other per-SF expecteds."""
    from ..functions.xxh import spark_abs_xxhash64
    from ..operators.dedup import MERSENNE_P, _hash_family

    fp, docs = _doc_tokens_fp(sf_dir)
    fam = np.asarray(_hash_family(num_hashes), dtype=np.int64)  # (H, 2)
    rows = num_hashes // num_bands
    hcache: dict[str, int] = {}

    def h_of(s: str) -> int:
        v = hcache.get(s)
        if v is None:
            v = _java_mod(spark_abs_xxhash64(s), MERSENNE_P)
            hcache[s] = v
        return v

    sigs: dict[int, np.ndarray] = {}
    shingle_sets: dict[int, frozenset] = {}
    for did, toks in docs:
        if len(toks) < shingle_k:
            sh = {" ".join(toks)}
        else:
            sh = {
                " ".join(toks[i : i + shingle_k])
                for i in range(len(toks) - shingle_k + 1)
            }
        shingle_sets[did] = frozenset(sh)
        hv = np.asarray([h_of(s) for s in sh], dtype=np.int64)  # (S,)
        # (S, H): h*a + b mod P — h, a < 2^31 so products stay in int64
        perms = (hv[:, None] * fam[:, 0][None, :] + fam[:, 1][None, :]) % MERSENNE_P
        sigs[did] = perms.min(axis=0)

    buckets: dict[tuple, list[int]] = {}
    for did, sig in sigs.items():
        for b in range(num_bands):
            key = (b, tuple(int(v) for v in sig[b * rows : (b + 1) * rows]))
            buckets.setdefault(key, []).append(did)
    cand = set()
    for members in buckets.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                cand.add((members[i], members[j]))

    out = []
    for id_a, id_b in sorted(cand):
        sa, sb = shingle_sets[id_a], shingle_sets[id_b]
        jac = len(sa & sb) / len(sa | sb)
        if jac >= threshold:
            out.append(
                {"corpus_fp": fp, "id_a": id_a, "id_b": id_b, "jaccard": jac}
            )
    return pd.DataFrame(
        out, columns=["corpus_fp", "id_a", "id_b", "jaccard"]
    ).astype({"corpus_fp": "int64", "id_a": "int64", "id_b": "int64"})


def expected_simhash_xxhash(sf_dir: str, max_hamming: int = 3) -> pd.DataFrame:
    """Independent single-node replica of
    simhash_near_duplicates(base_hash='xxhash64'): signed xxHash64 per
    token occurrence, per-bit ±1 votes (numpy), 4×16-bit chunk
    pigeonhole, exact popcount."""
    from collections import Counter

    from ..functions.xxh import xxhash64

    fp, docs = _doc_tokens_fp(sf_dir)
    bit_idx = np.arange(64, dtype=np.uint64)
    hcache: dict[str, int] = {}
    sigs: dict[int, int] = {}
    for did, toks in docs:
        counts = Counter(toks)
        votes = np.zeros(64, dtype=np.int64)
        for tok, n in counts.items():
            v = hcache.get(tok)
            if v is None:
                v = xxhash64(tok.encode("utf-8")) & ((1 << 64) - 1)
                hcache[tok] = v
            bits = (np.uint64(v) >> bit_idx) & np.uint64(1)
            votes += n * (2 * bits.astype(np.int64) - 1)
        u = int(((votes > 0).astype(np.uint64) << bit_idx).sum(dtype=np.uint64))
        sigs[did] = u

    buckets: dict[tuple, list[int]] = {}
    for did, u in sigs.items():
        for c in range(4):
            buckets.setdefault((c, (u >> (16 * c)) & 0xFFFF), []).append(did)
    cand = set()
    for members in buckets.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                cand.add((members[i], members[j]))

    out = []
    for id_a, id_b in sorted(cand):
        ham = bin(sigs[id_a] ^ sigs[id_b]).count("1")
        if ham <= max_hamming:
            out.append(
                {"corpus_fp": fp, "id_a": id_a, "id_b": id_b, "hamming": ham}
            )
    return pd.DataFrame(
        out, columns=["corpus_fp", "id_a", "id_b", "hamming"]
    ).astype(
        {"corpus_fp": "int64", "id_a": "int64", "id_b": "int64"}
    )


def py_winnow_rolling(text: str, kgram: int = 8, window: int = 16) -> set:
    """Pure-Python replica of the rolling Karp-Rabin winnowing family
    (operators/dedup.py winnow_fingerprints_rolling): plain Horner loop
    mod 2^64 — deliberately a DIFFERENT algorithm shape than the
    engine's inverse-power vectorization, so an algebra bug in either
    side surfaces as a parity break.  Returns signed-int64 fingerprints.
    """
    # the family's base, written out rather than imported from the
    # engine: if the engine's KR_BASE ever drifted, parity must BREAK
    KR_BASE = 1_000_003
    mask = (1 << 64) - 1
    norm = text.strip(" ").lower()
    cps = [ord(c) for c in norm]
    m = len(cps)
    if m == 0:
        hs = [0]
    else:
        k = min(kgram, m)
        n_out = m - k + 1 if m >= kgram else 1
        hs = []
        for i in range(n_out):
            h = 0
            for j in range(k):
                h = (h * KR_BASE + cps[i + j]) & mask
            hs.append(h)
    if len(hs) <= window:
        mins = {min(hs)}
    else:
        mins = {
            min(hs[j : j + window]) for j in range(len(hs) - window + 1)
        }
    return {v - (1 << 64) if v >= (1 << 63) else v for v in mins}


def expected_winnow_rolling(
    sf_dir: str,
    kgram: int = 8,
    window: int = 16,
    min_shared: int = 2,
    max_fp_df: int = 20,
) -> pd.DataFrame:
    """Independent single-node replica of
    winnow_passage_overlap(base_hash='rolling'): the Horner-loop
    rolling digests (py_winnow_rolling), fp-df cap, shared-fp pair
    scoring with resemblance = |A∩B| / |A∪B| — the same pair stage as
    expected_winnow_xxhash over the rolling fingerprint family."""
    import math

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet").to_pydict()
    fp = 0
    fps_by_doc: dict[int, frozenset] = {}
    for did, text in zip(t["doc_id"], t["text"]):
        text = str(text)
        fp += (int(did) + 1) * len(text)
        fps_by_doc[int(did)] = frozenset(
            py_winnow_rolling(text, kgram, window)
        )
    index: dict[int, list[int]] = {}
    for did, mins in fps_by_doc.items():
        for h in mins:
            index.setdefault(h, []).append(did)
    shared: dict[tuple[int, int], int] = {}
    sizes: dict[int, int] = dict.fromkeys(fps_by_doc, 0)
    for h, members in index.items():
        if len(members) > max_fp_df:
            continue
        for did in members:
            sizes[did] += 1
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                key = (members[i], members[j])
                shared[key] = shared.get(key, 0) + 1
    out = []
    for (id_a, id_b), ni in sorted(shared.items()):
        if ni < min_shared:
            continue
        res = ni / (sizes[id_a] + sizes[id_b] - ni)
        out.append(
            {
                "corpus_fp": fp,
                "id_a": id_a,
                "id_b": id_b,
                "shared_fps": ni,
                "resemblance": math.floor(res * 1e6 + 0.5) / 1e6,
            }
        )
    return pd.DataFrame(
        out,
        columns=["corpus_fp", "id_a", "id_b", "shared_fps", "resemblance"],
    ).astype(
        {
            "corpus_fp": "int64",
            "id_a": "int64",
            "id_b": "int64",
            "shared_fps": "int64",
            "resemblance": "float64",
        }
    )


def expected_winnow_xxhash(
    sf_dir: str,
    kgram: int = 8,
    window: int = 16,
    min_shared: int = 2,
    max_fp_df: int = 20,
) -> pd.DataFrame:
    """Independent single-node replica of
    winnow_passage_overlap(base_hash='xxhash64'): signed xxHash64 per
    character k-gram of lower(trim(text)), per-window minima
    (winnowing, SIGMOD 2003), distinct per doc, fp-df cap, shared-fp
    pair scoring with resemblance = |A∩B| / |A∪B|.  Mirrors the Spark
    plan exactly, including the short-text branch (a single
    substring(t, 1, kgram) — possibly shorter than kgram — when
    len < kgram) and HALF_UP rounding of resemblance to 6 digits."""
    import math

    import pyarrow.parquet as pq

    from ..functions.xxh import xxhash64

    t = pq.read_table(f"{sf_dir}/documents.parquet").to_pydict()
    fp = 0
    fps_by_doc: dict[int, frozenset] = {}
    hcache: dict[str, int] = {}

    def h_of(g: str) -> int:
        v = hcache.get(g)
        if v is None:
            v = xxhash64(g.encode("utf-8"))
            hcache[g] = v
        return v

    for did, text in zip(t["doc_id"], t["text"]):
        text = str(text)
        fp += (int(did) + 1) * len(text)
        # strip(' ') not strip(): Spark's F.trim removes only ASCII
        # spaces — Python's bare strip() also eats tabs/newlines, which
        # changes character k-gram content on docs with non-space edge
        # whitespace and would diverge replica from engine
        norm = text.strip(" ").lower()
        m = len(norm)
        if m - kgram + 1 >= 1:
            grams = [norm[i : i + kgram] for i in range(m - kgram + 1)]
        else:
            grams = [norm[:kgram]]  # substring(t, 1, kgram) on short text
        hs = [h_of(g) for g in grams]
        if len(hs) <= window:
            mins = {min(hs)}
        else:
            mins = {
                min(hs[j : j + window]) for j in range(len(hs) - window + 1)
            }
        fps_by_doc[int(did)] = frozenset(mins)

    # inverted index + df cap (boilerplate fingerprints drop), sizes
    # AFTER the cap — identical to the Spark operator's semantics
    index: dict[int, list[int]] = {}
    for did, mins in fps_by_doc.items():
        for h in mins:
            index.setdefault(h, []).append(did)
    shared: dict[tuple[int, int], int] = {}
    sizes: dict[int, int] = dict.fromkeys(fps_by_doc, 0)
    for h, members in index.items():
        if len(members) > max_fp_df:
            continue
        for did in members:
            sizes[did] += 1
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                key = (members[i], members[j])
                shared[key] = shared.get(key, 0) + 1

    out = []
    for (id_a, id_b), ni in sorted(shared.items()):
        if ni < min_shared:
            continue
        res = ni / (sizes[id_a] + sizes[id_b] - ni)
        out.append(
            {
                "corpus_fp": fp,
                "id_a": id_a,
                "id_b": id_b,
                "shared_fps": ni,
                # Spark F.round = HALF_UP on the double
                "resemblance": math.floor(res * 1e6 + 0.5) / 1e6,
            }
        )
    return pd.DataFrame(
        out,
        columns=["corpus_fp", "id_a", "id_b", "shared_fps", "resemblance"],
    ).astype(
        {
            "corpus_fp": "int64",
            "id_a": "int64",
            "id_b": "int64",
            "shared_fps": "int64",
            "resemblance": "float64",
        }
    )


def expected_heat_strip_render(sf_dir: str) -> pd.DataFrame:
    """Differential oracle for the PNG packaging tail
    (q_heat_strip_render): pixel rows come from the INDEPENDENT DuckDB
    pixel twin (the heat_strip_pixels oracle SQL executed in-process
    over the same events parquet), then a spec-based PNG writer —
    written here from the public PNG layout, separate from
    operators/render.py — packs the 1×W RGBA strip and the data URL.
    zlib level 9 matches the engine's fixed compression level; zlib
    itself is the same CPython module on both sides (deterministic).
    Keyed by an events-table fingerprint."""
    import base64
    import struct
    import zlib

    import duckdb

    from .. import queries as Q  # late import: queries.py is loaded by build time

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    px = con.execute(Q.REGISTRY["heat_strip_pixels"].oracle).df()
    fp = int(
        con.execute(
            "SELECT CAST(sum(event_id) + count(*) AS BIGINT) FROM events"
        ).fetchone()[0]
    )

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    out = []
    for et, g in px.sort_values(["event_type", "px"]).groupby(
        "event_type", sort=True
    ):
        raw = b"".join(
            bytes((int(r), int(gg), int(b), 255))
            for r, gg, b in zip(g["r"], g["g"], g["b"])
        )
        w = len(g)
        ihdr = struct.pack(">IIBBBBB", w, 1, 8, 6, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" + raw, 9))
            + chunk(b"IEND", b"")
        )
        url = "data:image/png;base64," + base64.b64encode(png).decode("ascii")
        out.append(
            {
                "corpus_fp": fp,
                "event_type": et,
                "url_len": len(url),
                "url_prefix": url[:22],
            }
        )
    return pd.DataFrame(
        out, columns=["corpus_fp", "event_type", "url_len", "url_prefix"]
    ).astype({"corpus_fp": "int64", "url_len": "int64"})


def _pca_exact_moments(vecs) -> tuple[int, list[int], dict]:
    """Exact fixed-point sufficient statistics for the PCA replica —
    deliberately a DIFFERENT accumulation shape than the engine kernel
    (operators/pca.second_moment_partials reduces per Arrow batch with
    an int64 matmul; here 256-row numpy chunks feed an einsum whose
    partials accumulate as arbitrary-precision Python ints).  Because
    the arithmetic is all-integer, both shapes MUST produce identical
    numbers — any drift is a kernel bug, not float noise."""
    import numpy as np

    m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
    vq = np.floor(m * 4096.0 + 0.5).astype(np.int64)
    d = vq.shape[1]
    gram_tot = [[0] * d for _ in range(d)]
    lin_tot = [0] * d
    for s in range(0, len(vq), 256):
        c = vq[s : s + 256]
        g = np.einsum("ri,rj->ij", c, c)
        ln = c.sum(axis=0, dtype=np.int64)
        for i in range(d):
            lin_tot[i] += int(ln[i])
            gi, ti = g[i], gram_tot[i]
            for j in range(i, d):
                ti[j] += int(gi[j])
    gram = {(i, j): gram_tot[i][j] for i in range(d) for j in range(i, d)}
    return len(vq), lin_tot, gram


def _pca_fit_replica(sf_dir: str):
    import pyarrow.parquet as pq

    from ..operators.pca import fit_from_moments

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    ids = [int(i) for i in t["vec_id"]]
    vecs = [[float(x) for x in v] for v in t["embedding"]]
    fp = corpus_fingerprint(ids, vecs)
    n, sums, gram = _pca_exact_moments(vecs)
    # fit_from_moments is SHARED with the engine (the _hyperplanes
    # convention): the integers above are what differential testing
    # covers; the documented covariance expression + numpy eigh on a
    # d x d matrix is one deterministic code path for both sides.
    return fp, ids, vecs, fit_from_moments(n, sums, gram)


def expected_embedding_pca(sf_dir: str, k: int = 8) -> pd.DataFrame:
    """Single-node replica of operators/pca.pca_project over the fit:
    the per-row projection is re-derived in pure Python (quantize,
    int dot, one float subtraction, one exact power-of-two scale) —
    mirroring the JVM expression op for op."""
    import math

    fp, ids, vecs, model = _pca_fit_replica(sf_dir)
    out = []
    for vid, v in zip(ids, vecs):
        vq = [math.floor(x * 4096.0 + 0.5) for x in v]
        for c in range(k):
            pq_int = sum(
                a * b for a, b in zip(vq, model.components_q[c])
            )
            proj = (float(pq_int) - model.offsets[c]) * 2.0 ** -30
            out.append(
                {
                    "corpus_fp": fp,
                    "vec_id": vid,
                    "component": c,
                    "proj": proj,
                }
            )
    return pd.DataFrame(
        out, columns=["corpus_fp", "vec_id", "component", "proj"]
    ).astype(
        {
            "corpus_fp": "int64",
            "vec_id": "int64",
            "component": "int32",
            "proj": "float64",
        }
    )


def expected_pca_spectrum(sf_dir: str, k: int = 8) -> pd.DataFrame:
    """Replica of the spectrum rows (eigenvalue / explained-variance
    ladder) from the same shared fit."""
    from ..operators.pca import pca_spectrum

    fp, _ids, _vecs, model = _pca_fit_replica(sf_dir)
    rows = [{"corpus_fp": fp, **r} for r in pca_spectrum(model, k)]
    return pd.DataFrame(
        rows,
        columns=[
            "corpus_fp", "component", "eigenvalue", "var_ratio", "cum_ratio"
        ],
    ).astype({"corpus_fp": "int64", "component": "int32"})


def expected_ngram_jaccard_rolling(
    sf_dir: str, shingle_k: int = 3, threshold: float = 0.5
) -> pd.DataFrame:
    """Independent single-node replica of
    ngram_jaccard_near_duplicates(shingle_family='rolling'): Python
    tokenization (strip(' ').lower + \\s+ split — the kernel's own
    convention), per-shingle HORNER-loop Karp-Rabin hashes
    (deliberately a different shape than the engine's span
    vectorization, with its own copy of the base constant), distinct
    hash sets, inverted-index pair counts, exact Jaccard division.
    Keyed by the documents fingerprint like the other expecteds."""
    import re

    import pyarrow.parquet as pq

    KR_BASE = 1_000_003  # own copy: engine drift must BREAK parity
    mask = (1 << 64) - 1

    def horner(s: str) -> int:
        h = 0
        for c in s:
            h = (h * KR_BASE + ord(c)) & mask
        return h

    t = pq.read_table(f"{sf_dir}/documents.parquet").to_pydict()
    fp = 0
    sets: dict[int, frozenset] = {}
    for did, text in zip(t["doc_id"], t["text"]):
        text = str(text)
        fp += (int(did) + 1) * len(text)
        toks = re.split(r"\s+", text.strip(" ").lower())
        n = len(toks)
        if n < shingle_k:
            sh = {horner(" ".join(toks))}
        else:
            sh = {
                horner(" ".join(toks[i : i + shingle_k]))
                for i in range(n - shingle_k + 1)
            }
        sets[int(did)] = frozenset(sh)
    index: dict[int, list[int]] = {}
    for did, sh in sets.items():
        for h in sh:
            index.setdefault(h, []).append(did)
    inter: dict[tuple[int, int], int] = {}
    for members in index.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                key = (members[i], members[j])
                inter[key] = inter.get(key, 0) + 1
    out = []
    for (a, b), ni in sorted(inter.items()):
        jac = ni / (len(sets[a]) + len(sets[b]) - ni)
        if jac >= threshold:
            out.append(
                {"corpus_fp": fp, "id_a": a, "id_b": b, "jaccard": jac}
            )
    return pd.DataFrame(
        out, columns=["corpus_fp", "id_a", "id_b", "jaccard"]
    ).astype({"corpus_fp": "int64", "id_a": "int64", "id_b": "int64"})


def expected_minhash_rolling(
    sf_dir: str,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> pd.DataFrame:
    """Independent single-node replica of
    minhash_near_duplicates(base_hash='rolling'): per-shingle
    HORNER-loop Karp-Rabin hashes (own base-constant copy — engine
    drift must break parity) over the KERNEL's normalization
    (strip(' ').lower + \\s+ split), pure-Python affine minima,
    banding, candidate join; the exact-Jaccard verify replicates the
    engine's JVM ngram_jaccard_pairs over _doc_tokens_fp tokens (the
    two stages tokenize independently, exactly like the engine)."""
    import re

    from ..operators.dedup import MERSENNE_P, _hash_family

    KR_BASE = 1_000_003
    mask = (1 << 64) - 1

    def horner(s: str) -> int:
        h = 0
        for c in s:
            h = (h * KR_BASE + ord(c)) & mask
        return h

    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet").to_pydict()
    fam = _hash_family(num_hashes)
    rows = num_hashes // num_bands
    fp = 0
    sigs: dict[int, tuple] = {}
    verify_sets: dict[int, frozenset] = {}
    for did, text in zip(t["doc_id"], t["text"]):
        did, text = int(did), str(text)
        fp += (did + 1) * len(text)
        # candidate stage: the kernel's own normalization
        ktoks = re.split(r"\s+", text.strip(" ").lower())
        if len(ktoks) < shingle_k:
            hs = {horner(" ".join(ktoks)) % MERSENNE_P}
        else:
            hs = {
                horner(" ".join(ktoks[i : i + shingle_k])) % MERSENNE_P
                for i in range(len(ktoks) - shingle_k + 1)
            }
        sigs[did] = tuple(
            min((h * a + b) % MERSENNE_P for h in hs) for a, b in fam
        )
        # verify stage: the JVM tokenization (ngram_jaccard_pairs twin)
        vtoks = re.split(r"\s+", text.strip().lower())
        if len(vtoks) < shingle_k:
            vs = {" ".join(vtoks)}
        else:
            vs = {
                " ".join(vtoks[i : i + shingle_k])
                for i in range(len(vtoks) - shingle_k + 1)
            }
        verify_sets[did] = frozenset(vs)

    buckets: dict[tuple, list[int]] = {}
    for did, sig in sigs.items():
        for b in range(num_bands):
            key = (b, sig[b * rows : (b + 1) * rows])
            buckets.setdefault(key, []).append(did)
    cand = set()
    for members in buckets.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                cand.add((members[i], members[j]))
    out = []
    for id_a, id_b in sorted(cand):
        sa, sb = verify_sets[id_a], verify_sets[id_b]
        jac = len(sa & sb) / len(sa | sb)
        if jac >= threshold:
            out.append(
                {"corpus_fp": fp, "id_a": id_a, "id_b": id_b, "jaccard": jac}
            )
    return pd.DataFrame(
        out, columns=["corpus_fp", "id_a", "id_b", "jaccard"]
    ).astype({"corpus_fp": "int64", "id_a": "int64", "id_b": "int64"})
