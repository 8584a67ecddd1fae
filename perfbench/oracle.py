"""Expected outputs from the repo's single-node oracles, mapped to the
benchmark's replicas, and the comparisons against what the engine wrote.

- statistics and realtime predictions: ``demo_oracle_pipeline``'s
  ``expected_gtfs_statistics`` / ``expected_realtime_predictions``,
  one copy per replica with the replica's keys;
- departure boards: the row logic of ``expected_departure_board`` for a
  page's stops and window;
- records after an incremental import: a pandas latest-wins over every
  update landed so far.

Every comparison returns a list of problems; empty means equal.
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter

import numpy as np
import pandas as pd

from dystonse_gtfs_data_spark.sources import demo_oracle_pipeline as oracle
from dystonse_gtfs_data_spark.sources.demo import schedule_rows

from inputs import VARIANT_STRIDE, Inputs, Replica

SOURCE = "test"  # sources/demo.records_rows' source, kept so rows compare as-is
STAT_COLS = [
    "scope", "route_id", "route_variant", "start_stop_index", "end_stop_index",
    "stop_index", "route_type", "route_section", "time_slot_id", "event_type",
    "focus_delay", "curve_x", "curve_y", "precision_type", "sample_size",
]
PRED_COLS = [
    "source", "event_type", "stop_id", "stop_sequence", "route_id", "trip_id",
    "trip_start_date", "trip_start_time", "prediction_min_us",
    "prediction_max_us", "precision_type", "origin_type", "sample_size",
    "curve_x", "curve_y",
]
BOARD_COLS = [
    "stop_id", "stop_sequence", "event_type", "trip_id", "trip_start_date",
    "trip_start_time", "precision_type", "origin_type", "median_time_us",
]
#: the engine's total board order (operators/monitor.departure_board)
BOARD_ORDER = [
    "median_time_us", "trip_id", "stop_sequence", "event_type",
    "trip_start_date", "trip_start_time", "stop_id", "origin_type",
    "precision_type",
]
#: every records column but schedule_file_name, which holds the feed
#: file path on the streaming path today and the schedule's name once
#: the open tagging defect is fixed (check_sensitivity.py pins it)
RECORD_COLS = [
    "source", "route_id", "route_variant", "trip_id", "trip_start_date",
    "trip_start_time", "stop_sequence", "stop_id", "time_of_recording",
    "delay_arrival", "delay_departure",
]


def _norm(v):
    """One spelling per value across pandas, Arrow and JSON rows."""
    if isinstance(v, (np.ndarray, list, tuple)):  # a curve's knots
        return tuple(float(x) for x in v)
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (np.generic,)):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v.is_integer():
            return int(v)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def _rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    return [tuple(_norm(v) for v in row) for row in df[cols].itertuples(index=False)]


def _diff(name: str, actual: list[tuple], expected: list[tuple]) -> list[str]:
    a, e = Counter(actual), Counter(expected)
    if a == e:
        return []
    missing = sum((e - a).values())
    extra = sum((a - e).values())
    return [
        f"{name}: {len(actual)} rows vs {len(expected)} expected "
        f"({missing} missing, {extra} unexpected)"
    ]


def _with_knots(df: pd.DataFrame, col: str) -> pd.DataFrame:
    """Replace the Curve objects in ``col`` by their knots, as the
    engine stores them (float32, see demo_oracle_pipeline._store)."""
    out = df.drop(columns=[col])
    out["curve_x"] = [tuple(c.xs) for c in df[col]]
    out["curve_y"] = [tuple(c.ys) for c in df[col]]
    return out


def _map_keys(df: pd.DataFrame, rep: Replica, cols: list[str]) -> pd.DataFrame:
    out = df.copy()
    for c in cols:
        out[c] = [None if v is None or v != v else rep.key(v) for v in out[c]]
    return out


class Oracle:
    """Expected rows for one set of inputs, computed once per process."""

    def __init__(self, inputs: Inputs):
        self.inputs = inputs
        stats = oracle.expected_statistics()
        self._stats = _with_knots(
            stats[stats["scope"].isin(["specific", "semi_specific"])], "curve"
        )
        self._pred_rows = oracle._realtime_predictions_full()  # noqa: SLF001
        self._preds = _with_knots(pd.DataFrame(self._pred_rows), "_curve")
        st = oracle._stop_times_df()  # noqa: SLF001
        self._max_seq = st.groupby("trip_id")["stop_sequence"].max().to_dict()
        self.expected_stats = self._replicated(self._stats_for, STAT_COLS)
        self.expected_preds = self._replicated(self._preds_for, PRED_COLS)

    def _replicated(self, fn, cols) -> list[tuple]:
        out: list[tuple] = []
        for rep in self.inputs.replicas:
            out += _rows(fn(rep), cols)
        return out

    def _stats_for(self, rep: Replica) -> pd.DataFrame:
        df = _map_keys(self._stats, rep, ["route_id"])
        df["route_variant"] = df["route_variant"] + rep.slot * VARIANT_STRIDE
        return df

    def _preds_for(self, rep: Replica) -> pd.DataFrame:
        return _map_keys(self._preds, rep, ["route_id", "trip_id", "stop_id"])

    # -- lifecycle -----------------------------------------------------

    def check_statistics(self, stats: pd.DataFrame) -> list[str]:
        """``stats``: the statistics table's specific and semi_specific
        rows, projected to STAT_COLS (curve → its x and y knots)."""
        return _diff("statistics", _rows(stats, STAT_COLS), self.expected_stats)

    def check_predictions(self, preds: pd.DataFrame) -> list[str]:
        return _diff("predictions", _rows(preds, PRED_COLS), self.expected_preds)

    # -- departure boards ------------------------------------------------

    def board(self, rep: Replica, window_min: dt.datetime, window_max: dt.datetime) -> list[tuple]:
        """``expected_departure_board``'s row logic for the replica's 16
        long-route stops and the given (UTC, naive) window, in the
        engine's board order."""
        utc = dt.timezone.utc
        wmin = window_min.replace(tzinfo=utc).timestamp()
        wmax = window_max.replace(tzinfo=utc).timestamp()
        wmin_us, wmax_us = int(wmin * 1_000_000), int(wmax * 1_000_000)
        stop_ids = {f"s{i}" for i in range(16)}
        out = []
        for r in self._pred_rows:
            if r["stop_id"] not in stop_ids:
                continue
            if not (r["prediction_min_us"] < wmax_us and r["prediction_max_us"] > wmin_us):
                continue
            if r["stop_sequence"] >= self._max_seq[r["trip_id"]]:
                continue
            c = r["_curve"]
            q05 = float(np.interp(0.05, c.ys, c.xs))
            q50 = float(np.interp(0.5, c.ys, c.xs))
            q95 = float(np.interp(0.95, c.ys, c.xs))
            base = r["prediction_min_us"] / 1_000_000.0
            if not (base + q05 < wmax and base + q95 > wmin):
                continue
            out.append({
                "stop_id": rep.key(r["stop_id"]),
                "stop_sequence": r["stop_sequence"],
                "event_type": r["event_type"],
                "trip_id": rep.key(r["trip_id"]),
                "trip_start_date": r["trip_start_date"],
                "trip_start_time": r["trip_start_time"],
                "precision_type": r["precision_type"],
                "origin_type": r["origin_type"],
                # Spark's timestamp_seconds(double) truncates toward zero
                "median_time_us": math.trunc((base + q50) * 1_000_000),
            })
        out.sort(key=lambda d: tuple(d[c] for c in BOARD_ORDER))
        return [tuple(_norm(d[c]) for c in BOARD_COLS) for d in out]

    @staticmethod
    def check_board(page: str, served: list[dict], expected: list[tuple]) -> list[str]:
        got = [tuple(_norm(d.get(c)) for c in BOARD_COLS) for d in served]
        if got == expected:
            return []
        return [f"board {page}: {len(got)} rows vs {len(expected)} expected or order differs"]

    # -- incremental import ---------------------------------------------

    def expected_records(self, landed: list[dict]) -> list[tuple]:
        """Latest-wins per records key over the updates landed so far;
        recording times never tie on a key (inputs.py)."""
        sched = schedule_rows()
        trips = {t[0]: (t[1], t[4]) for t in sched["trips"]}
        stops = {(s[0], s[1]): s[2] for s in sched["stop_times"]}
        df = pd.DataFrame(landed)
        base_trip = df["trip_id"].str.rsplit("~", n=1).str[0]
        reps = [self.inputs.replica_of(t) for t in df["trip_id"]]
        df["route_id"] = [rep.key(trips[b][0]) for rep, b in zip(reps, base_trip)]
        df["route_variant"] = [
            trips[b][1] + rep.slot * VARIANT_STRIDE for rep, b in zip(reps, base_trip)
        ]
        df["stop_id"] = [
            rep.key(stops[(b, q)]) for rep, b, q in zip(reps, base_trip, df["stop_sequence"])
        ]
        df["source"] = SOURCE
        df["trip_start_date"] = pd.to_datetime(df["start_date"], format="%Y%m%d").dt.date
        hms = df["start_time"].str.split(":", expand=True).astype(int)
        df["trip_start_time"] = hms[0] * 3600 + hms[1] * 60 + hms[2]
        df["time_of_recording"] = df["tor"]
        df["delay_arrival"] = df["arrival_delay"]
        df["delay_departure"] = df["departure_delay"]
        key = ["source", "route_id", "route_variant", "trip_id",
               "trip_start_date", "trip_start_time", "stop_sequence"]
        latest = df.sort_values("time_of_recording").groupby(key, sort=False).tail(1)
        return _rows(latest, RECORD_COLS)

    @staticmethod
    def check_records(records: pd.DataFrame, expected: list[tuple]) -> list[str]:
        return _diff("records", _rows(records, RECORD_COLS), expected)
