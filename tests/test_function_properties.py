"""Property tests for the scalar column functions: exhaustiveness of the
TimeSlot partition, Rust-semantics delay rounding, and the scheduled-
predictions high-watermark."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dystonse_gtfs_data_spark import schemas as S
from dystonse_gtfs_data_spark.functions.delays import round_toward_zero
from dystonse_gtfs_data_spark.functions.time import DEFAULT_SLOT, time_slot_id
from dystonse_gtfs_data_spark.operators.scheduled import prediction_high_watermark


def test_time_slots_partition_the_week(spark):
    """Every (weekday, hour) combination maps to exactly one of the 11
    slots — DEFAULT (12) is only ever an explicit query value, never an
    assignment (the reference panics if no slot matches,
    src/types/time_slots.rs:162-168)."""
    base = dt.datetime(2024, 1, 1, 0, 0)  # Monday
    rows = [(base + dt.timedelta(hours=h),) for h in range(7 * 24)]
    df = spark.createDataFrame(rows, "ts timestamp")
    out = df.select(time_slot_id(F.col("ts")).alias("slot")).collect()
    slots = [r["slot"] for r in out]
    assert all(1 <= s <= 11 for s in slots)
    assert DEFAULT_SLOT not in slots
    assert set(slots) == set(range(1, 12))  # all 11 slots reachable


def test_night_wraparound_assignments(spark):
    cases = {
        dt.datetime(2024, 1, 5, 23, 0): 11,  # Friday 23:00 → night before weekend
        dt.datetime(2024, 1, 6, 3, 59): 11,  # Saturday 03:59 → same wrap
        dt.datetime(2024, 1, 7, 20, 0): 10,  # Sunday 20:00 → night before workday
        dt.datetime(2024, 1, 8, 3, 0): 10,   # Monday 03:00 → still night-before-workday
        dt.datetime(2024, 1, 5, 3, 0): 11,   # Friday 03:00 → Fri-Sat wrap (reference quirk)
    }
    df = spark.createDataFrame([(k,) for k in cases], "ts timestamp")
    got = {r["ts"]: r["slot"] for r in df.select("ts", time_slot_id(F.col("ts")).alias("slot")).collect()}
    for ts, expected in cases.items():
        assert got[ts] == expected, (ts, got[ts], expected)


class TestRounding:
    @given(st.integers(min_value=-36000, max_value=36000))
    @settings(max_examples=300, deadline=None)
    def test_matches_rust_int_division(self, d):
        # Rust: (d / 12) * 12 truncates toward zero
        expected = int(d / 12) * 12 if d >= 0 else -((-d) // 12) * 12
        assert self.oracle(d) == expected

    @staticmethod
    def oracle(d: int) -> int:
        # pure-python mirror of the column expression
        import math

        sign = (d > 0) - (d < 0)
        return sign * math.floor(abs(d) / 12) * 12

    def test_column_expression_spot_values(self, spark):
        vals = [-13, -12, -1, 0, 11, 12, 13, 25, -25, 35999, -35999]
        df = spark.createDataFrame([(v,) for v in vals], "d long")
        got = {r["d"]: r["r"] for r in df.select("d", round_toward_zero(F.col("d")).alias("r")).collect()}
        expected = {-13: -12, -12: -12, -1: 0, 0: 0, 11: 0, 12: 12, 13: 12,
                    25: 24, -25: -24, 35999: 35988, -35999: -35988}
        assert got == expected


def test_prediction_high_watermark(spark):
    rows = [
        ("s", 1, "x", 1, "r1", "t1", dt.date(2024, 1, 2), 28800, None, None, 3, 1, 10, None, "f"),
        ("s", 1, "x", 1, "r1", "t2", dt.date(2024, 1, 2), 97200, None, None, 3, 1, 10, None, "f"),  # 27:00 → Jan 3 03:00
        ("s", 1, "x", 1, "r1", "t3", dt.date(2024, 1, 1), 28800, None, None, 3, 1, 10, None, "f"),
    ]
    preds = spark.createDataFrame(rows, S.PREDICTIONS)
    wm = prediction_high_watermark(preds).collect()[0]["watermark"]
    assert wm == dt.datetime(2024, 1, 3, 3, 0)  # the >24h trip wins


def test_grid_proximity_matches_brute_force(spark):
    """The grid-cell equi-join (J8 scale path) finds EXACTLY the pairs a
    brute-force O(n²) cross join finds — including high latitudes (lon
    degrees shrink with cos(lat)), negative coords, and cell-border
    points."""
    import random

    from dystonse_gtfs_data_spark.functions.geo import (
        grid_proximity_pairs,
        haversine_m,
    )

    rng = random.Random(42)
    rows = []
    # clusters around three latitude bands, incl. 59.9° (near the ±60° bound)
    for i, (clat, clon) in enumerate([(0.0, 0.0), (-35.5, 150.2), (59.9, 10.7)]):
        for j in range(30):
            rows.append(
                (
                    f"p{i}_{j}",
                    clat + rng.uniform(-0.01, 0.01),
                    clon + rng.uniform(-0.01, 0.01),
                )
            )
    pts = spark.createDataFrame(rows, "stop_id string, stop_lat double, stop_lon double")
    radius = 400.0
    grid = {
        (r["stop_id_a"], r["stop_id_b"])
        for r in grid_proximity_pairs(
            pts, ["stop_id"], "stop_lat", "stop_lon", radius
        ).collect()
    }
    a = pts.select(
        F.col("stop_id").alias("ida"), F.col("stop_lat").alias("la"), F.col("stop_lon").alias("lo")
    )
    b = pts.select(
        F.col("stop_id").alias("idb"), F.col("stop_lat").alias("lb"), F.col("stop_lon").alias("lb2")
    )
    brute = {
        (r["ida"], r["idb"])
        for r in a.crossJoin(b)
        .withColumn("d", haversine_m(F.col("la"), F.col("lo"), F.col("lb"), F.col("lb2")))
        .filter(F.col("d") <= radius)
        .collect()
    }
    assert grid == brute
    assert len(grid) > len(rows)  # sanity: clusters produced real pairs


def test_service_day_timestamp_dst_crossing(spark):
    """C1/C2 local-TZ mode: the reference anchors at service-day noon −12 h
    LOCAL time (gtfs_time.rs:53-56), so a 26:30:00 trip crossing a
    Europe/Berlin DST switch lands on the right wall-clock instant.

    Hand-derived expectations (26:30:00 = 95 400 s):
    - spring forward 2026-03-29 02:00→03:00 CEST, service day 03-28:
        UTC mode:    2026-03-28T00:00Z + 95 400 s = 2026-03-29T02:30Z
        Berlin mode: noon 03-28 CET = 11:00Z; −12 h = 03-27T23:00Z;
                     +95 400 s = 2026-03-29T01:30Z (= 03:30 CEST —
                     02:30 local does not exist that night)
    - fall back 2026-10-25 03:00→02:00 CET, service day 10-24:
        UTC mode:    2026-10-25T02:30Z
        Berlin mode: noon 10-24 CEST = 10:00Z; −12 h = 10-23T22:00Z;
                     +95 400 s = 2026-10-25T00:30Z (= 02:30 CEST, the
                     FIRST occurrence of that repeated wall-clock)
    """
    import datetime as dt

    from dystonse_gtfs_data_spark.functions.time import service_day_timestamp

    df = spark.createDataFrame(
        [
            (dt.date(2026, 3, 28), 95400),
            (dt.date(2026, 10, 24), 95400),
        ],
        "service_date date, secs int",
    )
    out = (
        df.select(
            "service_date",
            service_day_timestamp(F.col("service_date"), F.col("secs")).alias("utc"),
            service_day_timestamp(
                F.col("service_date"), F.col("secs"), tz="Europe/Berlin"
            ).alias("berlin"),
        )
        .orderBy("service_date")
        .collect()
    )
    # session tz is UTC, so collected naive datetimes ARE the UTC instants
    spring, fall = out
    assert spring["utc"] == dt.datetime(2026, 3, 29, 2, 30)
    assert spring["berlin"] == dt.datetime(2026, 3, 29, 1, 30)
    assert fall["utc"] == dt.datetime(2026, 10, 25, 2, 30)
    assert fall["berlin"] == dt.datetime(2026, 10, 25, 0, 30)
    # cross-check the Berlin instants against zoneinfo
    from zoneinfo import ZoneInfo

    utc, berlin = ZoneInfo("UTC"), ZoneInfo("Europe/Berlin")
    for row, service_day in ((spring, dt.date(2026, 3, 28)), (fall, dt.date(2026, 10, 24))):
        anchor = dt.datetime.combine(service_day, dt.time(12)).replace(tzinfo=berlin)
        expect = anchor.astimezone(utc) - dt.timedelta(hours=12) + dt.timedelta(seconds=95400)
        assert row["berlin"].replace(tzinfo=utc) == expect


def test_grid_proximity_exact_at_extreme_latitudes(spark):
    """Round-3 ADVICE fix: the grid join must match brute force above the
    old ±60° band — arctic cities, the antimeridian seam, and points
    within metres of the pole (reference scans all pairs at any latitude,
    src/monitor/journey_data.rs:241-263)."""
    import random

    from dystonse_gtfs_data_spark.functions.geo import (
        grid_proximity_pairs,
        haversine_m,
    )

    rng = random.Random(7)
    rows = []
    clusters = [
        (60.17, 24.94),     # Helsinki — just above the old band
        (69.65, 18.96),     # Tromsø
        (78.22, 15.64),     # Svalbard
        (65.0, 179.999),    # antimeridian seam, east side
        (65.0, -179.999),   # antimeridian seam, west side
        (89.995, 10.0),     # polar cap (lon degrees ≈ 19 m here)
        (89.996, -170.0),   # polar cap, "far" in longitude but metres away
    ]
    for i, (clat, clon) in enumerate(clusters):
        for j in range(12):
            lat = min(89.999, clat + rng.uniform(-0.005, 0.005))
            lon = clon + rng.uniform(-0.01, 0.01)
            if lon > 180.0:
                lon -= 360.0
            if lon < -180.0:
                lon += 360.0
            rows.append((f"p{i}_{j}", lat, lon))
    pts = spark.createDataFrame(
        rows, "stop_id string, stop_lat double, stop_lon double"
    )
    radius = 500.0
    grid = {
        (r["stop_id_a"], r["stop_id_b"])
        for r in grid_proximity_pairs(
            pts, ["stop_id"], "stop_lat", "stop_lon", radius
        ).collect()
    }
    a = pts.select(
        F.col("stop_id").alias("ida"),
        F.col("stop_lat").alias("la"),
        F.col("stop_lon").alias("lo"),
    )
    b = pts.select(
        F.col("stop_id").alias("idb"),
        F.col("stop_lat").alias("lb"),
        F.col("stop_lon").alias("lb2"),
    )
    brute = {
        (r["ida"], r["idb"])
        for r in a.crossJoin(b)
        .withColumn(
            "d", haversine_m(F.col("la"), F.col("lo"), F.col("lb"), F.col("lb2"))
        )
        .filter(F.col("d") <= radius)
        .collect()
    }
    assert grid == brute
    # the seam clusters MUST pair across ±180 (regression for the wrap)
    assert any(x.startswith("p3") and y.startswith("p4") for x, y in grid)
    # the polar clusters found their neighbors
    assert any(x.startswith("p5") and y.startswith("p5") and x != y for x, y in grid)
