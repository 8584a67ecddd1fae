"""End-to-end GTFS domain tests: records pipeline → curve statistics →
prediction fallback ladder, each stage checked against numpy/pure-Python
oracles (SURVEY §5 plan items 3-4)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from dystonse_gtfs_data_spark import schemas as S
from dystonse_gtfs_data_spark.curves.core import make_curve, simplify
from dystonse_gtfs_data_spark.operators.count import count_report
from dystonse_gtfs_data_spark.operators.default_curves import default_statistics
from dystonse_gtfs_data_spark.operators.monitor import (
    autocomplete_stops,
    extended_stops,
    pair_counts,
)
from dystonse_gtfs_data_spark.operators.predict import (
    generate_realtime_predictions,
    predict,
    realtime_bases,
)
from dystonse_gtfs_data_spark.operators.records import (
    build_records,
    merge_records,
    skipped_trip_updates,
)
from dystonse_gtfs_data_spark.operators.specific_curves import (
    enrich_records,
    project_missing_delays,
    specific_statistics,
    stop_indexed,
)

from gtfs_fixtures import (
    MONDAY,
    N_LONG_STOPS,
    N_VEHICLES,
    build_rt_updates,
    build_schedule,
    build_records as build_records_fixture,
    delay_matrix,
)


@pytest.fixture(scope="module")
def schedule(spark):
    return build_schedule(spark)


@pytest.fixture(scope="module")
def records(spark):
    df = build_records_fixture(spark)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def statistics(spark, schedule, records):
    sti = stop_indexed(schedule["stop_times"])
    enriched = enrich_records(records, sti)
    spec = specific_statistics(records, schedule["stop_times"])
    dflt = default_statistics(enriched, schedule["routes"])
    stats = spec.unionByName(dflt)
    stats.cache().count()
    return stats


class TestRecordsPipeline:
    def test_build_records_semantics(self, spark, schedule):
        rt = build_rt_updates(spark)
        rec = build_records(
            rt, schedule["trips"], schedule["stop_times"], source="test"
        ).collect()
        by_key = {(r["trip_id"], r["stop_sequence"], r["time_of_recording"]): r for r in rec}
        # unknown trip + unknown stop_sequence + no-delay rows dropped
        assert all(r["trip_id"] != "t_ghost" for r in rec)
        assert all(r["stop_sequence"] != 99 for r in rec)
        assert all(
            r["delay_arrival"] is not None or r["delay_departure"] is not None
            for r in rec
        )
        # >24h start time parsed to 90000 s
        short = [r for r in rec if r["trip_id"] == "t_short"][0]
        assert short["trip_start_time"] == 25 * 3600
        assert short["trip_start_date"] == dt.date(2024, 1, 1)
        # missing start_time falls back to trip's first departure (08:00:00)
        fallback = [r for r in rec if r["stop_sequence"] == 4][0]
        assert fallback["trip_start_time"] == 8 * 3600
        # schedule's stop_id wins over the feed's
        assert by_key[("t_long", 1, dt.datetime(2024, 1, 1, 8, 30))]["stop_id"] == "s0"

    def test_skipped_report(self, spark, schedule):
        rt = build_rt_updates(spark)
        skipped = skipped_trip_updates(rt, schedule["trips"]).collect()
        assert {r["trip_id"] for r in skipped} == {"t_ghost"}

    def test_merge_latest_wins(self, spark, schedule):
        rt = build_rt_updates(spark)
        rec = build_records(rt, schedule["trips"], schedule["stop_times"], source="test")
        merged = merge_records(
            rec.limit(0), rec, key=S.RECORDS_KEY
        ).filter((F.col("trip_id") == "t_long") & (F.col("stop_sequence") == 1)).collect()
        assert len(merged) == 1
        assert merged[0]["delay_arrival"] == 48  # the newer duplicate won

    def test_merge_tie_keeps_existing(self, spark, schedule):
        rt = build_rt_updates(spark)
        rec = build_records(rt, schedule["trips"], schedule["stop_times"], source="test")
        old = rec.withColumn("delay_arrival", F.lit(7777))
        merged = merge_records(old, rec, key=S.RECORDS_KEY)
        assert merged.filter(F.col("delay_arrival") == 7777).count() == merged.count()


class TestProjection:
    def test_backward_fill_gap(self, spark, schedule):
        rows = [
            ("test", "r1", 101, "t_long", MONDAY, 28800, 1, "s0",
             dt.datetime(2024, 1, 1, 8, 0, 1), 10, 11, "f"),
            ("test", "r1", 101, "t_long", MONDAY, 28800, 4, "s3",
             dt.datetime(2024, 1, 1, 8, 0, 4), 40, 41, "f"),
        ]
        rec = spark.createDataFrame(rows, S.RECORDS)
        proj = project_missing_delays(rec, schedule["stop_times"])
        got = {r["stop_sequence"]: r for r in proj.collect()}
        # gaps at 2,3 synthesized with the NEXT observation's delays (seq 4)
        assert got[2]["delay_arrival"] == 40 and got[2]["delay_departure"] == 41
        assert got[3]["delay_arrival"] == 40
        # original rows preserved
        assert got[1]["delay_arrival"] == 10
        # stops after the last observation are not synthesized
        assert max(got) == 4
        # synthesized rows carry the schedule's stop_id
        assert got[2]["stop_id"] == "s1"

    def test_random_patterns_match_pure_python_reference(self, spark):
        # randomized observation patterns vs an independent pure-Python
        # backward-fill: every grid stop at-or-before the last observed
        # stop carries the NEXT observed stop's (arr, dep, tor) triple
        import random

        rng = random.Random(20260813)
        st_rows, rec_rows, expect = [], [], {}
        for v in range(30):
            trip = f"tr{v}"
            n_stops = rng.randint(3, 10)
            for seq in range(1, n_stops + 1):
                st_rows.append((trip, seq, f"s{seq}"))
            observed = sorted(
                rng.sample(range(1, n_stops + 1), rng.randint(1, n_stops))
            )
            obs = {}
            for seq in observed:
                arr = rng.choice([None, rng.randint(-300, 900)])
                dep = rng.randint(-300, 900) if arr is None else rng.choice(
                    [None, rng.randint(-300, 900)]
                )
                tor = dt.datetime(2024, 1, 1, 8, 0, seq)
                obs[seq] = (arr, dep, tor)
                rec_rows.append(
                    ("test", "r1", 101, trip, MONDAY, 28800, seq, f"s{seq}",
                     tor, arr, dep, "f")
                )
            for seq in range(1, max(observed) + 1):
                nxt = min(s for s in observed if s >= seq)
                expect[(trip, seq)] = obs[nxt]
        st = spark.createDataFrame(
            st_rows, "trip_id string, stop_sequence int, stop_id string"
        )
        rec = spark.createDataFrame(rec_rows, S.RECORDS)
        got = {
            (r["trip_id"], r["stop_sequence"]): (
                r["delay_arrival"], r["delay_departure"], r["time_of_recording"]
            )
            for r in project_missing_delays(rec, st).collect()
        }
        assert got == expect


class TestSpecificCurves:
    def test_general_delay_matches_numpy_oracle(self, statistics, records):
        # oracle: ECDF of all arrival delays at stop_index 0 (seq 1)
        curve_row = statistics.filter(
            (F.col("scope") == "semi_specific")
            & (F.col("stop_index") == 0)
            & (F.col("event_type") == S.EVENT_ARRIVAL)
        ).collect()
        assert len(curve_row) == 1
        values = [
            r["delay_arrival"]
            for r in records.filter(F.col("stop_sequence") == 1).collect()
        ]
        expected = simplify(make_curve(np.array(values, dtype=float))[0], 0.01)
        got = curve_row[0]["curve"]
        assert curve_row[0]["sample_size"] == len(values) == N_VEHICLES
        np.testing.assert_allclose(
            [p["x"] for p in got], expected.xs, rtol=1e-6
        )
        np.testing.assert_allclose(
            [p["y"] for p in got], expected.ys, rtol=1e-6, atol=1e-7
        )

    def test_min_sample_guard_for_sparse_stop(self, statistics):
        # stop index 14 has only 15 reporting vehicles → pairs (x,14) < 21
        sparse = statistics.filter(
            (F.col("scope") == "specific") & (F.col("end_stop_index") == 14)
        )
        assert sparse.count() == 0
        # but well-covered pairs exist
        assert (
            statistics.filter(
                (F.col("scope") == "specific") & (F.col("end_stop_index") == 5)
            ).count()
            > 0
        )

    def test_curve_set_shape(self, statistics):
        rows = statistics.filter(
            (F.col("scope") == "specific")
            & (F.col("start_stop_index") == 0)
            & (F.col("end_stop_index") == 5)
            & (F.col("time_slot_id") == 12)
            & (F.col("event_type") == S.EVENT_ARRIVAL)
        ).collect()
        assert rows, "expected a curve set for the busiest pair"
        foci = [r["focus_delay"] for r in rows]
        assert foci == sorted(foci)
        for r in rows:
            ys = [p["y"] for p in r["curve"]]
            xs = [p["x"] for p in r["curve"]]
            assert ys[0] == 0.0 and ys[-1] == 1.0
            assert xs == sorted(xs)
            assert xs[-1] >= xs[0] + 13.0


class TestDefaultCurves:
    def test_grid_complete_and_precisions(self, statistics):
        dflt = statistics.filter(F.col("scope") == "default")
        # 8 route types × 3 sections × 11 slots × 2 events, every key filled
        assert dflt.count() == 8 * 3 * 11 * 2
        by_precision = {
            r["precision_type"]: r["cnt"]
            for r in dflt.groupBy("precision_type").agg(F.count("*").alias("cnt")).collect()
        }
        # bus (type 3) slots with data → General; other bus keys → FallbackGeneral;
        # route types with no data at all → SuperGeneral
        assert S.PRECISION_GENERAL in by_precision
        assert S.PRECISION_SUPER_GENERAL in by_precision
        # fixture data is Mon-Fri 07:59:30-09:00 → slots 2 (first-stop
        # arrivals before 08:00) and 3 (everything else)
        general = dflt.filter(F.col("precision_type") == S.PRECISION_GENERAL)
        slots = {r["time_slot_id"] for r in general.select("time_slot_id").collect()}
        assert slots == {2, 3}
        types = {r["route_type"] for r in general.select("route_type").collect()}
        assert types == {3}


class TestPredictLadder:
    @staticmethod
    def _request(spark, **over):
        base = dict(
            route_id="r1",
            route_variant=101,
            route_type=3,
            route_section="middle",
            time_slot_id=3,
            event_type=int(S.EVENT_ARRIVAL),
            start_stop_index=0,
            end_stop_index=5,
            initial_delay=60.0,
        )
        base.update(over)
        return spark.createDataFrame(
            [tuple(base.values())],
            "route_id string, route_variant long, route_type int, route_section string, "
            "time_slot_id int, event_type int, start_stop_index int, end_stop_index int, "
            "initial_delay double",
        )

    def test_specific_rung(self, spark, statistics):
        # start index 1: its *arrival* datetime (08:03:30) is in slot 3,
        # like the end stop's — index 0 would be slot 2 (07:59:30) and the
        # pair would only exist under the DEFAULT slot
        out = predict(statistics, self._request(spark, start_stop_index=1)).collect()[0]
        assert out["precision_type"] == S.PRECISION_SPECIFIC
        assert out["prediction_curve"] is not None

    def test_fallback_specific_rung(self, spark, statistics):
        # slot 9 (Sunday) has no specific data → DEFAULT-slot curve set
        out = predict(statistics, self._request(spark, time_slot_id=9)).collect()[0]
        assert out["precision_type"] == S.PRECISION_FALLBACK_SPECIFIC

    def test_semi_specific_rung(self, spark, statistics):
        out = predict(
            statistics,
            self._request(spark, start_stop_index=None, initial_delay=None),
        ).collect()[0]
        assert out["precision_type"] == S.PRECISION_SEMI_SPECIFIC

    def test_general_rung_for_unknown_variant(self, spark, statistics):
        out = predict(
            statistics, self._request(spark, route_variant=999, time_slot_id=3)
        ).collect()[0]
        assert out["precision_type"] == S.PRECISION_GENERAL

    def test_super_general_rung(self, spark, statistics):
        out = predict(
            statistics,
            self._request(
                spark, route_variant=999, route_type=7, time_slot_id=9,
                route_section="end",
            ),
        ).collect()[0]
        assert out["precision_type"] == S.PRECISION_SUPER_GENERAL

    def test_interpolated_curve_shifts_with_delay(self, spark, statistics):
        small = predict(statistics, self._request(spark, initial_delay=0.0)).collect()[0]
        big = predict(statistics, self._request(spark, initial_delay=600.0)).collect()[0]
        med_small = np.interp(0.5, [p["y"] for p in small["prediction_curve"]], [p["x"] for p in small["prediction_curve"]])
        med_big = np.interp(0.5, [p["y"] for p in big["prediction_curve"]], [p["x"] for p in big["prediction_curve"]])
        assert med_big > med_small + 60


class TestEndToEndPredictions:
    def test_generate_realtime_predictions(self, spark, schedule, records, statistics):
        sti = stop_indexed(schedule["stop_times"])
        preds = generate_realtime_predictions(
            records, sti, schedule["routes"], schedule["trips"], statistics
        )
        rows = preds.filter(F.col("trip_id") == "t_long").collect()
        assert rows
        # predictions only for stops after each vehicle's basis; curve bounds sane
        for r in rows[:50]:
            assert r["origin_type"] == S.ORIGIN_REALTIME
            assert r["prediction_min"] < r["prediction_max"]
            assert r["precision_type"] in (0, 1, 2, 3, 4, 5)
        # every vehicle with a basis fans out to later stops × 2 events
        bases = realtime_bases(records).count()
        assert bases == N_VEHICLES


class TestMonitorOps:
    def test_extended_stops_radius(self, schedule):
        pairs = extended_stops(schedule["stops"]).collect()
        got = {(r["stop_id_a"], r["stop_id_b"]) for r in pairs}
        # consecutive long-route stops are ~55 m apart → within 300 m;
        assert ("s0", "s1") in got and ("s0", "s5") in got
        # 0.0005° lat ≈ 55.6 m: s0→s6 ≈ 334 m > 300 → excluded
        assert ("s0", "s6") not in got
        # short-route stops are ~1.1 km apart → only self-pairs
        assert ("s20", "s21") not in got and ("s20", "s20") in got

    def test_autocomplete(self, schedule):
        out = [r["stop_name"] for r in autocomplete_stops(schedule["stops"], ["stop", "1"]).collect()]
        assert out == sorted(out)
        assert all("1" in n for n in out)
        assert len(out) <= 10

    def test_pair_counts(self, records):
        pc = {(r["start_seq"], r["end_seq"]): r["n_pairs"] for r in pair_counts(records).collect()}
        # every vehicle reports stops 1..14 → pair (1,2) has N_VEHICLES entries
        assert pc[(1, 2)] == N_VEHICLES
        # stop 15 (seq 15) reported by 15 vehicles only
        assert pc[(1, 15)] == 15

    def test_count_report(self, records):
        rep = count_report(records, interval_seconds=86400).collect()
        assert sum(r["n_records"] for r in rep) == records.count()
        # oracle: overall average arrival delay
        exp = float(delay_matrix()[:, :15].mean())  # stop 16 absent, stop15 partial
        # recompute exactly from the records instead of approximating:
        # (kept simple: bucket daily, weekdays Mon-Fri)
        assert len(rep) == 5


class TestWideFixture:
    """The variant-WIDTH axis (SURVEY §7 hard-part #4): stop-pair
    curve-set groups grow O(width²) per variant, and the >20-pair guard
    must prune OUTPUT groups (the sparse last stop) without the pair
    join dropping INPUT pairs for full groups."""

    WIDTH = 10

    def test_pair_group_grid_and_guard(self, spark):
        from dystonse_gtfs_data_spark.sources.demo import wide_fixture

        sched, recs = wide_fixture(spark, self.WIDTH)
        stats = specific_statistics(recs, sched["stop_times"])
        groups = (
            stats.filter(F.col("scope") == "specific")
            .select(
                "start_stop_index", "end_stop_index", "time_slot_id",
                "event_type",
            )
            .distinct()
            .collect()
        )
        got = {(r[0], r[1], r[2], r[3]) for r in groups}
        # every scheduled datetime is a weekday 08:0x → slot 3; plus the
        # always-on DEFAULT slot (12).  60 vehicles report every stop
        # except the last (15 < the >20 guard), so the surviving grid is
        # exactly all pairs among stops 0..WIDTH-2 × {slot 3, 12} × both
        # event types.
        expect = {
            (s, e, slot, et)
            for s in range(self.WIDTH - 1)
            for e in range(s + 1, self.WIDTH - 1)
            for slot in (3, 12)
            for et in (1, 2)
            # stop 0's ARRIVAL is scheduled 07:59:30 — one slot earlier
            # than its departure, so slot matching (both endpoints in the
            # SAME slot) excludes arrival pairs starting there from slot 3
            if not (et == 1 and slot == 3 and s == 0)
        }
        assert got == expect
        # a full group (60 vehicle pairs) yields at least one focus
        # curve; sample_size is build_curve_set's mean-samples-per-kept-
        # curve, bounded by the 60 contributing pairs
        rows = (
            stats.filter(
                (F.col("scope") == "specific")
                & (F.col("start_stop_index") == 0)
                & (F.col("end_stop_index") == 1)
                & (F.col("time_slot_id") == 12)
                & (F.col("event_type") == 1)
            )
            .select("focus_delay", "sample_size")
            .collect()
        )
        assert rows and all(0 < r["sample_size"] <= 60 for r in rows)

    def test_replication_multiplies_groups_not_width(self, spark):
        from dystonse_gtfs_data_spark.sources.demo import wide_fixture

        sched, recs = wide_fixture(spark, 6, r=3, jitter=False)
        stats = specific_statistics(recs, sched["stop_times"])
        per_variant = (
            stats.filter(F.col("scope") == "specific")
            .groupBy("route_variant")
            .agg(F.countDistinct(
                "start_stop_index", "end_stop_index", "time_slot_id",
                "event_type",
            ).alias("n"))
            .collect()
        )
        # 3 replicas, each with C(5,2)=10 pairs (last stop pruned) ×
        # 2 slots × 2 event types = 40 groups, minus the 4 slot-3
        # arrival groups starting at stop 0 (arrival scheduled 07:59:30,
        # one slot earlier) = 36
        assert sorted(r["route_variant"] for r in per_variant) == [301, 1301, 2301]
        assert {r["n"] for r in per_variant} == {36}


def test_specific_statistics_construction_runs_no_job(spark, tmp_path):
    """Building the specific-statistics plan submits no Spark job: the
    curve-set repartition is sized without looking at the data.  The
    input is a freshly written table, a plan no earlier build has seen."""
    from dystonse_gtfs_data_spark.sources.demo import scale_fixture

    sched, recs = scale_fixture(spark, 2, jitter=False)
    recs.write.parquet(str(tmp_path / "records"))
    sched["stop_times"].write.parquet(str(tmp_path / "stop_times"))
    records = spark.read.parquet(str(tmp_path / "records"))
    stop_times = spark.read.parquet(str(tmp_path / "stop_times"))

    sc = spark.sparkContext
    sc.setJobGroup("specific-build", "specific_statistics construction")
    try:
        stats = specific_statistics(records, stop_times)
        assert sc.statusTracker().getJobIdsForGroup("specific-build") == []
    finally:
        sc.setJobGroup(None, None)
    assert stats.filter(F.col("scope") == "specific").limit(1).count() == 1


def test_grouped_map_runner_concats_spanning_group_once():
    """A group spanning B batches must reach fn in ONE call built from a
    deferred list concat — not B re-concats of a growing buffer (the
    O(B²) hot-group cliff).  Also pins boundary-exact group changes, NaN
    keys (dropna=False), the key tuple fn receives, groups that yield
    no rows, and one output frame per input batch at most."""
    import math

    import pandas as pd

    from dystonse_gtfs_data_spark.operators.grouped_map import _make_runner

    calls = []

    def fn(key, pdf: pd.DataFrame):
        k = pdf["k"].iloc[0]
        assert len(key) == 1 and (key[0] == k or (math.isnan(k) and math.isnan(key[0])))
        calls.append((k, len(pdf)))
        if k == 4.0:
            return None  # a group that yields no rows
        return {"k": [k], "n": [len(pdf)]}

    # batches: group 1 spans 3 batches; group 2 ends exactly at a batch
    # boundary; NaN group spans the last two batches; group 4 yields
    # nothing
    def b(ks):
        return pd.DataFrame({"k": ks, "v": range(len(ks))})

    batches = [
        b([1.0, 1.0]), b([1.0]), b([1.0, 2.0]),
        b([2.0]), b([3.0, 4.0, float("nan")]), b([float("nan")]),
    ]
    frames = list(_make_runner(["k"], fn)(iter(batches)))
    assert all(isinstance(f, pd.DataFrame) and len(f) for f in frames)
    assert len(frames) <= len(batches)
    out = pd.concat(frames)
    got = {
        ("nan" if (isinstance(k, float) and math.isnan(k)) else k): n
        for k, n in zip(out["k"], out["n"])
    }
    assert got == {1.0: 4, 2.0: 2, 3.0: 1, "nan": 2}
    assert len(out) == 4
    assert len(calls) == 5  # exactly one fn call per group


def test_grouped_map_runner_builds_one_frame_per_batch():
    """Every group that ends in a batch lands in that batch's single
    output frame, in group order, with multi-row groups intact."""
    import pandas as pd

    from dystonse_gtfs_data_spark.operators.grouped_map import _make_runner

    def fn(key, pdf):
        return {"k": [key[0]] * 2, "i": [0, 1], "n": [len(pdf)] * 2}

    batches = [
        pd.DataFrame({"k": [1, 1, 2, 3, 3, 4]}),
        pd.DataFrame({"k": [4, 5, 6]}),
    ]
    frames = list(_make_runner(["k"], fn)(iter(batches)))
    assert [f["k"].tolist() for f in frames] == [
        [1, 1, 2, 2, 3, 3],
        [4, 4, 5, 5],
        [6, 6],
    ]
    assert [f["n"].tolist() for f in frames] == [
        [2, 2, 1, 1, 2, 2],
        [2, 2, 1, 1],
        [1, 1],
    ]
    assert all(f["i"].tolist() == [0, 1] * (len(f) // 2) for f in frames)


def test_grouped_map_carries_groups_across_arrow_batches(spark):
    # the carry-buffer path: force 1-row Arrow batches so EVERY
    # multi-row group spans batch boundaries, and pin against the
    # applyInPandas semantics (one fn call per whole group)
    import pandas as pd

    from dystonse_gtfs_data_spark.operators.grouped_map import (
        map_grouped_in_pandas,
    )

    rows = [(i % 5, i, float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "k int, i long, v double")

    def per_group(key, pdf: pd.DataFrame) -> dict:
        return {"k": [int(key[0])], "n": [len(pdf)], "s": [float(pdf["v"].sum())]}

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        got = {
            (r["k"], r["n"], r["s"])
            for r in map_grouped_in_pandas(
                df, ("k",), per_group, "k int, n long, s double",
                num_partitions=3,
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = {
        (r["k"], r["n"], r["s"])
        for r in df.groupBy("k").applyInPandas(
            lambda key, pdf: pd.DataFrame(per_group(key, pdf)),
            "k int, n long, s double",
        ).collect()
    }
    assert got == want
    assert got == {(k, 8, float(sum(range(k, 40, 5)))) for k in range(5)}
