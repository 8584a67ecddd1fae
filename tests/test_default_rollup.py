"""The default-curve rollup (operators/default_curves) against the
single-node oracle of the demo feed, and its cache footprint."""

from __future__ import annotations

from dystonse_gtfs_data_spark.operators.default_curves import default_statistics
from dystonse_gtfs_data_spark.operators.specific_curves import (
    enrich_records,
    stop_indexed,
)
from dystonse_gtfs_data_spark.schemas import (
    PRECISION_FALLBACK_GENERAL,
    PRECISION_GENERAL,
    PRECISION_SUPER_GENERAL,
)
from dystonse_gtfs_data_spark.sources import demo
from dystonse_gtfs_data_spark.sources import demo_oracle_pipeline as oracle

KEY = ("route_type", "route_section", "time_slot_id", "event_type")


def test_default_statistics_matches_oracle_and_caches_nothing(spark):
    sched = demo.build_schedule(spark)
    enriched = enrich_records(demo.build_records(spark), stop_indexed(sched["stop_times"]))
    cache_manager = spark._jsparkSession.sharedState().cacheManager()  # noqa: SLF001
    spark.catalog.clearCache()

    rows = default_statistics(enriched, sched["routes"]).collect()

    assert cache_manager.isEmpty()
    assert {r["scope"] for r in rows} == {"default"}
    got = {
        tuple(r[k] for k in KEY): (
            r["precision_type"],
            r["sample_size"],
            [p["x"] for p in r["curve"]],
            [p["y"] for p in r["curve"]],
        )
        for r in rows
    }
    want = {
        tuple(r[k] for k in KEY): (
            r["precision_type"],
            r["sample_size"],
            r["curve"].xs.tolist(),
            r["curve"].ys.tolist(),
        )
        for r in oracle._default_statistics(  # noqa: SLF001
            oracle._enrich(oracle._records_df(), oracle._stop_times_df()),  # noqa: SLF001
            oracle._routes_df(),  # noqa: SLF001
        )
    }
    assert len(got) == len(rows)  # one row per grid key
    assert got == want
    # the demo feed reaches every rung of the fallback ladder
    assert {v[0] for v in got.values()} == {
        PRECISION_GENERAL, PRECISION_FALLBACK_GENERAL, PRECISION_SUPER_GENERAL,
    }


def test_rollup_is_independent_of_variant_curve_order(spark):
    """The rollup sums each cell's member curves in (grid key, route_id,
    route_variant) order, so the order in which the shuffle delivers the
    variant curves cannot move a knot.  Three jittered replicas put three
    members in a level-1 cell, where float summation order shows."""
    from dystonse_gtfs_data_spark.operators.default_curves import (
        _rollup,
        variant_section_curves,
    )

    sched, recs = demo.scale_fixture(spark, 3)
    enriched = enrich_records(recs, stop_indexed(sched["stop_times"]))
    curves = variant_section_curves(enriched, sched["routes"]).toPandas()

    assert {"route_id", "route_variant"} <= set(curves.columns)
    assert curves.groupby(list(KEY)).size().max() > 1
    want = _rollup(curves)
    for seed in range(5):
        assert _rollup(curves.sample(frac=1, random_state=seed)).equals(want)
