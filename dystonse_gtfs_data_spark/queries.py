"""Query catalog: every implemented operator from SURVEY.md §2 expressed
once in PySpark and once as DuckDB oracle SQL over the driver's testdata
(TESTDATA.md tables).

Naming convention: q_<operator-analog>.  Each entry cites the SURVEY §2
operator ids it covers.  Aggregates over doubles are computed through
DECIMAL casts (exact on both engines) and cast back to double, so the
value-hash compare can't be broken by floating-point summation order.

GTFS-domain semantics (curve UDAFs, fallback ladder, GTFS time) are
mapped onto the generic tables here; the domain pipeline itself is
exercised on GTFS-shaped fixtures in tests/.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import delays as Fd
from .functions import geo as Fg
from .functions import route as Fr
from .functions import text as Ft
from .functions import time as Fti
from .operators.asof import asof_join
from .operators.dedup import (
    MERSENNE_P,
    _hash_family,
    minhash_near_duplicates,
    ngram_jaccard_near_duplicates,
    portable_base_hash_sql,
    simhash_near_duplicates,
    winnow_fingerprints,
)
from .operators.gapfill import forward_fill
from .operators.similarity import allpairs_cosine, cosine_topk, lsh_topk
from .sources.demo_oracle import demo_table_sql as _dt
from .sources.demo_oracle_pipeline import CORPUS_FINGERPRINT_SQL as _CORPUS_FP_SQL
from .sources.tables import load_table


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    covers: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def demo_statistics(spark: SparkSession) -> DataFrame:
    """The demo feed's specific + default statistics table.  The curve
    build dominates the entries that read it, so it is persisted; the
    persist is tracked, and ``release_persisted()`` between queries
    drops it, so no query reads another's cache."""
    from .cache import tracked_persist
    from .operators.default_curves import default_statistics
    from .operators.specific_curves import (
        enrich_records,
        specific_statistics,
        stop_indexed,
    )
    from .sources.demo import build_records as demo_records
    from .sources.demo import build_schedule

    sched = build_schedule(spark)
    records = demo_records(spark)
    sti = stop_indexed(sched["stop_times"])
    stats = specific_statistics(records, sched["stop_times"]).unionByName(
        default_statistics(enrich_records(records, sti), sched["routes"])
    )
    return tracked_persist(stats)


def register(name: str, oracle: str | None, covers: str = ""):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, covers=covers)
        return fn

    return deco


def _dec(col, scale: int = 2):
    return col.cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# Relational core: scans, filters, aggregations (S4, F1, A1/A2, A9)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    covers="S4 scan, F1/F4 filter pushdown, A1/A2 agg (TPC-H Q1 shape)",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(_dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount"))))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(_dec(F.col("l_quantity"))).cast("double") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "top_revenue_orders",
    """
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           epoch_us(o_orderdate) AS order_date_us, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    covers="J1/J7 multi-join, A1 agg, O-top-k (TPC-H Q3 shape)",
)
def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(_dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount"))))
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            # epoch-µs bigints on both engines: no tz-awareness ambiguity in
            # the driver's value hash (see ARCHITECTURE.md correctness notes)
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("order_date_us"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "nation_revenue",
    """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM region JOIN nation ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders ON o_custkey = c_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
    WHERE r_name IN ('EUROPE', 'ASIA')
    GROUP BY n_name
    """,
    covers="J1 broadcast dim joins, F4 pushdown, A1 (TPC-H Q5 shape)",
)
def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name").isin("EUROPE", "ASIA"))
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # Broadcast ONLY the fixed-size dims (25 nations × 5 regions); customer
    # is SF-proportional (150k × SF rows) and must shuffle-join on
    # c_custkey, never sit on a broadcast build side — at 100 TB a
    # customer broadcast would OOM the driver.
    dims = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    c_dim = c.select("c_custkey", "c_nationkey").join(
        F.broadcast(dims), c.c_nationkey == dims.n_nationkey
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c_dim, o.o_custkey == c_dim.c_custkey)
        .groupBy("n_name")
        .agg(
            F.sum(_dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount"))))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Self-joins (J4/J5), windows (W1-W6)
# ---------------------------------------------------------------------------


@register(
    "pair_count_matrix",
    """
    SELECT a.l_linenumber AS start_line, b.l_linenumber AS end_line, count(*) AS n_pairs
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
    GROUP BY 1, 2
    """,
    covers="J4/J5 stop-pair self-join + A10 pair-count matrix (src/monitor/mod.rs:1510-1528)",
)
def q_pair_count_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
        )
        .groupBy(
            F.col("a.l_linenumber").alias("start_line"),
            F.col("b.l_linenumber").alias("end_line"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "latest_wins_dedup",
    """
    SELECT user_id, event_type, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    covers="W1/S6 latest-wins upsert dedup (src/importer/per_schedule_importer.rs:406-421)",
)
def q_latest_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_type", "event_id",
            F.unix_micros("ts").alias("ts_us"), "value",
        )
    )


@register(
    "forward_fill",
    """
    SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
           last_value(masked IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
    FROM (SELECT event_id, user_id, ts,
                 CASE WHEN event_type = 'error' THEN NULL ELSE value END AS masked
          FROM events)
    """,
    covers="W3/J6 forward-fill gap projection (src/analyser/specific_curves.rs:204-249)",
)
def q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "masked", F.when(F.col("event_type") == "error", None).otherwise(F.col("value"))
    )
    filled = forward_fill(ev, ["user_id"], ["ts", "event_id"], ["masked"])
    return filled.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("masked_filled").alias("value_filled"),
    )


@register(
    "running_totals",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           row_number() OVER w AS rn,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_price
    FROM lineitem
    WHERE l_suppkey <= 20
    WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    covers="W5/W6 ordered frames, O2 sort (running aggregates)",
)
def q_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 20)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.row_number().over(w).alias("rn"),
        F.sum(_dec(F.col("l_extendedprice"))).over(w).cast("double").alias("running_price"),
    )


# ---------------------------------------------------------------------------
# Time semantics: interval buckets (A1), time slots (C3), as-of (J3)
# ---------------------------------------------------------------------------

_INTERVAL = 4 * 3600


@register(
    "interval_counts",
    f"""
    SELECT epoch_us({Fti.interval_bucket_sql('ts', _INTERVAL)}) AS bucket_us,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
    FROM events
    WHERE value BETWEEN -36000 AND 36000
    GROUP BY 1
    """,
    covers="A1/A2 interval count report (src/analyser/count.rs:15-80), F1 validity bounds",
)
def q_interval_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(Fd.count_valid(F.col("value")))
    return (
        ev.groupBy(
            F.unix_micros(Fti.interval_bucket(F.col("ts"), _INTERVAL)).alias("bucket_us")
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(_dec(F.col("value"))).cast("double") / F.count("*")).alias("avg_value"),
        )
    )


@register(
    "time_slots",
    f"""
    SELECT {Fti.time_slot_id_sql('ts')} AS time_slot_id,
           event_type,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    covers="C3 TimeSlot bucketing incl. wraparound (src/types/time_slots.rs:27-201)",
)
def q_time_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            Fti.time_slot_id(F.col("ts")).alias("time_slot_id"), F.col("event_type")
        )
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "asof_join",
    """
    WITH od AS (
      SELECT o_custkey, o_orderdate,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_total
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, epoch_us(CAST(e.ts AS TIMESTAMP)) AS ts_us,
           epoch_us(od.o_orderdate) AS last_order_date_us,
           od.day_total AS last_order_total
    FROM events e
    ASOF LEFT JOIN od ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
    """,
    covers="J3 as-of join (src/importer/mod.rs:377-451) via union+window; DuckDB native ASOF as oracle",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    od = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.sum(_dec(F.col("o_totalprice"))).cast("double").alias("day_total"))
        .withColumnRenamed("o_custkey", "user_id")
    )
    joined = asof_join(
        ev, od, on=["user_id"], left_time="ts", right_time="o_orderdate",
        payload_cols=["o_orderdate", "day_total"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("last_order_date_us"),
        F.col("day_total").alias("last_order_total"),
    )


# ---------------------------------------------------------------------------
# Domain scalars on generic data: rounding (F3), sections, haversine (C9/J8)
# ---------------------------------------------------------------------------


@register(
    "delay_rounding",
    f"""
    SELECT {Fd.round_toward_zero_sql('CAST(floor(value * 60) AS BIGINT) - 1500')} AS rounded_delay,
           count(*) AS n
    FROM events
    GROUP BY 1
    """,
    covers="F3 truncate-toward-zero 12-s rounding (src/analyser/specific_curves.rs:319-320)",
)
def q_delay_rounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    delay = (F.floor(F.col("value") * 60).cast("long") - 1500).alias("delay")
    return (
        ev.select(Fd.round_toward_zero(delay).alias("rounded_delay"))
        .groupBy("rounded_delay")
        .agg(F.count("*").alias("n"))
    )


@register(
    "route_sections",
    f"""
    WITH pos AS (
      SELECT l_orderkey,
             row_number() OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey, l_shipdate,
                          l_extendedprice, l_quantity) - 1 AS stop_index,
             count(*) OVER (PARTITION BY l_orderkey) AS stop_count,
             l_extendedprice
      FROM lineitem
    )
    SELECT {Fr.route_section_sql('stop_index', 'stop_count')} AS route_section,
           count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM pos GROUP BY 1
    """,
    covers="RouteSection derivation (src/types/route_sections.rs:37-52) via window count+index",
)
def q_route_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is not unique in the synthetic data; order
    # by the full tuple so ties are only between identical rows
    wo = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_quantity",
    )
    wc = Window.partitionBy("l_orderkey")
    pos = li.select(
        "l_orderkey",
        (F.row_number().over(wo) - 1).alias("stop_index"),
        F.count("*").over(wc).alias("stop_count"),
        "l_extendedprice",
    )
    return (
        pos.groupBy(
            Fr.route_section(F.col("stop_index"), F.col("stop_count")).alias("route_section")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("total_price"),
        )
    )


_LAT_A = "((s_suppkey % 120) * 0.001 - 0.05)"
_LON_A = "((s_suppkey % 77) * 0.001)"


@register(
    "extended_stops",
    f"""
    WITH coords AS (
      SELECT s_suppkey, {_LAT_A} AS lat, {_LON_A} AS lon FROM supplier
    )
    SELECT a.s_suppkey AS stop_a, b.s_suppkey AS stop_b,
           round({Fg.haversine_m_sql('a.lat', 'a.lon', 'b.lat', 'b.lon')}, 3) AS dist_m
    FROM coords a JOIN coords b ON a.s_suppkey < b.s_suppkey
    WHERE {Fg.haversine_m_sql('a.lat', 'a.lon', 'b.lat', 'b.lon')} < 300.0
    """,
    covers="C9 haversine + J8 geo proximity self-join, 300 m radius (src/monitor/journey_data.rs:22-23, 241-263)",
)
def q_extended_stops(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") % 120) * 0.001 - 0.05).alias("lat"),
        ((F.col("s_suppkey") % 77) * 0.001).alias("lon"),
    )
    # Grid-cell equi-join (J8 scale path): linear shuffle instead of the
    # O(n²) non-equi self-join that plans as BroadcastNestedLoop.  The
    # fixture's latitude extent is fixed by construction (|lat| ≤ 0.07°),
    # so pass the bound and skip the data-derived max(abs(lat)) job.
    return (
        Fg.grid_proximity_pairs(
            s, ["s_suppkey"], "lat", "lon", 300.0, max_abs_lat_deg=0.07
        )
        .filter(
            (F.col("s_suppkey_a") < F.col("s_suppkey_b")) & (F.col("dist_m") < 300.0)
        )
        .select(
            F.col("s_suppkey_a").alias("stop_a"),
            F.col("s_suppkey_b").alias("stop_b"),
            F.round("dist_m", 3).alias("dist_m"),
        )
    )


# ---------------------------------------------------------------------------
# Rollup hierarchy (A6), quantiles (A13), ECDF (A3)
# ---------------------------------------------------------------------------


@register(
    "rollup_revenue",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    covers="A6 hierarchical rollup levels (src/analyser/default_curves.rs:42-248)",
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("revenue"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n",
        )
    )


@register(
    "pivot_revenue",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS status_O,
           CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS status_F
    FROM lineitem GROUP BY l_returnflag
    """,
    covers="pivot / conditional aggregation (guide's common OLAP patterns)",
)
def q_pivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec(F.col("l_extendedprice"))).cast("double"))
        .withColumnRenamed("O", "status_O")
        .withColumnRenamed("F", "status_F")
    )


@register(
    "delay_quantiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.01), 6) AS p01,
           round(quantile_cont(value, 0.05), 6) AS p05,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.50), 6) AS p50,
           round(quantile_cont(value, 0.75), 6) AS p75,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
    covers="A13 quantile extraction p1..p99 (src/types/prediction_result.rs:34-48)",
)
def q_delay_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ps = {"p01": 0.01, "p05": 0.05, "p25": 0.25, "p50": 0.50, "p75": 0.75, "p95": 0.95, "p99": 0.99}
    return ev.groupBy("event_type").agg(
        *[F.round(F.percentile("value", F.lit(p)), 6).alias(n) for n, p in ps.items()]
    )


@register(
    "ecdf_per_type",
    """
    SELECT DISTINCT event_type, value,
           round(cume_dist() OVER (PARTITION BY event_type ORDER BY value), 9) AS cdf
    FROM events
    """,
    covers="A3 ECDF construction via cume_dist (src/analyser/curve_utils.rs:44-94, unweighted)",
)
def q_ecdf_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    return ev.select(
        "event_type", "value", F.round(F.cume_dist().over(w), 9).alias("cdf")
    ).distinct()


# ---------------------------------------------------------------------------
# Set ops / anti-joins / autocomplete (E1-E4, O4)
# ---------------------------------------------------------------------------


@register(
    "inactive_customers",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT user_id FROM events)
    """,
    covers="E2/W2 duplicate-removal as anti-join (src/monitor/mod.rs:478-495)",
)
def q_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    return c.join(
        ev, c.c_custkey == ev.user_id, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "autocomplete",
    """
    SELECT DISTINCT p_name FROM part
    WHERE contains(lower(p_name), 'sm') AND contains(lower(p_name), 'gi')
    ORDER BY p_name LIMIT 10
    """,
    covers="O4 top-10 autocomplete w/ contains_all (src/monitor/mod.rs:198-223), C7",
)
def q_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    terms = ["sm", "gi"]
    cond = F.lit(True)
    for t in terms:
        cond = cond & F.lower(F.col("p_name")).contains(t)
    return p.filter(cond).select("p_name").distinct().orderBy("p_name").limit(10)


# ---------------------------------------------------------------------------
# Fallback hierarchy (J10) on generic dims
# ---------------------------------------------------------------------------


@register(
    "fallback_lookup",
    """
    WITH by_brand_type AS (
      SELECT p_brand, p_type,
             CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS est,
             count(*) AS n
      FROM part GROUP BY 1, 2 HAVING count(*) >= 5
    ), by_brand AS (
      SELECT p_brand,
             CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS est,
             count(*) AS n
      FROM part GROUP BY 1 HAVING count(*) >= 5
    ), overall AS (
      SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS est,
             count(*) AS n
      FROM part
    )
    SELECT p.p_partkey,
           coalesce(bt.est, bb.est, overall.est) AS predicted_price,
           CASE WHEN bt.est IS NOT NULL THEN 'specific'
                WHEN bb.est IS NOT NULL THEN 'semi_specific'
                ELSE 'general' END AS precision_type,
           coalesce(bt.n, bb.n, overall.n) AS sample_size
    FROM part p
    LEFT JOIN by_brand_type bt ON p.p_brand = bt.p_brand AND p.p_type = bt.p_type
    LEFT JOIN by_brand bb ON p.p_brand = bb.p_brand
    CROSS JOIN overall
    """,
    covers="J10 fallback-hierarchy coalesce ladder + PrecisionType (src/predictor/mod.rs:178-335), F11 min-sample guards",
)
def q_fallback_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    avg_ = (F.sum(_dec(F.col("p_retailprice"))).cast("double") / F.count("*")).alias("est")
    spec = (
        p.groupBy("p_brand", "p_type")
        .agg(avg_, F.count("*").alias("n"))
        .filter(F.col("n") >= 5)
        .select(
            F.col("p_brand").alias("sb"), F.col("p_type").alias("st"),
            F.col("est").alias("spec_est"), F.col("n").alias("spec_n"),
        )
    )
    semi = (
        p.groupBy("p_brand")
        .agg(avg_, F.count("*").alias("n"))
        .filter(F.col("n") >= 5)
        .select(F.col("p_brand").alias("mb"), F.col("est").alias("semi_est"), F.col("n").alias("semi_n"))
    )
    glob = p.agg(avg_, F.count("*").alias("n")).select(
        F.col("est").alias("glob_est"), F.col("n").alias("glob_n")
    )
    return (
        p.join(
            F.broadcast(spec),
            (p.p_brand == F.col("sb")) & (p.p_type == F.col("st")),
            "left",
        )
        .join(F.broadcast(semi), p.p_brand == F.col("mb"), "left")
        .crossJoin(F.broadcast(glob))
        .select(
            "p_partkey",
            F.coalesce("spec_est", "semi_est", "glob_est").alias("predicted_price"),
            F.when(F.col("spec_est").isNotNull(), "specific")
            .when(F.col("semi_est").isNotNull(), "semi_specific")
            .otherwise("general")
            .alias("precision_type"),
            F.coalesce("spec_n", "semi_n", "glob_n").alias("sample_size"),
        )
    )


# ---------------------------------------------------------------------------
# Sessionization (T7 analog)
# ---------------------------------------------------------------------------


@register(
    "sessionize",
    """
    WITH gaps AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CASE WHEN epoch(CAST(ts AS TIMESTAMP)) - epoch(lag(CAST(ts AS TIMESTAMP)) OVER w) > 1800
                       OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             -- CAST: DuckDB's windowed sum() returns HUGEINT (int128), which
             -- pandas renders as float64 and breaks the exact value hash
             -- against Spark's BIGINT session_id.
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id, count(*) AS n_events,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
    FROM sess GROUP BY 1, 2
    """,
    covers="T7 sessionization: event-time gap windows (lag + cumulative sum)",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    gaps = ev.withColumn(
        "new_session",
        F.when(
            (F.col("ts").cast("double") - F.lag("ts").over(w).cast("double") > 1800)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = gaps.withColumn("session_id", F.sum("new_session").over(wcum))
    # Session duration in epoch-µs BIGINT (the catalog's timestamp
    # convention): exact integer arithmetic on both engines, unlike a
    # float-seconds round() that can differ by 1 ulp at µs boundaries.
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "duration_us"
        ),
    )


@register(
    "windowed_counts_stream",
    """
    SELECT epoch_us(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 14400)
                                  AS BIGINT) * 14400)) AS window_start_us,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    covers="T1/T7 executed as a REAL Structured Streaming job: file-source "
    "stream over the events parquet, event-time 4h tumbling window with a "
    "1h watermark, availableNow trigger draining to a memory sink — the "
    "batch SQL twin proves stream/batch result parity "
    "(streaming/aggregations.py windowed_event_counts shape)",
)
def q_windowed_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import uuid as _uuid

    from pyspark.sql import types as T

    # batch load first: applies session confs and tells us the physical
    # timestamp encoding (legacy epoch-ns long vs timestamp[us] NTZ)
    load_table(spark, sf_dir, "events")
    path = _os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    # the file source wants a directory: stream the sf dir filtered down
    # to the events file (exactly how a production job would tail a
    # landing directory of parquet drops)
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(src.schema["ts"].dataType, T.LongType):
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(src.schema["ts"].dataType, T.TimestampNTZType):
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "4 hours").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(_dec(F.col("value"))).cast("double") / F.count("*")).alias(
                "avg_value"
            ),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )
    sink = f"winstream_{_uuid.uuid4().hex[:8]}"
    from .streaming.pipeline import catalog_stream_state

    with catalog_stream_state(spark, 8):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


@register(
    "stream_stream_join",
    """
    SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
           epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP))
             AS gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 4 HOUR
    """,
    covers="Stream-stream event-time range join (view→purchase funnel "
    "attribution) executed as a REAL Structured Streaming job: two "
    "file-source streams, per-side watermarks bounding the range-join "
    "state, append mode, availableNow trigger.  An inner stream-stream "
    "join emits exactly the batch join's rows, which is what lets the "
    "plain batch SQL act as the oracle.",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import uuid as _uuid

    from pyspark.sql import types as T

    load_table(spark, sf_dir, "events")
    schema = spark.read.parquet(_os.path.join(sf_dir, "events.parquet")).schema

    def mkstream():
        s = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        if isinstance(s.schema["ts"].dataType, T.LongType):
            s = s.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(s.schema["ts"].dataType, T.TimestampNTZType):
            s = s.withColumn("ts", F.col("ts").cast("timestamp"))
        return s

    a = (
        mkstream()
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("u"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("a_ts"),
        )
        .withWatermark("a_ts", "1 hour")
    )
    b = (
        mkstream()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("u2"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("b_ts"),
        )
        .withWatermark("b_ts", "1 hour")
    )
    j = a.join(
        b,
        (F.col("u") == F.col("u2"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 4 HOURS")),
    )
    out = j.select(
        F.col("u").alias("user_id"),
        "view_id",
        "purchase_id",
        (F.unix_micros("b_ts") - F.unix_micros("a_ts")).alias("gap_us"),
    )
    sink = f"ssjoin_{_uuid.uuid4().hex[:8]}"
    from .streaming.pipeline import catalog_stream_state

    with catalog_stream_state(spark, 8):
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


@register(
    "session_window_stream",
    """
    WITH gaps AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CASE WHEN epoch(CAST(ts AS TIMESTAMP)) - epoch(lag(CAST(ts AS TIMESTAMP)) OVER w) > 1800
                       OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           CAST(epoch_us(max(ts)) + 1800000000 AS BIGINT) AS session_end_us,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
    covers="T7 sessionization executed NATIVELY in Structured Streaming: "
    "session_window(gap) merge-on-overlap aggregation over a file-source "
    "stream, availableNow trigger, memory sink.  Probed boundary semantics: "
    "an exact-gap arrival MERGES (new session iff gap > 30 min), matching "
    "the batch lag/cumsum twin's strict inequality; window end = last "
    "event + gap.",
)
def q_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import uuid as _uuid

    from pyspark.sql import types as T

    load_table(spark, sf_dir, "events")
    schema = spark.read.parquet(_os.path.join(sf_dir, "events.parquet")).schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(src.schema["ts"].dataType, T.LongType):
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(src.schema["ts"].dataType, T.TimestampNTZType):
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
        )
    )
    sink = f"sesswin_{_uuid.uuid4().hex[:8]}"
    from .streaming.pipeline import catalog_stream_state

    with catalog_stream_state(spark, 8):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink)


# ---------------------------------------------------------------------------
# Text analysis (training-data ops)
# ---------------------------------------------------------------------------


@register(
    "token_counts",
    f"""
    SELECT doc_id,
           {Ft.ws_token_count_sql('text')} AS ws_tokens,
           {Ft.bpe_ish_token_count_sql('text')} AS bpe_tokens,
           n_chars
    FROM documents
    """,
    covers="token counting (whitespace + BPE-ish regex) for training-data pipelines",
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        Ft.ws_token_count(F.col("text")).alias("ws_tokens"),
        Ft.bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
        "n_chars",
    )


@register(
    "quality_scores",
    f"""
    SELECT doc_id, lang,
           round({Ft.quality_score_sql('text')}, 6) AS quality,
           round({Ft.punct_ratio_sql('text')}, 6) AS punct_ratio,
           round({Ft.mean_word_len_sql('text')}, 6) AS mean_word_len,
           round({Ft.stopword_ratio_sql('text', 'en')}, 6) AS stopword_ratio
    FROM documents
    """,
    covers="document quality scoring (length/punct/stopword heuristics)",
)
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _spread

    # regex-heavy row-wise scoring on a one-split table pins a core;
    # round-robin to cluster parallelism first (no-op at real scale)
    d = _spread(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        "lang",
        F.round(Ft.quality_score(F.col("text")), 6).alias("quality"),
        F.round(Ft.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(Ft.mean_word_len(F.col("text")), 6).alias("mean_word_len"),
        F.round(Ft.stopword_ratio(F.col("text"), "en"), 6).alias("stopword_ratio"),
    )


@register(
    "lang_id",
    f"""
    SELECT doc_id, lang AS labeled_lang,
           {Ft.lang_id_sql('text')} AS detected_lang
    FROM documents
    """,
    covers="language-ID n-gram/stopword heuristic",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        Ft.lang_id(F.col("text")).alias("detected_lang"),
    )


@register(
    "fingerprint_dedup",
    f"""
    SELECT fp AS fingerprint, count(*) AS dup_count, min(doc_id) AS canonical_id
    FROM (SELECT doc_id, {Ft.fingerprint_sql('text')} AS fp FROM documents)
    GROUP BY fp
    """,
    covers="document fingerprinting + exact dedup hash-groupBy",
)
def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _spread

    d = _spread(load_table(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", Ft.fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("dup_count"), F.min("doc_id").alias("canonical_id"))
    )


@register(
    "soft_dedup_weights",
    None,  # replaced below (built from the dedup module's SQL twin)
)
def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import soft_dedup_weights

    d = load_table(spark, sf_dir, "documents")
    return soft_dedup_weights(d, alpha=0.5).orderBy("doc_id")


def _finalize_soft_dedup_oracle() -> None:
    from .operators.dedup import soft_dedup_weights_sql

    spec = REGISTRY["soft_dedup_weights"]
    REGISTRY["soft_dedup_weights"] = QuerySpec(
        fn=spec.fn,
        oracle=soft_dedup_weights_sql("documents", alpha=0.5),
        covers="Soft deduplication (SoftDedup, ACL 2024): reweight "
        "m^(-alpha) per duplicate-group member instead of removing — "
        "keeps the commonness signal and composes with weighted_sample; "
        "one map-side count + one equi-join, linear at any scale",
    )


_finalize_soft_dedup_oracle()


# C6: the duration strings are synthesized deterministically from order
# keys with IDENTICAL expressions on both engines, so the comparison
# isolates the parser itself.
_DURATION_STR_SQL = """
    CASE o_orderkey % 5
      WHEN 0 THEN concat(CAST(o_orderkey % 30 AS STRING), 'h ',
                         CAST(o_orderkey % 60 AS STRING), 'min')
      WHEN 1 THEN concat(CAST(o_orderkey % 90 AS STRING), 'm')
      WHEN 2 THEN concat(CAST(o_orderkey % 7 AS STRING), 'd',
                         CAST(o_orderkey % 24 AS STRING), 'h')
      WHEN 3 THEN CAST(o_orderkey % 3600 AS STRING)
      ELSE concat(CAST(o_orderkey % 1000 AS STRING), 'ms ',
                  CAST(o_orderkey % 1000 AS STRING), 'us')
    END
"""


@register(
    "duration_parse",
    f"""
    SELECT o_orderkey, dur_str,
           {Ft.parse_duration_us_sql('dur_str')} AS duration_us
    FROM (SELECT o_orderkey, {_DURATION_STR_SQL} AS dur_str FROM orders)
    """,
    covers="C6 duration-string parsing (parse_duration on the count "
    "interval arg, src/analyser/count.rs:30-37): '<int><unit>' terms to "
    "total microseconds, pure JVM higher-order functions",
)
def q_duration_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _spread

    # grammar parse is per-row regex/HOF CPU on a one-split scan
    o = _spread(load_table(spark, sf_dir, "orders"))
    o.createOrReplaceTempView("__dp_orders")
    durs = spark.sql(
        f"SELECT o_orderkey, {_DURATION_STR_SQL} AS dur_str FROM __dp_orders"
    )
    return durs.select(
        "o_orderkey",
        "dur_str",
        Ft.parse_duration_us(F.col("dur_str")).alias("duration_us"),
    )


@register(
    "percent_encoding",
    f"""
    SELECT p_partkey, raw,
           {Ft.percent_encode_path_sql('raw')} AS encoded,
           {Ft.percent_decode_path_sql(Ft.percent_encode_path_sql('raw'))}
             = raw AS roundtrip_ok
    FROM (
      SELECT p_partkey,
             -- chr(9): DuckDB string literals do not process backslash
             -- escapes, so the tab control byte is spliced explicitly
             concat(p_name, '/', p_type, '?q="', p_brand,
                    '`ü' || chr(9) || 'tail') AS raw
      FROM part
    )
    """,
    covers="C8 URL path-element percent-encoding (PATH_ELEMENT_ESCAPE, "
    "src/monitor/mod.rs:25-27, applied at mod.rs:1214-1262) and its "
    "percent_decode inverse — byte-wise over the UTF-8 hex expansion, "
    "all JVM expressions",
)
def q_percent_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _spread

    # byte-wise HOF encode/decode is per-row CPU on a one-split scan
    p = _spread(load_table(spark, sf_dir, "part"))
    raw = F.concat(
        F.col("p_name"),
        F.lit("/"),
        F.col("p_type"),
        F.lit('?q="'),
        F.col("p_brand"),
        F.lit("`ü\ttail"),
    )
    enc = Ft.percent_encode_path(F.col("raw"))
    return (
        p.select("p_partkey", raw.alias("raw"))
        .withColumn("encoded", enc)
        .withColumn(
            "roundtrip_ok",
            Ft.percent_decode_path(F.col("encoded")) == F.col("raw"),
        )
    )


def _capped_knots_sql_for(knots_sql: str, cap: int) -> str:
    """Rank-stride knot cap (first + last always kept) with a parametric
    bound — the relational twin of curves.codec.cap_indices."""
    stride = f"CAST(floor((knd + {cap - 1}.0) / {cap}) AS BIGINT)"
    return f"""
    SELECT event_type, x, y FROM (
      SELECT k.event_type, k.x, k.y,
             row_number() OVER (PARTITION BY k.event_type ORDER BY k.x) AS krn,
             count(*) OVER (PARTITION BY k.event_type) AS knd
      FROM ({knots_sql}) k
    ) capped
    WHERE krn = 1 OR krn = knd OR (krn - 1) % {stride} = 0
    """


# ---------------------------------------------------------------------------
# Multimodal (binary columns → mapInPandas decode kernels)
# ---------------------------------------------------------------------------
#
# The synthetic blobs come from a closed-form byte formula
# (operators/multimodal.py synthetic_*_assets), so the oracle recomputes
# the expected decode-kernel outputs from the formula alone — it shares
# no code with the Spark path, which really builds the bytes JVM-side,
# ships them through Arrow, and decodes them in the mapInPandas kernel.


@register(
    "image_stats",
    """
    SELECT d.doc_id AS asset_id, 8 AS width, 8 AS height,
           sum((d.doc_id * 31 + r.i * 7) % 256) / 192.0 AS mean_intensity
    FROM documents d CROSS JOIN range(0, 192) r(i)
    GROUP BY d.doc_id
    """,
    covers="Multimodal image path: binary column → Arrow batch → decode + "
    "featurize kernel (deterministic fake; swap for Pillow in production). "
    "Oracle recomputes mean intensity from the blob-generating formula.",
)
def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import (
        decode_and_featurize_images,
        synthetic_image_assets,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = decode_and_featurize_images(synthetic_image_assets(docs))
    return feats.select("asset_id", "width", "height", "mean_intensity")


@register(
    "image_phash_dedup",
    """
    WITH px AS (
      SELECT d.doc_id, p.p,
             ((d.doc_id*31 + (3*p.p)*7) % 256
              + (d.doc_id*31 + (3*p.p+1)*7) % 256
              + (d.doc_id*31 + (3*p.p+2)*7) % 256) AS gs
      FROM documents d CROSS JOIN range(0, 64) p(p)
    ), tot AS (
      SELECT doc_id, sum(gs) AS total FROM px GROUP BY 1
    ), h AS (
      SELECT px.doc_id,
             CAST(sum(CASE WHEN px.p >= 32 AND px.gs*64 > tot.total
                      THEN CAST(1 AS BIGINT) << (px.p - 32) ELSE 0 END)
                  AS BIGINT) AS phash_hi,
             CAST(sum(CASE WHEN px.p < 32 AND px.gs*64 > tot.total
                      THEN CAST(1 AS BIGINT) << px.p ELSE 0 END)
                  AS BIGINT) AS phash_lo
      FROM px JOIN tot USING (doc_id) GROUP BY px.doc_id
    ), g AS (
      SELECT phash_hi, phash_lo, count(*) AS group_size
      FROM h GROUP BY 1, 2
    )
    SELECT h.phash_hi, h.phash_lo, h.doc_id AS asset_id,
           CAST(g.group_size AS BIGINT) AS group_size
    FROM h JOIN g USING (phash_hi, phash_lo)
    WHERE g.group_size > 1
    ORDER BY phash_hi, phash_lo, asset_id
    """,
    covers="Multimodal perceptual dedup: integer-exact average-hash over "
    "decoded pixels (Arrow-batched mapInPandas kernel), hash groupBy, "
    "window group-size — image-side fingerprint_dedup.  The oracle "
    "recomputes the hash from the blob-generating byte formula; the blob "
    "layout repeats every 256 doc_ids, so real dup groups exist",
)
def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import (
        image_phash_dup_groups,
        synthetic_image_assets,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_phash_dup_groups(synthetic_image_assets(docs)).orderBy(
        "phash_hi", "phash_lo", "asset_id"
    )


@register(
    "video_frame_stats",
    """
    SELECT d.doc_id AS asset_id, 4 AS n_frames, f.f_idx AS frame_idx,
           sum((d.doc_id * 31 + (f.f_idx * 192 + r.i) * 7) % 256) / 192.0
             AS mean_intensity
    FROM documents d
    CROSS JOIN (VALUES (0), (2)) f(f_idx)
    CROSS JOIN range(0, 192) r(i)
    GROUP BY d.doc_id, f.f_idx
    """,
    covers="Multimodal video path: binary column → frame decode → stride-2 "
    "frame sampling → per-frame stats (deterministic fake kernel; swap for "
    "pyav in production). Oracle recomputes from the blob formula.",
)
def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import (
        sample_video_frames,
        synthetic_video_assets,
    )

    docs = load_table(spark, sf_dir, "documents")
    return sample_video_frames(synthetic_video_assets(docs), stride=2).select(
        "asset_id", "n_frames", "frame_idx", "mean_intensity"
    )


@register(
    "audio_rms",
    """
    WITH counts AS (
      SELECT d.doc_id AS asset_id, CAST(r.i // 160 AS INTEGER) AS frame_idx,
             count(*) FILTER (WHERE (d.doc_id * 7 + r.i * 13) % 3 = 0) AS k
      FROM documents d CROSS JOIN range(0, 320) r(i)
      GROUP BY 1, 2
    )
    -- frame values are exactly {0.0, 1.0} (bytes restricted to {0, 255}),
    -- so RMS = sqrt(k/160); the float32-kernel vs double-SQL paths are
    -- quantized at 1e4, validated bit-exact for every k in [0, 160]
    -- (tests/test_sources_streaming.py).
    SELECT asset_id, 2 AS n_frames, frame_idx,
           CAST(round(CAST(sqrt(k / 160.0) AS REAL) * 10000) AS BIGINT) AS rms_q
    FROM counts
    """,
    covers="Multimodal audio path: binary column → frame decode → per-frame "
    "RMS energy (deterministic fake kernel; swap for torchaudio in "
    "production). Oracle recomputes from the blob formula.",
)
def q_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import (
        sample_audio_features,
        synthetic_audio_assets,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = sample_audio_features(synthetic_audio_assets(docs))
    return feats.select(
        "asset_id", "n_frames", F.posexplode("rms").alias("frame_idx", "rms")
    ).select(
        "asset_id",
        "n_frames",
        "frame_idx",
        F.round(F.col("rms").cast("double") * 10000).cast("bigint").alias("rms_q"),
    )


# ---------------------------------------------------------------------------
# Similarity search / near-dup (embedding ops)
# ---------------------------------------------------------------------------


_COSINE_TOPK_SQL = """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.q_vec, CAST(c.embedding AS DOUBLE[])), 4) AS cosine
      FROM q JOIN embeddings c ON c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@register(
    "cosine_topk",
    _COSINE_TOPK_SQL,
    covers="brute-force cosine top-k ANN baseline (zip_with/aggregate dot product)",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _spread

    # the dot-product fold against every corpus row is the CPU; spread
    # the one-split corpus scan (queries stay tiny and broadcast)
    emb = _spread(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < 5)
    return cosine_topk(q, emb, k=5)


@register(
    "embedding_near_dups",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
    """,
    covers="embedding-cosine near-dup detection (exact pairwise baseline)",
)
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return allpairs_cosine(emb, threshold=0.4, block_size=512)


@register(
    "embedding_pca",
    # differential oracle: single-node exact-moment replica
    # (chunked-einsum Python-int accumulation vs the engine's
    # per-Arrow-batch int64 matmul kernel) feeding the shared fit —
    # integer arithmetic end to end, so ANY partitioning difference
    # that changed a number would be a kernel bug, not float noise
    f"""
    SELECT vec_id, component, proj
    FROM {_dt("expected_embedding_pca")}
    WHERE corpus_fp = {_CORPUS_FP_SQL}
    ORDER BY vec_id, component
    """,
    covers="distributed PCA/whitening fit (one-pass exact fixed-point "
    "Gram via mapInPandas map-side combine — d^2 state per task, no "
    "embedding ever shuffled) + centered top-k projection as a "
    "broadcast map (exact int64 dot fold in codegen, one float "
    "subtraction, one power-of-two scale)",
)
def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pca import pca_fit, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    try:
        model = pca_fit(emb)
    except ValueError:  # empty corpus: no fit, empty projection
        return spark.createDataFrame(
            [], "vec_id: long, component: int, proj: double"
        )
    return pca_project(emb, model, k=8).orderBy("vec_id", "component")


@register(
    "pca_spectrum",
    f"""
    SELECT component, eigenvalue, var_ratio, cum_ratio
    FROM {_dt("expected_pca_spectrum")}
    WHERE corpus_fp = {_CORPUS_FP_SQL}
    ORDER BY component
    """,
    covers="PCA eigenvalue / explained-variance ladder from the same "
    "one-pass exact-moment fit (energy-based dimension truncation "
    "before ANN / SemDeDup)",
)
def q_pca_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from .operators.pca import pca_fit, pca_spectrum

    emb = load_table(spark, sf_dir, "embeddings")
    try:
        rows = pca_spectrum(pca_fit(emb), k=8)
    except ValueError:  # empty corpus: empty spectrum
        rows = []
    schema = T.StructType(
        [
            T.StructField("component", T.IntegerType(), False),
            T.StructField("eigenvalue", T.DoubleType(), False),
            T.StructField("var_ratio", T.DoubleType(), False),
            T.StructField("cum_ratio", T.DoubleType(), False),
        ]
    )
    return spark.createDataFrame(
        [(r["component"], r["eigenvalue"], r["var_ratio"], r["cum_ratio"]) for r in rows],
        schema,
    ).orderBy("component")


# DuckDB twins for the minhash/simhash pipelines: both engines use the
# SAME portable base hash (md5 hex fold, dedup.portable_base_hash) and
# the SAME affine family constants, and the oracle replicates the FULL
# pipeline (shingling → signatures → banding/pigeonhole → verify), so
# the candidate sets — not just the final similarities — are exactly
# equal by construction, with no LSH-recall probability in the compare.
_FAM64_SQL = "fam(i, a, b) AS (VALUES " + ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(_hash_family(64))
) + ")"
_MD5_FOLD = portable_base_hash_sql("hx")

_MINHASH_ORACLE_SQL = f"""
    WITH {_FAM64_SQL},
    tokd AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ),
    pos AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks) - 2, 1))) AS i
      FROM tokd
    ),
    sh0 AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN array_to_string(toks, ' ')
                  ELSE array_to_string(toks[i + 1 : i + 3], ' ') END AS shingle
      FROM pos
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
    hashed AS (
      SELECT doc_id, shingle, ({_MD5_FOLD}) % {MERSENNE_P} AS hm
      FROM (SELECT doc_id, shingle, substr(md5(shingle), 1, 15) AS hx FROM sh)
    ),
    mins AS (
      SELECT doc_id, f.i, min((hm * f.a + f.b) % {MERSENNE_P}) AS mh
      FROM hashed CROSS JOIN fam f GROUP BY doc_id, f.i
    ),
    bands AS (
      SELECT doc_id, i // 4 AS band_id, list(mh ORDER BY i) AS sig
      FROM mins GROUP BY doc_id, i // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS ni
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           CAST(coalesce(ni, 0) AS DOUBLE) / (za.n + zb.n - coalesce(ni, 0)) AS jaccard
    FROM cand c
    LEFT JOIN inter ON inter.id_a = c.id_a AND inter.id_b = c.id_b
    JOIN sizes za ON za.doc_id = c.id_a
    JOIN sizes zb ON zb.doc_id = c.id_b
    WHERE CAST(coalesce(ni, 0) AS DOUBLE) / (za.n + zb.n - coalesce(ni, 0)) >= 0.5
    ORDER BY c.id_a, c.id_b
"""

_SIMHASH_ORACLE_SQL = f"""
    WITH {_FAM64_SQL},
    tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, ({_MD5_FOLD}) % {MERSENNE_P} AS hm
      FROM (SELECT doc_id, substr(md5(tok), 1, 15) AS hx FROM tok)
    ),
    bits AS (
      SELECT doc_id, f.i,
             CASE WHEN sum(CASE WHEN ((hm * f.a + f.b) % {MERSENNE_P}) % 2 = 1
                                THEN 1 ELSE -1 END) > 0
                  THEN 1 ELSE 0 END AS bit
      FROM hashed CROSS JOIN fam f GROUP BY doc_id, f.i
    ),
    chunks AS (
      SELECT doc_id, i // 16 AS chunk_id, list(bit ORDER BY i) AS chunk
      FROM bits GROUP BY doc_id, i // 16
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM chunks a JOIN chunks b
        ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
    FROM cand c
    JOIN bits ba ON ba.doc_id = c.id_a
    JOIN bits bb ON bb.doc_id = c.id_b AND bb.i = ba.i
    GROUP BY 1, 2
    HAVING sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) <= 3
    ORDER BY id_a, id_b
"""


@register(
    "minhash_near_dups",
    _MINHASH_ORACLE_SQL,
    covers="MinHash+LSH near-dup pipeline (shingle → minhash → band → bucket join → Jaccard verify)",
)
def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(d, threshold=0.5, base_hash="md5").orderBy(
        "id_a", "id_b"
    )


@register(
    "simhash_near_dups",
    _SIMHASH_ORACLE_SQL,
    covers="SimHash near-dup pipeline (bit-vote signature + chunk pigeonhole join)",
)
def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simhash_near_duplicates(d, max_hamming=3, base_hash="md5").orderBy(
        "id_a", "id_b"
    )


# The md5-fold base hash above exists so a full-pipeline DuckDB twin is
# possible; production uses xxhash64 (JVM intrinsic, no hex fold).  These
# variants keep the hot path visible in the bench — rows-only driver check
# (the hash family is Spark-private, so no portable SQL oracle exists).


# the documents fingerprint keying the per-SF xxhash expecteds (same
# key as the BPE family)
_DOCS_FP_SQL = (
    "(SELECT CAST(sum((doc_id + 1) * length(text)) AS BIGINT) FROM documents)"
)


@register(
    "minhash_near_dups_xxhash",
    # differential oracle: single-node replica over a pure-Python
    # xxHash64 (functions/xxh.py, validated bit-for-bit against Spark's
    # F.xxhash64), keyed by the documents fingerprint
    f"""
    SELECT id_a, id_b, jaccard
    FROM {_dt("expected_minhash_xxhash")}
    WHERE corpus_fp = {_DOCS_FP_SQL}
    ORDER BY id_a, id_b
    """,
    covers="MinHash+LSH near-dup, production xxhash64 hash family (bench "
    "hot path) — hash-checked against an independent pure-Python xxHash64 "
    "pipeline replica",
)
def q_minhash_near_dups_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(d, threshold=0.5, base_hash="xxhash64").orderBy(
        "id_a", "id_b"
    )


@register(
    "minhash_near_dups_rolling",
    # differential oracle: single-node Horner-loop replica of the
    # rolling signature kernel (own base-constant copy), keyed by the
    # documents fingerprint
    f"""
    SELECT id_a, id_b, jaccard
    FROM {_dt("expected_minhash_rolling")}
    WHERE corpus_fp = {_DOCS_FP_SQL}
    ORDER BY id_a, id_b
    """,
    covers="MinHash+LSH near-dup, THROUGHPUT base-hash family "
    "(round-11): whole signatures computed inside the Arrow span-hash "
    "kernel — no shingle strings, no signature groupBy; the only "
    "corpus-volume exchange left is the banding self-join.  Verified "
    "pairs still exact-Jaccard (family-independent JVM verify); "
    "hash-checked against an independent pure-Python Horner-loop "
    "pipeline replica",
)
def q_minhash_near_dups_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(d, threshold=0.5, base_hash="rolling").orderBy(
        "id_a", "id_b"
    )


@register(
    "simhash_near_dups_xxhash",
    f"""
    SELECT id_a, id_b, hamming
    FROM {_dt("expected_simhash_xxhash")}
    WHERE corpus_fp = {_DOCS_FP_SQL}
    ORDER BY id_a, id_b
    """,
    covers="SimHash near-dup, production xxhash64 hash family (bench hot "
    "path) — hash-checked against an independent pure-Python xxHash64 "
    "pipeline replica",
)
def q_simhash_near_dups_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simhash_near_duplicates(d, max_hamming=3, base_hash="xxhash64").orderBy(
        "id_a", "id_b"
    )


def _jaccard_sql(threshold: float) -> str:
    """Exact 3-gram Jaccard pair CTE (DuckDB), parameterized threshold —
    shared by ngram_jaccard_dedup (0.5), dedup_eval, and banding_plan
    (0.25: the planner needs the sub-threshold mass too)."""
    return _NGRAM_JACCARD_SQL_T.replace("__JT__", repr(threshold))


_NGRAM_JACCARD_SQL_T = """
    WITH tokd AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ),
    pos AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks) - 2, 1))) AS i
      FROM tokd
    ),
    sh0 AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN array_to_string(toks, ' ')
                  ELSE array_to_string(toks[i + 1 : i + 3], ' ') END AS shingle
      FROM pos
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, count(*) AS ni
      FROM sh sa JOIN sh sb
        ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           CAST(i.ni AS DOUBLE) / (za.n + zb.n - i.ni) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.id_a
    JOIN sizes zb ON zb.doc_id = i.id_b
    WHERE CAST(i.ni AS DOUBLE) / (za.n + zb.n - i.ni) >= __JT__
    """

_NGRAM_JACCARD_SQL = _jaccard_sql(0.5)


@register(
    "ngram_jaccard_dedup",
    _NGRAM_JACCARD_SQL + "\n    ORDER BY i.id_a, i.id_b",
    covers="EXACT n-gram Jaccard near-dup via shingle inverted-index "
    "self-join (no LSH recall loss; pairs meet only on shared shingles)",
)
def q_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")  # operator spreads internally
    return ngram_jaccard_near_duplicates(d, threshold=0.5).orderBy("id_a", "id_b")


@register(
    "ngram_jaccard_rolling",
    # differential oracle: single-node Horner-loop replica of the
    # rolling shingle-hash family, keyed by the documents fingerprint
    f"""
    SELECT id_a, id_b, jaccard
    FROM {_dt("expected_ngram_jaccard_rolling")}
    WHERE corpus_fp = {_DOCS_FP_SQL}
    ORDER BY id_a, id_b
    """,
    covers="n-gram Jaccard near-dup, THROUGHPUT shingle family "
    "(round-11): Karp-Rabin shingle hashes from the Arrow kernel — the "
    "inverted-index join carries 8-byte int64 keys instead of shingle "
    "STRINGS, and no per-position shingle text is ever materialized; "
    "hash-checked against an independent pure-Python Horner-loop "
    "replica (identity = 64-bit hash; both engines compute identical "
    "hashes, collisions included)",
)
def q_ngram_jaccard_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")  # operator spreads internally
    return ngram_jaccard_near_duplicates(
        d, threshold=0.5, shingle_family="rolling"
    ).orderBy("id_a", "id_b")


# ---- production-valve twin: collapse_identical=True -----------------------
# The sf tables contain no byte-identical texts (every doc_id has distinct
# text), so the valved entry builds its duplicate groups explicitly: the
# first 20 documents are unioned back in under doc_id+100000 — 20 two-member
# identical-text groups plus 480 singletons, exercising the star emission,
# the rep-only inverted index, AND the all-singleton fall-through in one
# driver-hashed run.  The twin replicates the collapse semantics (stars +
# rep-level jaccard), built from the SAME parameterized jaccard template as
# the base entry so the two cannot drift.
def _ngram_collapsed_sql() -> str:
    t = _jaccard_sql(0.5).replace("FROM documents", "FROM reps")
    ctes, final = t.rsplit("SELECT i.id_a,", 1)
    ctes = ctes.strip().removeprefix("WITH").strip()
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents
      WHERE doc_id < 20
    ),
    grp AS (SELECT text AS _t, min(doc_id) AS _rep FROM corpus GROUP BY text),
    reps AS (SELECT _rep AS doc_id, _t AS text FROM grp),
    {ctes},
    core AS (SELECT i.id_a,{final.strip()}),
    stars AS (
      SELECT g._rep AS id_a, c.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
      FROM corpus c JOIN grp g ON c.text = g._t
      WHERE c.doc_id > g._rep
    )
    SELECT id_a, id_b, jaccard FROM core
    UNION ALL
    SELECT id_a, id_b, jaccard FROM stars
    ORDER BY id_a, id_b
    """


@register(
    "ngram_jaccard_dedup_collapsed",
    None,  # replaced below (built from the shared jaccard template)
)
def q_ngram_jaccard_dedup_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return ngram_jaccard_near_duplicates(
        corpus, threshold=0.5, collapse_identical=True
    ).orderBy("id_a", "id_b")


REGISTRY["ngram_jaccard_dedup_collapsed"] = QuerySpec(
    fn=REGISTRY["ngram_jaccard_dedup_collapsed"].fn,
    oracle=_ngram_collapsed_sql(),
    covers="PRODUCTION 100 TB setting of the n-gram Jaccard dedup "
    "(collapse_identical=True, the mass-duplication valve): byte-identical "
    "texts collapse to a min-id representative before the inverted-index "
    "self-join and re-emit as jaccard-1.0 stars — cluster-exact by "
    "construction (jaccard is a function of the two texts); driver-hashed "
    "on a corpus with real duplicate groups, so the valve path itself "
    "carries oracle evidence, not just pytest equivalence",
)


@register(
    "model_score",
    None,  # replaced below (built from the scoring module's SQL twin)
)
def q_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _spread
    from .operators.scoring import score_documents

    # inference batches should cover every core, not one scan split
    docs = _spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return score_documents(docs).orderBy("doc_id")


def _finalize_model_score_oracle() -> None:
    from .operators.scoring import fake_quality_model_sql

    spec = REGISTRY["model_score"]
    REGISTRY["model_score"] = QuerySpec(
        fn=spec.fn,
        oracle=f"""
        SELECT doc_id, {fake_quality_model_sql("text")} AS model_score
        FROM documents ORDER BY doc_id
        """,
        covers="Model-based scoring seam (quality classifier / reward "
        "model / LLM judge at corpus scale): Arrow-batched mapInPandas, "
        "map-only — the Arrow batch IS the inference micro-batch; the "
        "deterministic default kernel (linear + rational squash, no "
        "transcendentals) is recomputed bit-for-bit by the SQL twin, "
        "pinning the plumbing; production swaps the kernel only",
    )


_finalize_model_score_oracle()


@register(
    "boilerplate_lines",
    None,  # replaced below (built from the dedup module's SQL twin)
)
def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import boilerplate_line_removal

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the synthetic corpus has no newlines; ' the ' segments the word
    # stream into lines the same way on both engines (literal separator)
    return boilerplate_line_removal(docs, sep=" the ", max_df=2).orderBy(
        "doc_id"
    )


def _finalize_boilerplate_oracle() -> None:
    from .operators.dedup import boilerplate_line_removal_sql

    spec = REGISTRY["boilerplate_lines"]
    REGISTRY["boilerplate_lines"] = QuerySpec(
        fn=spec.fn,
        oracle=boilerplate_line_removal_sql("documents", sep=" the ", max_df=2)
        + "\n    ORDER BY doc_id",
        covers="C4-style boilerplate removal (Raffel et al. 2020 §2.2): "
        "lines occurring in > max_df distinct documents dropped "
        "everywhere — one explode + two-level distinct-count agg builds "
        "the corpus line table, the (small by construction) frequent set "
        "broadcasts into an anti-join, per-doc reassembly bounded by "
        "document size; hash-checked against an independent SQL twin "
        "including the rebuilt text",
    )


_finalize_boilerplate_oracle()


@register(
    "paragraph_dedup",
    None,  # replaced below (built from the dedup module's SQL twin)
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import paragraph_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # same ' the ' segmentation as boilerplate_lines (the corpus has no
    # newlines) — the two entries then CONTRAST the rules on identical
    # segments: C4 drops frequent segments everywhere, MassiveText keeps
    # exactly the corpus-first occurrence of every segment
    return paragraph_dedup(docs, sep=" the ").orderBy("doc_id")


def _finalize_paragraph_dedup_oracle() -> None:
    from .operators.dedup import paragraph_dedup_sql

    spec = REGISTRY["paragraph_dedup"]
    REGISTRY["paragraph_dedup"] = QuerySpec(
        fn=spec.fn,
        oracle=paragraph_dedup_sql("documents", sep=" the ")
        + "\n    ORDER BY doc_id",
        covers="MassiveText-style exact paragraph dedup, keep-first (Rae "
        "et al. 2021 §A1.2): every distinct segment keeps only its "
        "corpus-wide (doc_id, position)-first occurrence — a map-side-"
        "combined groupBy(seg).min(pos_key) decision table joined back "
        "to the exploded segments (agg+join, NOT a window: a hot "
        "segment stays AQE-splittable instead of one giant window "
        "partition); hash-checked against an independent SQL twin "
        "including the rebuilt text",
    )


_finalize_paragraph_dedup_oracle()


@register(
    "exact_substring_dedup",
    None,  # replaced below (built from the dedup module's SQL twin)
)
def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_substring_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # min_len=5 on the small-vocab synthetic corpus produces a healthy
    # mix of untouched documents, single spans, and merged multi-window
    # spans (the interval-merge path is the part worth oracling)
    return exact_substring_dedup(docs, min_len=5).orderBy("doc_id")


def _finalize_exact_substring_oracle() -> None:
    from .operators.dedup import exact_substring_dedup_sql

    spec = REGISTRY["exact_substring_dedup"]
    REGISTRY["exact_substring_dedup"] = QuerySpec(
        fn=spec.fn,
        oracle=exact_substring_dedup_sql("documents", min_len=5)
        + "\n    ORDER BY doc_id",
        covers="ExactSubstr dedup (Lee et al. 2022 §4.1): corpus-repeated "
        "token windows ≥ min_len, keep-first, merged to maximal spans "
        "(gaps-and-islands) and cut from the text.  Spark plan: JVM-HOF "
        "gram hashing (full-volume shuffle carries 16 B/token, never "
        "gram text), text re-derived + exactly verified for hash-"
        "colliding candidates only, per-document HOF reassembly; the "
        "DuckDB twin groups windows by gram text directly, so the hash "
        "prefilter is PROVEN result-invariant by the hash match",
    )


_finalize_exact_substring_oracle()


@register(
    "exact_substring_maximal",
    None,  # replaced below (built from the dedup module's SQL twin)
)
def q_exact_substring_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_substring_maximal

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # same min_len as exact_substring_dedup so the two entries describe
    # the same repeat structure: that one reports merged COVERAGE, this
    # one the suffix-array-semantics maximal repeats inside it
    return exact_substring_maximal(docs, min_len=5).orderBy("doc_id", "s")


def _finalize_exact_substring_maximal_oracle() -> None:
    from .operators.dedup import exact_substring_maximal_sql

    spec = REGISTRY["exact_substring_maximal"]
    REGISTRY["exact_substring_maximal"] = QuerySpec(
        fn=spec.fn,
        oracle=exact_substring_maximal_sql("documents", min_len=5)
        + "\n    ORDER BY doc_id, s",
        covers="MAXIMAL corpus repeats ≥ min_len (Lee et al. 2022 §4.1 "
        "suffix-array semantics, closing the round-5 verdict's gap #2): "
        "left/right-maximal repeated token spans per document via "
        "candidate suffix range-sort + neighbor token-LCP (max-LCP-at-"
        "lexicographic-neighbor theorem), partition-boundary pairs "
        "handled by a bounded 2-rows-per-partition window; three-way "
        "checked against a brute-force enumerator in tests",
    )


_finalize_exact_substring_maximal_oracle()


@register(
    "exact_substring_ranked",
    None,  # replaced below (same SQL twin as exact_substring_maximal)
)
def q_exact_substring_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_substring_maximal_ranked

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # same min_len as the capped entry: on this corpus (repeats ≪ the
    # cap) both paths enumerate the identical maximal-repeat set, so
    # one oracle proves both — and the ranked path additionally passes
    # the >cap single-span fixture in tests/test_segment_dedup.py
    return exact_substring_maximal_ranked(docs, min_len=5).orderBy(
        "doc_id", "s"
    )


def _finalize_exact_substring_ranked_oracle() -> None:
    from .operators.dedup import exact_substring_maximal_sql

    spec = REGISTRY["exact_substring_ranked"]
    REGISTRY["exact_substring_ranked"] = QuerySpec(
        fn=spec.fn,
        oracle=exact_substring_maximal_sql("documents", min_len=5)
        + "\n    ORDER BY doc_id, s",
        covers="UNCAPPED maximal corpus repeats via prefix-doubling "
        "suffix RANKS (Manber–Myers, distributed): per round one "
        "shifted self-join + a distributed dense re-rank (range "
        "partition + per-partition row_number + broadcast offsets — "
        "never a single-partition window), stopping at the refinement "
        "fixpoint (identical whole-document suffixes stay tied "
        "forever, so all-distinct is unreachable); rank tables are "
        "parquet-cut per round because a checkpoint's LogicalRDD "
        "inherits estimated stats and an iterated self-join squares "
        "them (measured: rounds went 0.7→242 s before the cut); "
        "neighbor LCPs descend the retained level tables with a "
        "suffix-length clamp that is exact for the identical-suffix "
        "overshoot; repeats of ANY length come out as one span — "
        "no cap, no staircase",
    )


_finalize_exact_substring_ranked_oracle()


@register(
    "exact_substring_keep_one",
    None,  # replaced below (built from the dedup module's SQL twin)
)
def q_exact_substring_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_substring_keep_one

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return exact_substring_keep_one(docs, min_len=5).orderBy("doc_id")


def _finalize_exact_substring_keep_one_oracle() -> None:
    from .operators.dedup import exact_substring_keep_one_sql

    spec = REGISTRY["exact_substring_keep_one"]
    REGISTRY["exact_substring_keep_one"] = QuerySpec(
        fn=spec.fn,
        oracle=exact_substring_keep_one_sql("documents", min_len=5)
        + "\n    ORDER BY doc_id",
        covers="ExactSubstr removal with the PAPER's keep policy (Lee "
        "et al. 2022 §4.1 'except for one occurrence'): every maximal "
        "repeat's corpus-first occurrence survives CONTIGUOUSLY, all "
        "other occurrences are cut — the policy-level complement of "
        "exact_substring_dedup's per-window exemption; built on the "
        "exact_substring_maximal spans, keep-first per repeat text, "
        "gaps-and-islands merge, HOF reassembly",
    )


_finalize_exact_substring_keep_one_oracle()


@register(
    "unimax_mixture",
    None,  # replaced below (built from the sampling module's SQL twin)
)
def q_unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import unimax_allocation

    docs = load_table(spark, sf_dir, "documents")
    # budget/epoch choice exercises every branch at the driver's sf0.01:
    # four languages hit their 2-epoch cap, English takes the remaining
    # water level as 1 full epoch + a hash-selected partial epoch
    return unimax_allocation(docs, budget_tokens=45_000, max_epochs=2).orderBy(
        "lang"
    )


def _finalize_unimax_oracle() -> None:
    from .operators.sampling import unimax_oracle_sql

    spec = REGISTRY["unimax_mixture"]
    REGISTRY["unimax_mixture"] = QuerySpec(
        fn=spec.fn,
        oracle=unimax_oracle_sql(45_000, max_epochs=2) + "\n    ORDER BY lang",
        covers="UniMax language-budget allocation (Chung et al. 2023): "
        "water-filling min(cap, t) with per-language epoch caps, solved "
        "as window functions over the per-language aggregate frame (no "
        "driver collect), then realised as floor(full epochs) + a "
        "deterministic int64 hash-rate partial epoch — the corpus never "
        "shuffles; allocation, epoch counts, and the selected partial-"
        "epoch doc/token totals all hash-checked",
    )


_finalize_unimax_oracle()


# --------------------------------------------------------------------------
# curation_funnel — the END-TO-END text-REWRITING pipeline.  clean_corpus
# composes row-level FILTERS in one plan; this entry chains the stages
# that rewrite text (boilerplate cut, paragraph keep-first, ExactSubstr
# span removal) so each stage consumes the previous stage's REBUILT
# output — the composition a real curation run executes, where a seam
# bug (wrong separator, dropped column, off-by-one span) silently
# corrupts everything downstream.  Output: the per-stage funnel report
# (docs + tokens surviving each stage), hash-checked against a DuckDB
# twin assembled from the SAME per-operator SQL generators.
# --------------------------------------------------------------------------

_FUNNEL_SEP = " the "
_FUNNEL_MIN_WORDS, _FUNNEL_MIN_STOPWORDS = 40, 1
_FUNNEL_SUBSTR_LEN = 5
_FUNNEL_BENCH_MOD = 17  # same held-out split as the decontaminate entry
_FUNNEL_SHINGLE_K = 5  # 3-shingles over-flag on the small-vocab corpus


def _shingle_cte_sql(src: str, prefix: str, k: int = 3) -> str:
    """Tokenize + k-shingle CTE chain over ``src(doc_id, text)`` —
    the SQL twin of operators/dedup.py ``shingles()`` (same lower/trim/
    whitespace-regex tokens, same short-document single-shingle rule).
    CTE names are prefixed so two instances can coexist in one WITH."""
    return rf"""
    {prefix}_tokd AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM {src}
    ),
    {prefix}_pos AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks) - {k - 1}, 1))) AS i
      FROM {prefix}_tokd
    ),
    {prefix}_sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) < {k} THEN array_to_string(toks, ' ')
                  ELSE array_to_string(toks[i + 1 : i + {k}], ' ') END AS shingle
      FROM {prefix}_pos
    )"""


def _funnel_oracle_sql() -> str:
    from .operators.dedup import (
        boilerplate_line_removal_sql,
        exact_substring_dedup_sql,
        paragraph_dedup_sql,
    )
    from .operators.selection import gopher_quality_rules_sql

    nt = Ft.ws_token_count_sql("text")
    stage = "SELECT '{name}' AS stage, CAST(count(*) AS BIGINT) AS n_docs, CAST(coalesce(sum({nt}), 0) AS BIGINT) AS n_tokens FROM {src}"
    return f"""
    WITH raw AS (SELECT doc_id, text FROM documents),
    gq AS ({gopher_quality_rules_sql("raw", id_cols="doc_id, text",
                                     min_words=_FUNNEL_MIN_WORDS,
                                     min_stopwords=_FUNNEL_MIN_STOPWORDS)}),
    g AS (SELECT doc_id, text FROM gq WHERE passes_gopher),
    bp AS ({boilerplate_line_removal_sql("g", sep=_FUNNEL_SEP, max_df=2)}),
    b2 AS (SELECT doc_id, clean_text AS text FROM bp),
    pd AS ({paragraph_dedup_sql("b2", sep=_FUNNEL_SEP)}),
    p2 AS (SELECT doc_id, clean_text AS text FROM pd),
    es AS ({exact_substring_dedup_sql("p2", min_len=_FUNNEL_SUBSTR_LEN)}),
    e2 AS (SELECT doc_id, clean_text AS text FROM es),
    train AS (SELECT * FROM e2 WHERE doc_id % {_FUNNEL_BENCH_MOD} <> 0),
    bench AS (SELECT doc_id, text FROM raw WHERE doc_id % {_FUNNEL_BENCH_MOD} = 0),
    {_shingle_cte_sql("train", "tr", k=_FUNNEL_SHINGLE_K)},
    {_shingle_cte_sql("bench", "be", k=_FUNNEL_SHINGLE_K)},
    bench_sh AS (SELECT DISTINCT shingle FROM be_sh),
    contaminated AS (
      SELECT DISTINCT t.doc_id FROM tr_sh t JOIN bench_sh USING (shingle)
    ),
    clean AS (
      SELECT * FROM train
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT * FROM (
      {stage.format(name='0_raw', nt=nt, src='raw')}
      UNION ALL {stage.format(name='1_quality', nt=nt, src='g')}
      UNION ALL {stage.format(name='2_boilerplate', nt=nt, src='b2')}
      UNION ALL {stage.format(name='3_paragraph_dedup', nt=nt, src='p2')}
      UNION ALL {stage.format(name='4_exact_substring', nt=nt, src='e2')}
      UNION ALL {stage.format(name='5_decontaminated', nt=nt, src='clean')}
    ) WHERE n_docs > 0
    ORDER BY stage
    """


@register(
    "curation_funnel",
    None,  # replaced below (composed from the per-operator SQL twins)
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .cache import tracked_persist
    from .operators.dedup import (
        boilerplate_line_removal,
        decontaminate,
        exact_substring_dedup,
        paragraph_dedup,
    )
    from .operators.selection import gopher_quality_rules

    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    g = tracked_persist(
        gopher_quality_rules(
            raw,
            min_words=_FUNNEL_MIN_WORDS,
            min_stopwords=_FUNNEL_MIN_STOPWORDS,
        )
        .filter("passes_gopher")
        .select("doc_id", "text")
    )
    b2 = tracked_persist(
        boilerplate_line_removal(g, sep=_FUNNEL_SEP, max_df=2).select(
            "doc_id", F.col("clean_text").alias("text")
        )
    )
    p2 = tracked_persist(
        paragraph_dedup(b2, sep=_FUNNEL_SEP).select(
            "doc_id", F.col("clean_text").alias("text")
        )
    )
    e2 = tracked_persist(
        exact_substring_dedup(p2, min_len=_FUNNEL_SUBSTR_LEN).select(
            "doc_id", F.col("clean_text").alias("text")
        )
    )
    train = tracked_persist(e2.filter(F.col("doc_id") % _FUNNEL_BENCH_MOD != 0))
    bench = raw.filter(F.col("doc_id") % _FUNNEL_BENCH_MOD == 0)
    clean = train.join(
        decontaminate(train, bench, shingle_k=_FUNNEL_SHINGLE_K).select(
            "doc_id"
        ),
        "doc_id",
        "left_anti"
    )

    def _stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum(Ft.ws_token_count(F.col("text"))), F.lit(0))
            .alias("n_tokens"),
        ).select("stage", "n_docs", "n_tokens")

    funnel = (
        _stage("0_raw", raw)
        .unionByName(_stage("1_quality", g))
        .unionByName(_stage("2_boilerplate", b2))
        .unionByName(_stage("3_paragraph_dedup", p2))
        .unionByName(_stage("4_exact_substring", e2))
        .unionByName(_stage("5_decontaminated", clean))
    )
    # a stage that saw no documents reports nothing (rather than a 0 row):
    # keeps the funnel's contract "rows describe data that existed", and an
    # empty corpus yields an empty report on both engines
    return funnel.filter(F.col("n_docs") > 0).orderBy("stage")


def _finalize_funnel_oracle() -> None:
    spec = REGISTRY["curation_funnel"]
    REGISTRY["curation_funnel"] = QuerySpec(
        fn=spec.fn,
        oracle=_funnel_oracle_sql(),
        covers="END-TO-END text-REWRITING curation pipeline: Gopher "
        "quality gate -> C4 boilerplate cut -> MassiveText paragraph "
        "keep-first -> ExactSubstr span removal -> benchmark "
        "decontamination, each stage consuming the previous stage's "
        "REBUILT text; the per-stage doc+token funnel is hash-checked "
        "against a DuckDB twin assembled from the same per-operator SQL "
        "generators, so a seam bug (separator drift, dropped column, "
        "off-by-one span) fails the gate even when each operator passes "
        "alone",
    )


_finalize_funnel_oracle()


@register(
    "curation_funnel_fused",
    None,  # same composed oracle as curation_funnel (attached below)
)
def q_curation_funnel_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused form of :func:`q_curation_funnel` — identical 6-row report,
    same composed DuckDB oracle, fewer materializations.

    The staged entry persists each stage's fully REBUILT text and
    re-splits it for the next stage; here the C4 boilerplate cut and the
    MassiveText paragraph keep-first share ONE segment explode, because
    rebuild-then-resplit on the same literal separator is the identity
    on the kept-segment list (segments cannot contain the separator they
    were split on), and keep-first over the original (doc_id, ord) key
    picks the same occurrence as the staged re-indexed key (removal
    preserves within-doc order; doc_id dominates the key).  The
    boilerplate stage's report reassembles per-doc text for its token
    count only — nothing is persisted or re-split.  Net: the full-text
    persist + rebuild + re-split of the boilerplate stage disappears;
    the funnel's A/B (COVERAGE.md) measures what the staged composition
    overhead actually costs.
    """
    import re as _re

    from .cache import tracked_persist
    from .operators.dedup import (
        _pos_key,
        _spread,
        decontaminate,
        exact_substring_dedup,
    )
    from .operators.selection import gopher_quality_rules
    from .sources.tables import maybe_broadcast

    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    g = (
        gopher_quality_rules(
            raw,
            min_words=_FUNNEL_MIN_WORDS,
            min_stopwords=_FUNNEL_MIN_STOPWORDS,
        )
        .filter("passes_gopher")
        .select("doc_id", "text")
    )
    segs = tracked_persist(
        _spread(g)
        .select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), _re.escape(_FUNNEL_SEP))).alias(
                "ord", "seg"
            ),
        )
        .withColumn("_pk", _pos_key("doc_id", "ord"))
    )
    bp = (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > 2)
        .select("seg")
    )
    kept1 = tracked_persist(segs.join(maybe_broadcast(bp), "seg", "left_anti"))
    firsts = kept1.groupBy("seg").agg(F.min("_pk").alias("_first"))
    kept2 = kept1.join(firsts, "seg").filter(F.col("_pk") == F.col("_first"))
    rebuild = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ord", "seg"))),
            lambda x: x["seg"],
        ),
        _FUNNEL_SEP,
    )
    p2 = tracked_persist(kept2.groupBy("doc_id").agg(rebuild.alias("text")))
    e2 = tracked_persist(
        exact_substring_dedup(p2, min_len=_FUNNEL_SUBSTR_LEN).select(
            "doc_id", F.col("clean_text").alias("text")
        )
    )
    train = tracked_persist(e2.filter(F.col("doc_id") % _FUNNEL_BENCH_MOD != 0))
    bench = raw.filter(F.col("doc_id") % _FUNNEL_BENCH_MOD == 0)
    clean = train.join(
        decontaminate(train, bench, shingle_k=_FUNNEL_SHINGLE_K).select(
            "doc_id"
        ),
        "doc_id",
        "left_anti",
    )

    def _stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum(Ft.ws_token_count(F.col("text"))), F.lit(0))
            .alias("n_tokens"),
        ).select("stage", "n_docs", "n_tokens")

    # boilerplate-stage report: rebuild per-doc text for the token count
    # only (one exchange, no persisted text, no re-split)
    b2rep = (
        kept1.groupBy("doc_id")
        .agg(Ft.ws_token_count(rebuild).alias("_t"))
        .agg(
            F.lit("2_boilerplate").alias("stage"),
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("_t"), F.lit(0)).alias("n_tokens"),
        )
        .select("stage", "n_docs", "n_tokens")
    )
    funnel = (
        _stage("0_raw", raw)
        .unionByName(_stage("1_quality", g))
        .unionByName(b2rep)
        .unionByName(_stage("3_paragraph_dedup", p2))
        .unionByName(_stage("4_exact_substring", e2))
        .unionByName(_stage("5_decontaminated", clean))
    )
    return funnel.filter(F.col("n_docs") > 0).orderBy("stage")


def _finalize_fused_funnel_oracle() -> None:
    spec = REGISTRY["curation_funnel_fused"]
    REGISTRY["curation_funnel_fused"] = QuerySpec(
        fn=spec.fn,
        oracle=_funnel_oracle_sql(),
        covers="fused curation funnel: Gopher gate + C4 boilerplate + "
        "MassiveText paragraph keep-first over ONE segment explode "
        "(rebuild/re-split identity argued in the docstring), then the "
        "ExactSubstr + decontamination tail; hash-checked against the "
        "SAME composed oracle as curation_funnel, so the two entries "
        "prove the fusion is semantics-preserving while the bench A/B "
        "prices the staged composition overhead",
    )


_finalize_fused_funnel_oracle()


@register(
    "jsonl_roundtrip",
    # losslessness proof: the Spark-side JSONL stage+read-back must
    # reproduce the parquet corpus exactly — the oracle recomputes the
    # same per-lang aggregate fingerprints from the parquet directly
    f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(({portable_base_hash_sql("substr(md5(text), 1, 15)")})
                    % 1000003) AS BIGINT) AS fp_sum,
           CAST(sum(length(text)) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    covers="JSONL corpus source (sources/jsonl.py): schema-explicit read "
    "(no inferSchema pass at corpus scale) with corrupt-record "
    "quarantine; the catalog entry stages the documents table to JSONL, "
    "reads it back, and proves losslessness — per-lang counts, portable "
    "content-fingerprint sums, and char totals equal the parquet-derived "
    "oracle aggregates",
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import tempfile as _tf

    from .operators.dedup import portable_base_hash
    from .sources.jsonl import (
        jsonl_quarantine_split,
        read_documents_jsonl,
        write_documents_jsonl,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    land = _tf.mkdtemp(prefix="jsonl_stage_")
    path = _os.path.join(land, "documents_jsonl")
    write_documents_jsonl(docs, path)
    clean, _bad = jsonl_quarantine_split(read_documents_jsonl(spark, path))
    return (
        clean.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(portable_base_hash(F.col("text")) % 1000003).alias("fp_sum"),
            F.sum(F.length("text")).alias("chars"),
        )
        .orderBy("lang")
    )


@register(
    "tar_shards_roundtrip",
    # same losslessness aggregates as jsonl_roundtrip: the WebDataset
    # tar path must reproduce the parquet corpus exactly
    f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(({portable_base_hash_sql("substr(md5(text), 1, 15)")})
                    % 1000003) AS BIGINT) AS fp_sum,
           CAST(sum(length(text)) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    covers="WebDataset-style tar-shard source (sources/shards.py): whole "
    "shards to executors via binaryFile (the shard is the IO/parallelism "
    "unit), stdlib-tarfile unpack in Arrow batches, one row per sample "
    "with a member-bytes map — the multimodal training-set container; "
    "losslessness proven by per-lang aggregate parity with the parquet "
    "corpus (text member + from_json metadata member)",
)
def q_tar_shards_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import tempfile as _tf

    from .operators.dedup import portable_base_hash
    from .sources.shards import read_tar_shards, write_tar_shards

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.to_json(F.struct("lang", "source")).alias("meta"),
    )
    land = _tf.mkdtemp(prefix="tar_stage_")
    path = _os.path.join(land, "shards")
    write_tar_shards(
        docs, path, members_from={"txt": "text", "json": "meta"}
    )
    samples = read_tar_shards(spark, path)
    parsed = samples.select(
        F.element_at("members", "txt").cast("string").alias("text"),
        F.from_json(
            F.element_at("members", "json").cast("string"),
            "lang string, source string",
        ).alias("m"),
    )
    return (
        parsed.groupBy(F.col("m.lang").alias("lang"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(portable_base_hash(F.col("text")) % 1000003).alias("fp_sum"),
            F.sum(F.length("text")).alias("chars"),
        )
        .orderBy("lang")
    )


_QUARANTINE_LINES = (
    "this line is not json at all {{{",
    '{"doc_id": "not-a-number", "lang": "xx", "source": "bad", '
    '"n_chars": 1, "text": "a"}',
)


@register(
    "jsonl_quarantine",
    # clean per-lang aggregates from the parquet corpus + ONE
    # '__quarantine__' row recomputed from the injected corrupt lines —
    # if the split leaked a corrupt line into clean (or lost one from
    # bad) either side of the union would mismatch
    f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(({portable_base_hash_sql("substr(md5(text), 1, 15)")})
                    % 1000003) AS BIGINT) AS fp_sum,
           CAST(sum(length(text)) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
    UNION ALL
    SELECT '__quarantine__' AS lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(({portable_base_hash_sql("substr(md5(text), 1, 15)")})
                    % 1000003) AS BIGINT) AS fp_sum,
           CAST(sum(length(text)) AS BIGINT) AS chars
    FROM (VALUES ({_QUARANTINE_LINES[0]!r}), ({_QUARANTINE_LINES[1]!r})) t(text)
    ORDER BY lang
    """,
    covers="Countable JSONL quarantine (sources/jsonl.py "
    "read_documents_jsonl_split): text-scan + from_json parsing carries "
    "the raw line as an ordinary column, so bad.count() works — no "
    "QUERY_ONLY_CORRUPT_RECORD_COLUMN trap; the catalog entry stages "
    "the corpus, injects two corrupt lines (one unparseable, one "
    "partial-cast), and hash-checks BOTH sides of the split, with the "
    "quarantine row's count produced by the direct bad.count() call",
)
def q_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import tempfile as _tf

    from .operators.dedup import portable_base_hash
    from .sources.jsonl import (
        read_documents_jsonl_split,
        write_documents_jsonl,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    land = _tf.mkdtemp(prefix="jsonl_quar_")
    path = _os.path.join(land, "documents_jsonl")
    write_documents_jsonl(docs, path)
    # inject corrupt lines only alongside a real corpus: on empty input
    # the whole result (both split sides) must be empty, not a synthetic
    # quarantine row
    has_rows = docs.limit(1).count() > 0
    if has_rows:
        with open(_os.path.join(path, "zz-corrupt.json"), "w") as fh:
            for line in _QUARANTINE_LINES:
                fh.write(line + "\n")
    clean, bad = read_documents_jsonl_split(spark, path)
    n_bad = bad.count()  # the fixed API surface: a direct count, no caching
    fp = lambda c: F.sum(portable_base_hash(F.col(c)) % 1000003).alias("fp_sum")
    clean_agg = clean.groupBy("lang").agg(
        F.count("*").alias("n_docs"), fp("text"), F.sum(F.length("text")).alias("chars")
    )
    if not has_rows:
        return clean_agg.orderBy("lang")  # empty, same schema
    bad_agg = (
        bad.agg(fp("raw_line"), F.sum(F.length("raw_line")).alias("chars"))
        .select(
            F.lit("__quarantine__").alias("lang"),
            F.lit(n_bad).cast("long").alias("n_docs"),
            "fp_sum",
            "chars",
        )
    )
    return clean_agg.unionByName(bad_agg).orderBy("lang")


@register(
    "tar_shards_dist_write",
    # layout-level oracle: one row per SHARD (id from the tar FILE NAME,
    # not reconstructed from the key) with count + content fingerprints —
    # wrong sharding, a lost sample, or corrupted bytes all mismatch
    f"""
    SELECT CAST(floor(doc_id / 200) AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(({portable_base_hash_sql("substr(md5(text), 1, 15)")})
                    % 1000003) AS BIGINT) AS fp_sum,
           CAST(sum(length(text)) AS BIGINT) AS chars
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
    covers="Executor-side tar-shard writer (sources/shards.py "
    "write_tar_shards_distributed): one hash shuffle on shard id + "
    "within-partition sort, tars streamed per task with state carried "
    "across Arrow batches, only the manifest reaches the driver; "
    "byte-identical to the staging writer (pinned by test), proven here "
    "by reading the shards back and hash-checking per-shard counts and "
    "content fingerprints keyed by the shard FILE NAME",
)
def q_tar_shards_dist_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import tempfile as _tf

    from .operators.dedup import portable_base_hash
    from .sources.shards import read_tar_shards, write_tar_shards_distributed

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    land = _tf.mkdtemp(prefix="tar_dist_")
    path = _os.path.join(land, "shards")
    manifest = write_tar_shards_distributed(
        docs, path, members_from={"txt": "text"}, samples_per_shard=200
    )
    if not manifest:  # empty corpus → zero shards, empty result
        return spark.createDataFrame(
            [], "shard_id long, n_samples bigint, fp_sum bigint, chars bigint"
        )
    assert len(manifest) > 1, "need >1 shard for the layout proof"
    samples = read_tar_shards(spark, path)
    return (
        samples.select(
            F.regexp_extract("shard", r"shard-(\d+)\.tar", 1)
            .cast("long")
            .alias("shard_id"),
            F.element_at("members", "txt").cast("string").alias("text"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_samples"),
            F.sum(portable_base_hash(F.col("text")) % 1000003).alias("fp_sum"),
            F.sum(F.length("text")).alias("chars"),
        )
        .orderBy("shard_id")
    )


@register(
    "compact_small_files",
    # content-preservation oracle: per-lang aggregates read AFTER the
    # atomic compaction swap must equal the parquet corpus exactly — a
    # lost row, dup row, or corrupted text mismatches count/fp/chars
    f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(({portable_base_hash_sql("substr(md5(text), 1, 15)")})
                    % 1000003) AS BIGINT) AS fp_sum,
           CAST(sum(length(text)) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    covers="OPTIMIZE-style small-file compaction "
    "(sources/layout.py compact_parquet_dir): a 48-way shredded copy of "
    "the corpus is compacted to byte-targeted files (range-partitioned + "
    "sorted by (lang, doc_id) for min-max skipping), swapped in "
    "atomically behind a staged row-count check; the query returns "
    "aggregates read from the COMPACTED directory",
)
def q_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import tempfile as _tf

    from .operators.dedup import portable_base_hash
    from .sources.layout import compact_parquet_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    land = _tf.mkdtemp(prefix="compact_")
    path = _os.path.join(land, "docs")
    docs.repartition(48).write.parquet(path)  # the fragmented sink state
    stats = compact_parquet_dir(
        spark, path, target_file_bytes=8 * 1024 * 1024,
        sort_within=["lang", "doc_id"],
    )
    assert stats["files_after"] <= stats["files_before"]
    after = spark.read.parquet(path)
    return (
        after.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(portable_base_hash(F.col("text")) % 1000003).alias("fp_sum"),
            F.sum(F.length("text")).alias("chars"),
        )
        .orderBy("lang")
    )


@register(
    "dedup_eval",
    # composes the exact-Jaccard and minhash twins: banding recall,
    # measured — precision is 1 by construction (candidates are verified
    # against exact Jaccard before thresholding)
    f"""
    WITH exact AS ({_NGRAM_JACCARD_SQL}),
    lsh AS ({_MINHASH_ORACLE_SQL})
    SELECT 'all' AS scope,
           CAST(count(*) AS BIGINT) AS exact_pairs,
           CAST(count(l.id_a) AS BIGINT) AS lsh_pairs,
           CAST(count(*) - count(l.id_a) AS BIGINT) AS missed_pairs,
           CAST(count(l.id_a) AS DOUBLE) / count(*) AS recall
    FROM exact e
    LEFT JOIN lsh l ON l.id_a = e.id_a AND l.id_b = e.id_b
    GROUP BY 1
    """,
    covers="Dedup quality measurement — recall of the minhash banding "
    "against the exact n-gram Jaccard ground truth ('measure, don't "
    "guess': the number that decides bands × rows before a 100 TB "
    "dedup run; precision is 1 because candidates are exact-verified)",
)
def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    exact = ngram_jaccard_near_duplicates(d, threshold=0.5).select("id_a", "id_b")
    lsh = minhash_near_duplicates(d, threshold=0.5, base_hash="md5").select(
        "id_a", "id_b", F.lit(1).alias("_hit")
    )
    j = exact.join(lsh, ["id_a", "id_b"], "left")
    return j.groupBy(F.lit("all").alias("scope")).agg(
        F.count("*").alias("exact_pairs"),
        F.count("_hit").alias("lsh_pairs"),
        (F.count("*") - F.count("_hit")).alias("missed_pairs"),
        (F.count("_hit") / F.count("*")).alias("recall"),
    )


def _banding_plan_oracle() -> str:
    from .operators.dedup import banding_plan_sql

    return (
        banding_plan_sql(_jaccard_sql(0.25), num_hashes=64, dup_threshold=0.5)
        + "\n    ORDER BY bands DESC"
    )


@register(
    "banding_plan",
    None,  # replaced below (built from the dedup module's SQL twin)
)
def q_banding_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import banding_plan

    d = load_table(spark, sf_dir, "documents")
    # low-threshold exact pairs so the planner sees the sub-threshold
    # mass too (the verification-cost side of the S-curve trade)
    pairs = ngram_jaccard_near_duplicates(d, threshold=0.25)
    return banding_plan(pairs, num_hashes=64, dup_threshold=0.5).orderBy(
        F.col("bands").desc()
    )


def _finalize_banding_plan_oracle() -> None:
    spec = REGISTRY["banding_plan"]
    REGISTRY["banding_plan"] = QuerySpec(
        fn=spec.fn,
        oracle=_banding_plan_oracle(),
        covers="LSH banding planner (MMDS §3.4 S-curve): expected recall "
        "and wasted-verification mass of every (bands x rows) split of a "
        "64-hash budget, measured against the corpus's exact Jaccard "
        "pair distribution — repeated-squaring probabilities quantized "
        "to int64 micro-units, so the expectation is bit-exact across "
        "engines; the tune-before-you-build number next to dedup_eval",
    )


_finalize_banding_plan_oracle()


_WINNOW_K, _WINNOW_W = 8, 16

# shared CTE chain ending in `fps(doc_id, fp)` — the distinct winnowing
# fingerprints per document; reused by the passage-overlap oracle
_WINNOW_FPS_CTE = f"""
    WITH t AS (SELECT doc_id, lower(trim(text)) AS txt FROM documents),
    pos AS (
      SELECT doc_id, txt,
             unnest(range(1, greatest(length(txt) - {_WINNOW_K} + 1, 1) + 1)) AS i
      FROM t
    ),
    h AS (
      SELECT doc_id, i, ({portable_base_hash_sql('hx')}) AS hv
      FROM (
        SELECT doc_id, i,
               substr(md5(substr(txt, CAST(i AS INTEGER), {_WINNOW_K})), 1, 15) AS hx
        FROM pos
      )
    ),
    wm AS (
      SELECT doc_id, i,
             min(hv) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW
                           AND {_WINNOW_W - 1} FOLLOWING) AS fp,
             count(*) OVER (PARTITION BY doc_id) AS nk
      FROM h
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp
      FROM wm
      WHERE i <= greatest(nk - {_WINNOW_W} + 1, 1)
    )
"""

@register(
    "winnow_fingerprints",
    _WINNOW_FPS_CTE
    + """
    SELECT doc_id, fp FROM fps
    ORDER BY doc_id, fp
    """,
    covers="Winnowing rolling-hash document fingerprints (MOSS, "
    "Schleimer/Wilkerson/Aiken SIGMOD'03): min-hash of each window of "
    "consecutive character k-gram hashes, all JVM-side HOFs",
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")  # operator spreads internally
    return winnow_fingerprints(d, kgram=_WINNOW_K, window=_WINNOW_W).orderBy(
        "doc_id", "fp"
    )


# FULL-pipeline independent twin: the portable plane family derives
# integer hyperplane components from the md5 fold and floor-quantizes
# embedding components, so bucket bits are exact int64 arithmetic both
# engines compute identically; cosines are rounded to 4 digits before
# ranking (same cross-engine convention as cosine_topk).
_LSH_TOPK_SQL = f"""
    WITH planes AS (
      SELECT tt.t, pp.p, dd.d,
             (({portable_base_hash_sql(
                 "substr(md5('lsh:' || tt.t || ':' || pp.p || ':' || dd.d), 1, 15)"
             )}) % 2001) - 1000 AS w
      FROM range(4) tt(t), range(8) pp(p), range(64) dd(d)
    ),
    emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    comps AS (
      SELECT e.vec_id, dd.d,
             CAST(floor(e.v[dd.d + 1] * 1048576) AS BIGINT) AS vi
      FROM emb e, range(64) dd(d)
    ),
    dots AS (
      SELECT c.vec_id, pl.t, pl.p, sum(c.vi * pl.w) AS dot
      FROM comps c JOIN planes pl ON pl.d = c.d
      GROUP BY 1, 2, 3
    ),
    buckets AS (
      SELECT vec_id, t,
             sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
               AS bucket
      FROM dots GROUP BY 1, 2
    ),
    pairs AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets q
      JOIN buckets c ON c.t = q.t AND c.bucket = q.bucket
                    AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 5
    ),
    scored AS (
      SELECT p.query_id, p.neighbor_id,
             round(list_cosine_similarity(eq.v, ec.v), 4) AS cosine
      FROM pairs p
      JOIN emb eq ON eq.vec_id = p.query_id
      JOIN emb ec ON ec.vec_id = p.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@register(
    "lsh_topk",
    _LSH_TOPK_SQL + "\n    ORDER BY query_id, rank",
    covers="LSH-bucketed approximate nearest neighbor (scale path for "
    "cosine_topk); portable integer plane family makes the whole pipeline "
    "(planes -> buckets -> candidates -> rescore) SQL-reproducible",
)
def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return lsh_topk(q, emb, k=5, plane_family="portable", round_digits=4).orderBy(
        "query_id", "rank"
    )


# ---- production-valve twin: collapse_identical=True -----------------------
# Duplicate groups built explicitly (the sf embeddings are all-distinct):
# the first 20 vectors are unioned back under vec_id+100000, so the five
# query vectors are themselves members of identical-vector groups — the
# hardest expansion case (the query filters itself out of its own group,
# which is why _collapse_members keeps k+1 member ids).  The valve is
# OUTPUT-EXACT, so the oracle is the UNMODIFIED base LSH twin evaluated
# over the same duplicated corpus: the driver hash certifies the collapsed
# plan reproduces full-run top-k bit-for-bit, not just on pytest fixtures.
_LSH_EMB_CTE = "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
_LSH_EMB_DUP_CTE = """emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 20
    ),"""
# loud failure even under `python -O` (an assert would be stripped and
# the .replace() below would silently no-op, testing the unduplicated
# corpus against the duplicated query output)
if _LSH_TOPK_SQL.count(_LSH_EMB_CTE) != 1:
    raise ValueError(
        "lsh_topk oracle template drifted: expected exactly one "
        f"occurrence of the emb CTE, found {_LSH_TOPK_SQL.count(_LSH_EMB_CTE)}"
    )


@register(
    "lsh_topk_collapsed",
    _LSH_TOPK_SQL.replace(_LSH_EMB_CTE, _LSH_EMB_DUP_CTE)
    + "\n    ORDER BY query_id, rank",
    covers="PRODUCTION 100 TB setting of the LSH top-k "
    "(collapse_identical=True, the ANN mass-duplication valve): one "
    "representative per byte-identical vector group is bucketed and "
    "scored, then expanded with the group's k+1 smallest member ids under "
    "the (cosine desc, id asc) tie-break — OUTPUT-EXACT, certified here by "
    "hashing the valved plan against the base-semantics SQL twin on a "
    "corpus with real duplicate groups (queries inside their own groups)",
)
def q_lsh_topk_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.unionByName(
        emb.filter(F.col("vec_id") < 20).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
    )
    q = emb.filter(F.col("vec_id") < 5)
    return lsh_topk(
        q,
        corpus,
        k=5,
        plane_family="portable",
        round_digits=4,
        collapse_identical=True,
    ).orderBy("query_id", "rank")


@register(
    "ann_recall",
    # composes the two SQL twins above: recall@5 of the LSH path against
    # the brute-force ground truth, per query
    f"""
    WITH exact AS ({_COSINE_TOPK_SQL}),
    approx AS ({_LSH_TOPK_SQL})
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS DOUBLE) / 5 AS recall
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
    covers="ANN quality measurement — recall@k of the LSH scale path "
    "against the brute-force ground truth, per query ('measure, don't "
    "guess': the number that decides bucket width / table count before "
    "a 100 TB index build)",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(q, emb, k=5).select("query_id", "neighbor_id")
    approx = lsh_topk(q, emb, k=5, plane_family="portable", round_digits=4).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg((F.count("_hit") / F.lit(5.0)).alias("recall"))
        .orderBy("query_id")
    )


@register(
    "ivf_topk",
    # differential oracle: bit-exact single-node IVF replica (the codebook
    # trains deterministically on a bounded driver-side sample — standard
    # IVF practice at scale), selected by the embeddings fingerprint
    f"""
    SELECT query_id, neighbor_id, cosine, rank
    FROM {_dt("expected_ivf_topk")}
    WHERE corpus_fp = {_CORPUS_FP_SQL}
    ORDER BY query_id, rank
    """,
    covers="IVF-bucketed approximate nearest neighbor: k-means codebook + "
    "inverted-list probe (the other scale path the pipeline brief names)",
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ivf_topk, train_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_centroids(emb, k=8, iterations=2)
    q = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(q, emb, cents, k=5, n_probe=3).orderBy("query_id", "rank")


@register(
    "ivfpq_topk",
    # differential oracle: bit-exact single-node IVF-PQ replica (shared
    # deterministic coarse + subspace codebook trainers; every per-row
    # float op replayed in the engine's left-fold order), selected by
    # the embeddings fingerprint
    f"""
    SELECT query_id, neighbor_id, cosine, rank
    FROM {_dt("expected_ivfpq_topk")}
    WHERE corpus_fp = {_CORPUS_FP_SQL}
    ORDER BY query_id, rank
    """,
    covers="IVF-PQ approximate nearest neighbor (Jégou et al. 2011): "
    "corpus stored as per-subspace product-quantization codes in coarse "
    "inverted lists, asymmetric-distance scoring against code-indexed "
    "literal lookup tables — the billion-vector layout where the probe "
    "join ships ~8 code bytes per corpus row instead of dim floats",
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import (
        ivfpq_topk,
        kmeans_codebook,
        pq_train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # ONE bounded sample collect feeds both trainers, in the same
    # content-independent (xxhash64(vec_id), vec_id) order as
    # train_centroids — mass-duplicated low-id ranges cannot collapse
    # the codebook, and the replica derives the identical order from
    # the pure-Python hash
    sample = [
        list(r["embedding"])
        for r in emb.orderBy(F.xxhash64("vec_id"), F.col("vec_id"))
        .limit(4096)
        .collect()
    ]
    cents = kmeans_codebook(sample, 8, 2)
    books = pq_train_codebooks(sample, m_sub=8, ksub=8, iterations=2)
    q = emb.filter(F.col("vec_id") < 5)
    return ivfpq_topk(q, emb, cents, books, k=5, n_probe=3).orderBy(
        "query_id", "rank"
    )


@register(
    "ivfpq_recall",
    # recall@5 of the IVF-PQ coded path against brute-force cosine —
    # composes the brute-force SQL twin with the IVF-PQ differential
    # table (the same bit-exact replica ivfpq_topk hash-checks against)
    f"""
    WITH exact AS ({_COSINE_TOPK_SQL}),
    approx AS (
      SELECT query_id, neighbor_id FROM {_dt("expected_ivfpq_topk")}
      WHERE corpus_fp = {_CORPUS_FP_SQL}
    )
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS DOUBLE) / 5 AS recall
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
    covers="ANN quality measurement for the coded path — recall@k of "
    "IVF-PQ (codes + ADC scoring) against brute-force cosine, per "
    "query: the quantization-loss number that decides m_sub/ksub/"
    "n_probe before a billion-vector index build (completes the eval "
    "matrix next to ann_recall's LSH measurement)",
)
def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = q_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = q_ivfpq_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg((F.count("_hit") / F.lit(5.0)).alias("recall"))
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Curve UDAF against a SQL oracle (A3 make_curve semantics)
# ---------------------------------------------------------------------------


@register(
    "make_curve_ecdf",
    """
    WITH g AS (
      SELECT event_type, value AS x, count(*) AS c FROM events GROUP BY 1, 2
    ), w AS (
      SELECT event_type, x, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY x) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS total,
             row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn,
             count(*) OVER (PARTITION BY event_type) AS nd,
             first_value(x) OVER (PARTITION BY event_type ORDER BY x) AS first_x
      FROM g
    )
    SELECT event_type, x,
           round(CASE WHEN rn = (CASE WHEN first_x = 0.0 THEN 2 ELSE 1 END) THEN 0.0
                      WHEN rn = nd THEN 1.0
                      ELSE (cum - c + 1.0) / total END, 9) AS y
    FROM w
    WHERE NOT (rn = 1 AND x = 0.0)
    """,
    covers="A3 make_curve ECDF UDAF (src/analyser/curve_utils.rs:68-94) incl. "
    "first-occurrence-weight and leading-zero semantics, vs a pure-SQL oracle",
)
def q_make_curve_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from .curves.core import make_curve

    ev = load_table(spark, sf_dir, "events")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        made = make_curve(pdf["value"].to_numpy(dtype=float))
        if made is None:
            return pd.DataFrame(columns=["event_type", "x", "y"])
        curve, _ = made
        return pd.DataFrame(
            {"event_type": pdf["event_type"].iloc[0], "x": curve.xs, "y": curve.ys}
        )

    out = ev.groupBy("event_type").applyInPandas(
        build, "event_type string, x double, y double"
    )
    return out.withColumn("y", F.round("y", 9))


# ECDF knots shared between the Spark queries and the DuckDB oracles of
# simplify_curves / stored_curve_quantiles: IDENTICAL SQL text runs on
# both engines, so the knot doubles agree bit-for-bit and each
# comparison isolates the operation under test (A4 simplify, A13/C11
# x_at_y interpolation).
_ECDF_KNOTS_SQL = """
    WITH g AS (
      SELECT event_type, value AS x, count(*) AS c FROM {events} GROUP BY 1, 2
    ), w AS (
      SELECT event_type, x, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY x) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS total,
             row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn,
             count(*) OVER (PARTITION BY event_type) AS nd,
             first_value(x) OVER (PARTITION BY event_type ORDER BY x) AS first_x
      FROM g
    )
    SELECT event_type, x,
           CASE WHEN rn = (CASE WHEN first_x = 0.0 THEN 2 ELSE 1 END) THEN 0.0
                WHEN rn = nd THEN 1.0
                ELSE (cum - c + 1.0) / total END AS y
    FROM w
    WHERE NOT (rn = 1 AND x = 0.0)
"""

# Stored curves are CAPPED to a bounded knot count before any per-group
# collection, mirroring the reference's own stored-curve size bound
# (serialize_compact_limited(120), src/importer/per_schedule_importer.rs:362;
# simplify(eps) before storage, src/analyser/specific_curves.rs:363).
# Without this, collect_list over every distinct ECDF x is an unbounded
# per-task array at 100x data.  The cap is a deterministic stride over the
# rank of each knot — first + last always kept — expressed in dialect-portable
# SQL so the DuckDB oracle reproduces the exact same knot subset.
_CURVE_KNOT_CAP = 240
_CAPPED_KNOTS_SQL = (
    """
    SELECT event_type, x, y FROM (
      SELECT k.event_type, k.x, k.y,
             row_number() OVER (PARTITION BY k.event_type ORDER BY k.x) AS krn,
             count(*) OVER (PARTITION BY k.event_type) AS knd
      FROM ({knots}) k
    ) capped
    WHERE krn = 1 OR krn = knd
       OR (krn - 1) % CAST(floor((knd + """
    + f"{_CURVE_KNOT_CAP - 1}.0) / {_CURVE_KNOT_CAP}) AS BIGINT) = 0"
)

_SIMPLIFY_EPS = 0.05


@register(
    "curve_codec_roundtrip",
    # The oracle composes the SAME two caps the Spark path applies: a
    # relational 240-knot pre-cap (bounds the per-group array before any
    # collection) and the codec's own 120-knot cap — both instances of the
    # identical rank-stride rule, so the surviving knot set is equal by
    # construction.
    f"""
    WITH knots AS (
      {_capped_knots_sql_for(
          _capped_knots_sql_for(_ECDF_KNOTS_SQL.format(events='events'),
                                _CURVE_KNOT_CAP),
          120,
      )}
    )
    SELECT event_type,
           CAST(CAST(x AS FLOAT) AS DOUBLE) AS x,
           CAST(floor(y * 255 + 0.5) AS BIGINT) AS y_q,
           2 + 5 * count(*) OVER (PARTITION BY event_type) AS n_bytes
    FROM knots
    """,
    covers="S10 compact curve codec (serialize_compact_limited(120) / "
    "deserialize_compact, src/importer/per_schedule_importer.rs:362, "
    "src/monitor/mod.rs:1495): bounded binary storage — u16 count + "
    "float32 x + u8-quantized y, <= 602 bytes per curve.  The Spark side "
    "genuinely packs and re-parses the bytes; the oracle recomputes the "
    "quantization closed-form.",
)
def q_curve_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from .curves.codec import decode_compact, encode_compact

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__ccr_events")
    # Pre-cap relationally so the collected group is bounded at any scale;
    # encode_compact then applies its own (identical-rule) 120 cap.
    knots = spark.sql(
        _capped_knots_sql_for(
            _ECDF_KNOTS_SQL.format(events="__ccr_events"), _CURVE_KNOT_CAP
        )
    )

    def roundtrip(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("x")
        blob = encode_compact(pdf["x"].to_numpy(), pdf["y"].to_numpy(), 120)
        xs, yq = decode_compact(blob)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "x": xs.astype("float64"),
                "y_q": yq.astype("int64"),
                "n_bytes": len(blob),
            }
        )

    return knots.groupBy("event_type").applyInPandas(
        roundtrip, "event_type string, x double, y_q long, n_bytes long"
    )


@register(
    "simplify_curves",
    f"""
    WITH RECURSIVE knots0 AS ({_ECDF_KNOTS_SQL.format(events='events')}),
    knots AS (
      SELECT event_type, x, y,
             row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn,
             count(*) OVER (PARTITION BY event_type) AS nd
      FROM knots0
    ),
    seg AS (
      SELECT event_type, CAST(1 AS BIGINT) AS lo, CAST(nd AS BIGINT) AS hi
      FROM (SELECT DISTINCT event_type, nd FROM knots)
      WHERE nd >= 2
      UNION ALL
      SELECT q.event_type,
             CASE WHEN v.side = 0 THEN q.lo ELSE q.mid END AS lo,
             CASE WHEN v.side = 0 THEN q.mid ELSE q.hi END AS hi
      FROM (
        SELECT inner_q.*,
               row_number() OVER (PARTITION BY event_type, lo, hi
                                  ORDER BY err DESC, mid ASC) AS r
        FROM (
          -- vertical distance to the (lo, hi) chord, numpy association:
          -- ((y_hi - y_lo) * (x - x_lo)) / (x_hi - x_lo) + y_lo
          SELECT s.event_type, s.lo, s.hi, k.rn AS mid,
                 abs(k.y - (((khi.y - klo.y) * (k.x - klo.x))
                            / (khi.x - klo.x) + klo.y)) AS err
          FROM seg s
          JOIN knots klo ON klo.event_type = s.event_type AND klo.rn = s.lo
          JOIN knots khi ON khi.event_type = s.event_type AND khi.rn = s.hi
          JOIN knots k
            ON k.event_type = s.event_type AND k.rn > s.lo AND k.rn < s.hi
        ) inner_q
      ) q
      JOIN (VALUES (0), (1)) v(side) ON true
      WHERE q.r = 1 AND q.err > {_SIMPLIFY_EPS}
    ),
    kept AS (
      -- explicit outer DISTINCT: inside a WITH RECURSIVE list DuckDB
      -- treats a bare UNION between the arms as the recursive-union
      -- form and does NOT dedup across them
      SELECT DISTINCT event_type, rn FROM (
        SELECT event_type, lo AS rn FROM seg
        UNION ALL
        SELECT event_type, hi AS rn FROM seg
      )
    )
    SELECT k.event_type, k.x, round(k.y, 9) AS y
    FROM knots k
    JOIN kept ON kept.event_type = k.event_type AND kept.rn = k.rn
    ORDER BY 1, 2
    """,
    covers="A4 curve simplify(eps): Ramer-Douglas-Peucker with vertical "
    "tolerance on ECDF curves (curve.simplify(eps) call sites, "
    "src/analyser/specific_curves.rs:363, default_curves.rs:148-234) vs an "
    "independent recursive-CTE RDP in DuckDB — upgrades A4 from "
    "numpy-test-only to driver-gated independent-oracle coverage",
)
def q_simplify_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from .curves.core import make_curve, simplify

    ev = load_table(spark, sf_dir, "events")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        made = make_curve(pdf["value"].to_numpy(dtype=float))
        if made is None:
            return pd.DataFrame(columns=["event_type", "x", "y"])
        c = simplify(made[0], _SIMPLIFY_EPS)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "x": c.xs,
                "y": np.round(c.ys, 9),
            }
        )

    return ev.groupBy("event_type").applyInPandas(
        build, "event_type string, x double, y double"
    )


@register(
    "transfer_probability_matrix",
    f"""
    WITH knots AS ({_CAPPED_KNOTS_SQL.format(knots=_ECDF_KNOTS_SQL.format(events='events'))}),
    ps AS (SELECT CAST(i AS DOUBLE) / 100 AS p FROM range(0, 100) t(i)),
    segsy AS (
      SELECT event_type, x AS x0, y AS y0,
             lead(x) OVER (PARTITION BY event_type ORDER BY y) AS x1,
             lead(y) OVER (PARTITION BY event_type ORDER BY y) AS y1
      FROM knots
    ),
    bounds AS (
      SELECT event_type, arg_min(x, y) AS first_x, min(y) AS first_y,
             arg_max(x, y) AS last_x, max(y) AS last_y
      FROM knots GROUP BY 1
    ),
    -- arrival.x_at_y(p): np.interp(p, ys, xs) with endpoint clamping
    arr_t AS (
      SELECT b.event_type, p.p,
             CASE WHEN p.p <= b.first_y THEN b.first_x
                  WHEN p.p >= b.last_y THEN b.last_x
                  ELSE i.xq END AS t
      FROM bounds b CROSS JOIN ps p
      LEFT JOIN (
        SELECT s.event_type, p2.p,
               ((s.x1 - s.x0) / (s.y1 - s.y0)) * (p2.p - s.y0) + s.x0 AS xq
        FROM segsy s JOIN ps p2 ON s.y0 <= p2.p AND p2.p < s.y1
      ) i ON i.event_type = b.event_type AND i.p = p.p
    ),
    segsx AS (
      SELECT event_type, x AS x0, y AS y0,
             lead(x) OVER (PARTITION BY event_type ORDER BY x) AS x1,
             lead(y) OVER (PARTITION BY event_type ORDER BY x) AS y1,
             min(x) OVER (PARTITION BY event_type) AS min_x,
             max(x) OVER (PARTITION BY event_type) AS max_x
      FROM knots
    ),
    -- departure.y_at_x(t): np.interp left=0 / right=1 edge semantics
    evald AS (
      SELECT a.event_type AS arrival_type, db.event_type AS departure_type,
             a.p, CASE WHEN a.t < db.min_x THEN 0.0 ELSE 1.0 END AS y
      FROM arr_t a JOIN (
        SELECT DISTINCT event_type, min_x, max_x FROM segsx
      ) db ON a.event_type <> db.event_type
      WHERE a.t < db.min_x OR a.t >= db.max_x
      UNION ALL
      SELECT a.event_type, s.event_type, a.p,
             ((s.y1 - s.y0) / (s.x1 - s.x0)) * (a.t - s.x0) + s.y0 AS y
      FROM arr_t a JOIN segsx s
        ON a.event_type <> s.event_type AND s.x0 <= a.t AND a.t < s.x1
    )
    SELECT arrival_type, departure_type,
           round(1.0 - sum(y) / count(*), 9) AS p_transfer
    FROM evald
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    covers="C14 transfer probability (1 - mean over 100 arrival "
    "percentiles of P(departure before arrival), "
    "src/monitor/time_curve.rs:18-32) on stored knot-capped CDFs, vs a "
    "fully relational x_at_y/y_at_x twin — upgrades C14 from "
    "differential-only to independent-oracle coverage",
)
def q_transfer_probability_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curves.udfs import curve_transfer_probability

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__tpm_events")
    knots = spark.sql(
        _CAPPED_KNOTS_SQL.format(
            knots=_ECDF_KNOTS_SQL.format(events="__tpm_events")
        )
    )
    curves = knots.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("x", "y"))).alias("pts")
    )
    a = curves.select(
        F.col("event_type").alias("arrival_type"), F.col("pts").alias("arr")
    )
    b = curves.select(
        F.col("event_type").alias("departure_type"), F.col("pts").alias("dep")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("arrival_type") != F.col("departure_type"))
        .select(
            "arrival_type",
            "departure_type",
            F.round(
                curve_transfer_probability(F.col("arr"), F.col("dep")), 9
            ).alias("p_transfer"),
        )
    )


@register(
    "average_curves_groups",
    """
    WITH e AS (
      SELECT event_type, user_id % 3 AS curve_id, value FROM events
    ),
    g AS (
      SELECT event_type, curve_id, value AS x, count(*) AS c
      FROM e GROUP BY 1, 2, 3
    ),
    w AS (
      SELECT event_type, curve_id, x, c,
             sum(c) OVER (PARTITION BY event_type, curve_id ORDER BY x) AS cum,
             sum(c) OVER (PARTITION BY event_type, curve_id) AS total,
             row_number() OVER (PARTITION BY event_type, curve_id ORDER BY x) AS rn,
             count(*) OVER (PARTITION BY event_type, curve_id) AS nd,
             first_value(x) OVER (PARTITION BY event_type, curve_id ORDER BY x)
               AS first_x
      FROM g
    ),
    knots AS (
      SELECT event_type, curve_id, x,
             CASE WHEN rn = (CASE WHEN first_x = 0.0 THEN 2 ELSE 1 END) THEN 0.0
                  WHEN rn = nd THEN 1.0
                  ELSE (cum - c + 1.0) / total END AS y
      FROM w
      WHERE NOT (rn = 1 AND x = 0.0)
    ),
    valid AS (
      SELECT event_type, curve_id FROM knots GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    k AS (
      SELECT kn.* FROM knots kn JOIN valid v
        ON kn.event_type = v.event_type AND kn.curve_id = v.curve_id
    ),
    grid AS (SELECT DISTINCT event_type, x FROM k),
    segs AS (
      SELECT event_type, curve_id, x AS x0, y AS y0,
             lead(x) OVER (PARTITION BY event_type, curve_id ORDER BY x) AS x1,
             lead(y) OVER (PARTITION BY event_type, curve_id ORDER BY x) AS y1,
             min(x) OVER (PARTITION BY event_type, curve_id) AS min_x,
             max(x) OVER (PARTITION BY event_type, curve_id) AS max_x
      FROM k
    ),
    -- each curve evaluated at each union-grid x, np.interp semantics
    -- (left=0, right=1 on pinned curves; slope*(x-x0)+y0 association)
    ys AS (
      SELECT g.event_type, g.x, c.curve_id,
             CASE WHEN g.x < c.min_x THEN 0.0 ELSE 1.0 END AS y
      FROM grid g JOIN (
        SELECT DISTINCT event_type, curve_id, min_x, max_x FROM segs
      ) c ON g.event_type = c.event_type
      WHERE g.x < c.min_x OR g.x >= c.max_x
      UNION ALL
      SELECT s.event_type, g.x, s.curve_id,
             ((s.y1 - s.y0) / (s.x1 - s.x0)) * (g.x - s.x0) + s.y0 AS y
      FROM grid g JOIN segs s
        ON g.event_type = s.event_type AND s.x0 <= g.x AND g.x < s.x1
    ),
    avgd AS (
      SELECT event_type, x, sum(y) / count(*) AS ym
      FROM ys GROUP BY 1, 2
    )
    SELECT event_type, x,
           round(CASE WHEN rn = 1 THEN 0.0 WHEN rn = n THEN 1.0 ELSE ym END, 9)
             AS y
    FROM (
      SELECT event_type, x, ym,
             row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM avgd
    )
    ORDER BY event_type, x
    """,
    covers="A5 curve averaging (CurveData averaging, "
    "src/types/curve_data.rs:21-42): pointwise mean of per-subgroup ECDFs "
    "on the union x grid, vs a fully relational SQL twin (upgrades A5 from "
    "differential-only to independent-oracle coverage)",
)
def q_average_curves_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from .curves.core import average_curves, make_curve

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(3)).alias("curve_id"),
        "value",
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        curves = []
        for _, sub in pdf.groupby("curve_id"):
            made = make_curve(sub["value"].to_numpy(dtype=float))
            if made is not None:
                curves.append(made[0])
        if not curves:
            return pd.DataFrame(columns=["event_type", "x", "y"])
        avg = average_curves(curves)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "x": avg.xs,
                "y": np.round(avg.ys, 9),
            }
        )

    return ev.groupBy("event_type").applyInPandas(
        build, "event_type string, x double, y double"
    )


_QUANTILE_PS = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)
_PROBS_SQL = "probs(p) AS (VALUES " + ", ".join(
    f"(CAST({p} AS DOUBLE))" for p in _QUANTILE_PS
) + ")"


@register(
    "stored_curve_quantiles",
    f"""
    WITH knots AS ({_CAPPED_KNOTS_SQL.format(knots=_ECDF_KNOTS_SQL.format(events='events'))}),
    {_PROBS_SQL},
    segs AS (
      SELECT event_type, x AS x0, y AS y0,
             lead(x) OVER (PARTITION BY event_type ORDER BY y) AS x1,
             lead(y) OVER (PARTITION BY event_type ORDER BY y) AS y1
      FROM knots
    ),
    b AS (
      SELECT event_type, arg_min(x, y) AS first_x, min(y) AS first_y,
             arg_max(x, y) AS last_x, max(y) AS last_y
      FROM knots GROUP BY 1
    ),
    interp AS (
      SELECT s.event_type, p.p,
             ((s.x1 - s.x0) / (s.y1 - s.y0)) * (p.p - s.y0) + s.x0 AS xq
      FROM segs s JOIN probs p ON s.y0 <= p.p AND p.p < s.y1
    )
    SELECT b.event_type, p.p,
           round(CASE WHEN p.p <= b.first_y THEN b.first_x
                      WHEN p.p >= b.last_y THEN b.last_x
                      ELSE i.xq END, 9) AS x_q
    FROM b CROSS JOIN probs p
    LEFT JOIN interp i ON i.event_type = b.event_type AND i.p = p.p
    ORDER BY b.event_type, p.p
    """,
    covers="A13/C11 stored-CDF quantile extraction: curve_x_at_y linear "
    "interpolation on array<struct> curves vs a relational SQL twin "
    "(src/monitor/mod.rs:1455-1472, src/types/prediction_result.rs:34-48); "
    "stored curves knot-capped per per_schedule_importer.rs:362",
)
def q_stored_curve_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curves.udfs import curve_x_at_y

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__scq_events")
    # Bounded stored curve: the stride cap guarantees the collected array
    # holds at most ~_CURVE_KNOT_CAP+1 knots per group at ANY data scale.
    knots = spark.sql(
        _CAPPED_KNOTS_SQL.format(knots=_ECDF_KNOTS_SQL.format(events="__scq_events"))
    )
    curves = knots.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("x", "y"))).alias("curve")
    )
    probs = F.explode(F.array(*[F.lit(p) for p in _QUANTILE_PS])).alias("p")
    return (
        curves.select("event_type", "curve", probs)
        .select(
            "event_type",
            "p",
            F.round(curve_x_at_y(F.col("curve"), F.col("p")), 9).alias("x_q"),
        )
        .orderBy("event_type", "p")
    )


# ---------------------------------------------------------------------------
# GTFS domain pipeline (rows-only: fixture-driven, no testdata SQL oracle;
# semantics are oracle-tested against numpy in tests/test_domain_pipeline.py)
# ---------------------------------------------------------------------------


# Demo-fixture oracles: the GTFS domain queries' inputs are materialized
# to parquet by sources/demo_oracle.py (triggered in oracle_sql()), and
# the twins below read them with read_parquet — same rows both engines.

# NULL-guarded: DuckDB's split_part maps NULL input to '' (not NULL)
_GTFS_TIME_SQL = (
    "CASE WHEN u.start_time IS NULL THEN NULL ELSE "
    "CAST(split_part(u.start_time, ':', 1) AS INT) * 3600"
    " + CAST(split_part(u.start_time, ':', 2) AS INT) * 60"
    " + CAST(split_part(u.start_time, ':', 3) AS INT) END"
)


# Shared relational twin of build_records + merge_records (decode → J1/J2
# schedule joins → F7 null-skip → W1 latest-wins), reused by every oracle
# that consumes merged records.  Ends with a `merged` CTE.
_MERGED_RECORDS_CTE = f"""
    upd AS (SELECT * FROM {_dt('rt_updates')}),
    tr AS (SELECT trip_id, route_id, route_variant FROM {_dt('trips')}),
    st AS (SELECT trip_id, stop_sequence, stop_id FROM {_dt('stop_times')}),
    fd AS (
      SELECT trip_id, min(departure_time) AS first_dep
      FROM {_dt('stop_times')} GROUP BY 1
    ),
    rec AS (
      SELECT 'demo' AS source, tr.route_id, tr.route_variant, u.trip_id,
             CAST(CAST(strptime(u.start_date, '%Y%m%d') AS DATE) AS STRING)
               AS trip_start_date,
             CAST(coalesce({_GTFS_TIME_SQL}, fd.first_dep) AS INT) AS trip_start_time,
             u.stop_sequence, st.stop_id,
             epoch_us(u.header_timestamp) AS time_of_recording_us,
             u.arrival_delay AS delay_arrival,
             u.departure_delay AS delay_departure,
             u.feed_name
      FROM upd u
      JOIN tr ON tr.trip_id = u.trip_id
      JOIN st ON st.trip_id = u.trip_id AND st.stop_sequence = u.stop_sequence
      LEFT JOIN fd ON fd.trip_id = u.trip_id
      WHERE u.arrival_delay IS NOT NULL OR u.departure_delay IS NOT NULL
    ),
    dedup AS (
      SELECT *, row_number() OVER (
        PARTITION BY source, route_id, route_variant, trip_id,
                     trip_start_date, trip_start_time, stop_sequence
        ORDER BY time_of_recording_us DESC) AS rn
      FROM rec
    ),
    merged AS (
      SELECT source, route_id, route_variant, trip_id, trip_start_date,
             trip_start_time, stop_sequence, stop_id, time_of_recording_us,
             delay_arrival, delay_departure, feed_name
      FROM dedup WHERE rn = 1
    )"""


def _demo_merged_records(spark: SparkSession):
    """Demo feed bytes → decoded updates → merged records, plus the
    schedule frames.  The Spark half of `_MERGED_RECORDS_CTE`."""
    from .operators.records import build_records, merge_records
    from .schemas import RECORDS_KEY
    from .sources.demo import build_schedule, rt_feed_files_dir
    from .sources.rt import decode_feed_messages

    sched = build_schedule(spark)
    feed_files = spark.read.format("binaryFile").load(rt_feed_files_dir())
    updates = decode_feed_messages(feed_files)  # default: wire_decoder on real bytes
    rec = build_records(updates, sched["trips"], sched["stop_times"], source="demo")
    merged = merge_records(rec.limit(0), rec, key=RECORDS_KEY)
    return sched, updates, merged


def _feed_name():
    return F.regexp_extract("schedule_file_name", r"([^/]+)\.pb$", 1)


@register(
    "gtfs_records",
    f"""
    WITH {_MERGED_RECORDS_CTE}
    SELECT * FROM merged
    ORDER BY trip_id, stop_sequence
    """,
    covers="S2 protobuf wire decode (gtfs-realtime FeedMessage, pure-Python "
    "parser) + J1/J2 schedule joins + F7 null-skip + W1 latest-wins merge "
    "(src/importer/per_schedule_importer.rs:96-117, 151-456)",
)
def q_gtfs_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, merged = _demo_merged_records(spark)
    return merged.select(
        "source", "route_id", "route_variant", "trip_id",
        F.col("trip_start_date").cast("string").alias("trip_start_date"),
        "trip_start_time", "stop_sequence", "stop_id",
        F.unix_micros("time_of_recording").alias("time_of_recording_us"),
        "delay_arrival", "delay_departure",
        _feed_name().alias("feed_name"),
    ).orderBy("trip_id", "stop_sequence")


@register(
    "gap_fill_records",
    f"""
    WITH {_MERGED_RECORDS_CTE},
    veh AS (
      SELECT DISTINCT source, route_id, route_variant, feed_name,
             trip_id, trip_start_date, trip_start_time
      FROM merged
    ),
    grid AS (
      SELECT v.*, s.stop_sequence, s.stop_id
      FROM veh v JOIN st s ON s.trip_id = v.trip_id
    ),
    g AS (
      SELECT grid.*,
             CASE WHEN m.trip_id IS NULL THEN NULL ELSE
               struct_pack(a := m.delay_arrival, d := m.delay_departure,
                           t := m.time_of_recording_us) END AS obs
      FROM grid LEFT JOIN merged m
        ON m.trip_id = grid.trip_id
       AND m.trip_start_date = grid.trip_start_date
       AND m.trip_start_time = grid.trip_start_time
       AND m.stop_sequence = grid.stop_sequence
    ),
    filled AS (
      SELECT *, first_value(obs IGNORE NULLS) OVER (
        PARTITION BY trip_id, trip_start_date, trip_start_time
        ORDER BY stop_sequence
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
      FROM g
    )
    SELECT source, route_id, route_variant, trip_id, trip_start_date,
           trip_start_time, stop_sequence, stop_id,
           nxt.t AS time_of_recording_us,
           nxt.a AS delay_arrival, nxt.d AS delay_departure, feed_name
    FROM filled WHERE nxt IS NOT NULL
    ORDER BY trip_id, trip_start_date, trip_start_time, stop_sequence, feed_name
    """,
    covers="J6 schedule gap-fill: synthesize records for scheduled stops the "
    "vehicle never reported, copying the next reported stop's delays backward "
    "(src/analyser/specific_curves.rs:157-252); independent relational twin "
    "via first_value(... IGNORE NULLS) over the forward frame",
)
def q_gap_fill_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.specific_curves import project_missing_delays

    sched, _, merged = _demo_merged_records(spark)
    filled = project_missing_delays(merged, sched["stop_times"])
    return filled.select(
        "source", "route_id", "route_variant", "trip_id",
        F.col("trip_start_date").cast("string").alias("trip_start_date"),
        "trip_start_time", "stop_sequence", "stop_id",
        F.unix_micros("time_of_recording").alias("time_of_recording_us"),
        "delay_arrival", "delay_departure",
        _feed_name().alias("feed_name"),
    ).orderBy(
        "trip_id", "trip_start_date", "trip_start_time", "stop_sequence",
        "feed_name",
    )


@register(
    "realtime_basis",
    f"""
    WITH {_MERGED_RECORDS_CTE},
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY trip_id, trip_start_date, trip_start_time
        ORDER BY time_of_recording_us DESC, stop_sequence DESC) AS rn2
      FROM merged WHERE delay_departure IS NOT NULL
    )
    SELECT source, route_id, route_variant, trip_id, trip_start_date,
           trip_start_time, stop_sequence AS basis_stop_sequence,
           delay_departure AS initial_delay, feed_name
    FROM ranked WHERE rn2 = 1
    ORDER BY trip_id, trip_start_date, trip_start_time
    """,
    covers="J11/W4/T3 realtime prediction basis: per vehicle, the latest "
    "observation carrying a departure delay "
    "(src/predictor/real_time.rs:31-107, "
    "src/importer/per_schedule_importer.rs:266-313)",
)
def q_realtime_basis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.predict import realtime_bases

    _, _, merged = _demo_merged_records(spark)
    bases = realtime_bases(merged)
    return bases.select(
        "source", "route_id", "route_variant", "trip_id",
        F.col("trip_start_date").cast("string").alias("trip_start_date"),
        "trip_start_time", "basis_stop_sequence", "initial_delay",
        _feed_name().alias("feed_name"),
    ).orderBy("trip_id", "trip_start_date", "trip_start_time")


@register(
    "basis_stream",
    # Independent relational twin of the STREAMING stateful basis
    # tracker: pure latest-wins over the raw updates (no schedule join —
    # the stream tracks every vehicle it sees, matching the reference's
    # importer-side map).
    f"""
    WITH u AS (
      SELECT u.trip_id, u.start_date,
             CAST(coalesce({_GTFS_TIME_SQL}, 0) AS INT) AS trip_start_time,
             u.stop_sequence, u.departure_delay,
             epoch_us(u.header_timestamp) AS tor_us
      FROM {_dt('rt_updates')} u
      WHERE u.departure_delay IS NOT NULL
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY trip_id, start_date, trip_start_time
        -- departure_delay DESC mirrors the engine's stable-mergesort
        -- iloc[-1] pick (aggregations.py sorts by time, seq, delay
        -- ascending and takes the last row): rows tied on (time, seq)
        -- must resolve to the same delay in twin and engine
        ORDER BY tor_us DESC, stop_sequence DESC, departure_delay DESC) AS rn
      FROM u
    )
    SELECT trip_id,
           CAST(CAST(strptime(start_date, '%Y%m%d') AS DATE) AS STRING)
             AS trip_start_date,
           trip_start_time,
           stop_sequence AS basis_stop_sequence,
           departure_delay AS initial_delay
    FROM ranked WHERE rn = 1
    ORDER BY trip_id, trip_start_date, trip_start_time
    """,
    covers="T3 stateful streaming basis (applyInPandasWithState, "
    "GroupState per vehicle) executed as a REAL multi-micro-batch "
    "Structured Streaming job (one feed file per trigger): final basis "
    "per vehicle must equal the batch latest-wins result regardless of "
    "arrival order (src/importer/per_schedule_importer.rs:266-313)",
)
def q_basis_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import tempfile as _tf
    import uuid as _uuid

    from .schemas import RT_UPDATES
    from .streaming.aggregations import stateful_basis_stream

    _, updates, _ = _demo_merged_records(spark)
    # stage one landing file per feed file (test-fixture staging only —
    # production tails a real landing directory), so availableNow +
    # maxFilesPerTrigger=1 replays the feed as one micro-batch per file
    land = _tf.mkdtemp(prefix="basis_land_")
    feeds = [
        r[0]
        for r in updates.select("feed_file").distinct().orderBy("feed_file").collect()
    ]
    for i, f in enumerate(feeds):
        updates.filter(F.col("feed_file") == f).coalesce(1).write.parquet(
            _os.path.join(land, f"b{i:03d}")
        )
    stream = (
        spark.readStream.schema(RT_UPDATES)
        .option("maxFilesPerTrigger", 1)
        .parquet(land + "/*")
    )
    out = stateful_basis_stream(stream)
    sink = f"basisstream_{_uuid.uuid4().hex[:8]}"
    from .streaming.pipeline import catalog_stream_state

    with catalog_stream_state(spark, 8):
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    emitted = spark.table(sink)
    # state advances monotonically in (tor, stop_sequence), so the
    # latest emitted row per vehicle IS the final retained basis
    w = Window.partitionBy("trip_id", "trip_start_date", "trip_start_time").orderBy(
        F.desc("time_of_recording_us"), F.desc("stop_sequence")
    )
    return (
        emitted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "trip_id",
            F.date_format(
                F.to_date("trip_start_date", "yyyyMMdd"), "yyyy-MM-dd"
            ).alias("trip_start_date"),
            "trip_start_time",
            F.col("stop_sequence").alias("basis_stop_sequence"),
            F.col("delay_departure").alias("initial_delay"),
        )
        .orderBy("trip_id", "trip_start_date", "trip_start_time")
    )


@register(
    "skipped_updates",
    f"""
    SELECT u.feed_name, u.trip_id, u.stop_sequence,
           u.arrival_delay, u.departure_delay
    FROM {_dt('rt_updates')} u
    LEFT JOIN (SELECT DISTINCT trip_id FROM {_dt('trips')}) t
      ON t.trip_id = u.trip_id
    WHERE t.trip_id IS NULL
    ORDER BY u.feed_name, u.trip_id, u.stop_sequence
    """,
    covers="A12/J1 anti side: updates whose trip is absent from the schedule "
    "('Did not find trip ... in schedule. Skipping.', reference errors.log); "
    "left-anti join + skip accounting",
)
def q_skipped_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.records import skipped_trip_updates

    sched, updates, _ = _demo_merged_records(spark)
    sk = skipped_trip_updates(updates, sched["trips"])
    return sk.select(
        F.regexp_extract("feed_file", r"([^/]+)\.pb$", 1).alias("feed_name"),
        "trip_id", "stop_sequence", "arrival_delay", "departure_delay",
    ).orderBy("feed_name", "trip_id", "stop_sequence")


@register(
    "gtfs_statistics",
    # differential oracle: expected rows computed by the single-node pandas
    # reimplementation (sources/demo_oracle_pipeline.py) — independent
    # orchestration, shared numpy curve interiors
    f"""
    SELECT * FROM {_dt("expected_gtfs_statistics")}
    ORDER BY scope, route_type, route_section, time_slot_id, event_type,
             route_variant, start_stop_index, end_stop_index, stop_index,
             focus_delay
    """,
    covers="A7/A8 specific curves + A6 default rollup: the full statistics "
    "tree build (src/analyser/specific_curves.rs, default_curves.rs)",
)
def q_gtfs_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = demo_statistics(spark)
    # summarize: one row per curve with its span + size (stable schema)
    return stats.select(
        "scope",
        "route_id",
        "route_variant",
        "start_stop_index",
        "end_stop_index",
        "stop_index",
        "route_type",
        "route_section",
        "time_slot_id",
        "event_type",
        F.col("focus_delay").cast("double").alias("focus_delay"),
        F.size("curve").alias("n_points"),
        "precision_type",
        "sample_size",
    ).orderBy(
        "scope", "route_type", "route_section", "time_slot_id", "event_type",
        "route_variant", "start_stop_index", "end_stop_index", "stop_index",
        "focus_delay",
    )


@register(
    "gtfs_statistics_scaled",
    # replica-invariance oracle: a jitter-free R-fold key-suffix replica
    # of the demo fixture makes every per-variant-keyed statistic group
    # replica-DISJOINT with identical content, so the scaled specific/
    # semi_specific curves are EXACTLY the demo's expected rows with
    # mapped keys (route_id || '#k', route_variant + k*1000) — the
    # domain pipeline's scaled run is hash-checked without a scaled
    # single-node replica
    f"""
    SELECT scope,
           route_id || '#' || CAST(k AS VARCHAR) AS route_id,
           CAST(route_variant + k * 1000 AS BIGINT) AS route_variant,
           start_stop_index, end_stop_index, stop_index,
           route_type, route_section, time_slot_id, event_type,
           focus_delay, n_points, precision_type, sample_size
    FROM (SELECT * FROM {_dt("expected_gtfs_statistics")}
          WHERE scope IN ('specific', 'semi_specific')),
         range(3) t(k)
    ORDER BY scope, route_variant, start_stop_index, end_stop_index,
             stop_index, time_slot_id, event_type, focus_delay
    """,
    covers="A7/A8 specific curves at SCALE (round-7 verdict task #4): "
    "the per-variant curve-UDAF groups — the reference's per-route "
    "analyser loop — run over an R=3 key-suffix replica of the fixture "
    "(sources/demo.py scale_fixture, jitter-free), tripling the pandas-"
    "UDAF group count; correctness by replica invariance against the "
    "same differential-oracle table the base entry uses",
)
def q_gtfs_statistics_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.specific_curves import specific_statistics
    from .sources.demo import scale_fixture

    sched, recs = scale_fixture(spark, 3, jitter=False)
    stats = specific_statistics(recs, sched["stop_times"])
    return stats.select(
        "scope",
        "route_id",
        "route_variant",
        "start_stop_index",
        "end_stop_index",
        "stop_index",
        "route_type",
        "route_section",
        "time_slot_id",
        "event_type",
        F.col("focus_delay").cast("double").alias("focus_delay"),
        F.size("curve").alias("n_points"),
        "precision_type",
        "sample_size",
    ).orderBy(
        "scope", "route_variant", "start_stop_index", "end_stop_index",
        "stop_index", "time_slot_id", "event_type", "focus_delay",
    )


@register(
    "gtfs_statistics_width",
    # differential oracle: the single-node specific/semi_specific replica
    # run on the WIDE fixture (12-stop variant) — the O(width²) stop-pair
    # grid hash-checked beyond the 16-stop demo bus's shape
    f"""
    SELECT scope, route_id, route_variant, start_stop_index, end_stop_index,
           stop_index, time_slot_id, event_type, focus_delay, n_points,
           precision_type, sample_size
    FROM {_dt("expected_gtfs_statistics_wide")}
    ORDER BY scope, start_stop_index, end_stop_index, stop_index,
             time_slot_id, event_type, focus_delay
    """,
    covers="A7/J4 stop-pair curve sets on a WIDE variant (SURVEY §7 "
    "hard-part #4, src/analyser/specific_curves.rs:279-351): one 12-stop "
    "trip makes C(11,2) pair groups × slots × event types, the sparse "
    "last stop exercises the >20-pair guard, vs the bit-exact single-"
    "node replica (demo_oracle_pipeline.expected_gtfs_statistics_wide)",
)
def q_gtfs_statistics_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.specific_curves import specific_statistics
    from .sources.demo import wide_fixture

    sched, recs = wide_fixture(spark, 12)
    stats = specific_statistics(recs, sched["stop_times"])
    return stats.select(
        "scope",
        "route_id",
        "route_variant",
        "start_stop_index",
        "end_stop_index",
        "stop_index",
        "time_slot_id",
        "event_type",
        F.col("focus_delay").cast("double").alias("focus_delay"),
        F.size("curve").alias("n_points"),
        "precision_type",
        "sample_size",
    ).orderBy(
        "scope", "start_stop_index", "end_stop_index", "stop_index",
        "time_slot_id", "event_type", "focus_delay",
    )


@register(
    "gtfs_predictions",
    # differential oracle: single-node pandas fallback-ladder reimplementation
    f"""
    SELECT * FROM {_dt("expected_gtfs_predictions")}
    ORDER BY trip_id, trip_start_date, trip_start_time, stop_sequence, event_type
    """,
    covers="J10 fallback ladder + T3 basis + prediction_min/max time shift: "
    "records → statistics → predictions end-to-end (src/predictor/mod.rs, "
    "src/importer/per_schedule_importer.rs:315-366)",
)
def q_gtfs_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.predict import generate_realtime_predictions
    from .operators.specific_curves import stop_indexed
    from .sources.demo import build_records as demo_records
    from .sources.demo import build_schedule

    sched = build_schedule(spark)
    records = demo_records(spark)
    sti = stop_indexed(sched["stop_times"])
    preds = generate_realtime_predictions(
        records, sti, sched["routes"], sched["trips"], demo_statistics(spark)
    )
    return preds.select(
        "source",
        F.col("event_type").cast("int").alias("event_type"),
        "stop_id",
        "stop_sequence",
        "route_id",
        "trip_id",
        F.col("trip_start_date").cast("string").alias("trip_start_date"),
        "trip_start_time",
        F.unix_micros("prediction_min").alias("prediction_min_us"),
        F.unix_micros("prediction_max").alias("prediction_max_us"),
        F.col("precision_type").cast("int").alias("precision_type"),
        F.col("origin_type").cast("int").alias("origin_type"),
        "sample_size",
        F.size("prediction_curve").alias("n_curve_points"),
    ).orderBy("trip_id", "trip_start_date", "trip_start_time", "stop_sequence", "event_type")


# ---------------------------------------------------------------------------
# Journey math (C9-C15) + variant grouping (E3) + scheduled predictions (T6)
# ---------------------------------------------------------------------------

_WALK_DIST = f"round({Fg.haversine_m_sql(_LAT_A.replace('s_suppkey', 'a.s_suppkey'), _LON_A.replace('s_suppkey', 'a.s_suppkey'), _LAT_A.replace('s_suppkey', 'b.s_suppkey'), _LON_A.replace('s_suppkey', 'b.s_suppkey'))}, 6)"


@register(
    "walk_time_bounds",
    f"""
    WITH pairs AS (
      SELECT a.s_suppkey AS stop_a, b.s_suppkey AS stop_b, {_WALK_DIST} AS dist_m
      FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
      WHERE {_WALK_DIST} <= 500.0
    )
    SELECT stop_a, stop_b, dist_m,
           round(CASE WHEN dist_m < 20.0 THEN -12.0
                      ELSE dist_m / 3.5 + 10.0 END, 4) AS min_walk_s,
           round(CASE WHEN dist_m < 20.0 THEN 12.0
                      ELSE dist_m * (1.4 + greatest(0.0, least(0.4, (500.0 - dist_m) / 500.0 * 0.4))) / 0.8 + 45.0
                 END, 4) AS max_walk_s
    FROM pairs
    """,
    covers="C10 walk-time curve bounds + C9 haversine (src/monitor/journey_data.rs:558-594): "
    "curve endpoints vs the closed-form oracle; interior shape tested in tests/",
)
def q_walk_time_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.journey import walk_time_bounds_udf

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") % 120) * 0.001 - 0.05).alias("lat"),
        ((F.col("s_suppkey") % 77) * 0.001).alias("lon"),
    )
    # Grid cells sized with ~1 m slack so the post-round <= 500.0 filter
    # (the oracle's predicate) never loses a boundary pair.
    pairs = (
        Fg.grid_proximity_pairs(
            s, ["s_suppkey"], "lat", "lon", 501.0, max_abs_lat_deg=0.07
        )
        .filter(F.col("s_suppkey_a") < F.col("s_suppkey_b"))
        .withColumn("dist_m", F.round("dist_m", 6))
        .filter(F.col("dist_m") <= 500.0)
        .select(
            F.col("s_suppkey_a").alias("stop_a"),
            F.col("s_suppkey_b").alias("stop_b"),
            "dist_m",
        )
    )
    return (
        pairs.withColumn("_b", walk_time_bounds_udf(F.col("dist_m")))
        .select(
            "stop_a",
            "stop_b",
            "dist_m",
            F.round(F.col("_b.min_walk_s"), 4).alias("min_walk_s"),
            F.round(F.col("_b.max_walk_s"), 4).alias("max_walk_s"),
        )
    )


@register(
    "journey_transfers",
    # differential oracle: single-node pandas hop reimplementation
    f"""
    SELECT * FROM {_dt("expected_journey_transfers")}
    ORDER BY arr_trip, from_stop, dep_trip, to_stop
    """,
    covers="C13 convolution + C14 transfer probability + C10 walk curves: one "
    "journey hop end-to-end (src/monitor/time_curve.rs, journey_data.rs:166-264)",
)
def q_journey_transfers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.journey import transfer_chain, walk_curves_between_stops
    from .sources.demo import build_schedule

    sched = build_schedule(spark)
    legs = walk_curves_between_stops(sched["stops"], max_distance_m=400.0)
    # synthetic absolute-time curves: trips arriving/departing around stops
    arrivals = sched["stop_times"].select(
        "trip_id",
        "stop_id",
        F.array(
            F.struct((F.col("arrival_time") - 60).cast("float").alias("x"), F.lit(0.0).cast("float").alias("y")),
            F.struct((F.col("arrival_time") + 120).cast("float").alias("x"), F.lit(1.0).cast("float").alias("y")),
        ).alias("arrival_curve"),
    )
    departures = sched["stop_times"].select(
        "trip_id",
        "stop_id",
        F.array(
            F.struct(F.col("departure_time").cast("float").alias("x"), F.lit(0.0).cast("float").alias("y")),
            F.struct((F.col("departure_time") + 180).cast("float").alias("x"), F.lit(1.0).cast("float").alias("y")),
        ).alias("departure_curve"),
    )
    hops = transfer_chain(arrivals, departures, legs)
    return hops.select(
        "arr_trip", "from_stop", "dep_trip", "to_stop",
        F.round("distance_m", 3).alias("distance_m"),
        F.round("transfer_probability", 6).alias("transfer_probability"),
    ).orderBy("arr_trip", "from_stop", "dep_trip", "to_stop")


@register(
    "journey_chain",
    # differential oracle: single-node pandas chain reimplementation
    f"""
    SELECT * FROM {_dt("expected_journey_chain")}
    ORDER BY trip1, walk_stop, trip2, final_stop
    """,
    covers="End-to-end ≥3-leg journey: Stop→Trip→Stop→Walk→Stop→Trip→Stop "
    "with accumulated transfer probability and curve algebra — C10 walk "
    "curves, C13 convolution, C14 transfer probability, C11 median, chained "
    "per the monitor's component accumulation "
    "(src/monitor/journey_data.rs:166-485)",
)
def q_journey_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.journey import journey_chain
    from .sources.demo import build_schedule

    sched = build_schedule(spark)
    return journey_chain(sched["stops"], sched["stop_times"], max_walk_m=400.0).orderBy(
        "trip1", "walk_stop", "trip2", "final_stop"
    )


# Master-variant assignment as SQL: patterns as '|'-delimited strings so
# contiguous-subsequence = substring; variants ordered by (len DESC,
# variant ASC); a variant's master is the first earlier variant whose
# pattern contains it forward or reversed (two-level hierarchy — matches
# the reference's partition-and-subtract on fixtures without chains).
_MASTERS_SQL = f"""
    trip_pat AS (
      SELECT t.route_id, t.route_variant, st.trip_id,
             '|' || string_agg(st.stop_id, '|' ORDER BY st.stop_sequence) || '|' AS pat,
             '|' || string_agg(st.stop_id, '|' ORDER BY st.stop_sequence DESC) || '|' AS rpat,
             count(*) AS n
      FROM {_dt('trips')} t
      JOIN {_dt('stop_times')} st ON st.trip_id = t.trip_id
      GROUP BY 1, 2, 3
    ),
    pat AS (
      SELECT route_id, route_variant, arg_min(pat, trip_id) AS pat,
             arg_min(rpat, trip_id) AS rpat, arg_min(n, trip_id) AS n
      FROM trip_pat GROUP BY 1, 2
    ),
    ordered AS (
      SELECT *, row_number() OVER (
        PARTITION BY route_id ORDER BY n DESC, route_variant) AS rk
      FROM pat
    ),
    cover AS (
      SELECT a.route_id, a.route_variant,
             b.route_variant AS master_variant,
             (strpos(b.pat, a.pat) = 0) AS reversed, b.rk
      FROM ordered a JOIN ordered b
        ON a.route_id = b.route_id AND b.rk < a.rk
       AND (strpos(b.pat, a.pat) > 0 OR strpos(b.pat, a.rpat) > 0)
    ),
    best AS (
      SELECT route_id, route_variant, arg_min(master_variant, rk) AS master_variant,
             arg_min(reversed, rk) AS reversed
      FROM cover GROUP BY 1, 2
    ),
    masters AS (
      SELECT o.route_id, o.route_variant,
             coalesce(b.master_variant, o.route_variant) AS master_variant,
             coalesce(b.reversed, false) AS reversed
      FROM ordered o
      LEFT JOIN best b
        ON b.route_id = o.route_id AND b.route_variant = o.route_variant
    )
"""


@register(
    "master_variants",
    f"""
    WITH {_MASTERS_SQL}
    SELECT route_id, route_variant, master_variant, reversed
    FROM masters ORDER BY route_id, route_variant
    """,
    covers="E3 variant partition-and-subtract: master-shape grouping incl. "
    "reversed containment (src/analyser/visual_schedule.rs:212-277)",
)
def q_master_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.variants import master_variants
    from .sources.demo import build_schedule

    sched = build_schedule(spark)
    return master_variants(sched["trips"], sched["stop_times"]).orderBy(
        "route_id", "route_variant"
    )


@register(
    "scheduled_predictions",
    # differential oracle: single-node pandas T6 reimplementation
    f"""
    SELECT * FROM {_dt("expected_scheduled_predictions")}
    ORDER BY trip_id, trip_start_date, stop_sequence, event_type
    """,
    covers="T6 schedule-origin look-ahead predictions incl. previous-service-day "
    "rule (src/importer/scheduled_predictions_importer.rs:64-242)",
)
def q_scheduled_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from .operators.scheduled import generate_scheduled_predictions
    from .sources.demo import build_schedule

    sched = build_schedule(spark)
    preds = generate_scheduled_predictions(
        sched["trips"], sched["calendar"], sched["stop_times"], sched["routes"],
        demo_statistics(spark),
        window_begin=dt.datetime(2024, 1, 8, 6, 0, 0),
        window_end=dt.datetime(2024, 1, 9, 6, 0, 0),
        schedule_file_name="demo_sched",
    )
    return preds.select(
        "source",
        F.col("event_type").cast("int").alias("event_type"),
        "stop_id", "stop_sequence", "route_id", "trip_id",
        F.col("trip_start_date").cast("string").alias("trip_start_date"),
        "trip_start_time",
        F.unix_micros("prediction_min").alias("prediction_min_us"),
        F.unix_micros("prediction_max").alias("prediction_max_us"),
        F.col("precision_type").cast("int").alias("precision_type"),
        F.col("origin_type").cast("int").alias("origin_type"),
        "sample_size",
        F.size("prediction_curve").alias("n_curve_points"),
    ).orderBy("trip_id", "trip_start_date", "stop_sequence", "event_type")


@register(
    "display_formatting",
    f"""
    SELECT l_orderkey, l_linenumber,
           {Ft.format_delay_sql('CAST(floor(l_quantity) AS INT) * 12 - 300')} AS delay_label,
           {Ft.format_duration_sql('CAST(floor(l_extendedprice) AS INT) % 7200')} AS duration_label,
           {Ft.route_type_label_sql('CAST(l_suppkey % 9 AS INT)')} AS route_type_label
    FROM lineitem WHERE l_orderkey <= 500
    """,
    covers="C16 delay/duration formatting + C17 route-type labels "
    "(src/monitor/mod.rs:894-922, 1174-1190)",
)
def q_display_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        Ft.format_delay(F.floor("l_quantity").cast("int") * 12 - 300).alias("delay_label"),
        Ft.format_duration(F.floor("l_extendedprice").cast("int") % 7200).alias("duration_label"),
        Ft.route_type_label((F.col("l_suppkey") % 9).cast("int")).alias("route_type_label"),
    )


def _trip_descriptor_oracle() -> str:
    fmt = Ft.format_trip_descriptor_sql("rt", "rname", "hs", "dep")
    parsed = Ft.parse_trip_descriptor_sql("descriptor")
    parsed_cols = ",\n           ".join(
        f"{expr} AS {name}" for name, expr in parsed.items()
    )
    return f"""
    WITH base AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_suppkey % 9 AS INT) AS rt,
             'R' || CAST(l_partkey % 50 AS VARCHAR) AS rname,
             CASE CAST(l_orderkey % 4 AS INT)
               WHEN 0 THEN 'Downtown' WHEN 1 THEN 'Uptown Nord'
               WHEN 2 THEN 'Hauptbahnhof' ELSE 'Flughafen Terminal 1'
             END AS hs,
             CAST(floor(l_extendedprice) AS BIGINT) % 86400 AS dep
      FROM lineitem WHERE l_orderkey <= 300
    ),
    d AS (
      SELECT l_orderkey, l_linenumber, {fmt} AS descriptor FROM base
    )
    SELECT l_orderkey, l_linenumber, descriptor,
           {parsed_cols}
    FROM d
    ORDER BY l_orderkey, l_linenumber
    """


@register(
    "trip_descriptors",
    None,  # replaced below (format/parse twins from functions/text.py)
)
def q_trip_descriptors(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 300)
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_suppkey") % 9).cast("int").alias("rt"),
        F.concat(F.lit("R"), (F.col("l_partkey") % 50).cast("string")).alias(
            "rname"
        ),
        F.when(F.col("l_orderkey") % 4 == 0, "Downtown")
        .when(F.col("l_orderkey") % 4 == 1, "Uptown Nord")
        .when(F.col("l_orderkey") % 4 == 2, "Hauptbahnhof")
        .otherwise("Flughafen Terminal 1")
        .alias("hs"),
        (F.floor("l_extendedprice").cast("bigint") % 86400).alias("dep"),
    )
    d = base.withColumn(
        "descriptor",
        Ft.format_trip_descriptor(
            F.col("rt"), F.col("rname"), F.col("hs"), F.col("dep")
        ),
    )
    parsed = Ft.parse_trip_descriptor(F.col("descriptor"))
    return d.select(
        "l_orderkey", "l_linenumber", "descriptor", parsed.alias("_p")
    ).select(
        "l_orderkey",
        "l_linenumber",
        "descriptor",
        F.col("_p.route_type_label").alias("route_type_label"),
        F.col("_p.route_name").alias("route_name"),
        F.col("_p.trip_headsign").alias("trip_headsign"),
        F.col("_p.departure_hhmm").alias("departure_hhmm"),
    ).orderBy("l_orderkey", "l_linenumber")


def _finalize_trip_descriptor_oracle() -> None:
    spec = REGISTRY["trip_descriptors"]
    REGISTRY["trip_descriptors"] = QuerySpec(
        fn=spec.fn,
        oracle=_trip_descriptor_oracle(),
        covers="Monitor trip-URL grammar roundtrip "
        "(journey_data.rs:393-397): format '<label> <name> nach "
        "<headsign> um <HH:MM>' and parse it back with the reference's "
        "greedy TRIP_REGEX — both directions pure JVM expressions, "
        "hash-checked against format/parse SQL twins including the "
        "greedy-group semantics",
    )


_finalize_trip_descriptor_oracle()


@register(
    "visual_schedule",
    f"""
    WITH {_MASTERS_SQL},
    sti AS (
      SELECT trip_id, stop_sequence, arrival_time,
             CAST(row_number() OVER (PARTITION BY trip_id ORDER BY stop_sequence) - 1
                  AS INT) AS stop_index
      FROM {_dt('stop_times')}
    ),
    j AS (
      SELECT r.route_id, m.master_variant, r.route_variant, r.trip_id,
             r.trip_start_date, r.trip_start_time, sti.stop_index,
             (CAST(epoch(CAST(r.trip_start_date AS TIMESTAMP)) AS BIGINT)
               + sti.arrival_time) * 1000000 AS scheduled_arrival_us,
             CASE WHEN r.delay_arrival IS NOT NULL AND r.delay_arrival <> 0
                  THEN (CAST(epoch(CAST(r.trip_start_date AS TIMESTAMP)) AS BIGINT)
                         + sti.arrival_time + r.delay_arrival) * 1000000
             END AS realized_arrival_us
      FROM {_dt('records')} r
      JOIN sti ON sti.trip_id = r.trip_id AND sti.stop_sequence = r.stop_sequence
      JOIN masters m
        ON m.route_id = r.route_id AND m.route_variant = r.route_variant
    ),
    guarded AS (
      SELECT *, count(*) OVER (PARTITION BY route_id, master_variant) AS _n FROM j
    )
    SELECT route_id, master_variant, route_variant, trip_id,
           CAST(trip_start_date AS VARCHAR) AS trip_start_date,
           trip_start_time, stop_index, scheduled_arrival_us, realized_arrival_us
    FROM guarded WHERE _n >= 10
    ORDER BY trip_id, trip_start_date, trip_start_time, stop_index
    """,
    covers="S11 (data side) visual-schedule polylines + F8 zero-delay skip + "
    "E3 master grouping (src/analyser/visual_schedule.rs)",
)
def q_visual_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.visual_schedule import visual_schedule_data
    from .sources.demo import build_records as demo_records
    from .sources.demo import build_schedule

    sched = build_schedule(spark)
    out = visual_schedule_data(demo_records(spark), sched["trips"], sched["stop_times"])
    return out.select(
        "route_id", "master_variant", "route_variant", "trip_id",
        F.col("trip_start_date").cast("string").alias("trip_start_date"),
        "trip_start_time", "stop_index",
        F.unix_micros("scheduled_arrival").alias("scheduled_arrival_us"),
        F.unix_micros("realized_arrival").alias("realized_arrival_us"),
    ).orderBy("trip_id", "trip_start_date", "trip_start_time", "stop_index")


@register(
    "trip_resolution",
    f"""
    WITH cs AS (SELECT stop_id FROM {_dt('stops')} WHERE stop_name = 'Stop 3'),
    ext AS (
      SELECT DISTINCT b.stop_id
      FROM {_dt('stops')} a
      JOIN cs ON a.stop_id = cs.stop_id
      CROSS JOIN {_dt('stops')} b
      WHERE {Fg.haversine_m_sql('a.stop_lat', 'a.stop_lon', 'b.stop_lat', 'b.stop_lon')} <= 300.0
    ),
    r AS (SELECT route_id FROM {_dt('routes')}
          WHERE route_short_name = 'R1' AND route_type = 3),
    t AS (SELECT trip_id, route_id, route_variant FROM {_dt('trips')}
          WHERE trip_headsign = 'Downtown'
            AND route_id IN (SELECT route_id FROM r))
    SELECT st.trip_id, t.route_id, t.route_variant, st.stop_id, st.stop_sequence
    FROM {_dt('stop_times')} st
    JOIN t ON t.trip_id = st.trip_id
    JOIN ext ON ext.stop_id = st.stop_id
    WHERE st.departure_time = {8 * 3600 + 3 * 240}
    ORDER BY st.trip_id, st.stop_sequence
    """,
    covers="J9 trip resolution from journey components incl. extended-stop "
    "match (src/monitor/journey_data.rs:382-473)",
)
def q_trip_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.monitor import resolve_trip
    from .sources.demo import build_schedule

    sched = build_schedule(spark)
    return resolve_trip(
        sched["trips"], sched["routes"], sched["stop_times"], sched["stops"],
        headsign="Downtown", route_short_name="R1", route_type=3,
        stop_name="Stop 3", departure_seconds=8 * 3600 + 3 * 240,
    ).orderBy("trip_id", "stop_sequence")


@register(
    "departure_board",
    # differential oracle: single-node pandas board reimplementation
    f"""
    SELECT * FROM {_dt("expected_departure_board")}
    ORDER BY median_time_us, trip_id, stop_sequence, event_type, trip_start_date, trip_start_time, stop_id, origin_type, precision_type
    """,
    covers="F5 window overlap + W2 realtime-over-schedule dedup + F9 last-stop "
    "filter + F6 quantile band + W5 median sort (src/monitor/mod.rs:426-591)",
)
def q_departure_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from .operators.monitor import departure_board
    from .operators.predict import generate_realtime_predictions
    from .operators.specific_curves import stop_indexed
    from .sources.demo import build_records as demo_records
    from .sources.demo import build_schedule

    sched = build_schedule(spark)
    records = demo_records(spark)
    sti = stop_indexed(sched["stop_times"])
    preds = generate_realtime_predictions(
        records, sti, sched["routes"], sched["trips"], demo_statistics(spark)
    )
    max_seq = sched["stop_times"].groupBy("trip_id").agg(
        F.max("stop_sequence").alias("max_stop_sequence")
    )
    board = departure_board(
        preds,
        stop_ids=[f"s{i}" for i in range(16)],
        window_min=dt.datetime(2024, 1, 1, 8, 0),
        window_max=dt.datetime(2024, 1, 6, 10, 0),
        trip_max_sequences=max_seq,
    )
    return board.select(
        "stop_id",
        "stop_sequence",
        F.col("event_type").cast("int").alias("event_type"),
        "trip_id",
        F.col("trip_start_date").cast("string").alias("trip_start_date"),
        "trip_start_time",
        F.col("precision_type").cast("int").alias("precision_type"),
        F.col("origin_type").cast("int").alias("origin_type"),
        F.unix_micros("median_time").alias("median_time_us"),
    )


_MONITOR_HTTP_SCHEMA = (
    "stop_id string, stop_sequence int, event_type int, trip_id string, "
    "trip_start_date string, trip_start_time int, precision_type int, "
    "origin_type int, median_time_us long"
)


@register(
    "monitor_http",
    # same differential oracle as departure_board: the HTTP shell must
    # serve EXACTLY the engine's board rows, so a round-trip through the
    # live server is hash-checked against the pandas reimplementation
    f"""
    SELECT * FROM {_dt("expected_departure_board")}
    ORDER BY median_time_us, trip_id, stop_sequence, event_type, trip_start_date, trip_start_time, stop_id, origin_type, precision_type
    """,
    covers="Monitor HTTP shell (src/monitor/mod.rs:102-190): departure "
    "board served by a live stdlib http.server on an ephemeral port; the "
    "query GETs /departures and re-frames the JSON payload — identical "
    "rows to the direct operator path (monitor_http.py)",
)
def q_monitor_http(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import urllib.parse
    import urllib.request

    from .monitor_http import start_monitor_server
    from .operators.predict import generate_realtime_predictions
    from .operators.specific_curves import stop_indexed
    from .sources.demo import build_records as demo_records
    from .sources.demo import build_schedule

    sched = build_schedule(spark)
    sti = stop_indexed(sched["stop_times"])
    preds = generate_realtime_predictions(
        demo_records(spark), sti, sched["routes"], sched["trips"],
        demo_statistics(spark),
    )
    max_seq = sched["stop_times"].groupBy("trip_id").agg(
        F.max("stop_sequence").alias("max_stop_sequence")
    )
    server, port = start_monitor_server(
        spark, preds, stops=sched["stops"], trip_max_sequences=max_seq
    )
    try:
        qs = urllib.parse.urlencode(
            {
                "stop_ids": ",".join(f"s{i}" for i in range(16)),
                "start": "2024-01-01T08:00:00",
                "end": "2024-01-06T10:00:00",
            }
        )
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/departures?{qs}", timeout=600
        ) as resp:
            rows = json.load(resp)
    finally:
        server.shutdown()
    return (
        spark.createDataFrame(rows, schema=_MONITOR_HTTP_SCHEMA)
        .orderBy("median_time_us", "trip_id", "stop_sequence", "event_type",
                 "trip_start_date", "trip_start_time", "stop_id",
                 "origin_type", "precision_type")
    )


@register(
    "departure_board_cached",
    # same differential oracle as monitor_http/departure_board: a page
    # served FROM THE MATERIALIZED CACHE must hash-match the live rows
    f"""
    SELECT * FROM {_dt("expected_departure_board")}
    ORDER BY median_time_us, trip_id, stop_sequence, event_type, trip_start_date, trip_start_time, stop_id, origin_type, precision_type
    """,
    covers="Pre-materialized departure boards (SURVEY §3.3 serving "
    "shape): the monitor server computes a (stop-set, window) board "
    "once, repeats within the TTL are served from driver memory with "
    "zero Spark jobs (job-id-fence test) — this entry GETs the same "
    "page twice and hash-checks the CACHED response",
)
def q_departure_board_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import urllib.parse
    import urllib.request

    from .monitor_http import start_monitor_server
    from .operators.predict import generate_realtime_predictions
    from .operators.specific_curves import stop_indexed
    from .sources.demo import build_records as demo_records
    from .sources.demo import build_schedule

    sched = build_schedule(spark)
    sti = stop_indexed(sched["stop_times"])
    preds = generate_realtime_predictions(
        demo_records(spark), sti, sched["routes"], sched["trips"],
        demo_statistics(spark),
    )
    max_seq = sched["stop_times"].groupBy("trip_id").agg(
        F.max("stop_sequence").alias("max_stop_sequence")
    )
    server, port = start_monitor_server(
        spark, preds, stops=sched["stops"], trip_max_sequences=max_seq,
        materialize_ttl=3600.0,
    )
    try:
        qs = urllib.parse.urlencode(
            {
                "stop_ids": ",".join(f"s{i}" for i in range(16)),
                "start": "2024-01-01T08:00:00",
                "end": "2024-01-06T10:00:00",
            }
        )
        url = f"http://127.0.0.1:{port}/departures?{qs}"
        with urllib.request.urlopen(url, timeout=600) as resp:
            json.load(resp)  # warm the cache (live Spark query)
        with urllib.request.urlopen(url, timeout=600) as resp:
            rows = json.load(resp)  # served from the materialized cache
    finally:
        server.shutdown()
    return (
        spark.createDataFrame(rows, schema=_MONITOR_HTTP_SCHEMA)
        .orderBy("median_time_us", "trip_id", "stop_sequence", "event_type",
                 "trip_start_date", "trip_start_time", "stop_id",
                 "origin_type", "precision_type")
    )


# ---------------------------------------------------------------------------
# Training-data scrubbing / corpus analysis (round-3 additions)
# ---------------------------------------------------------------------------
#
# The PII corpus is synthesized deterministically from customer columns
# with IDENTICAL expressions on both engines (the percent_encoding /
# duration_parse convention), so the comparison isolates the regex
# detection + redaction semantics themselves.

# the testdata customer table carries no phone/comment columns, so the
# phone is synthesized from the key (each group strictly in-digit-range,
# no padding needed): NN-NNN-NNN-NNNN
_PII_PHONE_SQL = """
    concat(CAST(10 + c_custkey % 90 AS VARCHAR), '-',
           CAST(100 + c_custkey % 900 AS VARCHAR), '-',
           CAST(100 + (c_custkey * 7) % 900 AS VARCHAR), '-',
           CAST(1000 + (c_custkey * 13) % 9000 AS VARCHAR))
"""

_PII_RAW_SQL = f"""
    concat('Reach ', c_name,
           CASE WHEN c_custkey % 3 > 0
                THEN concat(' <', lower(replace(c_name, '#', '')),
                            '@example.com>')
                ELSE '' END,
           CASE WHEN c_custkey % 2 = 0 THEN concat(' or ', {_PII_PHONE_SQL})
                ELSE '' END,
           ' from 10.', CAST(c_custkey % 256 AS VARCHAR), '.0.',
           CAST(c_nationkey AS VARCHAR), ' re: ', c_mktsegment)
"""


@register(
    "pii_redaction",
    f"""
    SELECT c_custkey,
           {Ft.pii_counts_sql('raw')['email_count']} AS email_count,
           {Ft.pii_counts_sql('raw')['phone_count']} AS phone_count,
           {Ft.pii_counts_sql('raw')['ipv4_count']} AS ipv4_count,
           {Ft.redact_pii_sql('raw')} AS redacted
    FROM (SELECT c_custkey, {_PII_RAW_SQL} AS raw FROM customer)
    """,
    covers="PII detection + redaction (email/phone/IPv4 regex scrubbing) "
    "for training-data pipelines — JVM regexp only, patterns restricted to "
    "Java-regex/RE2-identical syntax",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _spread

    # six regex passes per row on a one-split table pins a core — round-
    # robin to cluster parallelism first (no-op on a real multi-split scan)
    c = _spread(load_table(spark, sf_dir, "customer"))
    k = F.col("c_custkey")
    email = F.concat(
        F.lit(" <"),
        F.lower(F.regexp_replace(F.col("c_name"), "#", "")),
        F.lit("@example.com>"),
    )
    phone = F.concat(
        (10 + k % 90).cast("string"),
        F.lit("-"),
        (100 + k % 900).cast("string"),
        F.lit("-"),
        (100 + (k * 7) % 900).cast("string"),
        F.lit("-"),
        (1000 + (k * 13) % 9000).cast("string"),
    )
    raw = F.concat(
        F.lit("Reach "),
        F.col("c_name"),
        F.when(k % 3 > 0, email).otherwise(F.lit("")),
        F.when(k % 2 == 0, F.concat(F.lit(" or "), phone)).otherwise(F.lit("")),
        F.lit(" from 10."),
        (k % 256).cast("string"),
        F.lit(".0."),
        F.col("c_nationkey").cast("string"),
        F.lit(" re: "),
        F.col("c_mktsegment"),
    )
    d = c.select("c_custkey", raw.alias("raw"))
    counts = Ft.pii_counts(F.col("raw"))
    return d.select(
        "c_custkey",
        counts["email_count"].alias("email_count"),
        counts["phone_count"].alias("phone_count"),
        counts["ipv4_count"].alias("ipv4_count"),
        Ft.redact_pii(F.col("raw")).alias("redacted"),
    )


@register(
    "repetition_signals",
    r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      FROM documents
    ),
    b0 AS (
      SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
      FROM w WHERE len(ws) >= 2
    ),
    b AS (
      SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] AS bg
      FROM b0
    ),
    c AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           count(*) AS distinct_bigrams,
           round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac,
           round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                 / sum(c), 6) AS dup_bigram_frac
    FROM c GROUP BY doc_id
    """,
    covers="Gopher-style repetition quality signals: most-common-bigram "
    "fraction and duplicated-bigram fraction per document (explode → "
    "two-level groupBy, map-side combinable — the distributed shape; no "
    "per-row vocabulary maps)",
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _spread

    d = load_table(spark, sf_dir, "documents")
    # materialize the token array in its OWN projection: referenced from
    # inside the transform lambda it would be re-split per element (no CSE
    # across HOF lambdas — the winnow_fingerprints lesson); and _spread the
    # one-split scan so the regex splitting parallelizes
    wdf = _spread(d).select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    )
    ws = F.col("ws")
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(ws, i), F.element_at(ws, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        wdf.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
    )
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.count("*").alias("distinct_bigrams"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac"),
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)) / F.sum("c"),
            6,
        ).alias("dup_bigram_frac"),
    )


@register(
    "url_domains",
    f"""
    WITH raw AS (
      SELECT doc_id,
             concat(text, ' see https://', source, '.example.org/docs/',
                    CAST(doc_id AS VARCHAR), ' and http://mirror-', lang,
                    '.example.net') AS r
      FROM documents
    ),
    u AS (
      SELECT doc_id, unnest({Ft.extract_urls_sql('r')}) AS url FROM raw
    )
    SELECT {Ft.url_domain_sql('url')} AS domain,
           count(*) AS n_urls,
           count(DISTINCT doc_id) AS n_docs
    FROM u GROUP BY 1
    """,
    covers="URL extraction + per-domain corpus stats (boilerplate/domain "
    "blocklist analysis) — regexp_extract_all + explode + groupBy",
)
def q_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" see https://"),
        F.col("source"),
        F.lit(".example.org/docs/"),
        F.col("doc_id").cast("string"),
        F.lit(" and http://mirror-"),
        F.col("lang"),
        F.lit(".example.net"),
    )
    urls = d.select(
        "doc_id", F.explode(Ft.extract_urls(raw)).alias("url")
    )
    return (
        urls.select("doc_id", Ft.url_domain(F.col("url")).alias("domain"))
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@register(
    "tfidf_terms",
    r"""
    WITH words AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
    dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT t.doc_id, t.term, t.tf, d.df,
             round(t.tf * ln(((SELECT count(*) FROM documents) + 1.0)
                             / (d.df + 1.0)), 6) AS score
      FROM tf t JOIN dfc d USING (term)
    )
    SELECT doc_id, term, tf, df, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    covers="TF-IDF keyword extraction: corpus document frequency (vocab "
    "agg, broadcast back — vocab ≪ corpus at any scale) + per-doc top-5 "
    "terms by score with deterministic tie-break",
)
def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    )
    from .sources.tables import maybe_broadcast

    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfc = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n_docs"))
    # size-guarded hint: the vocabulary is small relative to the corpus,
    # but a web-scale vocab (10^8 terms) is NOT broadcastable — unknown
    # or oversized estimates fall through to a shuffle join (the
    # stop_times lesson from round 2)
    scored = (
        tf.join(maybe_broadcast(dfc), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


@register(
    "gtfs_schedule_scan",
    # built lazily: gtfs_csv_sql embeds the cache path; ensure_demo_oracle_dir
    # (called by oracle_sql()) writes the CSVs before any oracle runs
    None,  # replaced right below — needs the import-time path helper
)
def q_gtfs_schedule_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.demo_oracle import GTFS_CSV_DIR, ensure_demo_oracle_dir
    from .sources.gtfs import read_gtfs

    ensure_demo_oracle_dir()
    tables = read_gtfs(spark, GTFS_CSV_DIR)
    return (
        tables["stop_times"]
        .join(tables["trips"], "trip_id")
        .groupBy("route_id")
        .agg(
            F.countDistinct("trip_id").alias("n_trips"),
            F.countDistinct("route_variant").alias("n_variants"),
            F.count("*").alias("n_stop_events"),
        )
    )


def _gtfs_scan_oracle() -> str:
    from .sources.demo_oracle import gtfs_csv_sql

    return f"""
    WITH st AS (SELECT * FROM {gtfs_csv_sql('stop_times')}),
    tr AS (SELECT * FROM {gtfs_csv_sql('trips')}),
    pat AS (
      SELECT trip_id, string_agg(stop_id, ';' ORDER BY stop_sequence) AS pattern
      FROM st GROUP BY trip_id
    )
    SELECT t.route_id,
           count(DISTINCT t.trip_id) AS n_trips,
           count(DISTINCT p.pattern) AS n_variants,
           count(*) AS n_stop_events
    FROM st s JOIN tr t ON s.trip_id = t.trip_id
              JOIN pat p ON p.trip_id = t.trip_id
    GROUP BY t.route_id
    """


REGISTRY["gtfs_schedule_scan"] = QuerySpec(
    fn=q_gtfs_schedule_scan,
    oracle=_gtfs_scan_oracle(),
    covers="S1 GTFS feed scan driver-gated: schema'd CSV member reads, "
    "missing-optional-member empty frames (calendar.txt absent), and "
    "route-variant derivation from stop patterns (the fork's semantic, "
    "src/main.rs:399-404) — variant HASHES are engine-private, so the "
    "compare is on variant COUNTS vs DuckDB's distinct stop-pattern "
    "strings over the same CSV bytes",
)


@register(
    "skew_salted_agg",
    """
    SELECT event_type, count(*) AS count
    FROM events GROUP BY event_type
    """,
    covers="Skew valve (explicit two-phase salted aggregation, "
    "operators/skew.py): a hot groupBy key is split across N salts and "
    "re-summed — identical result to the plain groupBy, which is the "
    "oracle; events.event_type has only 5 values, the archetypal hot-key "
    "shape",
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import salted_count

    ev = load_table(spark, sf_dir, "events")
    return salted_count(ev, "event_type", num_salts=16)


@register(
    "skew_salted_join",
    """
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    covers="Skew valve (salted replicated-dim join, operators/skew.py): "
    "facts salted by row hash, dims exploded across all salts, join on "
    "(key, salt) — result equals the plain join, which is the oracle",
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return (
        salted_join(li, orders, "l_orderkey", num_salts=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
        )
    )


@register(
    "statistics_tree_roundtrip",
    f"""
    SELECT scope, count(*) AS n_rows,
           count(DISTINCT route_id) AS n_routes,
           count(DISTINCT time_slot_id) AS n_slots
    FROM {_dt("expected_gtfs_statistics")}
    GROUP BY scope
    """,
    covers="S8/S9 statistics-tree persistence driver-gated: the demo "
    "statistics table goes through a REAL partitionBy(scope, route_id) "
    "parquet write (the reference's directory-per-level tree, "
    "src/types/types.md:13-27), a partition-pruned reload, and the "
    "filtered-union merge (src/main.rs:295-318) before the summary — "
    "so hive partition encoding (incl. null route_id) and the merge "
    "scope filters are all under the driver's value hash",
)
def q_statistics_tree_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil
    import tempfile as _tempfile

    from .sources.sinks import merge_statistics, save_statistics

    stats = demo_statistics(spark)
    base = _tempfile.mkdtemp(prefix="stats_tree_")
    path = f"{base}/tree"
    try:
        save_statistics(stats, path)
        merged = merge_statistics(path, path, spark)
        return (
            merged.groupBy("scope")
            .agg(
                F.count("*").alias("n_rows"),
                F.countDistinct("route_id").alias("n_routes"),
                F.countDistinct("time_slot_id").alias("n_slots"),
            )
            # materialize before the temp dir vanishes: the driver may
            # collect lazily after this function returns
            .localCheckpoint(eager=True)
        )
    finally:
        _shutil.rmtree(base, ignore_errors=True)


@register(
    "clean_corpus",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, text,
             {Ft.fingerprint_sql('text')} AS fp,
             round({Ft.quality_score_sql('text')}, 6) AS quality,
             {Ft.lang_id_sql('text')} AS detected_lang
      FROM documents
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT doc_id, lang, quality,
           {Ft.ws_token_count_sql('text')} AS n_tokens,
           {Ft.redact_pii_sql('text')} AS clean_text
    FROM deduped
    WHERE quality >= 0.5 AND detected_lang = 'en'
    """,
    covers="END-TO-END training-data cleaning pipeline: normalization "
    "fingerprint dedup (canonical = min doc_id) -> quality gate -> "
    "language gate -> PII scrub, composed from the individual operators "
    "in ONE plan — a single fingerprint shuffle, everything else "
    "JVM-side row expressions (the shape a 100 TB pre-training scrub "
    "job actually runs)",
)
def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _spread

    d = _spread(load_table(spark, sf_dir, "documents"))
    scored = d.select(
        "doc_id",
        "lang",
        "text",
        Ft.fingerprint(F.col("text")).alias("fp"),
        F.round(Ft.quality_score(F.col("text")), 6).alias("quality"),
        Ft.lang_id(F.col("text")).alias("detected_lang"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return deduped.filter(
        (F.col("quality") >= 0.5) & (F.col("detected_lang") == "en")
    ).select(
        "doc_id",
        "lang",
        "quality",
        Ft.ws_token_count(F.col("text")).alias("n_tokens"),
        Ft.redact_pii(F.col("text")).alias("clean_text"),
    )


_PASSAGE_MIN_SHARED, _PASSAGE_MAX_FP_DF = 2, 20


@register(
    "winnow_passage_overlap",
    _WINNOW_FPS_CTE
    + f""",
    capped AS (
      SELECT doc_id, fp FROM fps
      QUALIFY count(*) OVER (PARTITION BY fp) <= {_PASSAGE_MAX_FP_DF}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
      FROM capped a JOIN capped b
        ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b, i.ni AS shared_fps,
           round(CAST(i.ni AS DOUBLE) / (za.n + zb.n - i.ni), 6) AS resemblance
    FROM inter i
    JOIN sizes za ON za.doc_id = i.id_a
    JOIN sizes zb ON zb.doc_id = i.id_b
    WHERE i.ni >= {_PASSAGE_MIN_SHARED}
    """,
    covers="Passage-level duplicate detection (MOSS pair scoring): doc "
    "pairs sharing >= 2 winnowing fingerprints via fingerprint "
    "inverted-index equi-join with a document-frequency skew valve",
)
def q_winnow_passage_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import winnow_passage_overlap

    d = load_table(spark, sf_dir, "documents")
    return winnow_passage_overlap(
        d,
        kgram=_WINNOW_K,
        window=_WINNOW_W,
        min_shared=_PASSAGE_MIN_SHARED,
        max_fp_df=_PASSAGE_MAX_FP_DF,
    )


@register(
    "winnow_passage_overlap_xxhash",
    # differential oracle: single-node replica over the pure-Python
    # xxHash64 (functions/xxh.py), keyed by the documents fingerprint —
    # the same production-hash-family convention as minhash/simhash
    f"""
    SELECT id_a, id_b, shared_fps, resemblance
    FROM {_dt("expected_winnow_xxhash")}
    WHERE corpus_fp = {_DOCS_FP_SQL}
    ORDER BY id_a, id_b
    """,
    covers="Passage-level duplicate detection, production xxhash64 hash "
    "family (hash-policy consistency with minhash/simhash; measured "
    "~1.15× at sf10 — the k-gram substring machinery, not the digest, "
    "dominates this stage) — hash-checked against an independent "
    "pure-Python xxHash64 winnowing replica",
)
def q_winnow_passage_overlap_xxhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators.dedup import winnow_passage_overlap

    d = load_table(spark, sf_dir, "documents")
    return winnow_passage_overlap(
        d,
        kgram=_WINNOW_K,
        window=_WINNOW_W,
        min_shared=_PASSAGE_MIN_SHARED,
        max_fp_df=_PASSAGE_MAX_FP_DF,
        base_hash="xxhash64",
    ).orderBy("id_a", "id_b")


@register(
    "winnow_passage_overlap_rolling",
    # differential oracle: single-node Horner-loop replica of the
    # rolling Karp-Rabin family, keyed by the documents fingerprint —
    # deliberately a different algorithm shape than the engine's
    # inverse-power vectorization (algebra bugs break parity)
    f"""
    SELECT id_a, id_b, shared_fps, resemblance
    FROM {_dt("expected_winnow_rolling")}
    WHERE corpus_fp = {_DOCS_FP_SQL}
    ORDER BY id_a, id_b
    """,
    covers="Passage-level duplicate detection, THROUGHPUT hash family "
    "(round-11): rolling Karp-Rabin fingerprints from the Arrow-batched "
    "numpy kernel — no per-position substring materialization, the "
    "stage cost the digest swap could not touch — hash-checked against "
    "an independent pure-Python Horner-loop winnowing replica",
)
def q_winnow_passage_overlap_rolling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators.dedup import winnow_passage_overlap

    d = load_table(spark, sf_dir, "documents")
    return winnow_passage_overlap(
        d,
        kgram=_WINNOW_K,
        window=_WINNOW_W,
        min_shared=_PASSAGE_MIN_SHARED,
        max_fp_df=_PASSAGE_MAX_FP_DF,
        base_hash="rolling",
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Dataset-assembly family: decontamination, sampling, mixture, packing,
# count-based LM scoring (beyond-reference; training-set construction)
# ---------------------------------------------------------------------------

# shared DuckDB CTE: distinct 3-word shingles per document (identical
# token/shingle semantics to operators/dedup.shingles)
_DOC_SHINGLES_CTE = r"""
    tokd AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents
    ),
    pos AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks) - 2, 1))) AS i
      FROM tokd
    ),
    sh0 AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN array_to_string(toks, ' ')
                  ELSE array_to_string(toks[i + 1 : i + 3], ' ') END AS shingle
      FROM pos
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM sh0)
"""

_BENCH_MOD = 17  # doc_id % 17 == 0 plays the held-out benchmark set


@register(
    "decontaminate",
    f"""
    WITH {_DOC_SHINGLES_CTE},
    bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0
    )
    SELECT s.doc_id, count(*) AS n_shared
    FROM sh s JOIN bench USING (shingle)
    WHERE s.doc_id % {_BENCH_MOD} <> 0
    GROUP BY 1
    """,
    covers="Benchmark decontamination (GPT-3-style 13-gram analog at "
    "k=3): distinct benchmark shingles broadcast, training corpus "
    "streamed through one explode + broadcast join + per-doc count",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import decontaminate

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % _BENCH_MOD == 0)
    train = d.filter(F.col("doc_id") % _BENCH_MOD != 0)
    return decontaminate(train, bench)


_STRATA_RATES = {"en": 0.3, "zh": 0.6}  # cap the over-represented strata


@register(
    "stratified_sample",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             {{bucket}} AS bucket
      FROM documents
    )
    WHERE bucket < CASE lang WHEN 'en' THEN 3000 WHEN 'zh' THEN 6000
                             ELSE 10000 END
    """.format(bucket="__BUCKET_SQL__"),
    covers="Deterministic hash-stratified sampling: per-stratum keep "
    "rates as exact integer bucket thresholds (portable md5 fold; no "
    "rand(), so task retries and independent engines reproduce the "
    "sample bit-for-bit).  Pure map-side filter — zero shuffles.",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import hash_stratified_sample

    d = load_table(spark, sf_dir, "documents")
    return hash_stratified_sample(d, _STRATA_RATES).select("doc_id", "lang")


_MIXTURE_BUDGET = 800  # tokens per source (sf0.01 sources hold ~1.3k)


@register(
    "dataset_mixture",
    None,  # replaced below (needs the sampling helper's SQL builder)
)
def q_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import dataset_mixture

    d = load_table(spark, sf_dir, "documents")
    return dataset_mixture(d, _MIXTURE_BUDGET).select("doc_id", "source")


_PACK_CAPACITY = 256  # tokens per training bin


@register(
    "pack_sequences",
    f"""
    WITH counted AS (
      SELECT source, doc_id,
             {Ft.ws_token_count_sql('text')} AS n_tok
      FROM documents
    ),
    binned AS (
      SELECT source, n_tok,
             CAST(coalesce(CAST(sum(n_tok) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) // {_PACK_CAPACITY} AS BIGINT) AS bin_id
      FROM counted
    )
    SELECT source, bin_id, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS token_sum,
           round(CAST(sum(n_tok) AS BIGINT) * 1.0 / {_PACK_CAPACITY}, 6)
             AS fill_ratio
    FROM binned GROUP BY 1, 2
    """,
    covers="Sequence packing: docs stream into fixed-capacity training "
    "bins via a per-source cumulative token window (next-fit relaxation; "
    "never a global ordering, which would serialize the corpus through "
    "one task)",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    packed = pack_sequences(d, _PACK_CAPACITY)
    return packed.select(
        "source",
        "bin_id",
        "n_docs",
        "token_sum",
        F.round(F.col("token_sum") * 1.0 / _PACK_CAPACITY, 6).alias(
            "fill_ratio"
        ),
    )


# shared by bigram_lm_score and perplexity_buckets: per-bigram add-one
# log-probs (DECIMAL-exact terms), ending in the `scored` CTE
_BIGRAM_SCORED_CTE = r"""
    WITH tokd AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents
    ),
    inst AS (
      SELECT doc_id, toks[i + 1] AS w1, toks[i + 2] AS w2
      FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 1)) AS i
            FROM tokd WHERE len(toks) >= 2)
    ),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM inst GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
    vocab AS (SELECT count(DISTINCT w2) AS v FROM inst),
    scored AS (
      SELECT i.doc_id,
             CAST(round(ln((c2.c2 + 1.0) / (c1.c1 + vocab.v)), 6)
                  AS DECIMAL(18,6)) AS lp
      FROM inst i
      JOIN c2 ON c2.w1 = i.w1 AND c2.w2 = i.w2
      JOIN c1 ON c1.w1 = i.w1
      CROSS JOIN vocab
    )
"""


@register(
    "bigram_lm_score",
    _BIGRAM_SCORED_CTE
    + r"""
    SELECT doc_id, count(*) AS n_bigrams,
           CAST(sum(lp) AS DOUBLE) AS sum_logprob,
           round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob
    FROM scored GROUP BY 1
    """,
    covers="Count-based bigram LM scoring (CCNet-style perplexity "
    "filter): corpus-trained add-one conditional log-probs, per-doc "
    "mean.  Per-term DECIMAL cast makes the sum exact regardless of "
    "partitioning; counts-only training (no float model state).",
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _bigram_scored(spark, sf_dir)
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("lp").cast("double").alias("sum_logprob"),
        F.round(F.sum("lp").cast("double") / F.count("*"), 6).alias(
            "avg_logprob"
        ),
    )


def _bigram_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bigram add-one log-probs (`doc_id`, `lp` DECIMAL(18,6)) —
    the Spark twin of ``_BIGRAM_SCORED_CTE``."""
    from .cache import tracked_persist
    from .operators.dedup import _spread
    from .sources.tables import maybe_broadcast

    d = _spread(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    inst = (
        d.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 2),
                    lambda i: F.struct(
                        F.get(F.col("toks"), i).alias("w1"),
                        F.get(F.col("toks"), i + 1).alias("w2"),
                    ),
                )
            ).alias("bi"),
        )
        .select("doc_id", "bi.w1", "bi.w2")
    )
    # lazy persist of the AGGREGATED count table, the keep-one pattern
    # (round 12, guide §7.2): without a cache boundary the corpus-volume
    # explode chain above executed 4x per action (main inst stream + the
    # c2 join side + the c1 chain + the vocab distinct — the lambda-
    # bearing Generate never canonicalizes in Spark 4.1, so no Exchange
    # is ever reused).  Persisting c2 — vocabulary-sized (distinct
    # bigrams), sublinear in corpus — and deriving vocab from it (the
    # distinct-w2 set of c2 IS the distinct-w2 set of inst) cuts the
    # explode to 2 executions.  Persisting the corpus-sized exploded
    # inst instead measured NEGATIVE at sf1 (2.65 -> 3.0+ s): cheap
    # recompute beats materializing the wide explode, the same r11
    # ngram-shingle lesson.  A/B interleaved: sf0.1 1.57 -> 1.37 s
    # median, sf1 3.37 -> 2.81 s (reps 1+).
    c2 = tracked_persist(inst.groupBy("w1", "w2").agg(F.count("*").alias("c2")))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = c2.select(F.countDistinct("w2").alias("v"))
    # size-guarded hints: the bigram vocab is corpus-sublinear but a
    # web-scale vocab is not broadcastable; fall through to shuffle joins
    scored = (
        inst.join(maybe_broadcast(c2), ["w1", "w2"])
        .join(maybe_broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))), 6
            )
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    return scored


# recursive-CTE connected components over the minhash pair oracle,
# ending in cc(id, cluster) — shared by dedup_clusters / best_of_cluster
_CC_CTE_SQL = f"""WITH RECURSIVE pairs AS ({_MINHASH_ORACLE_SQL}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
    ),
    cc AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id)"""


@register(
    "dedup_clusters",
    f"""
    {_CC_CTE_SQL},
    sizes AS (SELECT cluster, count(*) AS cluster_size FROM cc GROUP BY cluster)
    SELECT cc.id AS doc_id, cc.cluster, s.cluster_size,
           cc.id = cc.cluster AS keep
    FROM cc JOIN sizes s USING (cluster)
    """,
    covers="Transitive dedup clustering: min-label-propagation connected "
    "components over MinHash near-dup pairs (A~B, B~C collapse even when "
    "A~C was never scored), one canonical survivor per component.  "
    "Iterative DataFrame joins with O(1)-deep lineage; the DuckDB twin "
    "is an independent recursive-CTE reachability query.",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import dedup_clusters

    d = load_table(spark, sf_dir, "documents")  # minhash spreads internally
    pairs = minhash_near_duplicates(d, threshold=0.5, base_hash="md5")
    return dedup_clusters(pairs)


@register(
    "best_of_cluster",
    # same transitive clusters, different survivor rule: the HIGHEST-
    # quality member wins (length proxy; ties -> min id) — a wrong keep
    # flips booleans and hash-mismatches
    f"""
    {_CC_CTE_SQL},
    scored AS (
      SELECT cc.id AS doc_id, cc.cluster,
             CAST(length(d.text) AS BIGINT) AS score
      FROM cc JOIN documents d ON d.doc_id = cc.id
    )
    SELECT doc_id, cluster, score,
           (row_number() OVER (PARTITION BY cluster
                               ORDER BY score DESC, doc_id) = 1) AS keep
    FROM scored
    ORDER BY doc_id
    """,
    covers="Quality-aware dedup survivor selection "
    "(operators/clustering.keep_best_per_cluster): RefinedWeb-style "
    "keep-the-best-variant per near-dup cluster (score = doc length, "
    "ties min-id) instead of the min-id canonical — equi-join + one "
    "cluster window, no pair space",
)
def q_best_of_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import dedup_clusters, keep_best_per_cluster

    d = load_table(spark, sf_dir, "documents")  # minhash spreads internally
    pairs = minhash_near_duplicates(d, threshold=0.5, base_hash="md5")
    members = dedup_clusters(pairs).select("doc_id", "cluster")
    quality = d.select("doc_id", F.length("text").cast("long").alias("score"))
    return keep_best_per_cluster(members, quality).orderBy("doc_id")


@register(
    "leakage_safe_splits",
    # same recursive-CTE components as dedup_clusters, then the split
    # fold — a wrong cluster label OR a wrong bucket flips split
    # strings and hash-mismatches
    f"""
    {_CC_CTE_SQL},
    labeled AS (
      SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS cluster
      FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
    ),
    bkt AS (
      SELECT doc_id, cluster,
             ({portable_base_hash_sql(
                 "substr(md5('split:0:' || CAST(cluster AS VARCHAR)), 1, 15)"
             )}) % 10 AS bucket
      FROM labeled
    )
    SELECT doc_id, cluster, bucket,
           CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket < 9 THEN 'val'
                ELSE 'test' END AS split
    FROM bkt ORDER BY doc_id
    """,
    covers="Leakage-safe train/val/test assignment: every document "
    "inherits the split of its transitive near-dup CLUSTER (singletons "
    "are their own cluster), so no near-duplicate pair — scored or "
    "transitively implied — can span train/test; the classic "
    "memorization-leak guard, assigned by the portable md5 fold of the "
    "cluster label (stable under corpus growth)",
)
def q_leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import cluster_safe_splits

    d = load_table(spark, sf_dir, "documents")  # minhash spreads internally
    pairs = minhash_near_duplicates(d, threshold=0.5, base_hash="md5")
    return cluster_safe_splits(d, pairs).orderBy("doc_id")


@register(
    "domain_caps",
    # deterministic per-source cap: rank best-first (longest doc, then
    # id) and keep the first 10 per source — rank and membership both
    # hash-checked
    """
    SELECT doc_id, source, key_rank
    FROM (
      SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY length(text) DESC, doc_id) AS INTEGER) AS key_rank
      FROM documents
    )
    WHERE key_rank <= 10
    ORDER BY source, key_rank
    """,
    covers="Per-domain document cap (operators/sampling.cap_per_key): "
    "the anti-domination pass crawl pipelines run per registered domain "
    "before mixing — quality-ranked keep-first-n with a total, "
    "engine-independent order; one keyed window, two-phase salted "
    "pre-prune documented for pathological hot keys",
)
def q_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import cap_per_key

    d = load_table(spark, sf_dir, "documents")
    capped = cap_per_key(
        d.select("doc_id", "source", "text"),
        ["source"],
        10,
        [F.length("text").desc(), F.col("doc_id")],
    )
    return capped.select("doc_id", "source", "key_rank").orderBy(
        "source", "key_rank"
    )


@register(
    "hll_distinct",
    None,  # replaced below (built from the sketch module's SQL twin)
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import hll_estimate

    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    est = hll_estimate(ev, "user_id", ["event_type"])
    return exact.join(est, "event_type")


@register(
    "hll_merge",
    None,  # replaced below (built from the sketch module's SQL twin)
)
def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import (
        hll_estimate,
        hll_estimate_from_registers,
        hll_merge_registers,
        hll_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    # shard the feed four ways (as if by ingest day), sketch each shard
    # independently, then union-merge the register sets — the merged
    # estimate must equal the direct whole-feed estimate EXACTLY
    # (register max is associative and the harmonic sum is exact int64),
    # which is the property that lets per-day sketches roll up to any
    # window without re-reading raw data
    sharded = ev.withColumn("shard", F.pmod(F.col("event_id"), F.lit(4)))
    shard_regs = hll_registers(sharded, "user_id", ["event_type", "shard"])
    merged = hll_estimate_from_registers(
        hll_merge_registers(shard_regs, ["event_type"]), ["event_type"]
    ).withColumnRenamed("hll_distinct", "hll_merged")
    direct = hll_estimate(ev, "user_id", ["event_type"])
    return (
        merged.join(direct, "event_type")
        .select("event_type", "hll_merged", "hll_distinct")
        .orderBy("event_type")
    )


def _finalize_sketch_oracles() -> None:
    from .operators.sketches import hll_estimate_sql

    inner = hll_estimate_sql("events", "user_id", ["event_type"])
    merge_spec = REGISTRY["hll_merge"]
    REGISTRY["hll_merge"] = QuerySpec(
        fn=merge_spec.fn,
        # merged == direct by construction (associative register max +
        # exact-int harmonic sum), so the twin computes the direct
        # estimate once and asserts the engine's merged path equals it
        oracle=f"""
        WITH est AS ({inner})
        SELECT event_type, hll_distinct AS hll_merged, hll_distinct
        FROM est ORDER BY event_type
        """,
        covers="HLL sketch MERGE: per-shard register sets union-merged "
        "by element-wise max, then estimated — merged result equals the "
        "whole-feed sketch bit-for-bit (exact-int arithmetic), proving "
        "the roll-up property that makes sketches the 100 TB answer to "
        "distinct counts over sliding scopes",
    )
    spec = REGISTRY["hll_distinct"]
    REGISTRY["hll_distinct"] = QuerySpec(
        fn=spec.fn,
        oracle=f"""
        WITH est AS ({inner}),
        exact AS (
          SELECT event_type, count(DISTINCT user_id) AS n_exact
          FROM events GROUP BY event_type
        )
        SELECT exact.event_type, exact.n_exact, est.hll_distinct
        FROM exact JOIN est USING (event_type)
        """,
        covers="Portable HyperLogLog distinct sketch: md5-fold registers, "
        "string-ops bitlength (no float log2), EXACT int64 harmonic sum "
        "(Z·2^53 fits 63 bits) — bit-reproducible across engines, vs the "
        "exact distinct count for error visibility.  The scale answer to "
        "count(distinct) at 100 TB: fixed 256-register summaries merge "
        "associatively with map-side combine.",
    )


_finalize_sketch_oracles()


def _finalize_sampling_oracles() -> None:
    from .operators.sampling import (
        SAMPLE_BUCKETS,
        mixture_oracle_sql,
        sample_bucket_sql,
    )

    bucket = sample_bucket_sql("doc_id", SAMPLE_BUCKETS)
    spec = REGISTRY["stratified_sample"]
    REGISTRY["stratified_sample"] = QuerySpec(
        fn=spec.fn,
        oracle=spec.oracle.replace("__BUCKET_SQL__", bucket),
        covers=spec.covers,
    )
    spec = REGISTRY["dataset_mixture"]
    REGISTRY["dataset_mixture"] = QuerySpec(
        fn=spec.fn,
        oracle=mixture_oracle_sql(_MIXTURE_BUDGET),
        covers="Dataset mixture to a per-source token budget: one tiny "
        "per-source aggregate broadcast back, then an exact-integer "
        "hash-rate filter (take-rate never materialized as a float; "
        "the corpus itself never shuffles)",
    )


_finalize_sampling_oracles()


@register(
    "quantile_sketch",
    None,  # replaced below (built from the sketch module's SQL twin)
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _spread
    from .operators.sketches import kmv_quantiles

    ev = _spread(load_table(spark, sf_dir, "events"))
    return kmv_quantiles(
        ev, "value", "event_id", ["event_type"], qs=(0.5, 0.9, 0.99)
    )


def _finalize_kmv_oracle() -> None:
    from .operators.sketches import kmv_quantiles_sql

    spec = REGISTRY["quantile_sketch"]
    REGISTRY["quantile_sketch"] = QuerySpec(
        fn=spec.fn,
        oracle=kmv_quantiles_sql(
            "events", "value", "event_id", ["event_type"], qs=(0.5, 0.9, 0.99)
        ),
        covers="KMV bottom-k quantile sketch: deterministic md5-fold "
        "bottom-k row sample per group via a count-derived hash cutoff "
        "(map-only filter over the fact table; the exact rank sort "
        "touches only ~8k survivors), percentile-disc estimates vs the "
        "exact full-group quantiles — the fixed-size-summary answer to "
        "per-group quantiles at 100 TB, hash-checked against an "
        "independent SQL twin sample-for-sample",
    )


_finalize_kmv_oracle()


@register(
    "sketch_overlap",
    None,  # replaced below (built from the sketch module's SQL twin)
)
def q_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import kmv_overlap

    docs = load_table(spark, sf_dir, "documents")
    # two overlapping snapshots of the corpus: the even-id half vs the
    # div-by-3 third (true overlap = ids divisible by 6, modulo planted
    # duplicate texts — the sketch sees distinct TEXTS, not ids)
    a = docs.filter(F.col("doc_id") % 2 == 0).select("text")
    b = docs.filter(F.col("doc_id") % 3 == 0).select("text")
    return kmv_overlap(a, b, "text", k=256)


@register(
    "jl_projection",
    None,  # replaced below (built from the pca module's SQL twin)
)
def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pca import jl_project

    emb = load_table(spark, sf_dir, "embeddings")
    try:
        return jl_project(emb, out_dim=16, seed=0).orderBy(
            "vec_id", "component"
        )
    except ValueError:  # empty corpus: no width to project from
        return spark.createDataFrame(
            [], "vec_id: long, component: int, proj: double"
        )


def _finalize_jl_projection_oracle() -> None:
    from .operators.pca import jl_project_sql

    spec = REGISTRY["jl_projection"]
    REGISTRY["jl_projection"] = QuerySpec(
        fn=spec.fn,
        oracle=jl_project_sql("embeddings", out_dim=16, seed=0)
        + "\n    ORDER BY vec_id, component",
        covers="Sparse Johnson-Lindenstrauss (Achlioptas) random "
        "projection: data-INDEPENDENT dimensionality reduction — zero "
        "fit passes (the sign matrix is a pure function of the seed "
        "via the portable md5 fold), exact int64 dot folds in codegen, "
        "no shuffle; the map-only preprocessing for clustering/ANN "
        "when even PCA's one moment pass is not worth scheduling.  "
        "Oracle is a fully self-contained SQL twin that REBUILDS the "
        "matrix from md5() — no expected tables, no literals",
    )


_finalize_jl_projection_oracle()


def _finalize_sketch_overlap_oracle() -> None:
    from .operators.sketches import kmv_overlap_sql

    spec = REGISTRY["sketch_overlap"]
    REGISTRY["sketch_overlap"] = QuerySpec(
        fn=spec.fn,
        oracle=kmv_overlap_sql(
            "SELECT text FROM documents WHERE doc_id % 2 = 0",
            "SELECT text FROM documents WHERE doc_id % 3 = 0",
            "text",
            k=256,
        ),
        covers="KMV/theta-sketch corpus overlap: union, intersection, "
        "Jaccard and containment estimates between two corpora from two "
        "bottom-k sketches — one map-combined hash-distinct scan per "
        "corpus, k-row arithmetic after (the corpus-vs-benchmark "
        "contamination dashboard at 100 TB, where an exact distinct "
        "join would shuffle both corpora); identical md5-fold hash and "
        "estimator expressions in the DuckDB twin",
    )


_finalize_sketch_overlap_oracle()


@register(
    "kmeans_clusters",
    None,  # replaced below (built from the clustering module's SQL twin)
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, "vec_id", "embedding", k=8, rounds=2)


def _finalize_kmeans_oracle() -> None:
    from .operators.clustering import kmeans_assign_sql

    spec = REGISTRY["kmeans_clusters"]
    REGISTRY["kmeans_clusters"] = QuerySpec(
        fn=spec.fn,
        oracle=kmeans_assign_sql("embeddings", "vec_id", "embedding", k=8, rounds=2),
        covers="Deterministic Lloyd k-means over array<float> embeddings "
        "(dataset-curation clustering): 2^20 fixed-point quantization "
        "makes every distance and centroid sum exact int64/exact-input "
        "double, so assignments are engine-independent; KMV-hash seed "
        "init, 2 unrolled rounds, long-form assignment join with "
        "map-side combine, broadcast k x dim centroids — hash-checked "
        "against an independent SQL twin assignment-for-assignment",
    )


_finalize_kmeans_oracle()


@register(
    "semantic_dedup",
    None,  # replaced below (built from the similarity module's SQL twin)
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, k=8, rounds=2, threshold=0.4)


def _finalize_semantic_dedup_oracle() -> None:
    from .operators.similarity import semantic_dedup_sql

    spec = REGISTRY["semantic_dedup"]
    REGISTRY["semantic_dedup"] = QuerySpec(
        fn=spec.fn,
        oracle=semantic_dedup_sql("embeddings", k=8, rounds=2, threshold=0.4),
        covers="SemDeDup (arXiv:2303.09540) semantic near-dup removal: "
        "deterministic fixed-point k-means bounds the pair space "
        "(intra-cluster equi-join, Σ m_c² candidates, never corpus²), "
        "keep-min-id survivorship over the JVM cosine fold — the "
        "paraphrase/template dedup layer exact+minhash cannot see, "
        "hash-checked against a nested-CTE SQL twin reusing the k-means "
        "twin's engine-pinned assignments",
    )


_finalize_semantic_dedup_oracle()


# ---- production-valve twin: collapse_identical=True -----------------------
# Same explicit-duplicate construction as the other valved entries (the sf
# embeddings are all-distinct): the first 20 vectors re-enter under
# vec_id+100000, forming 20 two-member identical-vector groups.  The k-means
# assignment still runs on the FULL duplicated corpus (collapse only bounds
# the quadratic pair join), and the valve is OUTPUT-EXACT, so the oracle is
# the UNMODIFIED base SemDeDup twin instantiated over the same duplicated
# corpus as a subquery table.
_SEMDEDUP_DUP_TABLE = (
    "(SELECT vec_id, embedding FROM embeddings "
    "UNION ALL "
    "SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings "
    "WHERE vec_id < 20)"
)


@register(
    "semantic_dedup_collapsed",
    None,  # replaced below (built from the similarity module's SQL twin)
)
def q_semantic_dedup_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.unionByName(
        emb.filter(F.col("vec_id") < 20).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
    )
    return semantic_dedup(
        corpus, k=8, rounds=2, threshold=0.4, collapse_identical=True
    )


def _finalize_semantic_dedup_collapsed_oracle() -> None:
    from .operators.similarity import semantic_dedup_sql

    spec = REGISTRY["semantic_dedup_collapsed"]
    REGISTRY["semantic_dedup_collapsed"] = QuerySpec(
        fn=spec.fn,
        oracle=semantic_dedup_sql(
            _SEMDEDUP_DUP_TABLE, k=8, rounds=2, threshold=0.4
        ),
        covers="PRODUCTION 100 TB setting of SemDeDup "
        "(collapse_identical=True, the OUTPUT-EXACT mass-duplication "
        "valve): the quadratic intra-cluster pair join runs on one min-id "
        "representative per byte-identical vector group while the k-means "
        "assignment covers the full corpus; certified by hashing the "
        "valved plan against the base-semantics SQL twin on a corpus with "
        "real duplicate groups",
    )


_finalize_semantic_dedup_collapsed_oracle()


@register(
    "semantic_dedup_hier",
    None,  # replaced below (built from the similarity module's SQL twin)
)
def q_semantic_dedup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    # pinned (k=16, coarse=4) so the static SQL twin replays the exact
    # two-level assignment; production uses k=None (k=√N, coarse=√k
    # auto), same code path with scale-derived constants
    return semantic_dedup(
        emb, k=16, rounds=2, threshold=0.4, coarse=4
    )


def _finalize_semantic_dedup_hier_oracle() -> None:
    from .operators.similarity import semantic_dedup_sql

    spec = REGISTRY["semantic_dedup_hier"]
    REGISTRY["semantic_dedup_hier"] = QuerySpec(
        fn=spec.fn,
        oracle=semantic_dedup_sql(
            "embeddings", k=16, rounds=2, threshold=0.4, coarse=4
        ),
        covers="PRODUCTION scale setting of SemDeDup's ASSIGNMENT stage "
        "(round-10): the IVF-style two-level quantizer — coarse cell by "
        "lowest (d2, gid), then fine centroids of that cell only — that "
        "replaces the flat N·k (N^1.5 at k=√N) assignment with N·2√k "
        "folds; deterministic fixed-point int64 math at both levels, "
        "hash-checked against the extended nested-CTE k-means twin",
    )


_finalize_semantic_dedup_hier_oracle()


@register(
    "semantic_dedup_windowed",
    None,  # replaced below (built from the similarity module's SQL twin)
)
def q_semantic_dedup_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import semantic_dedup_windowed

    emb = load_table(spark, sf_dir, "embeddings")
    # pinned (k=8, window=16) so the static SQL twin replays the exact
    # rank window; production uses k=None (√N valve) with the same
    # window — candidates are then N·window, linear in the corpus
    return semantic_dedup_windowed(
        emb, k=8, rounds=2, threshold=0.4, window=16
    )


def _finalize_semantic_dedup_windowed_oracle() -> None:
    from .operators.similarity import semantic_dedup_windowed_sql

    spec = REGISTRY["semantic_dedup_windowed"]
    REGISTRY["semantic_dedup_windowed"] = QuerySpec(
        fn=spec.fn,
        oracle=semantic_dedup_windowed_sql(
            "embeddings", k=8, rounds=2, threshold=0.4, window=16
        ),
        covers="PRODUCTION scale setting of SemDeDup's PAIR stage "
        "(round-11): the centroid-distance neighbor window that replaces "
        "the intra-cluster all-pairs join (Σ m_c² ≈ N^1.5 at k=√N) with "
        "Σ m_c·window ≈ N·window candidates via an exact-int64 rank and "
        "a block equi-join; approximation with a measured recall story "
        "(window ≥ max cluster size is provably exact — parity-pinned), "
        "hash-checked against a rank-range nested-CTE twin",
    )


_finalize_semantic_dedup_windowed_oracle()


@register(
    "semantic_windowed_recall",
    None,  # replaced below (composes the two semantic-dedup SQL twins)
)
def q_semantic_windowed_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import semantic_dedup, semantic_dedup_windowed

    emb = load_table(spark, sf_dir, "embeddings")
    exact = (
        semantic_dedup(emb, k=8, rounds=2, threshold=0.4)
        .filter(~F.col("keep"))
        .select(F.col("vec_id").alias("e_vid"))
    )
    win = (
        semantic_dedup_windowed(emb, k=8, rounds=2, threshold=0.4, window=16)
        .filter(~F.col("keep"))
        .select(F.col("vec_id").alias("w_vid"))
    )
    j = exact.join(win, exact["e_vid"] == win["w_vid"], "full_outer")
    # groupBy a literal (not a global agg): zero input rows must yield
    # ZERO output rows, matching the twin and the empty-input sweep
    return (
        j.groupBy(F.lit(1).alias("_one"))
        .agg(
            F.count("e_vid").alias("n_exact"),
            F.count("w_vid").alias("n_windowed"),
            F.count(
                F.when(F.col("e_vid").isNotNull() & F.col("w_vid").isNotNull(), 1)
            ).alias("n_hit"),
        )
        .select(
            "n_exact",
            "n_windowed",
            "n_hit",
            F.when(
                F.col("n_exact") > 0,
                F.round(F.col("n_hit") / F.col("n_exact"), 6),
            ).alias("recall"),
            (F.col("n_windowed") - F.col("n_hit")).alias("false_dups"),
        )
    )


def _finalize_semantic_windowed_recall_oracle() -> None:
    from .operators.similarity import (
        semantic_dedup_sql,
        semantic_dedup_windowed_sql,
    )

    ex = semantic_dedup_sql("embeddings", k=8, rounds=2, threshold=0.4)
    wn = semantic_dedup_windowed_sql(
        "embeddings", k=8, rounds=2, threshold=0.4, window=16
    )
    spec = REGISTRY["semantic_windowed_recall"]
    REGISTRY["semantic_windowed_recall"] = QuerySpec(
        fn=spec.fn,
        oracle=f"""
    WITH exact_out AS ({ex}),
    win_out AS ({wn}),
    e AS (SELECT vec_id FROM exact_out WHERE NOT keep),
    w AS (SELECT vec_id FROM win_out WHERE NOT keep),
    j AS (
      SELECT e.vec_id AS e_vid, w.vec_id AS w_vid
      FROM e FULL OUTER JOIN w ON w.vec_id = e.vec_id
    )
    SELECT count(e_vid) AS n_exact,
           count(w_vid) AS n_windowed,
           count(CASE WHEN e_vid IS NOT NULL AND w_vid IS NOT NULL
                 THEN 1 END) AS n_hit,
           CASE WHEN count(e_vid) > 0 THEN
             round(CAST(count(CASE WHEN e_vid IS NOT NULL AND w_vid IS
                   NOT NULL THEN 1 END) AS DOUBLE) / count(e_vid), 6)
           END AS recall,
           count(w_vid) - count(CASE WHEN e_vid IS NOT NULL AND w_vid
                 IS NOT NULL THEN 1 END) AS false_dups
    FROM j GROUP BY (1 = 1)
    """,
        covers="Recall measurement for the windowed SemDeDup valve "
        "hard-wired into the gate ('measure, don't guess'): exact vs "
        "windowed dup sets full-outer joined; false_dups pins the "
        "subset theorem (must be 0) every round, recall documents the "
        "approximation at the pinned window on this corpus",
    )


_finalize_semantic_windowed_recall_oracle()


@register(
    "heavy_hitters",
    None,  # replaced below (built from the sketch module's SQL twin)
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _spread
    from .operators.sketches import countmin_topk

    # sketch update is per-term CPU; spread the one-split scan first
    d = _spread(load_table(spark, sf_dir, "documents"))
    words = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term")
    )
    return countmin_topk(words, "term", k=20)


def _finalize_countmin_oracle() -> None:
    from .operators.sketches import countmin_topk_sql

    words = (
        r"SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term "
        "FROM documents"
    )
    spec = REGISTRY["heavy_hitters"]
    REGISTRY["heavy_hitters"] = QuerySpec(
        fn=spec.fn,
        oracle=countmin_topk_sql(words, "term", k=20),
        covers="Count-Min heavy hitters: d=4 portable md5-fold hash rows x "
        "w=512 cells, map-side-combined — the shuffle carries at most d*w "
        "rows regardless of stream size, the fixed-summary answer to term "
        "frequencies over a 100 TB token stream; top-20 exact terms probed "
        "against the sketch (cm_est >= n_exact by construction), "
        "hash-checked against an independent SQL twin",
    )


_finalize_countmin_oracle()


@register(
    "zorder_layout",
    None,  # replaced below (built from the layout module's SQL twin)
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.layout import interleave_bits, scale_to_bits

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("user_id").alias("u_min"), F.max("user_id").alias("u_max"),
        F.min("value").alias("v_min"), F.max("value").alias("v_max"),
    )
    joined = ev.join(F.broadcast(bounds))
    zx = scale_to_bits(F.col("user_id"), F.col("u_min"), F.col("u_max"))
    zy = scale_to_bits(F.col("value"), F.col("v_min"), F.col("v_max"))
    return joined.select(
        "event_id",
        zx.alias("zx"),
        zy.alias("zy"),
    ).withColumn("zkey", interleave_bits([F.col("zx"), F.col("zy")]))


def _finalize_zorder_oracle() -> None:
    from .sources.layout import ZORDER_BITS, interleave_bits_sql

    cells = 1 << ZORDER_BITS
    scale = (
        "CASE WHEN {mx} - {mn} > 0 THEN least(CAST(floor(({c} - {mn}) / "
        "({mx} - {mn}) * " + str(cells) + ") AS BIGINT), " + str(cells - 1) + ") "
        "ELSE 0 END"
    )
    zx = scale.format(c="e.user_id", mn="b.u_min", mx="b.u_max")
    zy = scale.format(c="e.value", mn="b.v_min", mx="b.v_max")
    spec = REGISTRY["zorder_layout"]
    REGISTRY["zorder_layout"] = QuerySpec(
        fn=spec.fn,
        oracle=f"""
        WITH b AS (
          SELECT min(user_id) AS u_min, max(user_id) AS u_max,
                 min(value) AS v_min, max(value) AS v_max
          FROM events
        ),
        scaled AS (
          SELECT e.event_id, {zx} AS zx, {zy} AS zy
          FROM events e CROSS JOIN b
        )
        SELECT event_id, zx, zy, {interleave_bits_sql(['zx', 'zy'])} AS zkey
        FROM scaled
        """,
        covers="Z-order clustering key (sources/layout.py; the lakehouse "
        "OPTIMIZE ZORDER write path the 100 TB deployment needs for "
        "multi-column data skipping): global min-max bounds broadcast "
        "onto the scan, per-dimension 8-bit scaling, bit interleave — "
        "all integer codegen expressions, hash-checked against an "
        "independent SQL twin",
    )


_finalize_zorder_oracle()


_DIFF_OLD_SQL = "SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0"
_DIFF_NEW_SQL = (
    "SELECT doc_id, CASE WHEN doc_id % 10 = 1 THEN text || ' [rev2]' "
    "ELSE text END AS text FROM documents WHERE doc_id % 10 <> 5"
)


@register(
    "corpus_diff",
    None,  # replaced below (built from the snapshot module's SQL twin)
)
def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.snapshot import corpus_diff

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 != 5).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 1, F.concat(F.col("text"), F.lit(" [rev2]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return corpus_diff(old, new).orderBy("doc_id")


def _finalize_corpus_diff_oracle() -> None:
    from .operators.snapshot import corpus_diff_sql

    spec = REGISTRY["corpus_diff"]
    REGISTRY["corpus_diff"] = QuerySpec(
        fn=spec.fn,
        oracle=corpus_diff_sql(_DIFF_OLD_SQL, _DIFF_NEW_SQL)
        + "\n    ORDER BY doc_id",
        covers="Corpus snapshot diff (crawl-over-crawl delta): one "
        "co-partitioned full-outer join on the id with portable md5-fold "
        "content fingerprints — 16-byte hashes through the shuffle, never "
        "documents; bucketed snapshots run it exchange-free.  Snapshots "
        "derived deterministically from the documents table (A drops "
        "id%10=0 → added, B drops id%10=5 → removed, B rewrites id%10=1 "
        "→ changed)",
    )


_finalize_corpus_diff_oracle()


@register(
    "zorder_skipping",
    None,  # replaced below (mirrors the zorder twin + bucket arithmetic)
)
def q_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.layout import skipping_stats, with_zorder_key

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ub = ev.agg(
        F.min("user_id").alias("u_min"), F.max("user_id").alias("u_max")
    )
    evb = ev.join(F.broadcast(ub))
    lo = F.col("u_min")
    hi = F.col("u_min") + F.floor((F.col("u_max") - F.col("u_min")) / 16)
    z = with_zorder_key(evb, ["user_id", "value"])
    a = skipping_stats(z, F.col("zkey"), "user_id", lo, hi, layout_name="zorder")
    b = skipping_stats(
        evb, F.col("event_id"), "user_id", lo, hi, layout_name="natural"
    )
    return a.unionByName(b).orderBy("layout")


def _finalize_zorder_skipping_oracle() -> None:
    from .sources.layout import ZORDER_BITS, interleave_bits_sql

    cells = 1 << ZORDER_BITS
    scale = (
        "CASE WHEN {mx} - {mn} > 0 THEN least(CAST(floor(({c} - {mn}) / "
        "({mx} - {mn}) * " + str(cells) + ") AS BIGINT), " + str(cells - 1) + ") "
        "ELSE 0 END"
    )
    zx = scale.format(c="e.user_id", mn="b.zu_min", mx="b.zu_max")
    zy = scale.format(c="e.value", mn="b.zv_min", mx="b.zv_max")

    def files(src: str, key: str) -> str:
        # equal-width synthetic files over the key; exact integer widths
        return f"""
      SELECT floor((t.{key} - kb.kmin) / (floor((kb.kmax - kb.kmin) / 64) + 1))
               AS f,
             min(t.user_id) AS smin, max(t.user_id) AS smax,
             count(*) AS nrows
      FROM {src} t CROSS JOIN (
        SELECT min({key}) AS kmin, max({key}) AS kmax FROM {src}
      ) kb
      GROUP BY 1"""

    oracle = f"""
    WITH b AS (
      SELECT min(user_id) AS zu_min, max(user_id) AS zu_max,
             min(value) AS zv_min, max(value) AS zv_max
      FROM events
    ),
    z AS (
      SELECT e.event_id, e.user_id,
             {interleave_bits_sql(["(" + zx + ")", "(" + zy + ")"])} AS zkey
      FROM events e CROSS JOIN b
    ),
    pred AS (
      SELECT min(user_id) AS lo,
             min(user_id) + floor((max(user_id) - min(user_id)) / 16) AS hi
      FROM events
    ),
    zf AS ({files("z", "zkey")}),
    nf AS ({files("events", "event_id")})
    SELECT 'zorder' AS layout, count(*) AS n_files,
           CAST(sum(CASE WHEN smin <= p.hi AND smax >= p.lo THEN 1 ELSE 0 END)
                AS BIGINT) AS files_hit,
           CAST(sum(CASE WHEN smin <= p.hi AND smax >= p.lo THEN nrows ELSE 0 END)
                AS BIGINT) AS rows_in_hit_files
    FROM zf CROSS JOIN pred p
    UNION ALL
    SELECT 'natural' AS layout, count(*) AS n_files,
           CAST(sum(CASE WHEN smin <= p.hi AND smax >= p.lo THEN 1 ELSE 0 END)
                AS BIGINT) AS files_hit,
           CAST(sum(CASE WHEN smin <= p.hi AND smax >= p.lo THEN nrows ELSE 0 END)
                AS BIGINT) AS rows_in_hit_files
    FROM nf CROSS JOIN pred p
    ORDER BY layout
    """
    spec = REGISTRY["zorder_skipping"]
    REGISTRY["zorder_skipping"] = QuerySpec(
        fn=spec.fn,
        oracle=oracle,
        covers="Data-skipping effectiveness, measured: bucket rows into 64 "
        "equal-width synthetic files by write order (Z-order key vs "
        "natural key), compute per-file min/max footer stats, count files "
        "a range scan must open — the OPTIMIZE ZORDER go/no-go number, "
        "exact-integer bucketing hash-checked against an independent SQL "
        "twin",
    )


_finalize_zorder_skipping_oracle()


# ---------------------------------------------------------------------------
# Presentational sinks as data operators (S11 / C18) — the pixel and
# coordinate math is relational and hash-checked; only the byte
# packaging (PNG zlib container, operators/render.py) stays in a
# pandas-UDF tail covered by pytest goldens.
# ---------------------------------------------------------------------------

_STRIP_W = 64


def _palette_channel_sql(palette, ch: int) -> str:
    """DuckDB twin of render._grad_channel: 1-based list literal indexing,
    floor(x + 0.5) rounding — the identical piecewise-linear rule."""
    lst = "[" + ", ".join(f"{float(c[ch]):.1f}" for c in palette) + "]"
    return (
        f"floor({lst}[gk + 1] + ({lst}[gk + 2] - {lst}[gk + 1]) * gfrac + 0.5)"
    )


def _heat_strip_oracle() -> str:
    from .operators.render import YLGNBU, YLORBR

    chans = ", ".join(
        f"""CAST(CASE WHEN tg IS NULL THEN 255
             WHEN length(event_type) % 2 = 0 THEN {_palette_channel_sql(YLORBR, ch)}
             ELSE {_palette_channel_sql(YLGNBU, ch)} END AS BIGINT) AS {name}"""
        for ch, name in enumerate(("r", "g", "b"))
    )
    return f"""
    WITH k AS ({_CAPPED_KNOTS_SQL.format(knots=_ECDF_KNOTS_SQL.format(events='events'))}),
    b AS (SELECT event_type, min(x) AS min_x, max(x) AS max_x FROM k GROUP BY 1),
    grid AS (
      SELECT b.event_type, b.min_x, b.max_x, t.i,
             b.min_x + (b.max_x - b.min_x) * t.i / {_STRIP_W} AS t
      FROM b CROSS JOIN range(0, {_STRIP_W + 1}) t(i)
    ),
    segs AS (
      SELECT event_type, x AS x0, y AS y0,
             lead(x) OVER w AS x1, lead(y) OVER w AS y1
      FROM k WINDOW w AS (PARTITION BY event_type ORDER BY x)
    ),
    cum AS (
      SELECT g.event_type, g.i,
             ((s.y1 - s.y0) / (s.x1 - s.x0)) * (g.t - s.x0) + s.y0 AS cum
      FROM grid g JOIN segs s ON g.event_type = s.event_type
        AND s.x1 IS NOT NULL AND s.x0 <= g.t AND g.t < s.x1
      UNION ALL
      SELECT event_type, i, 1.0 AS cum FROM grid WHERE t >= max_x
    ),
    diff AS (
      SELECT event_type, i, cum,
             lead(cum) OVER (PARTITION BY event_type ORDER BY i) - cum AS uncum
      FROM cum
    ),
    normed AS (
      SELECT event_type, i, cum,
             uncum / greatest(max(uncum) OVER (PARTITION BY event_type), 0.05)
               AS norm
      FROM diff WHERE uncum IS NOT NULL
    ),
    graded AS (
      SELECT event_type, i, cum,
             CASE WHEN cum > 0.01 AND cum < 0.99 THEN 0.2 + norm * 0.6
                  WHEN cum > 0.0 AND cum < 1.0 THEN 0.0
                  ELSE NULL END AS tg
      FROM normed
    ),
    seg8 AS (
      SELECT event_type, i, cum, tg,
             least(greatest(coalesce(tg, 0.0), 0.0), 1.0) * 8.0 AS t8
      FROM graded
    ),
    idx AS (
      SELECT event_type, i, cum, tg,
             least(CAST(floor(t8) AS INT), 7) AS gk,
             t8 - least(CAST(floor(t8) AS INT), 7) AS gfrac
      FROM seg8
    )
    SELECT event_type, CAST(i AS BIGINT) AS px, round(cum, 9) AS cum, {chans}
    FROM idx
    """


@register(
    "heat_strip_pixels",
    None,  # oracle installed below (needs the palette constants)
)
def q_heat_strip_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.render import heat_strip_pixels

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__strip_events")
    knots = spark.sql(
        _CAPPED_KNOTS_SQL.format(
            knots=_ECDF_KNOTS_SQL.format(events="__strip_events")
        )
    )
    return heat_strip_pixels(knots, width=_STRIP_W)


REGISTRY["heat_strip_pixels"] = QuerySpec(
    fn=q_heat_strip_pixels,
    oracle=_heat_strip_oracle(),
    covers="C18 PNG heat strip (src/monitor/mod.rs:1214-1262): CDF sampled "
    "at width+1 points, per-pixel probability mass normalized against "
    "max(mass, 0.05), ColorBrewer YlOrBr/YlGnBu gradient with 0.2/0.2 "
    "crop, white outside (0,1) — the full per-pixel color math as JVM "
    "expressions, hash-checked against an independent relational twin; "
    "only the PNG byte container stays in a pytest-covered pandas tail",
)


@register(
    "heat_strip_render",
    # differential oracle: the INDEPENDENT DuckDB pixel twin's rows
    # packed by a separate spec-based PNG writer at oracle-build time
    # (demo_oracle_pipeline.expected_heat_strip_render), keyed by the
    # events fingerprint
    f"""
    SELECT event_type, url_len, url_prefix
    FROM {_dt("expected_heat_strip_render")}
    WHERE corpus_fp = (
      SELECT CAST(sum(event_id) + count(*) AS BIGINT) FROM events
    )
    ORDER BY event_type
    """,
    covers="C18 byte packaging: pixel rows → 1×W RGBA PNG data-URL via a "
    "dependency-free stdlib-zlib encoder in an Arrow-batched pandas UDF "
    "(operators/render.py:encode_png_rgba) — hash-checked against an "
    "independent spec-based PNG writer over the pixel twin's rows",
)
def q_heat_strip_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.render import heat_strip_data_urls

    px = q_heat_strip_pixels(spark, sf_dir)
    out = heat_strip_data_urls(px)
    return out.select(
        "event_type",
        F.length("data_url").cast("bigint").alias("url_len"),
        F.substring("data_url", 1, 22).alias("url_prefix"),
    ).orderBy("event_type")


@register(
    "curve_svg_render",
    f"""
    WITH k AS ({_CAPPED_KNOTS_SQL.format(knots=_ECDF_KNOTS_SQL.format(events='events'))}),
    b AS (SELECT event_type, min(x) AS min_x, max(x) AS max_x FROM k GROUP BY 1),
    scaled AS (
      SELECT k.event_type, k.x,
             CAST(floor(CASE WHEN b.max_x > b.min_x
                             THEN (k.x - b.min_x) / (b.max_x - b.min_x) * 400
                             ELSE 0.0 END + 0.5) AS BIGINT) AS px,
             CAST(floor((1.0 - k.y) * 100 + 0.5) AS BIGINT) AS py
      FROM k JOIN b USING (event_type)
    ),
    pts AS (
      SELECT event_type, count(*) AS n_points,
             string_agg(CAST(px AS VARCHAR) || ',' || CAST(py AS VARCHAR),
                        ' L ' ORDER BY x) AS d_tail
      FROM scaled GROUP BY 1
    )
    SELECT event_type, n_points,
           '<svg xmlns="http://www.w3.org/2000/svg" width="400" height="100" '
           || 'viewBox="0 0 400 100"><path fill="none" stroke="black" d="M '
           || d_tail || '"/></svg>' AS svg
    FROM pts
    """,
    covers="S11 curve plot (src/analyser/curve_visualisation.rs:381-463, "
    "gnuplot there): ECDF knots scaled to a 400x100 viewport with "
    "floor(v+0.5) integer coords, assembled into a complete SVG path "
    "string entirely JVM-side (concat/array_join) — the whole document "
    "is hash-checked against the DuckDB string twin",
)
def q_curve_svg_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.render import curve_svg_paths

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__svg_events")
    knots = spark.sql(
        _CAPPED_KNOTS_SQL.format(
            knots=_ECDF_KNOTS_SQL.format(events="__svg_events")
        )
    )
    return curve_svg_paths(knots, width=400, height=100)


@register(
    "bloom_semi_prune",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
    )
    ORDER BY o_orderkey
    """,
    covers="Bloom-filter semi-join pruning: fixed-size broadcast bit array "
    "probed map-only over the big side so only near-selectivity rows reach "
    "the exact-join exchange (the explicit form of Spark's runtime "
    "row-level filtering).  Oracle is the plain semi join — the Bloom "
    "stage must be output-invisible (false positives removed by the exact "
    "verify join, false negatives impossible by construction)",
)
def q_bloom_semi_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.bloom import bloom_semi_join

    orders = load_table(spark, sf_dir, "orders")
    keys = load_table(spark, sf_dir, "customer").filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 1000.0)
    )
    out = bloom_semi_join(orders, keys, "o_custkey", "c_custkey")
    return out.select("o_orderkey", "o_custkey", "o_totalprice").orderBy(
        "o_orderkey"
    )


@register(
    "stream_dedup",
    """
    SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
           event_type, value
    FROM events
    ORDER BY event_id
    """,
    covers="Streaming exact dedup: dropDuplicatesWithinWatermark on the "
    "record fingerprint over a file-source stream (one duplicated copy of "
    "the feed per micro-batch), availableNow trigger — the streaming "
    "analog of W1/E4 exact dedup for an at-least-once delivery pipeline; "
    "state is keyed by fingerprint and expired by the event-time "
    "watermark.  Every copy of a record is byte-identical, so which "
    "arrival wins is output-invisible and the batch twin is the plain "
    "distinct feed.  The harness sink is an executor-side parquet "
    "directory read back lazily — NOT a memory sink — so the entry's "
    "own driver footprint stays bounded at any scale (the round-6 sf10 "
    "rehearsal measured the memory sink at ~10 GB driver heap and 105x "
    "wall; the engine itself was linear under a noop sink)",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import tempfile as _tf
    import uuid as _uuid

    from pyspark.sql import types as T

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    # stage TWO byte-identical copies of the feed as separate files so
    # availableNow + maxFilesPerTrigger=1 replays every record twice
    # across distinct micro-batches (test-fixture staging only —
    # production tails an at-least-once landing directory)
    land = _tf.mkdtemp(prefix="streamdedup_land_")
    for i in range(2):
        ev.write.parquet(_os.path.join(land, f"copy{i}"))
    schema = spark.read.parquet(_os.path.join(land, "copy0")).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land + "/*")
    )
    if isinstance(src.schema["ts"].dataType, T.LongType):
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(src.schema["ts"].dataType, T.TimestampNTZType):
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    # delay >> the feed's time span: nothing is late, dedup state covers
    # the whole replay (production sets this to the real reorder bound,
    # which is what lets state expire instead of growing forever)
    deduped = src.withWatermark("ts", "87600 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = deduped.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
    )
    from .cache import tracked_tmpdir
    from .streaming.pipeline import catalog_stream_state

    # the returned frame reads the sink parquet lazily, so the dir must
    # outlive this call — tracked for release_persisted() (atexit backstop)
    outdir = tracked_tmpdir(
        _tf.mkdtemp(prefix=f"streamdedup_out_{_uuid.uuid4().hex[:8]}_")
    )
    with catalog_stream_state(spark, 8):
        q = (
            out.writeStream.format("parquet")
            .option("path", _os.path.join(outdir, "data"))
            .option("checkpointLocation", _os.path.join(outdir, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # the landing copies were fully drained by the terminated stream —
    # safe to reclaim eagerly (the checkpoint lives under outdir)
    import shutil as _sh

    _sh.rmtree(land, ignore_errors=True)
    return spark.read.parquet(_os.path.join(outdir, "data")).orderBy(
        "event_id"
    )


_SND_FAM_SQL = "fam(i, a, b) AS (VALUES " + ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(_hash_family(16))
) + ")"

# shared CTE chain ending in hits(doc_id, dup_of) — the exact batch twin
# of the streaming LSH index over `documents` (used by stream_near_dup
# and, shifted per epoch, by stream_near_dup_ttl)
_SND_HITS_SQL = f"""
    WITH {_SND_FAM_SQL},
    tokd AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ),
    pos AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks) - 2, 1))) AS i
      FROM tokd
    ),
    sh0 AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN array_to_string(toks, ' ')
                  ELSE array_to_string(toks[i + 1 : i + 3], ' ') END AS shingle
      FROM pos
    ),
    hashed AS (
      SELECT doc_id, ({portable_base_hash_sql("hx")}) % {MERSENNE_P} AS hm
      FROM (SELECT doc_id, substr(md5(shingle), 1, 15) AS hx FROM sh0)
    ),
    mins AS (
      SELECT doc_id, f.i, min((hm * f.a + f.b) % {MERSENNE_P}) AS mh
      FROM hashed CROSS JOIN fam f GROUP BY doc_id, f.i
    ),
    bands AS (
      SELECT doc_id, CAST(i // 4 AS INT) AS band_id,
             string_agg(CAST(mh AS VARCHAR), ':' ORDER BY i) AS sig
      FROM mins GROUP BY doc_id, i // 4
    ),
    firsts AS (
      SELECT band_id, sig, min(doc_id) AS first_id FROM bands GROUP BY 1, 2
    ),
    hits AS (
      SELECT b.doc_id, f.first_id AS dup_of
      FROM bands b JOIN firsts f USING (band_id, sig)
      WHERE f.first_id < b.doc_id
    )
"""


@register(
    "stream_near_dup",
    # exact batch twin: with id-ordered micro-batch replay, "first doc
    # ever seen with this band signature" == "min doc_id with it"
    f"""
    {_SND_HITS_SQL}
    SELECT doc_id, CAST(min(dup_of) AS BIGINT) AS dup_of,
           CAST(count(*) AS BIGINT) AS bands_matched
    FROM hits GROUP BY doc_id
    ORDER BY doc_id
    """,
    covers="STREAMING minhash near-dup detection: stateless per-row band "
    "signatures (HOFs, no shuffle) feed an applyInPandasWithState keyed "
    "LSH index — one state row per distinct (band, signature), emitting "
    "only duplicates; real multi-batch Structured Streaming execution "
    "checked against the exact batch twin (id-ordered replay makes "
    "'first seen' == 'min id')",
)
def q_stream_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import tempfile as _tf
    import uuid as _uuid

    from .operators.dedup import rowwise_minhash_bands
    from .streaming.aggregations import streaming_near_dup
    from .streaming.pipeline import catalog_stream_state

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = docs.agg(F.max("doc_id")).first()[0] or 0
    # stage 2 id-ranged landing files → ordered micro-batch replay (two
    # batches exercise the cross-batch state transition; each extra
    # micro-batch costs ~2.5 s of fixed streaming machinery at sf0.1)
    land = _tf.mkdtemp(prefix="streamneardup_land_")
    step = (int(hi) // 2) + 1
    for b in range(2):
        bdir = _os.path.join(land, f"b{b:03d}")
        docs.filter(
            (F.col("doc_id") >= b * step) & (F.col("doc_id") < (b + 1) * step)
        ).coalesce(1).write.parquet(bdir)
        # FileStreamSource replays files in MTIME order; back-to-back
        # writes can share an mtime, making "first seen == min id" (and
        # the oracle parity) timing-dependent — pin distinct mtimes.
        for root, _dirs, names in _os.walk(bdir):
            for name in names:
                _os.utime(_os.path.join(root, name), (1_000_000 + b, 1_000_000 + b))
    schema = spark.read.parquet(_os.path.join(land, "b000")).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land + "/*")
    )
    # each micro-batch is one landing file = ONE split: repartition ahead
    # of the signature projection so the md5-fold work uses every core
    # (measured 15 -> 5.9 s for the stream phase at sf0.1).  The raw-doc
    # shuffle it adds is small next to the digest work it parallelizes —
    # the same trade _spread makes on the batch path.
    out = streaming_near_dup(
        rowwise_minhash_bands(
            src.repartition(spark.sparkContext.defaultParallelism),
            num_hashes=16,
        )
    )
    sink = f"streamneardup_{_uuid.uuid4().hex[:8]}"
    with catalog_stream_state(spark, 8):
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy("doc_id")
        .agg(
            F.min("dup_of").alias("dup_of"),
            F.count("*").alias("bands_matched"),
        )
        .orderBy("doc_id")
    )


#: epoch-2 docs in stream_near_dup_ttl are the SAME texts re-presented
#: under doc_id + _SND_TTL_OFFSET after the dedup horizon lapsed
_SND_TTL_OFFSET = 1_000_000


@register(
    "stream_near_dup_ttl",
    # TTL semantics, hash-checked: epoch 1 is the plain batch twin; the
    # whole corpus is then RE-PRESENTED (ids shifted) after the TTL
    # lapsed, so no epoch-2 doc may match an epoch-1 original — its hits
    # are exactly the epoch-1 hits shifted by the id offset.  A broken
    # expiry (epoch-2 docs flagged against epoch-1 firsts) changes both
    # dup_of values and bands_matched counts → hash mismatch.
    f"""
    {_SND_HITS_SQL},
    all_hits AS (
      SELECT doc_id, dup_of FROM hits
      UNION ALL
      SELECT doc_id + {_SND_TTL_OFFSET}, dup_of + {_SND_TTL_OFFSET} FROM hits
    )
    SELECT doc_id, CAST(min(dup_of) AS BIGINT) AS dup_of,
           CAST(count(*) AS BIGINT) AS bands_matched
    FROM all_hits GROUP BY doc_id
    ORDER BY doc_id
    """,
    covers="Streaming near-dup TTL (streaming/aggregations.py): "
    "ProcessingTimeTimeout evicts idle signatures and an expired "
    "re-arrival is treated as a new original — the sliding dedup "
    "horizon; exercised with TWO availableNow runs over one checkpoint "
    "(parquet sink), the corpus re-presented under shifted ids after "
    "the TTL lapsed, hash-checked against the per-epoch batch twin",
)
def q_stream_near_dup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import tempfile as _tf
    import time as _time

    from .operators.dedup import rowwise_minhash_bands
    from .streaming.aggregations import streaming_near_dup
    from .streaming.pipeline import (
        catalog_stream_state,
        drain_availablenow_stream,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    land = _tf.mkdtemp(prefix="streamttl_land_")
    work = _tf.mkdtemp(prefix="streamttl_work_")
    ck = _os.path.join(work, "ck")
    out_dir = _os.path.join(work, "out")
    ttl_ms = 2_000

    def _land(df, name: str, mtime: int) -> None:
        bdir = _os.path.join(land, name)
        df.coalesce(1).write.parquet(bdir)
        for root, _dirs, names in _os.walk(bdir):  # deterministic replay order
            for n in names:
                _os.utime(_os.path.join(root, n), (mtime, mtime))

    def _run() -> None:
        src = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(land + "/*")
        )
        sig = rowwise_minhash_bands(
            src.repartition(spark.sparkContext.defaultParallelism),
            num_hashes=16,
        )
        with catalog_stream_state(spark, 8):
            q = (
                streaming_near_dup(sig, ttl_ms=ttl_ms)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out_dir)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            # ProcessingTimeTimeout makes availableNow loop cleanup
            # batches forever — drain + stop instead of awaitTermination;
            # expect_data: each run lands exactly one new file, so an
            # empty batch only proves drain AFTER a data batch ran
            drain_availablenow_stream(q, timeout_s=600, expect_data=True)

    # epoch 1: the corpus; epoch 2 (after the horizon lapsed): the same
    # texts under shifted ids — dup only within their own epoch
    _land(docs, "b000", 1_000_000)
    _run()
    _time.sleep(ttl_ms / 1000.0 + 1.5)
    _land(
        docs.select((F.col("doc_id") + _SND_TTL_OFFSET).alias("doc_id"), "text"),
        "b001",
        1_000_001,
    )
    _run()  # checkpoint recovery: only the epoch-2 file is new
    return (
        spark.read.parquet(out_dir)
        .groupBy("doc_id")
        .agg(
            F.min("dup_of").alias("dup_of"),
            F.count("*").alias("bands_matched"),
        )
        .orderBy("doc_id")
    )


@register(
    "bpe_merges",
    # differential oracle: independent single-node Counter-based replica
    # (sources/demo_oracle_pipeline.expected_bpe_merges), keyed by the
    # documents fingerprint so each SF selects its own rows
    f"""
    SELECT round, lhs, rhs, freq
    FROM {_dt("expected_bpe_merges")}
    WHERE corpus_fp = (
      SELECT CAST(sum((doc_id + 1) * length(text)) AS BIGINT) FROM documents
    )
    ORDER BY round
    """,
    covers="Distributed BPE tokenizer training (Sennrich 2016): one "
    "corpus pass to the word-frequency table, then R merge rounds over "
    "the vocabulary — pair explode + bounded groupBy, 1-row TakeOrdered "
    "argmax with lexicographic tie-break, merge applied as a JVM "
    "aggregate fold (non-overlapping left-to-right)",
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.bpe import bpe_train, word_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(spark, word_counts(docs), rounds=6).orderBy("round")


@register(
    "bpe_tokenize",
    # differential oracle: same Counter-based replica, extended through
    # the apply stage (train rules, tokenize, top-20 token counts)
    f"""
    SELECT token, cnt, rank
    FROM {_dt("expected_bpe_tokens")}
    WHERE corpus_fp = (
      SELECT CAST(sum((doc_id + 1) * length(text)) AS BIGINT) FROM documents
    )
    ORDER BY rank
    """,
    covers="BPE APPLY: tokenize the corpus with the trained merge rules "
    "— R chained map-only fold projections over the word table, then a "
    "token groupBy and a TakeOrdered top-20; completes the tokenizer "
    "train→apply loop",
)
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .operators.bpe import bpe_apply, bpe_train_rules, word_counts

    docs = load_table(spark, sf_dir, "documents")
    wc = word_counts(docs)
    rules = bpe_train_rules(wc, rounds=6)
    toks = (
        bpe_apply(wc, rules)
        .select(F.explode("sym").alias("token"), "n")
        .groupBy("token")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(20)
    )
    w = Window.orderBy(F.desc("cnt"), "token")  # 20 rows only
    return toks.withColumn("rank", F.row_number().over(w)).orderBy("rank")


@register(
    "reservoir_per_key",
    f"""
    WITH h AS (
      SELECT lang, doc_id,
             {portable_base_hash_sql("substr(md5('rsv:' || CAST(doc_id AS VARCHAR)), 1, 15)")} AS hv
      FROM documents
    )
    SELECT lang, doc_id, rn FROM (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn
      FROM h
    ) WHERE rn <= 20
    ORDER BY lang, rn
    """,
    covers="Exactly-k-per-key deterministic reservoir sample (salted "
    "portable-hash permutation rank): per-key log-scale hash histogram "
    "(<=3841 buckets, bounded state) fixes a bucket cutoff that provably "
    "contains the top-k for ANY hash distribution — map-only filter, "
    "O(keys·k) exchange, fully lazy (round 6 removed the driver-side "
    "exactness probe job); the exact-size per-stratum sampler a "
    "curriculum/eval-split builder needs where rate-based sampling "
    "cannot guarantee counts",
)
def q_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import deterministic_reservoir

    docs = load_table(spark, sf_dir, "documents")
    return deterministic_reservoir(docs, "lang", "doc_id", k=20).orderBy(
        "lang", "rn"
    )


@register(
    "curriculum_deciles",
    f"""
    WITH s AS (
      SELECT doc_id, round({Ft.quality_score_sql('text')}, 6) AS q
      FROM documents
    ), c AS (
      SELECT {', '.join(f'round(quantile_cont(q, 0.{i}), 6) AS c{i}' for i in range(1, 10))}
      FROM s
    )
    SELECT s.doc_id, s.q AS quality,
           CAST(1 {' '.join(f'+ (CASE WHEN s.q > c.c{i} THEN 1 ELSE 0 END)' for i in range(1, 10))}
                AS INT) AS decile
    FROM s, c
    ORDER BY doc_id
    """,
    covers="Curriculum bucketing: exact decile boundaries from ONE "
    "percentile aggregation (9 doubles, broadcast), then a map-only "
    "comparison bucket per document — the scale shape for difficulty "
    "ordering (a global ntile() window would funnel the corpus through "
    "one sort partition)",
)
def q_curriculum_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    # quantize the score AND the interpolated cuts to 6 dp before the
    # strict compare: percentile vs quantile_cont can differ in the last
    # ulp, and a tied-value cut lands exactly on a score — rounding both
    # to the same grid makes the boundary decision engine-independent
    s = docs.select(
        "doc_id", F.round(Ft.quality_score(F.col("text")), 6).alias("q")
    )
    cuts = s.agg(
        *[
            F.round(F.percentile("q", F.lit(i / 10)), 6).alias(f"c{i}")
            for i in range(1, 10)
        ]
    )
    decile = F.lit(1)
    for i in range(1, 10):
        decile = decile + F.when(F.col("q") > F.col(f"c{i}"), 1).otherwise(0)
    return (
        s.join(F.broadcast(cuts))
        .select(
            "doc_id",
            F.col("q").alias("quality"),
            decile.cast("int").alias("decile"),
        )
        .orderBy("doc_id")
    )


from .operators.sampling import weighted_sample_sql as _wss


@register(
    "weighted_sample",
    f"""
    WITH kept AS ({_wss('documents', 0.3, 'n_chars')})
    SELECT doc_id, lang, n_chars FROM kept ORDER BY doc_id
    """,
    covers="Weight-proportional deterministic sampling (importance "
    "sampling toward heavy documents — the token-weighted corpus "
    "downsample): keep-probability ∝ weight via an EXACT decimal128/"
    "HUGEINT integer inequality, no float rate, no rand(); one tiny "
    "global agg broadcast back + a map-only filter",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        weighted_sample(docs, 0.3, "n_chars")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@register(
    "robust_outliers",
    """
    WITH med AS (
      SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS ad
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, round(quantile_cont(ad, 0.5), 6) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
           any_value(d.med) AS med, any_value(m.mad) AS mad,
           CAST(count(*) FILTER (WHERE d.ad > 3 * m.mad) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
    covers="Robust outlier detection (median / median-absolute-deviation, "
    "the quality-filter flavor that survives heavy tails): two "
    "percentile aggregations with broadcast-back of the 1-row-per-group "
    "cuts, then a map-only 3-MAD flag — no global sort, no window.  "
    "Quantile cuts are 6-dp-quantized on both engines (the "
    "curriculum_deciles boundary trick) so the strict compare is "
    "engine-independent",
)
def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("ad", F.lit(0.5)), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.any_value("med").alias("med"),
            F.any_value("mad").alias("mad"),
            F.sum(
                F.when(F.col("ad") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@register(
    "grouping_sets_report",
    """
    SELECT coalesce(event_type, '<all>') AS event_type,
           coalesce(CAST(CAST(ts AS DATE) AS STRING), '<all>') AS day,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)),
                            (event_type, CAST(ts AS DATE)), ())
    ORDER BY event_type, day
    """,
    covers="Multi-dimensional aggregation via GROUPING SETS: one scan "
    "feeds all four grouping combinations (Catalyst's Expand operator "
    "— the cube/rollup family), with DECIMAL-exact value sums so the "
    "cross-engine totals match bit-for-bit.  At 100 TB this replaces "
    "four separate scan+agg jobs with one",
)
def q_grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _spread

    ev = _spread(load_table(spark, sf_dir, "events"))
    ev.createOrReplaceTempView("__gs_events")
    return spark.sql(
        """
        SELECT coalesce(event_type, '<all>') AS event_type,
               coalesce(CAST(CAST(ts AS DATE) AS STRING), '<all>') AS day,
               count(*) AS n,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE)
                 AS total_value
        FROM __gs_events
        GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)),
                                (event_type, CAST(ts AS DATE)), ())
        ORDER BY event_type, day
        """
    )


@register(
    "rank_correlation",
    """
    WITH r AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rx,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS ry
      FROM events
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(1.0 - 6.0 * CAST(sum((rx - ry) * (rx - ry)) AS DOUBLE)
                 / (count(*) * (CAST(count(*) AS DOUBLE) * count(*) - 1)),
                 9) AS spearman_rho
    FROM r GROUP BY event_type HAVING count(*) > 1
    ORDER BY event_type
    """,
    covers="Spearman rank correlation (time vs value per group, "
    "deterministic row_number tie-break): is the delay DRIFTING?  The "
    "rank difference sum is EXACT int64 — no float aggregation order to "
    "drift between engines — and the per-group windows are the standard "
    "sort-based shape (each group sorts within its own partition; no "
    "global sort)",
)
def q_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wx = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wy = Window.partitionBy("event_type").orderBy("value", "event_id")
    r = ev.select(
        "event_type",
        F.row_number().over(wx).alias("rx"),
        F.row_number().over(wy).alias("ry"),
    )
    # row_number() is int32: the squared rank gap overflows ANSI int32
    # once groups pass ~46k rows (caught by the sf1 rehearsal) — compute
    # in int64 like the DuckDB twin's BIGINT row_number does
    dx = F.col("rx").cast("long") - F.col("ry").cast("long")
    d2 = dx * dx
    n = F.count("*")
    return (
        r.groupBy("event_type")
        .agg(
            n.cast("bigint").alias("n"),
            F.round(
                F.lit(1.0)
                - F.lit(6.0)
                * F.sum(d2).cast("double")
                / (n * (n.cast("double") * n - 1)),
                9,
            ).alias("spearman_rho"),
        )
        .filter(F.col("n") > 1)
        .orderBy("event_type")
    )


_EDIT_PREFIX = 200  #: chars of each doc the distance is computed over
_EDIT_MAX = 20  #: max edit distance for a near-dup pair


@register(
    "edit_distance_dedup",
    f"""
    WITH d AS (
      SELECT doc_id, substr(text, 1, {_EDIT_PREFIX}) AS p,
             CAST(length(text) // 50 AS INT) AS lb,
             split_part(trim(text), ' ', 1) AS w1
      FROM documents
    ),
    keys AS (
      SELECT doc_id, p, lb, w1 AS bk FROM d
      UNION
      SELECT doc_id, p, lb,
             p[greatest(length(p) - 19, 1):] AS bk FROM d
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa, b.p AS pb
      FROM keys a JOIN keys b ON a.lb = b.lb AND a.bk = b.bk
      WHERE a.doc_id < b.doc_id
        AND abs(length(a.p) - length(b.p)) <= {_EDIT_MAX}
    )
    SELECT id_a, id_b, CAST(levenshtein(pa, pb) AS INT) AS dist
    FROM cand
    WHERE levenshtein(pa, pb) <= {_EDIT_MAX}
    ORDER BY id_a, id_b
    """,
    covers="Edit-distance near-dup pairs: multi-key blocking (length "
    "bucket × first-word and length bucket × tail-20-chars, unioned) "
    "keeps the candidate space an EQUI-join — never an O(n²) cross "
    "product — and the Levenshtein verify runs only on blocked pairs "
    "over bounded prefixes.  Both engines implement the same classic "
    "DP distance, so the twin is pure SQL",
)
def q_edit_distance_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # defaults = exact all-pairs (the setting this entry's oracle
    # hashes); collapse_identical_prefix / hot_block_cap are the
    # documented production valves for mass-duplicated corpora
    from .operators.dedup import edit_distance_near_duplicates

    docs = load_table(spark, sf_dir, "documents")
    return edit_distance_near_duplicates(
        docs, prefix_len=_EDIT_PREFIX, max_dist=_EDIT_MAX
    ).orderBy("id_a", "id_b")


_CHUNK_SIZE = 200
_CHUNK_OVERLAP = 40
_CHUNK_STEP = _CHUNK_SIZE - _CHUNK_OVERLAP


@register(
    "chunk_documents",
    f"""
    WITH s AS (
      SELECT doc_id, text,
             unnest(generate_series(0, greatest(length(text) - 1, 0),
                                    {_CHUNK_STEP})) AS start
      FROM documents
    )
    SELECT doc_id, CAST(start // {_CHUNK_STEP} AS INT) AS chunk_idx,
           substr(text, CAST(start + 1 AS INT), {_CHUNK_SIZE}) AS chunk,
           length(substr(text, CAST(start + 1 AS INT), {_CHUNK_SIZE}))
             AS chunk_len
    FROM s
    WHERE start = 0 OR start < length(text)
    ORDER BY doc_id, chunk_idx
    """,
    covers="Document chunking for retrieval/context windows: fixed-size "
    "sliding windows with overlap as a pure JVM sequence-explode + "
    "substring — map-only (no shuffle; the explode multiplies rows "
    "in place), the shape that chunks a 100 TB corpus in one pass",
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _spread

    # the per-row window explode multiplies CPU on a one-split scan
    docs = _spread(load_table(spark, sf_dir, "documents"))
    starts = F.explode(
        F.sequence(
            F.lit(0),
            F.greatest(F.length("text") - 1, F.lit(0)),
            F.lit(_CHUNK_STEP),
        )
    ).alias("start")
    chunk = F.expr(f"substr(text, start + 1, {_CHUNK_SIZE})")
    return (
        docs.select("doc_id", "text", starts)
        .filter((F.col("start") == 0) | (F.col("start") < F.length("text")))
        .select(
            "doc_id",
            (F.col("start") / _CHUNK_STEP).cast("int").alias("chunk_idx"),
            chunk.alias("chunk"),
            F.length(chunk).alias("chunk_len"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


from .operators.selection import (  # noqa: E402 (grouped with its entries)
    dsir_logweights_sql,
    gopher_quality_rules_sql,
)


@register(
    "gopher_rules",
    gopher_quality_rules_sql() + "\n    ORDER BY doc_id",
    covers="Gopher document-quality rule set (arXiv:2112.11446 §A1.1): "
    "word-count / mean-word-length bounds, symbol-to-word ratio, "
    "bullet & ellipsis line ratios, alphabetic-word ratio, "
    "distinct-stopword floor — every signal, per-rule verdict, and the "
    "conjunction, as pure JVM expressions (map-only at any scale; the "
    "audit columns let a pipeline report WHICH rule rejected each doc)",
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.selection import gopher_quality_rules

    d = load_table(spark, sf_dir, "documents")
    return gopher_quality_rules(d).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "bullet_ratio",
        "ellipsis_ratio",
        "alpha_ratio",
        "n_stopwords",
        "r_word_count",
        "r_mean_word_len",
        "r_symbol",
        "r_bullet",
        "r_ellipsis",
        "r_alpha",
        "r_stopwords",
        "passes_gopher",
    ).orderBy("doc_id")


_DSIR_TARGET_SOURCES = ("src0", "src1", "src2", "src3")
_DSIR_TOP_K = 100


@register(
    "dsir_selection",
    dsir_logweights_sql(
        target_pred="source IN ('src0', 'src1', 'src2', 'src3')",
        top_k=_DSIR_TOP_K,
    )
    + "\n    ORDER BY doc_id",
    covers="DSIR importance resampling (arXiv:2302.03169): hashed "
    "unigram+bigram bucket models (portable md5 fold, add-one "
    "smoothing) over a target/raw split, per-doc importance "
    "log-weights, and deterministic Gumbel-top-k selection — the "
    "weighted-without-replacement draw of the paper with hash-derived "
    "(retry-stable) noise instead of rand()",
)
def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.selection import dsir_logweights

    d = load_table(spark, sf_dir, "documents")
    return dsir_logweights(
        d,
        F.col("source").isin(*_DSIR_TARGET_SOURCES),
        top_k=_DSIR_TOP_K,
    ).orderBy("doc_id")


@register(
    "perplexity_buckets",
    _BIGRAM_SCORED_CTE
    + r"""
    , perdoc AS (
      SELECT doc_id,
             round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob
      FROM scored GROUP BY 1
    )
    SELECT doc_id, lang, avg_logprob, tercile,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM (
      SELECT p.doc_id, d.lang, p.avg_logprob,
             CAST(ntile(3) OVER (PARTITION BY d.lang
                                 ORDER BY p.avg_logprob DESC, p.doc_id)
                  AS INT) AS tercile
      FROM perdoc p JOIN documents d USING (doc_id)
    )
    ORDER BY doc_id
    """,
    covers="CCNet-style perplexity bucketing (arXiv:1911.00359 §4.3): "
    "per-language head/middle/tail terciles of the corpus-trained "
    "bigram-LM score (head = lowest perplexity).  Reuses the "
    "bigram_lm_score stage; the bucketing itself is one window over "
    "(lang) — shuffle keyed by language, skew-safe because ntile "
    "needs only a per-language sort, not a global one",
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.tables import maybe_broadcast

    scored = _bigram_scored(spark, sf_dir)
    perdoc = scored.groupBy("doc_id").agg(
        F.round(F.sum("lp").cast("double") / F.count("*"), 6).alias(
            "avg_logprob"
        )
    )
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id")
    )
    return (
        perdoc.join(maybe_broadcast(langs), "doc_id")
        .withColumn("tercile", F.ntile(3).over(w))
        .withColumn(
            "ppl_bucket",
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail"),
        )
        .select("doc_id", "lang", "avg_logprob", "tercile", "ppl_bucket")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# public API used by __spark_entry__
# ---------------------------------------------------------------------------

# The driver's per-round CORRECTNESS gate checks a 50-entry prefix of
# this catalog.  After round 10 the cross-round union is 143/143 green
# with freshness r10:50 / r9:48 / r8:45.  Round 11's order (verdict
# task #1): the 2 NEW r11 entries first (no driver row yet), then the 7
# round-10-touched entries whose driver rows predate their module
# changes (cut from r10's over-long prefix — the verdict's top item),
# then the r11-touched refresh (winnow family: rolling-kernel dispatch
# + replica normalization fix; ivf/pq family: the r10 codebook-sample
# change the r10 tail omitted — ADVICE item; master_variants via the
# grouped_map carry rewrite), then the r8-vintage cohort.  The prefix
# is 66 entries (11 new r11 entries), so scheduled_predictions,
# stored_curve_quantiles,
# stream_dedup, the
# tar_shards pair, trip_descriptors / trip_resolution plus the LAST
# 9 r8 rows (static
# SQL / bounded fixture rows with the least regression risk;
# pricing_summary is additionally smoke-run by entry() every round)
# spill past the 50-sample window and LEAD the r12 rotation.
_DRIVER_PRIORITY: tuple[str, ...] = (
    # NEW round-11 entries (no driver row yet)
    "embedding_pca",
    "pca_spectrum",
    "sketch_overlap",
    "jl_projection",
    "leakage_safe_splits",
    "ngram_jaccard_rolling",
    "minhash_near_dups_rolling",
    "semantic_dedup_windowed",
    "winnow_passage_overlap_rolling",
    "soft_dedup_weights",
    "semantic_windowed_recall",
    # round-10-touched, cut from the r10 sample (verdict task #1 lead)
    "exact_substring_maximal",
    "exact_substring_keep_one",
    "exact_substring_dedup",
    "stream_near_dup",
    "stream_near_dup_ttl",
    "basis_stream",
    "gtfs_statistics",
    # round-11-touched refresh
    "winnow_fingerprints",
    "winnow_passage_overlap",
    "winnow_passage_overlap_xxhash",
    "ivf_topk",
    "ivfpq_topk",
    "ivfpq_recall",
    "master_variants",
    # r8-vintage cohort (25 fit the 50-sample window; the deferred
    # rows below the marker lead r12)
    "banding_plan",
    "best_of_cluster",
    "boilerplate_lines",
    "compact_small_files",
    "curation_funnel",
    "delay_quantiles",
    "departure_board",
    "domain_caps",
    "dsir_selection",
    "ecdf_per_type",
    "edit_distance_dedup",
    "exact_substring_ranked",
    "gopher_rules",
    "gtfs_predictions",
    "gtfs_records",
    "gtfs_statistics_scaled",
    "gtfs_statistics_width",
    "journey_transfers",
    "jsonl_quarantine",
    "jsonl_roundtrip",
    "model_score",
    "monitor_http",
    "pair_count_matrix",
    "paragraph_dedup",
    "perplexity_buckets",
    # --- 50-sample window ends here; deferred r8 rows (lead r12) ---
    "scheduled_predictions",
    "stored_curve_quantiles",
    "stream_dedup",
    "tar_shards_dist_write",
    "tar_shards_roundtrip",
    "trip_descriptors",
    "trip_resolution",
    "unimax_mixture",
    "walk_time_bounds",
    "display_formatting",
    "nation_revenue",
    "pivot_revenue",
    "pricing_summary",
    "rollup_revenue",
    "route_sections",
    "top_revenue_orders",
)


def _ordered_registry() -> dict[str, QuerySpec]:
    prioritized = {n: REGISTRY[n] for n in _DRIVER_PRIORITY if n in REGISTRY}
    rest = {n: s for n, s in REGISTRY.items() if n not in prioritized}
    return {**prioritized, **rest}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in _ordered_registry().items()}


def oracle_sql() -> dict[str, str]:
    from .sources.demo_oracle import ensure_demo_oracle_dir

    ensure_demo_oracle_dir()  # the GTFS twins read_parquet these files
    return {
        name: spec.oracle
        for name, spec in _ordered_registry().items()
        if spec.oracle
    }
