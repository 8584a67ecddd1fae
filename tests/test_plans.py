"""Physical-plan assertions: the 100 TB design properties (pushdown,
pruning, broadcast, bounded shuffles) checked per headline query.  A
regression here means the query still *answers* correctly but would
fall over at scale — exactly what row-count tests can't catch."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from dystonse_gtfs_data_spark import queries as Q
from dystonse_gtfs_data_spark.plans import (
    broadcast_join_count,
    formatted_plan,
    pushed_filters,
    read_schemas,
    shuffle_count,
)


@contextmanager
def no_auto_broadcast(spark):
    """Disable size-based auto-broadcast so a plan shows only *forced*
    broadcast hints — the tiny test tables otherwise auto-broadcast
    joins that would be shuffle joins at real scale, hiding hint bugs."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    df = Q.q_pricing_summary(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, "shipdate filter must reach the parquet scan"
    schemas = read_schemas(df)
    assert schemas, "expected a parquet scan"
    # 11-column table, 7-column projection: pruning must drop the rest
    assert all(len(cols) <= 7 for cols in schemas), schemas
    assert all("l_partkey" not in cols for cols in schemas)


def test_top_revenue_orders_broadcasts_dimension(spark, sf_dir):
    df = Q.q_top_revenue_orders(spark, sf_dir)
    assert broadcast_join_count(df) >= 1, "customer dim must broadcast"


def test_nation_revenue_broadcasts_dims_but_not_customer(spark, sf_dir):
    # region→nation and dims→customer broadcast (tiny, fixed-size), but
    # SF-proportional customer must NOT carry a broadcast HINT — at test
    # scale Catalyst may auto-broadcast it (fine: size-based, reverses at
    # 100 TB), so disable auto-broadcast to expose only forced hints:
    # exactly the two dim broadcasts and shuffle joins for the facts.
    with no_auto_broadcast(spark):
        df = Q.q_nation_revenue(spark, sf_dir)
        plan = formatted_plan(df)
        assert broadcast_join_count(df) == 2, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_asof_join_single_shuffle_on_key(spark, sf_dir):
    df = Q.q_asof_join(spark, sf_dir)
    # union + window: one shuffle for the window partition key, one for
    # the right side's pre-aggregation — but never a join shuffle of the
    # big side per matching row
    assert shuffle_count(df) <= 3, formatted_plan(df)


def test_latest_wins_dedup_is_one_shuffle(spark, sf_dir):
    df = Q.q_latest_wins_dedup(spark, sf_dir)
    assert shuffle_count(df) <= 1, formatted_plan(df)


def test_fallback_lookup_broadcasts_stats(spark, sf_dir):
    df = Q.q_fallback_lookup(spark, sf_dir)
    assert broadcast_join_count(df) >= 3, "all three stat levels must broadcast"


def test_pair_count_matrix_no_broadcast_of_fact(spark, sf_dir):
    # self-join of the fact table: must be a shuffle join on l_orderkey,
    # NOT a broadcast of a 600k-row side at sf0.1 (would OOM at 100 TB)
    with no_auto_broadcast(spark):
        df = Q.q_pair_count_matrix(spark, sf_dir)
        plan = formatted_plan(df)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert broadcast_join_count(df) == 0, plan


def test_token_counts_stays_jvm_side(spark, sf_dir):
    df = Q.q_token_counts(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
        "text analysis must not leave the JVM"
    )


def test_geo_proximity_is_equi_join(spark, sf_dir):
    # J8 scale path: the 300 m / 500 m proximity joins must plan as a
    # shuffle EQUI-join on grid cells — never BroadcastNestedLoop or a
    # cartesian product over all pairs (O(n²) at 100 TB).
    for q in (Q.q_extended_stops, Q.q_walk_time_bounds):
        df = q(spark, sf_dir)
        plan = formatted_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan


def test_minhash_signature_single_aggregation(spark, sf_dir):
    from dystonse_gtfs_data_spark.operators.dedup import minhash_signatures
    from dystonse_gtfs_data_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=64)
    # 64 hash functions must NOT multiply shuffles: one explode + one agg
    assert shuffle_count(sigs) <= 2, formatted_plan(sigs)


def test_jaccard_verify_prunes_corpus_scan(spark, sf_dir):
    # the exact-Jaccard verify stage must semi-join the corpus down to
    # candidate ids BEFORE shingling — at 100 TB only the near-dup
    # subset's shingle arrays may traverse the payload joins
    from dystonse_gtfs_data_spark.operators.dedup import minhash_near_duplicates
    from dystonse_gtfs_data_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = minhash_near_duplicates(docs, threshold=0.5)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, plan


def test_ngram_jaccard_is_inverted_index_equi_join(spark, sf_dir):
    # exact Jaccard must plan as an equi-join on the shingle key (pairs
    # meet only on shared shingles) — never a cartesian pair space
    from dystonse_gtfs_data_spark.operators.dedup import (
        ngram_jaccard_near_duplicates,
    )
    from dystonse_gtfs_data_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = ngram_jaccard_near_duplicates(docs, threshold=0.5)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_winnow_fingerprints_stays_jvm_side(spark, sf_dir):
    # the rolling-hash fingerprint pipeline is pure higher-order
    # functions: no Python evaluation, and no shuffle beyond the
    # CPU-spread round-robin of the one-split input
    from dystonse_gtfs_data_spark.operators.dedup import winnow_fingerprints
    from dystonse_gtfs_data_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = winnow_fingerprints(docs)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert shuffle_count(df) <= 1, plan


def test_enrich_records_broadcast_is_size_guarded(spark, monkeypatch, tmp_path):
    # stop_times is schedule-sized for one feed but multi-GB for a
    # country-scale merge: the hint must disappear above the size
    # threshold and let the planner pick a shuffle/bucketed join.
    from dystonse_gtfs_data_spark.operators.specific_curves import (
        enrich_records,
        stop_indexed,
    )
    from dystonse_gtfs_data_spark.sources import tables as tables_mod
    from dystonse_gtfs_data_spark.sources.demo import build_records, build_schedule

    sched = build_schedule(spark)
    records = build_records(spark)
    # file-backed dim: Catalyst's size estimate is real (in-memory demo
    # frames report defaultSizeInBytes, which maybe_broadcast distrusts)
    p = str(tmp_path / "stop_times")
    sched["stop_times"].write.mode("overwrite").parquet(p)
    sti = stop_indexed(spark.read.parquet(p))

    with no_auto_broadcast(spark):
        # default threshold: schedule-sized dim → forced broadcast
        df_small = enrich_records(records, sti)
        assert broadcast_join_count(df_small) >= 1, formatted_plan(df_small)

        # shrink the threshold to simulate a dim whose Catalyst size
        # estimate exceeds the ceiling → no forced broadcast anywhere
        monkeypatch.setattr(tables_mod, "BROADCAST_HINT_MAX_BYTES", 1)
        df_big = enrich_records(records, sti)
        plan = formatted_plan(df_big)
        assert broadcast_join_count(df_big) == 0, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_stop_pair_join_runs_once_in_specific_statistics(spark):
    # the stop-pair self-join (starts x ends on the vehicle key) is the
    # analyse pass's widest operator: its event-type and time-slot arms
    # fan out after it, so the physical plan holds ONE copy of it, not
    # one per (event type x {matched slot, DEFAULT}) union branch
    import re

    from dystonse_gtfs_data_spark.operators.specific_curves import (
        VEHICLE_KEY,
        specific_statistics,
    )
    from dystonse_gtfs_data_spark.sources.demo import build_records, build_schedule

    sched = build_schedule(spark)
    df = specific_statistics(build_records(spark), sched["stop_times"])
    plan = formatted_plan(df)
    join_keys = [
        {k.split("#")[0] for k in m.group(1).split(", ")}
        for m in re.finditer(r"^Left keys \[\d+\]: \[([^\]]*)\]", plan, re.M)
    ]
    pair_joins = [
        k for k in join_keys if set(VEHICLE_KEY) <= k and "stop_sequence" not in k
    ]
    assert len(pair_joins) == 1, plan


def test_gap_fill_is_window_not_cartesian(spark, sf_dir):
    # J6 gap projection: the vehicle x schedule grid is an equi-join on
    # trip_id and the backward fill is ONE window pass per vehicle —
    # never a pair-space join, never Python evaluation
    df = Q.q_gap_fill_records(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan


def test_duration_and_percent_encoding_stay_jvm_side(spark, sf_dir):
    # C6/C8: higher-order-function string pipelines must not plan any
    # Python evaluation — a row-at-a-time UDF here would be the classic
    # 10-100x slow path on a 100 TB text corpus
    for q in (Q.q_duration_parse, Q.q_percent_encoding):
        df = q(spark, sf_dir)
        plan = formatted_plan(df)
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan


def test_curve_codec_group_is_pre_capped(spark, sf_dir):
    # S10: the knot cap must run BEFORE the applyInPandas group collect
    # (Window rank filter upstream of FlatMapGroupsInPandas), so the
    # per-group array is bounded at any scale
    df = Q.q_curve_codec_roundtrip(spark, sf_dir)
    plan = formatted_plan(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Window" in plan, plan


def test_lsh_topk_portable_single_udf_pass_per_side(spark, sf_dir):
    # the portable plane family must keep the round-2 shape: ALL tables'
    # buckets from one Arrow UDF evaluation per side (query + corpus),
    # not one evaluation per table
    from dystonse_gtfs_data_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(Q.F.col("vec_id") < 5)
    from dystonse_gtfs_data_spark.operators.similarity import lsh_topk

    df = lsh_topk(q, emb, k=5, plane_family="portable")
    plan = formatted_plan(df)
    # formatted plans list each node twice (tree + detail section)
    assert plan.count("+- ArrowEvalPython") <= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_digest_pipelines_keep_heavy_work_above_the_spread(spark, sf_dir):
    # Plain explode(expensive_expr) synthesizes a size()>0 filter that
    # Catalyst pushes below the _spread round-robin exchange onto the
    # single-split scan — serializing the whole shingle/k-gram regex+md5
    # stage onto ONE core.  The _explode_parallel pattern (explode_outer
    # + generated-column null filter) must keep every split()/md5-bearing
    # filter ABOVE the exchange.
    for name in (
        "ngram_jaccard_dedup",
        "minhash_near_dups",
        "simhash_near_dups",
        "winnow_fingerprints",
        "winnow_passage_overlap",
    ):
        df = Q.REGISTRY[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        lines = plan.split("\n")
        for i, line in enumerate(lines):
            if "RoundRobinPartitioning" not in line:
                continue
            below = "\n".join(lines[i + 1 : i + 3])
            assert not (
                "Filter" in below and ("split(" in below or "md5(" in below)
            ), f"{name}: heavy filter sank below the spread exchange:\n{below}"


def test_build_records_broadcast_is_size_guarded(spark, monkeypatch, tmp_path):
    # same guard class as enrich_records: the J1/J2 schedule dims in
    # build_records must lose their broadcast hint above the byte
    # threshold (country-scale trips/stop_times are far beyond range)
    from dystonse_gtfs_data_spark.operators.records import build_records as br
    from dystonse_gtfs_data_spark.sources import tables as tables_mod
    from dystonse_gtfs_data_spark.sources.demo import build_rt_updates, build_schedule

    sched = build_schedule(spark)
    updates = build_rt_updates(spark)
    dims = {}
    for name in ("trips", "stop_times"):
        p = str(tmp_path / name)
        sched[name].write.mode("overwrite").parquet(p)
        dims[name] = spark.read.parquet(p)

    with no_auto_broadcast(spark):
        df_small = br(updates, dims["trips"], dims["stop_times"], "t")
        assert broadcast_join_count(df_small) >= 1, formatted_plan(df_small)

        monkeypatch.setattr(tables_mod, "BROADCAST_HINT_MAX_BYTES", 1)
        df_big = br(updates, dims["trips"], dims["stop_times"], "t")
        plan = formatted_plan(df_big)
        assert broadcast_join_count(df_big) == 0, plan


def test_quantile_sketch_fact_scan_is_map_only_prefilter(spark, sf_dir):
    # the KMV sample must reach the fact table as a hash FILTER (map-only),
    # with the rank sort confined to the survivor subset; no Python eval
    df = Q.REGISTRY["quantile_sketch"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "pythonudf" not in plan.lower()
    # the pre-filter lives under the window sort: a Filter on the hash
    # threshold appears before the row_number window in the survivors path
    assert "row_number" in plan.lower()


def test_zorder_key_is_codegen_with_broadcast_bounds(spark, sf_dir):
    df = Q.REGISTRY["zorder_layout"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "pythonudf" not in plan.lower()
    assert broadcast_join_count(df) >= 1, "bounds row must broadcast"


def test_kmeans_broadcasts_centroids_every_round(spark, sf_dir):
    with no_auto_broadcast(spark):
        df = Q.REGISTRY["kmeans_clusters"].fn(spark, sf_dir)
        # 2 rounds x 1 assignment join, each with forced-broadcast
        # centroids, + the final broadcast sizes join
        assert broadcast_join_count(df) >= 3, formatted_plan(df)
        plan = formatted_plan(df)
        assert "pythonudf" not in plan.lower()


def test_countmin_sketch_shuffle_is_fixed_width(spark, sf_dir):
    # the sketch aggregate must be a plain 2-level hash aggregate
    # (map-side combine): one Exchange for the (h, cell) groupBy
    from pyspark.sql import functions as F
    from dystonse_gtfs_data_spark.operators.sketches import countmin_sketch
    from dystonse_gtfs_data_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term")
    )
    sk = countmin_sketch(words, "term")
    plan = formatted_plan(sk)
    assert plan.lower().count("exchange") <= 2, plan
    assert "partial_count" in plan.lower() or "partial" in plan.lower(), (
        "map-side combine expected"
    )


def test_semantic_dedup_pairs_are_cluster_equijoin(spark, sf_dir):
    # the SemDeDup pair space must ride the cluster-id equi-join — no
    # CartesianProduct/BNLJ anywhere, no python on the cosine path
    df = Q.REGISTRY["semantic_dedup"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "pythonudf" not in plan.lower(), plan


def test_heat_strip_oracle_parity_plan_stays_jvm(spark, sf_dir):
    df = Q.REGISTRY["heat_strip_pixels"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "pythonudf" not in plan.lower()
    assert "BroadcastNestedLoopJoin" not in plan or "Inner" in plan


def test_bloom_semi_prune_probe_is_map_only_before_exchange(spark, sf_dir):
    # the whole point of the operator: the Bloom probe must be a pure
    # map-side JVM expression filter over a constant-folded literal word
    # array (NO join attaches the filter — a 1-row broadcast join would
    # memcpy the 16 KiB array into every probe row), and only the exact
    # verify join may shuffle, over survivors.
    with no_auto_broadcast(spark):
        df = Q.REGISTRY["bloom_semi_prune"].fn(spark, sf_dir)
        plan = formatted_plan(df)
        assert "pythonudf" not in plan.lower()
        assert "getbit" in plan.lower(), "bloom probe must be a JVM getbit filter"
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert broadcast_join_count(df) == 0, plan
        # exactly one join: the exact verify semi join over survivors
        assert plan.count(") SortMergeJoin") + plan.count(") ShuffledHashJoin") >= 1
    # big-side scan pruned to the 3 projected columns
    schemas = read_schemas(df)
    assert any(set(c) == {"o_orderkey", "o_custkey", "o_totalprice"} for c in schemas), schemas


def test_ivfpq_probe_plan_ships_codes_not_vectors(spark, sf_dir):
    # IVF-PQ's contract: the corpus side of the probe join carries codes
    # (small ints), never the raw embedding array; scoring is pure JVM
    # expressions (no Python), with the query side broadcast.
    df = Q.REGISTRY["ivfpq_topk"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "pythonudf" not in plan.lower()
    assert broadcast_join_count(df) >= 1, "query side must broadcast"
    # the join's corpus-side projection must not include the embedding
    # column (codes replace it); embedding appears only under scans/encode
    import re
    join = re.search(r"BroadcastHashJoin[^\n]*\n((?:.*\n){0,6})", plan)
    assert join and "embedding" not in join.group(1), join.group(0) if join else plan


def test_bpe_round_is_bounded_shuffle_no_python(spark, sf_dir):
    # one merge round = word-count groupBy + pair groupBy (both with
    # map-side partial aggregation) + 1-row TakeOrdered; everything JVM
    from pyspark.sql import functions as F

    from dystonse_gtfs_data_spark.operators.bpe import (
        _adjacent_pairs,
        word_counts,
    )
    from dystonse_gtfs_data_spark.sources.tables import load_table

    wc = word_counts(load_table(spark, sf_dir, "documents"))
    pairs = (
        wc.select(F.split("word", "").alias("sym"), "n")
        .select("n", F.explode(_adjacent_pairs(F.col("sym"))).alias("p"))
        .groupBy(F.col("p.lhs"), F.col("p.rhs"))
        .agg(F.sum("n"))
    )
    plan = formatted_plan(pairs)
    assert "pythonudf" not in plan.lower()
    # exactly two shuffles: the word groupBy and the pair groupBy
    assert shuffle_count(pairs) == 2, plan
    assert "partial" in plan.lower(), "map-side combine expected"


def test_chunk_documents_is_map_only_before_output_sort(spark, sf_dir):
    # chunking must multiply rows in place: no Python, no join; the only
    # exchanges are the deliberate small-input _spread (round-robin to
    # cluster parallelism before the per-row window explode — a no-op on
    # multi-split inputs) and the presentation orderBy
    df = Q.REGISTRY["chunk_documents"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "pythonudf" not in plan.lower()
    assert "Join" not in plan, plan
    assert shuffle_count(df) <= 2, plan


def test_reservoir_threshold_prefilter_bounds_the_exchange(spark, sf_dir):
    # the corpus must reach the ranking window only through the broadcast
    # histogram-cutoff filter (≈k survivors per key) — no collect_list of
    # ROW VALUES (unbounded in-memory array under a hot key), no exchange
    # of the full corpus into the window sort, no python.  The one
    # permitted collect_list is the per-key (bucket, count) histogram,
    # bounded at 3841 entries by the bucketizer's range.
    import re as _re

    from dystonse_gtfs_data_spark.operators.sampling import (
        deterministic_reservoir,
    )
    from dystonse_gtfs_data_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = deterministic_reservoir(docs, "lang", "doc_id", k=20)
    plan = formatted_plan(df)
    assert "pythonudf" not in plan.lower()
    for m in _re.finditer(r"collect_list\(([^)]*)", plan):
        assert "_bkt" in m.group(1), (
            f"collect_list over something other than the bounded "
            f"histogram pairs: {m.group(0)}\n{plan}"
        )
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    # the per-key count aggregations ARE map-side combined
    assert "partial_count" in plan.lower() or "partial" in plan.lower(), plan


def test_curriculum_deciles_has_no_global_sort_window(spark, sf_dir):
    # the decile must come from broadcast percentile cuts + a map-only
    # compare — a global ntile()/row_number window (one sort partition
    # for the whole corpus) is the anti-pattern this query exists to
    # replace.  The only window-free plan marker: no Window operator at
    # all before the output sort.
    df = Q.REGISTRY["curriculum_deciles"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert ") Window" not in plan, plan
    assert broadcast_join_count(df) >= 1, "percentile cuts must broadcast"


def test_edit_distance_dedup_is_blocked_equi_join(spark, sf_dir):
    # blocking must keep candidates an equi-join on (length bucket, key)
    # — never a cartesian pair space — with the Levenshtein verify as a
    # post-join filter
    df = Q.REGISTRY["edit_distance_dedup"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "levenshtein" in plan.lower(), plan


def test_domain_caps_is_one_keyed_window(spark, sf_dir):
    # per-key cap: hash exchange on the key + within-partition sort, the
    # presentation orderBy, and the deliberate small-input _spread at
    # most — no join, no python, no pair space
    df = Q.REGISTRY["domain_caps"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "pythonudf" not in plan.lower()
    assert "Join" not in plan, plan
    assert shuffle_count(df) <= 3, plan


def test_banding_plan_is_scalar_agg_over_pair_frame(spark, sf_dir):
    # the planner itself must add only aggregation on top of the
    # inverted-index pair join: no extra joins, no python, and the
    # repeated-squaring probability columns stay in codegen
    df = Q.REGISTRY["banding_plan"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "pythonudf" not in plan.lower()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_best_of_cluster_no_pair_space_beyond_candidates(spark, sf_dir):
    # survivor selection joins (id, cluster) to (id, score) and windows
    # over the cluster — no cartesian/BNLJ anywhere in the composed plan
    df = Q.REGISTRY["best_of_cluster"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "pythonudf" not in plan.lower()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_paragraph_dedup_single_corpus_shuffle(spark, sf_dir):
    # keep-first segment dedup: first-occurrence is a map-side-combined
    # groupBy(seg) agg joined back to the exploded segments (agg+join,
    # deliberately NOT a window — hot segments stay AQE-splittable); no
    # cartesian shapes, no python
    df = Q.q_paragraph_dedup(spark, sf_dir)
    plan = formatted_plan(df)
    assert "pythonudf" not in plan.lower()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_exact_substring_dedup_no_gram_text_explode(spark, sf_dir):
    # the full-volume stage must shuffle (hash, pos) pairs, never gram
    # text.  Round 11: the gram stream comes from the Arrow-batched
    # rolling-hash kernel (ArrowEvalPython — batched, NOT row-at-a-time
    # BatchEvalPython), so there is no gram explode at all; gram TEXT
    # (gtext) may only appear in the candidate-volume verify stage,
    # never under a Generate
    df = Q.q_exact_substring_dedup(spark, sf_dir)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan  # the rolling gram kernel (Arrow-batched)
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    import re

    gens = re.findall(r"Generate [^\n]*", plan)
    assert all("gtext" not in g for g in gens), gens
    # and the JVM A/B leg keeps the original shape: gram explode of the
    # 16-byte struct, zero Python
    from dystonse_gtfs_data_spark.operators.dedup import exact_substring_dedup
    from dystonse_gtfs_data_spark.sources.tables import load_table

    jvm_plan = formatted_plan(
        exact_substring_dedup(
            load_table(spark, sf_dir, "documents"), gram_stage="jvm"
        )
    )
    assert "pythonudf" not in jvm_plan.lower()
    jvm_gens = re.findall(r"Generate [^\n]*", jvm_plan)
    assert jvm_gens, "expected the gram explode on the jvm leg"
    assert all("gtext" not in g for g in jvm_gens), jvm_gens


def test_unimax_corpus_never_shuffles(spark, sf_dir):
    # water-filling runs on the per-language aggregate frame; the corpus
    # contributes two aggregations and a broadcast-joined filter — with
    # auto-broadcast off, every corpus-side join must still broadcast
    # (forced hints), and nothing may fall back to BNLJ
    with no_auto_broadcast(spark):
        df = Q.q_unimax_mixture(spark, sf_dir)
        plan = formatted_plan(df)
        assert "pythonudf" not in plan.lower()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        assert "BroadcastHashJoin" in plan
        assert "partial" in plan.lower()  # map-side combine on the sums


def test_curation_funnel_composition_is_clean(spark, sf_dir):
    # five text-rewriting stages in one composed plan: still no python
    # in the data path, no BNLJ/cartesian anywhere in the chain
    from dystonse_gtfs_data_spark.cache import release_persisted

    try:
        df = Q.q_curation_funnel(spark, sf_dir)
        plan = formatted_plan(df)
        assert "pythonudf" not in plan.lower()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        rows = {r["stage"]: r for r in df.collect()}
        # the funnel must be monotone: every stage only removes
        docs = [rows[k]["n_docs"] for k in sorted(rows)]
        toks = [rows[k]["n_tokens"] for k in sorted(rows)]
        assert docs == sorted(docs, reverse=True)
        assert toks == sorted(toks, reverse=True)
        assert rows["5_decontaminated"]["n_docs"] > 0
    finally:
        release_persisted()


def test_small_scan_is_round_robin_spread(spark, sf_dir):
    # A one-split sub-MB scan IS round-robin spread: digest CPU
    # dominates even at 0.58 MB (ngram_jaccard 8.6 s single-core vs
    # 2.2 s spread at sf0.1).
    from dystonse_gtfs_data_spark.operators.dedup import _spread
    from dystonse_gtfs_data_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    spread_plan = _spread(docs)._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "RoundRobinPartitioning" in spread_plan
