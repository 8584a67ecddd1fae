"""Deduplication operators for training-data pipelines: exact,
fingerprint, MinHash+LSH, SimHash, n-gram Jaccard.

All stages are pure DataFrame ops (shuffle on hash keys, no driver
loops); signatures are built with a fixed number of aggregate
expressions, not row explosion per hash function, so the shuffle volume
is O(docs × shingles), never O(docs × shingles × hashes).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# fixed, public hash family for minhash: h_i(x) = (a_i * x + b_i) mod p.
# p = 2^31 − 1 keeps a·x + b within int64 (a, x < 2^31 → a·x < 2^62).
MERSENNE_P = (1 << 31) - 1


def _hash_family(n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs from a tiny LCG (seeded, engine-pinned)."""
    params = []
    state = 0x9E3779B97F4A7C15
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (MERSENNE_P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_P
        params.append((a, b))
    return params


def portable_base_hash(col):
    """60-bit base hash reproducible in ANY SQL engine: fold the first 15
    hex chars of md5 into a bigint.  Slower than xxhash64 (the default
    hot path) but lets a DuckDB/Trino/BigQuery twin recompute identical
    minhash/simhash signatures for cross-engine verification."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def portable_base_hash_sql(hex_col: str) -> str:
    """ANSI-ish SQL twin of :func:`portable_base_hash` — the fold over a
    column holding ``substr(md5(x), 1, 15)``.  Literal power-of-16
    multipliers (not ``power()``) keep every term exact in int64."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr({hex_col}, {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
        for i in range(15)
    ) + ")"


def _base_hash_col(col, base_hash: str):
    if base_hash == "md5":
        return portable_base_hash(col)
    if base_hash == "xxhash64":
        return F.abs(F.xxhash64(col))
    raise ValueError(f"unknown base_hash {base_hash!r} (use 'xxhash64' or 'md5')")


def _spread(df: DataFrame) -> DataFrame:
    """Per-row digest work (md5 of every shingle / k-gram) is CPU-bound;
    a small parquet input arrives as a single split and would pin ONE
    core for the whole corpus.  Round-robin repartition up to cluster
    parallelism before the heavy projection — at real scale the file
    splits already exceed it and this is a no-op.

    The small-input test rides the optimizer's ``sizeInBytes`` estimate
    (driver-side plan stats, no job): ``df.rdd.getNumPartitions()``
    would force a full physical-plan → RDD conversion per call just for
    introspection.  Two regimes:

    - size < parallelism × maxPartitionBytes: round-robin repartition —
      the scan cannot fill every core on its own and the per-row CPU
      dominates, so the exchange pays for itself (8-18× at sf1; even a
      0.58 MB digest-heavy scan runs 3-4× faster spread than on one
      core).
    - larger: pass through — the file splits already exceed cluster
      parallelism and a corpus-wide shuffle would be pure cost."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        max_pb = int(
            spark._jvm.org.apache.spark.util.Utils.byteStringAsBytes(  # noqa: SLF001
                spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
            )
        )
        size = int(
            str(
                df._jdf.queryExecution()  # noqa: SLF001
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
    except Exception:
        # stats introspection unavailable — fall back to the physical
        # partition count so a genuinely large input (or one already
        # spread wide) never pays an unconditional corpus-wide shuffle
        try:
            if df.rdd.getNumPartitions() < target:
                return df.repartition(target)
        except Exception:
            pass
        return df
    if size < target * max_pb:
        return df.repartition(target)
    return df


def _explode_parallel(df: DataFrame, keep, col, alias: str) -> DataFrame:
    """``explode_outer`` + post-filter instead of plain ``explode``.

    Plain ``explode(expensive_expr)`` makes Catalyst synthesize
    ``size(expensive_expr) > 0 AND isnotnull(expensive_expr)`` and push it
    through the :func:`_spread` repartition onto the single-split scan —
    re-serializing the entire shingle/k-gram pipeline onto ONE core as a
    filter (observed: the "spread" ngram stage still ran as 1 task; a
    non-deterministic barrier filter does not survive Spark 4's range
    pruning).  ``explode_outer`` synthesizes no filter, and the null check
    on the GENERATED column cannot be pushed below the Generate, so the
    heavy projection stays above the round-robin exchange where it
    parallelizes.  Semantics are identical: null/empty arrays contribute
    no rows either way."""
    return df.select(*keep, F.explode_outer(col).alias(alias)).where(
        F.col(alias).isNotNull()
    )


def tokens(text_col: str = "text"):
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def shingles(text_col: str = "text", k: int = 3):
    """k-word shingles as strings (JVM-side higher-order functions)."""
    toks = tokens(text_col)
    n = F.size(toks)
    return F.when(n < k, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
        )
    )


def _shingle_hashes_rolling(
    docs: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Distinct k-word shingle HASHES per document from the rolling
    Karp-Rabin kernel — the throughput family for the shingle inverted
    index: the JVM form materializes one k-token string per position
    and shuffles shingle TEXT; here each document tokenizes once
    (Python normalization: ``strip(' ').lower()`` + ``\\s+`` split —
    the winnow-rolling convention), joins into one codepoint stream,
    and every shingle hash is an exact-span Karp-Rabin value
    (:func:`_kr_span_hashes`), so the index join carries 8-byte int64
    keys and no shingle string ever exists.

    Shingle identity is the 64-bit hash (collisions conflate two
    shingles with probability ~2^-64 per shared-index pair); the
    oracle replica computes the SAME hashes (Horner loop,
    demo_oracle_pipeline), so both engines agree bit-for-bit including
    any collision.  Shorter-than-k docs hash the whole token string as
    one shingle, matching :func:`shingles`.

    Output: (id, s) — one row per DISTINCT shingle hash per document.
    """
    import re as _re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    id_field = docs.schema[id_col]
    out_schema = T.StructType(
        [id_field, T.StructField("s", T.LongType(), False)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                u = np.unique(_rolling_shingle_u64(str(text), k))
                ids.append(np.full(len(u), did))
                hs.append(u.view(np.int64))
            if ids:
                yield pd.DataFrame(
                    {id_col: np.concatenate(ids), "s": np.concatenate(hs)}
                )

    return _spread(docs.select(id_col, text_col)).mapInPandas(
        run, out_schema
    )


def _rolling_shingle_u64(text: str, k: int):
    """All k-word shingle Karp-Rabin hashes of one document as uint64 —
    the shared per-doc core of the rolling shingle kernels (Jaccard
    index, minhash signatures).  Normalization: ``strip(' ').lower()``
    + ``\\s+`` split (the winnow-rolling convention); shorter-than-k
    docs hash the whole token string as one shingle."""
    import re as _re

    import numpy as np

    toks = _re.split(r"\s+", text.strip(" ").lower())
    n = len(toks)
    joined = " ".join(toks)
    cps = np.frombuffer(
        joined.encode("utf-32-le"), dtype="<u4"
    ).astype(np.uint64)
    lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=n)
    starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens + 1, out=starts[1:])  # sep = " "
    kk = min(k, n)
    p = np.arange(n - kk + 1)
    return _kr_span_hashes(cps, starts[p], starts[p + kk] - 1)


def _minhash_signatures_rolling(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_k: int,
) -> DataFrame:
    """MinHash signatures with the rolling shingle family, computed
    whole-document inside the Arrow kernel: distinct Karp-Rabin shingle
    hashes (no shingle string ever materializes), base value
    ``h mod P`` (P = 2^31−1, so every affine term fits int64 exactly —
    no wrap emulation needed), then all ``num_hashes`` permutation
    minima as ONE numpy (H × n_shingles) matrix reduction per document.
    The groupBy the JVM path needs disappears entirely — each document
    emits its finished signature row, so the only corpus-volume
    exchange left in the pipeline is the banding self-join.

    Same affine family constants as every other path
    (:func:`_hash_family`); the oracle replica recomputes signatures
    with pure-Python ints (demo_oracle_pipeline.expected_minhash_rolling).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    id_field = docs.schema[id_col]
    out_schema = T.StructType(
        [
            id_field,
            T.StructField(
                "signature", T.ArrayType(T.LongType(), False), False
            ),
        ]
    )
    fam = np.asarray(_hash_family(num_hashes), dtype=np.int64)
    A, B = fam[:, 0][:, None], fam[:, 1][:, None]
    P = np.int64(MERSENNE_P)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                u = np.unique(_rolling_shingle_u64(str(text), shingle_k))
                hp = (u % np.uint64(MERSENNE_P)).astype(np.int64)
                sig = ((hp[None, :] * A + B) % P).min(axis=1)
                ids.append(did)
                sigs.append(sig.tolist())
            if ids:
                yield pd.DataFrame({id_col: ids, "signature": sigs})

    return _spread(docs.select(id_col, text_col)).mapInPandas(
        run, out_schema
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash-groupBy: one row per duplicated text with the
    canonical (minimum) id, member count.  Map-side partial aggregation
    makes this a single cheap shuffle at any scale."""
    return (
        docs.groupBy(text_col)
        .agg(
            F.count("*").alias("dup_count"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("dup_count") > 1)
        .select("canonical_id", "dup_count")
    )


def soft_dedup_weights(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Soft deduplication (SoftDedup, ACL 2024 — reweight instead of
    remove): every document stays in the corpus but carries a sampling
    weight ``m^(−alpha)`` where m is its duplicate-group size, so a
    cluster of m copies contributes m^(1−alpha) effective documents —
    alpha=1 is dedup-equivalent mass (the cluster sums to weight 1),
    alpha=0 is no dedup.  Training pipelines use this when hard removal
    throws away the commonness signal (a document repeated across the
    crawl is often HIGH quality — license boilerplate aside) or when
    the sampler downstream consumes weights anyway (the
    ``weighted_sample`` operator composes directly).

    ``clusters``: optional (id, cluster) table from any near-dup
    family (``dedup_clusters``/``connected_components`` over minhash /
    simhash / SemDeDup pairs).  Default: exact-hash groups over
    lower(trim(text)) — self-contained and SQL-replayable.  Documents
    in no cluster keep weight 1 exactly (m=1 path, no join loss: the
    cluster join is left-outer and a missing cluster id means a
    singleton).

    Scale shape: one map-side-combinable count per group + one
    broadcast-or-shuffle equi-join of the m table back onto ids —
    linear, no pair space.  Weight is rounded to 6 digits so the
    verdict is engine-independent (pow() associates identically but
    float formatting does not).

    Output: (id, dup_count, weight), one row per input document.
    """
    if clusters is None:
        key = F.md5(F.lower(F.trim(F.col(text_col))))
        tagged = docs.select(F.col(id_col), key.alias("_ck"))
    else:
        tagged = docs.select(F.col(id_col)).join(
            clusters.select(
                F.col(id_col), F.col("cluster").cast("string").alias("_ck")
            ),
            id_col,
            "left",
        )
        # singletons absent from the cluster table: a per-id unique key
        # keeps them in their own group (weight 1) without special-casing
        tagged = tagged.withColumn(
            "_ck",
            F.coalesce(F.col("_ck"), F.concat(F.lit("_solo_"), F.col(id_col))),
        )
    sizes = tagged.groupBy("_ck").agg(F.count("*").alias("dup_count"))
    return (
        tagged.join(sizes, "_ck")
        .select(
            F.col(id_col),
            "dup_count",
            F.round(
                F.pow(F.col("dup_count").cast("double"), F.lit(-float(alpha))),
                6,
            ).alias("weight"),
        )
    )


def soft_dedup_weights_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> str:
    """DuckDB twin of :func:`soft_dedup_weights` (default exact-hash
    grouping): the same md5 group key, window count, powered weight."""
    return f"""
    SELECT {id_col},
           dup_count,
           round(power(dup_count, -{float(alpha)!r}), 6) AS weight
    FROM (
      SELECT {id_col},
             count(*) OVER (
               PARTITION BY md5(lower(trim({text_col})))) AS dup_count
      FROM {table}
    )
    ORDER BY {id_col}
    """


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """id → array<bigint> minhash signature.

    Explodes shingles once, hashes them (xxhash64 hot path, or the
    portable md5 fold for cross-engine-verifiable runs), then computes
    all ``num_hashes`` permutation minima as independent agg expressions
    over a single groupBy — signature width never multiplies the shuffle.
    ``base_hash="rolling"`` (round 11) computes whole signatures inside
    the Arrow span-hash kernel instead — no shingle strings, no groupBy
    (:func:`_minhash_signatures_rolling`).
    """
    if base_hash == "rolling":
        return _minhash_signatures_rolling(
            docs, text_col, id_col, num_hashes, shingle_k
        )
    fam = _hash_family(num_hashes)
    sh = _explode_parallel(
        _spread(docs), [F.col(id_col)], shingles(text_col, shingle_k), "shingle"
    ).withColumn("h", _base_hash_col(F.col("shingle"), base_hash))
    # F.expr parses instead of Column-algebra loops: one py4j round trip
    # per permutation instead of ~5, and a SQL parse is ~20x cheaper than
    # the equivalent Column call chain (measured 0.6 ms vs 11 ms under
    # this sandbox's py4j latency).  Same grammar precedence (%, * left-
    # assoc), so the expression tree is identical — plan-pinned below.
    aggs = [
        F.expr(
            f"min((h % {MERSENNE_P} * {a} + {b}) % {MERSENNE_P})"
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(fam)
    ]
    sigs = sh.groupBy(id_col).agg(*aggs)
    return sigs.select(
        id_col, F.array(*[f"mh_{i}" for i in range(num_hashes)]).alias("signature")
    )


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 16,
    rows_per_band: int = 4,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Band the signatures and self-join on (band_id, band slice) to get
    candidate near-dup pairs (id_a < id_b).  The join key is the raw
    band slice (arrays are hashable join keys in Spark) — equal bands
    co-locate, everything else never meets (the LSH property), so the
    shuffle is O(docs × bands); joining the 4-element slice itself
    instead of a hash of it keeps the key engine-portable for oracles
    at negligible extra shuffle width.

    ``hot_bucket_cap`` is the corpus-scale valve for MASS-DUPLICATED
    content: a band bucket with n members emits n(n-1)/2 pairs, so one
    boilerplate document duplicated 1 M times yields ~5·10^11 candidate
    rows from a single bucket — a guaranteed job death at 100 TB that
    the demo scales never hit.  With the cap set, buckets larger than
    it emit a STAR to the bucket's min-id representative (n-1 edges)
    instead of all pairs.  Downstream each star edge is still
    exact-Jaccard-verified, and for the case that creates hot buckets
    (near-identical texts, which also share full signatures) every
    edge verifies at J≈1, so transitive CLUSTERS are unchanged — the
    approximation only loses contrived pairs that collide with a hot
    bucket while being near-dups of each other but not of the
    representative.  Default None keeps exact all-pairs enumeration
    (the oracle-hashed catalog setting)."""
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.slice(
                        F.col("signature"), b * rows_per_band + 1, rows_per_band
                    ).alias("band_sig"),
                ),
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_sig")
    if hot_bucket_cap is None:
        a = banded.alias("a")
        b = banded.alias("b")
        return (
            a.join(b, ["band_id", "band_sig"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
    sizes = banded.groupBy("band_id", "band_sig").agg(
        F.count("*").alias("_bn"), F.min(id_col).alias("_rep")
    )
    sized = banded.join(sizes, ["band_id", "band_sig"])
    small = sized.filter(F.col("_bn") <= hot_bucket_cap)
    a = small.alias("a")
    b = small.alias("b")
    pairs_small = (
        a.join(b, ["band_id", "band_sig"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
    )
    pairs_hot = (
        sized.filter(
            (F.col("_bn") > hot_bucket_cap) & (F.col(id_col) > F.col("_rep"))
        )
        .select(F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return pairs_small.unionByName(pairs_hot).distinct()


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard similarity.

    The wide shingle-array column is pruned to ids that actually appear
    in a candidate pair (left-semi join on the id set) BEFORE the two
    payload joins — at corpus scale only the near-dup subset's shingles
    ever traverse a shuffle, not every document's.  The (small) candidate
    list is persist()ed so the expensive LSH subtree feeding it is
    computed once and shared by the semi-join branch and the payload
    joins — and, unlike a localCheckpoint, stays RECOMPUTABLE from
    lineage if an executor (and its cached blocks) is lost mid-job.

    The persist is TRACKED: Spark's CacheManager matches cached plans
    by CANONICALIZED subtree, so an untracked persist would silently
    serve any later construction of the same pipeline in the session
    (the three CC-family catalog entries all mine the same md5 minhash
    pair graph).  Registering it with the cache module means
    ``release_persisted()`` between queries drops the blocks AND the
    CacheManager entry, so every query recomputes from its inputs."""
    from ..cache import tracked_persist

    candidates = tracked_persist(candidates)
    cand_ids = candidates.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    # broadcast the narrow id set: the semi-join prunes the corpus scan
    # in place, with no shuffle of the documents side at all
    sets = docs.join(F.broadcast(cand_ids), id_col, "leftsemi").select(
        F.col(id_col), F.array_distinct(shingles(text_col, shingle_k)).alias("sh")
    )
    out = (
        candidates.join(sets.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sets.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def ngram_jaccard_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    collapse_identical: bool = False,
    shingle_family: str = "text",
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard near-dup — no LSH recall loss.

    Candidate generation is a shingle inverted-index self-join: docs
    meet only on shingles they SHARE, so the shuffle is O(total shingle
    occurrences), never the O(n²) pair space; pairs with zero shared
    shingles (jaccard 0) are never materialized.  At corpus scale the
    skew risk is ultra-common shingles (stop-phrase hot keys):
    ``max_shingle_df`` drops shingles appearing in more than that many
    documents — an explicit, documented recall trade for DISTINCT docs
    that merely share a stop phrase.  Default None = exact.

    ``max_shingle_df`` alone has a blind spot the probing campaign
    made precise: BYTE-IDENTICAL documents share *every* shingle, so
    under mass duplication every one of their shingles exceeds the cap
    and the most-duplicated content in the corpus silently loses ALL
    its pairs.  ``collapse_identical=True`` closes it: byte-identical
    texts group to a min-id representative first (each group emits a
    jaccard-1.0 STAR — identical shingle sets), and the inverted index
    runs on representatives only.  This is CLUSTER-EXACT
    unconditionally, because jaccard is a function of the two texts: a
    cross-group member pair exists at a given jaccard iff the
    representative pair does.  It also removes the quadratic the
    df-cap was papering over (n identical docs = n²/2 inverted-index
    pairs), so the production setting is ``collapse_identical=True``
    with ``max_shingle_df`` reserved for genuinely distinct hot
    phrases.  Default False keeps the single-pass shape the catalog
    oracle hashes.

    Output: (id_a < id_b, jaccard) with jaccard >= threshold.
    """
    if collapse_identical:
        groups = docs.groupBy(F.col(text_col).alias("_t")).agg(
            F.min(F.col(id_col)).alias("_rep")
        )
        stars = (
            # identical text ⇒ identical shingle set ⇒ jaccard exactly
            # 1.0, with no empty-set corner: shingles() maps a doc
            # shorter than shingle_k tokens to one whole-text shingle,
            # so identical short docs pair in the full run too
            docs.select(F.col(id_col), F.col(text_col))
            .join(groups, F.col(text_col) == F.col("_t"))
            .filter(F.col(id_col) > F.col("_rep"))
            .select(
                F.col("_rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        reps = groups.select(
            F.col("_rep").alias(id_col), F.col("_t").alias(text_col)
        )
        core = ngram_jaccard_near_duplicates(
            reps,
            text_col=text_col,
            id_col=id_col,
            shingle_k=shingle_k,
            threshold=threshold,
            max_shingle_df=max_shingle_df,
            collapse_identical=False,
            shingle_family=shingle_family,
        )
        return core.unionByName(stars)
    if shingle_family == "rolling":
        # Karp-Rabin shingle hashes from the Arrow kernel: the index
        # join carries int64, never shingle strings (tokenization is
        # the kernel's Python normalization — see the kernel docstring)
        ex = _shingle_hashes_rolling(docs, text_col, id_col, shingle_k)
    elif shingle_family == "text":
        ex = _explode_parallel(
            _spread(docs),
            [F.col(id_col)],
            F.array_distinct(shingles(text_col, shingle_k)),
            "s",
        )
    else:
        raise ValueError(
            f"unknown shingle_family {shingle_family!r} "
            "(use 'text' or 'rolling')"
        )
    # set sizes from the exploded (distinct-shingle) rows rather than a
    # separate size(sh) scan: a size()-based projection re-evaluates the
    # whole shingle expression inside a pushed-down join-key null filter
    # on the single-split scan (same pathology as the explode filter)
    sizes = ex.groupBy(id_col).agg(F.count("*").alias("n"))
    if max_shingle_df is not None:
        # df-cap via a window over the shingle-partitioned shuffle (NOT a
        # groupBy + self-semi-join, which would recompute the shingling
        # subtree a second time for the aggregate side)
        ex = (
            ex.withColumn(
                "_df", F.count("*").over(Window.partitionBy("s"))
            )
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    # alias self-join on the SAME plan: both sides canonicalize to an
    # identical Exchange(s) subtree, so ReuseExchange runs the expensive
    # scan → split → shingle pipeline ONCE and the second side reads the
    # first's shuffle files (verified in tests/test_plans.py)
    inter = (
        ex.alias("L")
        .join(ex.alias("R"), F.col("L.s") == F.col("R.s"))
        .filter(F.col(f"L.{id_col}") < F.col(f"R.{id_col}"))
        .groupBy(
            F.col(f"L.{id_col}").alias("id_a"),
            F.col(f"R.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("ni"))
    )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")),
            "id_b",
        )
        .withColumn(
            "jaccard", F.col("ni") / (F.col("n_a") + F.col("n_b") - F.col("ni"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    kgram: int = 8,
    window: int = 16,
    base_hash: str = "md5",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003, the MOSS algorithm — public): hash every character
    k-gram of the normalized text with the portable md5 fold, then keep
    the minimum hash of each ``window``-length run of consecutive
    k-gram hashes.  Guarantee: any substring match of length >=
    kgram + window - 1 between two documents yields at least one shared
    fingerprint, while only ~2/window of all k-gram hashes are kept.

    Entirely JVM-side higher-order functions (sequence → transform →
    slice → array_min): no shuffle at all until the caller aggregates,
    and the hash is reproducible in any SQL engine for verification.

    ``base_hash``: "md5" (default — the portable fold every SQL engine
    can replay literally) or "xxhash64" (the PRODUCTION family, same
    convention as the minhash/simhash operators; oracled by the
    pure-Python replica in sources/demo_oracle_pipeline.py).  Honest
    sizing note (round-10 sf10 interleaved A/B): the digest swap buys
    only ~1.15× on the fingerprint stage (65-66 s → 55-60 s) — unlike
    the minhash path, the per-position cost here is dominated by the
    character k-gram SUBSTRING extraction and window array machinery,
    not the hash itself.  The family exists for hash-policy
    consistency (every hash-driven operator offers the same production
    family), not as a big perf lever.

    Output: one (id, fp) row per distinct fingerprint per document.
    """
    t = F.lower(F.trim(F.col(text_col)))
    n = F.length(t)
    kgrams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - kgram + 1, F.lit(1))),
        lambda i: F.substring(t, i, kgram),
    )
    if base_hash == "rolling":
        # the Arrow-batched Karp-Rabin kernel: same winnowing scheme,
        # different (rolling) digest family — see
        # winnow_fingerprints_rolling for why it exists
        return winnow_fingerprints_rolling(docs, text_col, id_col, kgram, window)
    if base_hash == "md5":
        hash_fn = portable_base_hash
    elif base_hash == "xxhash64":
        hash_fn = lambda g: F.xxhash64(g)  # noqa: E731
    else:
        # same contract as _base_hash_col: a typo must fail loudly, not
        # silently run a different hash family under oracle check
        raise ValueError(
            f"unknown base_hash {base_hash!r} "
            "(use 'xxhash64', 'md5', or 'rolling')"
        )
    # Materialize the hash array in its OWN projection: the window stage
    # references it (m - window + 1) times via slice(), and Spark does no
    # common-subexpression elimination across HOF lambdas — inlined, each
    # slice would recompute EVERY digest (O(m²·w) per row; observed as a
    # single-core hang at 500 docs).  A separate select makes it an
    # attribute reference, hashed once per row.
    hashed = _spread(docs).select(
        F.col(id_col), F.transform(kgrams, hash_fn).alias("_h")
    )
    h = F.col("_h")
    m = F.size(h)
    wins = F.when(m <= window, F.array(F.array_min(h))).otherwise(
        F.transform(
            F.sequence(F.lit(1), m - window + 1),
            lambda j: F.array_min(F.slice(h, j, window)),
        )
    )
    return _explode_parallel(
        hashed, [F.col(id_col)], F.array_distinct(wins), "fp"
    )


#: Karp-Rabin base for the "rolling" winnowing family — odd, so it is
#: invertible mod 2^64 and the prefix-product trick below is exact.
KR_BASE = 1_000_003
_KR_MASK = (1 << 64) - 1
_KR_BASE_INV = pow(KR_BASE, -1, 1 << 64)


def _kr_gram_hashes(codepoints, kgram: int):
    """All k-gram Karp-Rabin hashes of a uint64 codepoint array, mod
    2^64, vectorized (numpy integer arithmetic wraps modularly):

      H_i = Σ_{j<k} x[i+j]·B^(k-1-j)
          = (S[i+k] − S[i]) · B^(i+k-1),  S[i] = Σ_{j<i} x[j]·B^(−j)

    B is odd ⇒ B^(−1) exists mod 2^64, so S uses an exact inverse-power
    cumprod instead of a sequential Horner scan — every step is a
    vector op.  Shorter-than-k texts hash the whole text with the same
    polynomial (the substring(t,1,k) convention of the md5/xxhash
    families); empty text hashes to 0."""
    import numpy as np

    m = len(codepoints)
    k = min(kgram, m) if m else 0
    if m == 0:
        return np.zeros(1, dtype=np.uint64)
    x = codepoints.astype(np.uint64, copy=False)
    n_out = m - k + 1 if m >= kgram else 1
    invpow = np.cumprod(
        np.full(m, _KR_BASE_INV, dtype=np.uint64), dtype=np.uint64
    )
    invpow = np.concatenate(([np.uint64(1)], invpow[:-1]))  # B^-0..B^-(m-1)
    s = np.concatenate(
        ([np.uint64(0)], np.cumsum(x * invpow, dtype=np.uint64))
    )
    pw = np.cumprod(np.full(m, KR_BASE, dtype=np.uint64), dtype=np.uint64)
    pw = np.concatenate(([np.uint64(1)], pw[:-1]))  # B^0..B^(m-1)
    i = np.arange(n_out)
    return (s[i + k] - s[i]) * pw[i + k - 1]


def _kr_span_hashes(codepoints, starts, ends):
    """Karp-Rabin hashes of VARIABLE character spans [start, end) of a
    codepoint array, mod 2^64 — the generalization of
    :func:`_kr_gram_hashes` the token-gram kernel needs (token windows
    have fixed TOKEN length but variable CHAR length):

      H(a, b) = (S[b] − S[a]) · B^(b-1),   S as in _kr_gram_hashes

    Empty spans hash to 0.  Equal character sequences hash equal by
    construction — the only property the prefilter below relies on."""
    import numpy as np

    m = len(codepoints)
    x = codepoints.astype(np.uint64, copy=False)
    invpow = np.cumprod(
        np.full(m, _KR_BASE_INV, dtype=np.uint64), dtype=np.uint64
    )
    invpow = np.concatenate(([np.uint64(1)], invpow[:-1]))
    s = np.concatenate(
        ([np.uint64(0)], np.cumsum(x * invpow, dtype=np.uint64))
    )
    pw = np.cumprod(np.full(m, KR_BASE, dtype=np.uint64), dtype=np.uint64)
    pw = np.concatenate(([np.uint64(1)], pw[:-1]))
    a = np.asarray(starts, dtype=np.int64)
    b = np.asarray(ends, dtype=np.int64)
    nonempty = b > a
    out = np.zeros(len(a), dtype=np.uint64)
    if nonempty.any():
        an, bn = a[nonempty], b[nonempty]
        out[nonempty] = (s[bn] - s[an]) * pw[bn - 1]
    return out


def _gram_hash_rows_rolling(
    base: DataFrame, min_len: int, sep: str, id_col: str
) -> DataFrame:
    """(id, pos, gh) for every ``min_len``-token window — the ExactSubstr
    gram-hash stage as an Arrow-batched rolling-hash kernel.

    The JVM form pays one ``concat_ws`` materialization of ~min_len
    tokens PLUS one xxhash64 per position — the round-9 measurement
    attributed the bulk of the sf10 build to exactly this projection
    (and round 10's Bloom-prefilter retirement showed recomputing it
    even once more doubles the stage).  Here each document's tokens
    join into ONE codepoint stream (utf-32 decode at C speed) and all
    window hashes come from the exact inverse-power prefix trick —
    no per-position substring ever exists, the winnow-rolling-kernel
    precedent applied to token grams.

    Result-preserving BY CONSTRUCTION: downstream, gh is only a
    candidate prefilter (occurrence identity and keep-first policy are
    decided on exact verified gram TEXT), and equal token windows have
    equal joined text, hence equal rolling hash — so any hash family
    yields the same verified positions, spans, and outputs (parity
    pytest-pinned across families)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    id_field = base.schema[id_col]
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("pos", T.IntegerType(), False),
            T.StructField("gh", T.LongType(), False),
        ]
    )
    sep_len = len(sep)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, poss, ghs = [], [], []
            for did, toks in zip(pdf[id_col], pdf["_arr"]):
                if toks is None:
                    continue
                toks = list(toks)
                n = len(toks)
                if n < min_len:
                    continue
                joined = sep.join(toks)
                cps = np.frombuffer(
                    joined.encode("utf-32-le"), dtype="<u4"
                ).astype(np.uint64)
                lens = np.fromiter(
                    (len(t) for t in toks), dtype=np.int64, count=n
                )
                starts = np.zeros(n + 1, dtype=np.int64)
                np.cumsum(lens + sep_len, out=starts[1:])
                p = np.arange(n - min_len + 1)
                gh = _kr_span_hashes(
                    cps, starts[p], starts[p + min_len] - sep_len
                )
                ids.append(np.full(len(p), did))
                poss.append(p)
                ghs.append(gh.view(np.int64))
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(ids),
                        "pos": np.concatenate(poss).astype(np.int32),
                        "gh": np.concatenate(ghs),
                    }
                )

    return base.select(id_col, "_arr").mapInPandas(run, out_schema)


def _gram_hash_rows(
    base: DataFrame,
    min_len: int,
    sep: str,
    id_col: str,
    gram_stage: str,
) -> DataFrame:
    """Dispatch the ExactSubstr gram-hash stage: ``"rolling"`` (default;
    the Arrow kernel above) or ``"jvm"`` (per-position concat_ws +
    xxhash64 HOFs — the pre-round-11 path, kept for Arrow-less
    environments and as the parity A/B leg)."""
    if gram_stage == "rolling":
        return _gram_hash_rows_rolling(base, min_len, sep, id_col)
    if gram_stage != "jvm":
        raise ValueError(
            f"unknown gram_stage {gram_stage!r} (use 'rolling' or 'jvm')"
        )

    def _gram(i):
        return F.struct(
            i.alias("pos"),
            F.xxhash64(
                F.concat_ws(sep, F.slice(F.col("_arr"), i + 1, min_len))
            ).alias("gh"),
        )

    return base.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("_arr") >= min_len,
                F.transform(
                    F.sequence(F.lit(0), F.size("_arr") - min_len), _gram
                ),
            ).otherwise(F.array().cast("array<struct<pos:int,gh:bigint>>"))
        ).alias("_g"),
    ).select(id_col, F.col("_g.pos").alias("pos"), F.col("_g.gh").alias("gh"))


def winnow_fingerprints_rolling(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    kgram: int = 8,
    window: int = 16,
) -> DataFrame:
    """Winnowing fingerprints with a ROLLING Karp-Rabin digest computed
    in an Arrow-batched ``mapInPandas`` kernel — the throughput family
    for the fingerprint stage.

    Why a third family: the JVM-HOF form
    (:func:`winnow_fingerprints`) pays one SUBSTRING materialization
    per k-gram position plus one ``slice`` array per window — the
    round-10 sf10 measurement put the fingerprint stage at 55-66 s with
    the digest swap (md5→xxhash64) buying only ~1.15×, i.e. the cost IS
    the per-position k-gram extraction, not the hash.  A rolling hash
    never materializes grams at all: the whole document becomes one
    numpy codepoint array (utf-32 decode, C speed) and every stage —
    gram hashes, sliding-window minima, distinct — is a vectorized
    pass.  Python enters once per ARROW BATCH (thousands of docs), the
    multimodal-kernel precedent.

    Same winnowing guarantee (the scheme is digest-agnostic): any
    shared substring of length >= kgram + window − 1 still yields a
    shared fingerprint.  Digests differ from the md5/xxhash families by
    construction, so cross-family fingerprints never mix; the oracle is
    the pure-Python replica (sources/demo_oracle_pipeline.py), exact to
    the bit because BOTH sides normalize in Python (strip(' ').lower())
    and wrap mod 2^64.

    Output: one (id, fp) row per distinct fingerprint per document —
    fp is the uint64 digest reinterpreted as signed int64.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    id_field = docs.schema[id_col]
    out_schema = T.StructType(
        [id_field, T.StructField("fp", T.LongType(), False)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                norm = str(text).strip(" ").lower()
                cps = np.frombuffer(
                    norm.encode("utf-32-le"), dtype="<u4"
                ).astype(np.uint64)
                h = _kr_gram_hashes(cps, kgram)
                if len(h) <= window:
                    mins = h.min(keepdims=True)
                else:
                    mins = np.lib.stride_tricks.sliding_window_view(
                        h, window
                    ).min(axis=1)
                u = np.unique(mins)
                ids.append(np.full(len(u), did))
                fps.append(u.view(np.int64))  # two's-complement reinterpret
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(ids),
                        "fp": np.concatenate(fps),
                    }
                )

    # digest CPU per input byte is extreme (the _spread rationale):
    # parallelize the scan before the kernel, prune to the two columns
    return _spread(docs.select(id_col, text_col)).mapInPandas(
        run, out_schema
    )


def winnow_passage_overlap(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    kgram: int = 8,
    window: int = 16,
    min_shared: int = 2,
    max_fp_df: int | None = None,
    base_hash: str = "md5",
) -> DataFrame:
    """Passage-level duplicate detection: document pairs sharing >=
    ``min_shared`` winnowing fingerprints (i.e. pairs containing a common
    substring run of length >= kgram + window - 1, by the winnowing
    guarantee).  This is MOSS's pair-scoring step on top of
    :func:`winnow_fingerprints`.

    Scale shape: fingerprint inverted-index equi-join — pairs meet only
    on fingerprints they share, so the shuffle is O(total fingerprint
    occurrences), never O(n²) pairs.  ``max_fp_df`` is the skew valve:
    a fingerprint present in more than that many documents fans out to
    df² pairs while carrying almost no passage signal (it is boilerplate
    by definition) — drop it, exactly like ``max_shingle_df`` on the
    Jaccard path.  Sizes (and the resemblance denominator) are computed
    AFTER the cap so the metric is consistent with the candidate space.

    Output: (id_a < id_b, shared_fps, resemblance) where resemblance is
    |A∩B| / |A∪B| over (capped) fingerprint sets, rounded to 6 digits.
    """
    fps = winnow_fingerprints(docs, text_col, id_col, kgram, window, base_hash)
    if max_fp_df is not None:
        # window-based cap on the fp-partitioned shuffle: one Exchange(fp)
        # that every consumer below shares via ReuseExchange, instead of a
        # groupBy + semi-join that would re-run the whole winnowing hash
        # pipeline for the aggregate side
        fps = (
            fps.withColumn(
                "_df", F.count("*").over(Window.partitionBy("fp"))
            )
            .filter(F.col("_df") <= max_fp_df)
            .drop("_df")
        )
    sizes = fps.groupBy(id_col).agg(F.count("*").alias("n"))
    # alias self-join on the SAME plan → identical Exchange(fp) subtrees →
    # the md5 winnowing runs once; the second side (and the sizes agg)
    # read the reused shuffle files
    inter = (
        fps.alias("L")
        .join(fps.alias("R"), F.col("L.fp") == F.col("R.fp"))
        .filter(F.col(f"L.{id_col}") < F.col(f"R.{id_col}"))
        .groupBy(
            F.col(f"L.{id_col}").alias("id_a"),
            F.col(f"R.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "shared_fps",
            F.round(
                F.col("shared_fps")
                / (F.col("n_a") + F.col("n_b") - F.col("shared_fps")),
                6,
            ).alias("resemblance"),
        )
    )


def minhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.8,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline: near-dup pairs with exact Jaccard."""
    rows = num_hashes // num_bands
    sigs = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_k, base_hash)
    cands = minhash_lsh_candidates(sigs, id_col, num_bands, rows)
    return ngram_jaccard_pairs(docs, cands, text_col, id_col, shingle_k, threshold)


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per bit, sum +1/−1 of token
    hashes' bit values; sign → bit.  One explode + one groupBy with
    ``bits`` agg expressions (map-side combinable).

    ``base_hash='md5'`` derives each bit from the portable base hash via
    the affine family (bit_i = h_i(tok) mod 2) instead of xxhash64's raw
    bits — an equally valid ±1 hash family that a SQL oracle can
    recompute exactly."""
    tok = _explode_parallel(
        _spread(docs), [F.col(id_col)], tokens(text_col), "tok"
    )
    # All per-bit expressions are built as F.expr SQL parses rather than
    # Column-algebra loops: 64 aggs + the 64-term signature fold cost
    # 700+ py4j round trips the old way (measured 1-12 s of pure driver
    # chatter per construction under this sandbox's py4j latency, the
    # dominant cost of the whole catalog entry); a parse is one round
    # trip and the fold is ONE parse.  Parenthesization matches Python
    # operator precedence exactly, so the expression trees are identical
    # (plan-pinned byte-identical modulo IDs in plans/r11).
    # `sum(terms, zero)` in the old code folded left starting at the
    # zero literal — the `0L + ...` prefix reproduces that tree.
    fold = F.expr(
        "CAST(0 AS BIGINT) + "
        + " + ".join(
            # shiftleft stays JVM-side and wraps at bit 63 like Rust's i64
            f"CASE WHEN b{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i})"
            f" ELSE CAST(0 AS BIGINT) END"
            for i in range(bits)
        )
    ).alias("simhash")
    if base_hash == "md5":
        fam = _hash_family(bits)
        h = tok.withColumn(
            "hm", portable_base_hash(F.col("tok")) % MERSENNE_P
        )
        aggs = [
            F.expr(
                f"sum(CASE WHEN ((hm * {a} + {b}) % {MERSENNE_P}) % 2 = 1"
                f" THEN 1 ELSE -1 END)"
            ).alias(f"b{i}")
            for i, (a, b) in enumerate(fam)
        ]
        per_bit = h.groupBy(id_col).agg(*aggs)
        return per_bit.select(id_col, fold)
    h = tok.withColumn("th", F.xxhash64("tok"))
    aggs = [
        F.expr(
            f"sum(CASE WHEN (shiftright(th, {i}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    per_bit = h.groupBy(id_col).agg(*aggs)
    return per_bit.select(id_col, fold)


def simhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    base_hash: str = "xxhash64",
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming, using the
    4×16-bit chunk pigeonhole: pairs within distance 3 share at least one
    of four 16-bit chunks → equi-join per chunk, then exact popcount.

    ``hot_bucket_cap`` is the same mass-duplication valve as
    :func:`minhash_lsh_candidates`: a chunk bucket with n members emits
    n(n-1)/2 join rows, and identical texts land every copy in all four
    of the same buckets.  Above the cap a bucket emits a STAR to its
    min-id representative; star edges still pass the exact popcount, and
    for identical texts (hamming 0 to the representative) transitive
    clusters are unchanged.  Default None = exact enumeration (the
    oracle-hashed catalog setting)."""
    from ..cache import tracked_persist

    # lazy persist of the NARROW signature table (id + one int64/doc,
    # round 12, guide §7.2): the chunk self-join below references sig on
    # both sides, and the token explode + 64-agg chain above it never
    # canonicalizes (lambda Generate) so no Exchange is reused — without
    # the cache the whole signature stage executed twice per action.
    # Interleaved A/B: sf1 2.23-2.49 -> 1.71-1.80 s (-25%), sf0.1
    # non-negative; row parity exact.  The minhash analog (persisting
    # the 64-long signatures ahead of the band self-join) measured a
    # WASH at both SFs and stays out — its verify stage, not the
    # signature chain, dominates.  Released by the harness's
    # release_persisted(), recomputable from lineage on executor loss.
    sig = tracked_persist(simhash(docs, text_col, id_col, base_hash=base_hash))
    chunks = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftright("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk_id", "c.chunk")
    if hot_bucket_cap is None:
        a, b = chunks.alias("a"), chunks.alias("b")
        cand = (
            a.join(b, ["chunk_id", "chunk"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.simhash").alias("sig_a"),
                F.col("b.simhash").alias("sig_b"),
            )
        )
    else:
        sizes = chunks.groupBy("chunk_id", "chunk").agg(
            F.count("*").alias("_bn"),
            F.min_by(F.struct(F.col(id_col), "simhash"), F.col(id_col)).alias(
                "_rep"
            ),
        )
        sized = chunks.join(sizes, ["chunk_id", "chunk"])
        small = sized.filter(F.col("_bn") <= hot_bucket_cap)
        a, b = small.alias("a"), small.alias("b")
        exact_pairs = (
            a.join(b, ["chunk_id", "chunk"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.simhash").alias("sig_a"),
                F.col("b.simhash").alias("sig_b"),
            )
        )
        star_pairs = (
            sized.filter(
                (F.col("_bn") > hot_bucket_cap)
                & (F.col(id_col) > F.col(f"_rep.{id_col}"))
            )
            .select(
                F.col(f"_rep.{id_col}").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.col("_rep.simhash").alias("sig_a"),
                F.col("simhash").alias("sig_b"),
            )
        )
        cand = exact_pairs.unionByName(star_pairs)
    return (
        cand.distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def edit_distance_near_duplicates(
    docs: DataFrame,
    prefix_len: int = 200,
    max_dist: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    collapse_identical_prefix: bool = False,
    hot_block_cap: int | None = None,
) -> DataFrame:
    """Edit-distance near-dup pairs ``(id_a < id_b, dist)`` over bounded
    document prefixes: multi-key blocking (length-bucket × first-word
    and length-bucket × tail-20-chars-of-prefix, unioned) keeps the
    candidate space an EQUI-join, and the banded 3-arg ``levenshtein``
    DP (O(n·d), short-circuits past ``max_dist``) runs only on blocked
    pairs.

    Two corpus-scale valves, both default-off (the catalog oracle
    hashes the exact all-pairs setting):

    ``collapse_identical_prefix=True`` — a document duplicated n times
    puts n identical prefixes in one block: n(n-1)/2 zero-distance DP
    pairs (~5·10^11 rows for one boilerplate text duplicated 1 M
    times).  Docs are grouped by the exact compared key (prefix,
    length-bucket, first-word) first; each group emits a dist-0 STAR to
    its min-id representative, and the blocking + DP run on
    representatives only.  Unlike the LSH star caps this is
    CLUSTER-EXACT unconditionally: every blocking key and the DP input
    are functions of the group key, so a cross-group member pair exists
    in the full output iff the representative pair does, at the same
    distance — the star output connects exactly the components the full
    pair set connects.

    ``hot_block_cap`` — blocks with more members than the cap (after
    collapsing, when enabled) are DROPPED from candidate generation:
    classic block purging, an explicit documented recall trade for
    blocks too coarse to pair (e.g. every same-length doc starting with
    "the"), mirroring ``max_shingle_df`` on the Jaccard path.  Pairs
    sharing a surviving second key still pair.
    """
    d = docs.select(
        F.col(id_col).alias("_id"),
        F.substring(F.col(text_col), 1, prefix_len).alias("p"),
        F.floor(F.length(text_col) / 50).cast("int").alias("lb"),
        F.split_part(F.trim(F.col(text_col)), F.lit(" "), F.lit(1)).alias("w1"),
    )
    stars = None
    if collapse_identical_prefix:
        groups = d.groupBy("p", "lb", "w1").agg(F.min("_id").alias("_rep"))
        stars = (
            d.join(groups, ["p", "lb", "w1"])
            .filter(F.col("_id") > F.col("_rep"))
            .select(
                F.col("_rep").alias("id_a"),
                F.col("_id").alias("id_b"),
                F.lit(0).cast("int").alias("dist"),
            )
        )
        d = groups.select(F.col("_rep").alias("_id"), "p", "lb", "w1")
    tail = F.substring(F.col("p"), F.greatest(F.length("p") - 19, F.lit(1)), 20)
    keys = (
        d.select("_id", "p", "lb", F.col("w1").alias("bk"))
        .union(d.select("_id", "p", "lb", tail.alias("bk")))
        .distinct()
    )
    if hot_block_cap is not None:
        bn = keys.groupBy("lb", "bk").agg(F.count("*").alias("_bn"))
        keys = keys.join(
            bn.filter(F.col("_bn") <= hot_block_cap).select("lb", "bk"),
            ["lb", "bk"],
        )
    a = keys.select(F.col("_id").alias("id_a"), F.col("p").alias("pa"), "lb", "bk")
    b = keys.select(F.col("_id").alias("id_b"), F.col("p").alias("pb"), "lb", "bk")
    cand = (
        a.join(b, ["lb", "bk"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length-difference lower bound: |len(a)-len(b)| ≤ d is
            # necessary for distance ≤ d — kills most pairs pre-DP
            & (F.abs(F.length("pa") - F.length("pb")) <= max_dist)
        )
        .select("id_a", "id_b", "pa", "pb")
        .distinct()
    )
    pairs = (
        cand.withColumn("dist", F.levenshtein("pa", "pb", max_dist).cast("int"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("id_a", "id_b", "dist")
    )
    if stars is not None:
        pairs = pairs.unionByName(stars)
    return pairs


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per training doc, count distinct
    ``shingle_k``-gram shingles it shares with ANY benchmark document
    (the GPT-3-style n-gram overlap check; a nonzero count marks the doc
    for removal before training so eval sets stay unseen).

    Returns ``(id_col, n_shared)`` for contaminated docs only.

    Scale: the benchmark side is eval data — thousands of docs, not the
    corpus — so its distinct shingle set broadcasts; the training corpus
    streams through one explode + broadcast hash join + one groupBy on
    ``id_col`` (map-side combine).  The corpus is scanned once and never
    shuffled on the shingle key.
    """
    bench_sh = (
        _explode_parallel(
            _spread(benchmark),
            [],
            F.array_distinct(shingles(text_col, shingle_k)),
            "shingle",
        )
        .select("shingle")
        .distinct()
    )
    train_sh = _explode_parallel(
        _spread(train),
        [F.col(id_col)],
        F.array_distinct(shingles(text_col, shingle_k)),
        "shingle",
    )
    return (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )


def rowwise_minhash_bands(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    rows_per_band: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-row minhash band signatures with NO shuffle — higher-order
    functions only.  The streaming form of :func:`minhash_signatures`:
    a stateless projection ahead of the keyed-state dup detector
    (streaming/aggregations.streaming_near_dup), where the batch
    explode+groupBy shape would add a second stateful operator to the
    stream.  Same md5-fold hash family, permutations, and banding as
    the batch path, so a SQL twin reproduces every signature.

    Output: one row per (id, band_id, band_sig).
    """
    fam = _hash_family(num_hashes)
    sh = shingles(text_col, shingle_k)
    # separate projection: the num_hashes array_min consumers reference
    # the hashed shingle array as an attribute, so the md5 fold runs
    # once per shingle (the winnow_fingerprints codegen-trap pattern)
    hashed = docs.select(
        F.col(id_col),
        F.transform(sh, lambda s: portable_base_hash(s) % MERSENNE_P).alias(
            "_hm"
        ),
    )
    def _perm(a: int, b: int):
        return lambda h: (h * a + b) % MERSENNE_P

    mins = [
        F.array_min(F.transform(F.col("_hm"), _perm(a, b))).alias(f"_mh{i}")
        for i, (a, b) in enumerate(fam)
    ]
    sigs = hashed.select(id_col, *mins)
    bands = num_hashes // rows_per_band
    rows = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band_id"),
                F.concat_ws(
                    ":",
                    *[
                        F.col(f"_mh{b * rows_per_band + j}").cast("string")
                        for j in range(rows_per_band)
                    ],
                ).alias("band_sig"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(rows).alias("_b")).select(
        id_col, F.col("_b.band_id").alias("band_id"), F.col("_b.band_sig").alias("band_sig")
    )


def boilerplate_line_removal(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    max_df: int = 2,
) -> DataFrame:
    """C4-style boilerplate removal (Raffel et al. 2020 §2.2, public
    method): a line that occurs in MORE than ``max_df`` distinct
    documents is boilerplate (nav menus, cookie banners, license
    headers) and is dropped from every document.

    Scale shape: one explode + two-level distinct-count agg builds the
    corpus line-frequency table (map-side combined); only lines above
    the threshold survive — a set small enough to broadcast (the whole
    point of a frequency threshold), so the removal itself is a
    broadcast anti-join + per-doc reassembly.  The per-doc collect_list
    is bounded by lines-per-document, a document-size bound, never a
    corpus bound.

    ``sep`` is a LITERAL separator (escaped before Spark's regex split,
    so it always matches the SQL twin's string_split).  Output: (id,
    clean_text, n_kept, n_removed); documents whose every line was
    boilerplate drop out entirely (nothing left to emit).
    """
    from ..sources.tables import maybe_broadcast

    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias("ord", "line"),
    )
    bp = (
        lines.groupBy("line")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") > max_df)
        .select("line")
    )
    kept = lines.join(maybe_broadcast(bp), "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ord", "line"))),
                lambda x: x["line"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count("*").alias("_n_lines"))
    return (
        rebuilt.join(totals, id_col)
        .select(
            id_col,
            "clean_text",
            "n_kept",
            (F.col("_n_lines") - F.col("n_kept")).alias("n_removed"),
        )
    )


def boilerplate_line_removal_sql(
    table: str,
    sep: str,
    max_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`boilerplate_line_removal` (literal-split
    ``sep``; ordinality replaces posexplode for reassembly order)."""
    sep = sep.replace("'", "''")  # SQL string-literal escape
    return f"""
    WITH lines AS (
      SELECT {id_col},
             unnest(string_split({text_col}, '{sep}')) AS line,
             generate_subscripts(string_split({text_col}, '{sep}'), 1) AS ord
      FROM {table}
    ),
    bp AS (
      SELECT line FROM (
        SELECT line, count(DISTINCT {id_col}) AS df FROM lines GROUP BY 1
      ) WHERE df > {max_df}
    ),
    kept AS (
      SELECT l.{id_col}, l.line, l.ord
      FROM lines l LEFT JOIN bp ON bp.line = l.line
      WHERE bp.line IS NULL
    ),
    totals AS (SELECT {id_col}, count(*) AS n_lines FROM lines GROUP BY 1)
    SELECT k.{id_col} AS {id_col},
           string_agg(k.line, '{sep}' ORDER BY k.ord) AS clean_text,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(any_value(t.n_lines) - count(*) AS BIGINT) AS n_removed
    FROM kept k JOIN totals t ON t.{id_col} = k.{id_col}
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# Segment-level exact dedup: paragraph keep-first + ExactSubstr spans
# ---------------------------------------------------------------------------

#: positions-per-document bound for the scalar (doc, pos) order key used
#: by the segment/substring dedup ops.  Documents longer than this many
#: segments/tokens would alias order keys; 10^6 tokens ≈ 4 MB of text,
#: far past any pretraining document.  int64 headroom: doc_id up to
#: ~9.2e12 still fits (1e6 × 9.2e12 < 2^63).
POSITIONS_PER_DOC = 1_000_000


def _pos_key(id_col: str, pos_col: str):
    # cast BEFORE multiplying: an IntegerType id overflows int32 at
    # doc_id >= 2148 (ANSI raises; legacy silently wraps and corrupts
    # the keep-first order) — the int64-headroom argument above only
    # holds when the arithmetic runs in long
    return F.col(id_col).cast("long") * POSITIONS_PER_DOC + F.col(pos_col)


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide exact paragraph dedup, keep-first (the MassiveText
    recipe, Rae et al. 2021 arXiv:2112.11446 §A1.2: exact duplicate
    *segments* are removed, one occurrence survives).

    Differs from :func:`boilerplate_line_removal` (C4) in both rule and
    shape: C4 drops a frequent line EVERYWHERE (a document-frequency
    threshold, small-set broadcast); here every distinct segment keeps
    exactly its first occurrence — ordered by (doc_id, position) — and
    later copies are removed, so the decision set is the full distinct
    segment table and must stay distributed.

    Shuffle shape: the corpus-wide first occurrence is a
    ``groupBy(seg).agg(min)`` — map-side combined, so the shuffled
    decision table carries one row per DISTINCT segment — joined back to
    the exploded lines.  A window over ``partitionBy(seg)`` would be one
    shuffle cheaper, but a hot segment (the exact thing this operator
    exists to remove — a banner in half the corpus) becomes one giant
    un-splittable window sort; the agg+join shape keeps the hot key in
    a sort-merge join that AQE's skew split CAN divide.  Reassembly is
    per-document (bounded by document size).  Documents whose every
    segment was seen earlier disappear from the output entirely (the
    document-level signal a curation pipeline wants).

    Output: (id, clean_text, n_kept, n_removed).
    """
    lines = _spread(docs).select(
        F.col(id_col),
        # sep is LITERAL: escape before the regex split so 'sep=\'|\''
        # cannot degenerate to per-character segments (and so the SQL
        # twin's literal string_split splits identically)
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias("ord", "seg"),
    ).withColumn("_pk", _pos_key(id_col, "ord"))
    firsts = lines.groupBy("seg").agg(F.min("_pk").alias("_first"))
    kept = lines.join(firsts, "seg").filter(F.col("_pk") == F.col("_first"))
    totals = lines.groupBy(id_col).agg(F.count("*").alias("_n_segs"))
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ord", "seg"))),
                lambda x: x["seg"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    return rebuilt.join(totals, id_col).select(
        id_col,
        "clean_text",
        "n_kept",
        (F.col("_n_segs") - F.col("n_kept")).alias("n_removed"),
    )


def paragraph_dedup_sql(
    table: str,
    sep: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`paragraph_dedup` (literal-split ``sep``)."""
    sep = sep.replace("'", "''")  # SQL string-literal escape
    return f"""
    WITH segs AS (
      SELECT {id_col},
             unnest(string_split({text_col}, '{sep}')) AS seg,
             generate_subscripts(string_split({text_col}, '{sep}'), 1) - 1 AS ord
      FROM {table}
    ),
    keyed AS (
      SELECT {id_col}, seg, ord,
             CAST({id_col} AS BIGINT) * {POSITIONS_PER_DOC} + ord AS pk,
             min(CAST({id_col} AS BIGINT) * {POSITIONS_PER_DOC} + ord)
               OVER (PARTITION BY seg) AS first_pk
      FROM segs
    ),
    totals AS (SELECT {id_col}, count(*) AS n_segs FROM segs GROUP BY 1)
    SELECT k.{id_col} AS {id_col},
           string_agg(k.seg, '{sep}' ORDER BY k.ord) AS clean_text,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(any_value(t.n_segs) - count(*) AS BIGINT) AS n_removed
    FROM keyed k JOIN totals t ON t.{id_col} = k.{id_col}
    WHERE k.pk = k.first_pk
    GROUP BY 1
    """


def exact_substring_dedup(
    docs: DataFrame,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = " ",
    gram_stage: str = "rolling",
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022, arXiv:2107.06499 §4.1,
    public method): remove every token span that repeats elsewhere in
    the corpus at length ≥ ``min_len`` tokens, keeping the corpus-wide
    first occurrence of each repeated window.

    The paper builds a suffix array — inherently sequential and
    single-machine.  The Spark-native equivalent: every length-
    ``min_len`` sliding token window is an occurrence; a window whose
    text occurs more than once is duplicated, and all its occurrences
    EXCEPT the global (doc_id, pos)-first are marked.  Marked windows
    merge into maximal spans per document (classic gaps-and-islands),
    and covered tokens are cut.  Any repeated substring of length
    ≥ min_len contains a repeated min_len-window at every offset, so
    marked-window union == the paper's "duplicated span ≥ min_len"
    (modulo the keep-first exemption, which the paper leaves as a
    free policy choice).

    Semantics note (round 6): the COVERAGE this computes is exact, but
    the merged spans lose repeat STRUCTURE — two overlapping distinct
    repeats collapse into one span whose full text may occur nowhere
    else, and the per-WINDOW keep-first exemption may preserve a
    repeat's windows scattered across documents rather than one
    contiguous copy.  :func:`exact_substring_maximal` enumerates the
    true suffix-array-semantics maximal repeats when the structure
    itself matters (auditing before cutting, choosing a keep policy).

    Scale shape — the full-volume stages never shuffle text:
    1. gram hashing is a JVM HOF projection (no explode of gram TEXT);
       the corpus-wide shuffle carries (hash, pos_key) = 16 bytes per
       token, regardless of min_len;
    2. only occurrences whose HASH collides (count > 1) re-derive their
       gram text (a join back to the token arrays, candidate volume
       only) and are verified by exact text equality — hash collisions
       cannot create false spans;
    3. interval merge is windowed per document; reassembly is a
       higher-order filter over the token array (document-bounded).

    Output: one row per input document — (id, clean_text, n_tokens,
    removed_tokens, n_spans); untouched documents pass through with
    n_spans = 0.
    """
    arr = F.split(F.col(text_col), re.escape(sep))  # sep is LITERAL
    base = _spread(docs).select(F.col(id_col), arr.alias("_arr"))
    occ = _gram_hash_rows(base, min_len, sep, id_col, gram_stage)

    # stage 1: hash-level candidates.  groupBy+join rather than a
    # count-over-window: the gram frequency table is map-side combined
    # (one row per distinct hash through the exchange), and a HOT gram —
    # a boilerplate sentence in half the corpus — lands in a sort-merge
    # join that AQE's skew split can divide, instead of one giant
    # un-splittable window partition.
    hot = occ.groupBy("gh").agg(F.count("*").alias("_c")).filter(
        F.col("_c") > 1
    )
    cand = occ.join(hot.select("gh"), "gh").drop("gh")
    # stage 2: exact-text verification on candidates only (same shape).
    # withtext feeds BOTH the gtext stats aggregate and the dups join
    # below; without a cache boundary each consumer re-runs the whole
    # corpus-volume chain above it (scan → split → gram kernel ×2 →
    # candidate join — zero ReusedExchange: the hot side broadcasts, so
    # no exchange is shared).  The lazy persist is candidate-volume
    # only ((id, pos, gtext): duplication mass × min_len tokens, spills
    # via MEMORY_AND_DISK) and is released by the harness's
    # release_persisted(); measured 10.7 → 5.9 s median at sf1
    # (OPTIMIZATION_r11.md — persisting cand as well, or the keep-one
    # analog, measured NEGATIVE and stays out).
    from ..cache import tracked_persist

    withtext = tracked_persist(
        cand.join(base, id_col)
        .select(
            F.col(id_col),
            "pos",
            F.concat_ws(
                sep, F.slice(F.col("_arr"), F.col("pos") + 1, min_len)
            ).alias("gtext"),
        )
        .withColumn("_pk", _pos_key(id_col, "pos"))
    )
    tstats = withtext.groupBy("gtext").agg(
        F.count("*").alias("_n"), F.min("_pk").alias("_first")
    )
    dups = (
        withtext.join(tstats, "gtext")
        .filter((F.col("_n") > 1) & (F.col("_pk") != F.col("_first")))
        .select(id_col, "pos", (F.col("pos") + min_len).alias("end"))
    )
    # stage 3: merge overlapping windows into maximal spans per document
    wd = Window.partitionBy(id_col).orderBy("pos")
    prev_max = F.max("end").over(wd.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        dups.withColumn(
            "_new", (prev_max.isNull() | (F.col("pos") > prev_max)).cast("int")
        )
        .withColumn(
            "_island",
            F.sum("_new").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "_island")
        .agg(F.min("pos").alias("s"), F.max("end").alias("e"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("_ivs"))
    )

    def _keep(tok):
        return ~F.exists(
            "_ivs", lambda v: (tok["i"] >= v["s"]) & (tok["i"] < v["e"])
        )

    idxed = F.transform(
        F.col("_arr"), lambda x, i: F.struct(i.alias("i"), x.alias("t"))
    )
    kept = F.filter(idxed, _keep)
    return (
        base.join(islands, id_col, "left")
        .withColumn("_ivs", F.coalesce(F.col("_ivs"), F.array()))
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(kept, lambda s: s["t"]), sep
            ).alias("clean_text"),
            F.size("_arr").cast("long").alias("n_tokens"),
            (F.size("_arr") - F.size(kept)).cast("long").alias("removed_tokens"),
            F.size("_ivs").cast("long").alias("n_spans"),
        )
    )


def exact_substring_dedup_sql(
    table: str,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = " ",
) -> str:
    """DuckDB twin of :func:`exact_substring_dedup`.

    The twin groups windows by gram TEXT directly (the single-node
    luxury); the Spark path's hash-prefilter + text-verify reaches the
    same duplicate set because verification is exact string equality —
    collisions only ever ADD candidates to re-check, never results.
    """
    sep = sep.replace("'", "''")  # SQL string-literal escape
    return f"""
    WITH arrs AS (
      SELECT {id_col}, string_split({text_col}, '{sep}') AS arr
      FROM {table}
    ),
    grams AS (
      SELECT {id_col},
             unnest([{{'pos': i - 1,
                       'g': array_to_string(arr[i : i + {min_len} - 1], '{sep}')}}
                     for i in generate_series(1, greatest(len(arr) - {min_len} + 1, 0))]) AS gr
      FROM arrs
    ),
    keyed AS (
      SELECT {id_col}, gr.pos AS pos, gr.g AS g,
             CAST({id_col} AS BIGINT) * {POSITIONS_PER_DOC} + gr.pos AS pk
      FROM grams
    ),
    marked AS (
      SELECT *,
             count(*) OVER (PARTITION BY g) AS n,
             min(pk) OVER (PARTITION BY g) AS first_pk
      FROM keyed
    ),
    dups AS (
      SELECT {id_col}, pos, pos + {min_len} AS e
      FROM marked WHERE n > 1 AND pk <> first_pk
    ),
    flagged AS (
      SELECT {id_col}, pos, e,
             CASE WHEN max(e) OVER (PARTITION BY {id_col} ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL
                  OR pos > max(e) OVER (PARTITION BY {id_col} ORDER BY pos
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM dups
    ),
    islands AS (
      SELECT {id_col}, pos, e,
             sum(new_island) OVER (PARTITION BY {id_col} ORDER BY pos
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    merged AS (
      SELECT {id_col}, min(pos) AS s, max(e) AS e
      FROM islands GROUP BY {id_col}, island
    ),
    toks AS (
      SELECT {id_col}, unnest(arr) AS tok,
             generate_subscripts(arr, 1) - 1 AS idx
      FROM arrs
    ),
    kept AS (
      SELECT t.{id_col}, t.tok, t.idx
      FROM toks t LEFT JOIN merged m
        ON m.{id_col} = t.{id_col} AND t.idx >= m.s AND t.idx < m.e
      WHERE m.s IS NULL
    ),
    kept_agg AS (
      SELECT {id_col}, string_agg(tok, '{sep}' ORDER BY idx) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY 1
    ),
    span_agg AS (
      SELECT {id_col}, count(*) AS n_spans FROM merged GROUP BY 1
    )
    SELECT a.{id_col} AS {id_col},
           coalesce(k.clean_text, '') AS clean_text,
           CAST(len(a.arr) AS BIGINT) AS n_tokens,
           CAST(len(a.arr) - coalesce(k.n_kept, 0) AS BIGINT) AS removed_tokens,
           CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans
    FROM arrs a
    LEFT JOIN kept_agg k ON k.{id_col} = a.{id_col}
    LEFT JOIN span_agg s ON s.{id_col} = a.{id_col}
    """


#: Cap on reported repeat length (tokens): the maximal-repeat operator
#: materializes each candidate's suffix up to this many tokens for the
#: lexicographic sort, so per-candidate shuffle bytes are bounded by
#: cap × token width.  A true repeat LONGER than the cap is still fully
#: covered, reported as a staircase of cap-length spans.  Default far
#: above the testdata's longest document; tune per corpus.
_MAXREP_CAP_DEFAULT = 1024

#: telemetry of the LAST prefix-doubling rank build in this process
#: (exact_substring_maximal_ranked stage 1): retained_positions (the
#: candidate-reachable subset actually ranked), horizon (retention
#: distance past the last candidate), rounds (doubling iterations —
#: each materializes one retained_positions-row level table).  Read by
#: the scale harness so BENCH artifacts carry the build's shape.
RANK_BUILD_TELEMETRY: dict[str, int] = {}


def _token_lcp(a, b):
    """Length of the common token prefix of two array<string> columns —
    a JVM fold over zip_with (no UDF).  ``zip_with`` pads the shorter
    side with nulls and ``eqNullSafe`` maps those pads to false, so the
    fold naturally stops at min(len)."""
    eq = F.zip_with(a, b, lambda x, y: x.eqNullSafe(y))
    return F.aggregate(
        eq,
        F.struct(F.lit(False).alias("done"), F.lit(0).alias("n")),
        lambda acc, x: F.when(
            acc["done"] | ~x, F.struct(F.lit(True).alias("done"), acc["n"].alias("n"))
        ).otherwise(
            F.struct(F.lit(False).alias("done"), (acc["n"] + 1).alias("n"))
        ),
        lambda acc: acc["n"],
    )


def _verified_repeat_starts(
    base: DataFrame,
    min_len: int,
    sep: str,
    id_col: str,
    gram_stage: str = "rolling",
) -> DataFrame:
    """Positions whose ``min_len``-gram occurs ≥ 2 times corpus-wide —
    the shared stage 1-2 of the maximal-repeat operators: xxhash64 gram
    prefilter (full-volume shuffle carries 16 B/token, never gram text)
    + exact-text verification on hash-colliding candidates only, WITHOUT
    any keep-first exemption.  ``base`` is (id, _arr).  Returns
    (id, pos).

    A Bloom-probe variant of the candidate join was built and measured
    in round 9 and RETIRED in round 10 (negative result, kept in
    COVERAGE.md): at sf10/min_len=20 it ran 138.0 s vs 69.4 s for this
    equi-join at identical output, because the stage's cost is
    dominated by COMPUTING the gram stream (a ~20-token concat_ws +
    xxhash64 per position), which a map-side probe evaluates a second
    time, while the equi-join computes it once and reuses the single
    gh exchange for both the occurs-twice aggregate and the candidate
    join (ReuseExchange, verified in the plan).  A Bloom prune only
    pays when the probe side is cheap to recompute or the filter
    replaces an unreusable shuffle — neither holds here.

    Round 11 then replaced the default GRAM-HASH projection itself —
    the cost the Bloom experiment identified — with the rolling
    Karp-Rabin kernel (:func:`_gram_hash_rows_rolling`),
    result-identical because gh is prefilter-only; ``gram_stage="jvm"``
    keeps the HOF path (parity A/B leg, Arrow-less environments)."""
    occ = _gram_hash_rows(base, min_len, sep, id_col, gram_stage)
    hot = (
        occ.groupBy("gh")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") > 1)
        .select("gh")
    )
    cand = occ.join(hot, "gh").drop("gh")
    # exact-text verification (hash collisions add candidates, never
    # results) on the SLIM gram text only — suffix payloads attach
    # after, so they never ride through the gtext self-join
    wg = cand.join(base, id_col).select(
        F.col(id_col),
        "pos",
        F.concat_ws(
            sep, F.slice(F.col("_arr"), F.col("pos") + 1, min_len)
        ).alias("gtext"),
    )
    return (
        wg.join(wg.groupBy("gtext").agg(F.count("*").alias("_n")), "gtext")
        .filter(F.col("_n") > 1)
        .select(id_col, "pos")
    )


def _lineage_cut(df: DataFrame) -> DataFrame:
    """Eager checkpoint for iterative operators (the clustering.py
    fixpoint pattern): reliable checkpoint when the caller configured a
    dir (cluster path), localCheckpoint otherwise (single-JVM path)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _parquet_cut(df: DataFrame, path: str) -> DataFrame:
    """Materialize ``df`` to parquet and read it back — the cut for
    tables an ITERATED SELF-JOIN rebuilds round over round.

    Why not :func:`_lineage_cut`: a checkpoint's LogicalRDD inherits its
    origin plan's ESTIMATED statistics, and join estimates are products
    — so round r+1's checkpoint carries ~stats(round r)², the
    sizeInBytes BigInt DOUBLES ITS DIGITS every round, and after a dozen
    rounds Catalyst's stats visitor (BigInt multiplies on every plan
    node) dominates wall time and OOMs small driver heaps.  Measured on
    the prefix-doubling rank build: rounds of an n=2082 corpus went
    0.7 s → 4.9 s → 32 s → 242 s before this cut, flat after.  The
    parquet read resets stats to the REAL file size (better planning)
    and is the shape a cluster job uses for iterative state anyway."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)

def exact_substring_maximal_ranked(
    docs: DataFrame,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = " ",
    checkpoint_positions_threshold: int = 16_000_000,
    gram_stage: str = "rolling",
) -> DataFrame:
    """UNCAPPED maximal corpus repeats ≥ ``min_len`` tokens — same
    output contract as :func:`exact_substring_maximal`, with suffix
    RANKS built by prefix doubling instead of materialized capped
    suffixes, so a repeat of ANY length is reported as one span (no
    ``cap``, no staircase).

    Algorithm (Manber–Myers prefix doubling, distributed):

    1. Prune the position table to the CANDIDATE-REACHABLE subset
       first: stages 2-3 only compare ranks at candidate starts and at
       forward probes c + acc + 2^i < c + 4*maxrep, and consecutive-
       candidate islands bound maxrep (a length-m repeat makes its
       first m - min_len + 1 positions candidates), so positions more
       than 4*(max island + min_len) past their preceding candidate are
       unreachable and every build round runs at duplication-rate
       volume instead of corpus volume.  Then level-0 ranks = dense
       index of distinct tokens; level i+1 ranks re-rank each position
       by (rank_i[p], rank_i[p+2^i] or -1) — the classic generalized-
       suffix-array construction over the corpus (suffixes never cross
       documents; positions are (doc, pos) keys, so no sentinel
       arithmetic).  A pruned right-edge partner reads as -1 (suffix
       end); the horizon guarantees such ranks are still prefix-correct
       for >= 2^i tokens at every offset a probe reaches.  Ranks are
       COMPETITION ranks (count of strictly-smaller prefixes), which
       are stable: a position whose group becomes a singleton holds
       its final suffix-order index forever, so each round FREEZES
       resolved positions and re-ranks only the still-tied ACTIVE set
       — bucket refinement (new rank = group rank + within-group
       offset) via one groupBy + one group-bounded window per round,
       no global re-sort and no per-round driver collect.  Rounds stop
       when the active set empties or at the refinement fixpoint.
       Shuffle volume: O(active_i) rows per round, each ~24 bytes,
       where active_0 = the pruned reachable set and active_i shrinks
       as prefixes resolve (geometric on low-duplication corpora;
       == n throughout only for a fully duplicated corpus).
    2. Candidate starts (same hash prefilter + exact verify as the
       capped path) join their final rank; final ranks are DISTINCT,
       so rank order == lexicographic suffix order.  Range-partition by
       rank, neighbor pairs from per-partition ``lead``, boundary rows
       (2 per partition) paired in one bounded window — the capped
       path's exact layout.
    3. Neighbor LCPs by descending through the retained level tables
       (each holds only that level's ACTIVE positions — two distinct
       equal-prefix positions are always both active, and a probe that
       misses the table is frozen/absent, i.e. correctly unequal):
       acc += 2^i when rank_i[a+acc] == rank_i[b+acc] (both present) —
       per level, two (doc, pos)-equi-joins at CANDIDATE volume, with
       a lineage cut per level.  Identical-suffix pairs (full-document
       duplicates) make the padded-prefix equality overshoot past the
       document end, where true LCP == suffix length — clamping EXT to
       the suffix length is exact.
    4. EXT = max(LCP prev, LCP next) ≥ min_len → intervals →
       per-document left-maximality filter, as in the capped path.

    Use this when repeats may exceed :data:`_MAXREP_CAP_DEFAULT`
    (dedup-before-train on corpora with whole-file duplication); the
    capped path stays the cheaper default when the cap provably bounds
    the corpus' repeat length.  At 100 TB: rank tables are
    (doc, pos, rank) triples at REACHABLE volume persisted per level —
    O(reachable × log maxrep) storage through the build (reachable
    scales with the duplication rate — 32% of positions on the
    duplication-heavy sf testdata), reclaimed when the harness's
    release_persisted() runs;
    the candidate stages are the capped path's, whose volume is the
    duplication rate.
    """
    import time as _time

    _t0 = _time.time()
    arr = F.split(F.col(text_col), re.escape(sep))  # sep is LITERAL
    base = _spread(docs).select(F.col(id_col), arr.alias("_arr"))

    from ..cache import tracked_persist

    basep = tracked_persist(base)
    cand = tracked_persist(
        _verified_repeat_starts(
            basep, min_len, sep, id_col, gram_stage
        ).withColumn("_pk", _pos_key(id_col, "pos"))
    )
    # bounded 0/1-row probe: a corpus with no verified repeat start has
    # nothing to rank — skip the iterative suffix-rank build entirely
    # (even the pruned build pays the corpus-volume prefilter pass,
    # exactly what an undeduplicated-corpus fast path must not pay)
    if cand.limit(1).count() == 0:
        return basep.limit(0).select(
            F.col(id_col),
            F.lit(0).cast("int").alias("s"),
            F.lit(0).cast("int").alias("e"),
            F.lit(0).cast("int").alias("rep_len"),
            F.lit("").alias("rep_text"),
        )

    # ---- stage 1: prefix-doubling rank tables over ALL positions ----
    import os
    import tempfile

    from ..cache import tracked_tmpdir

    # level tables are rebuilt by an iterated self-join: cut them with
    # parquet (stats reset — see _parquet_cut), NOT localCheckpoint.
    # The directory must outlive this call (the RETURNED plan reads the
    # last descend cut, and lazily-persisted intermediates recompute
    # from the level files on cache eviction), so it is tracked in the
    # cache registry and reclaimed by the harness's release_persisted()
    # once the result is materialized (~3 GB per sf10 invocation
    # otherwise, unbounded in a long-lived driver); process exit is the
    # backstop.
    tmpdir = tracked_tmpdir(
        tempfile.mkdtemp(prefix="spark_graft_maxrep_ranks_")
    )
    _cut_seq = [0]

    def _pcut(df):
        _cut_seq[0] += 1
        return _parquet_cut(df, os.path.join(tmpdir, f"cut{_cut_seq[0]}"))

    pos_tbl = basep.select(
        F.col(id_col), F.posexplode("_arr").alias("pos", "_tok")
    )

    # ---- candidate-reachable pruning (cuts the build constant) ----
    # Every position inside a repeat of length m (except the last
    # min_len-1) is itself a verified candidate start, so consecutive-
    # candidate ISLANDS bound the longest repeat: maxrep <= max island
    # length + min_len - 1.  The doubling recurrence and the LCP descend
    # only ever probe offsets FORWARD of a candidate — rank_{i+1}[p]
    # needs rank_i[p + 2^i], and descend probes c + acc with
    # acc + 2^i < 2^(L+1) <= 4*maxrep — so positions farther than
    # 4*(max island + min_len) past the last candidate at-or-before them
    # can never influence a comparison stages 2-3 read.  Prune them
    # BEFORE the build: every round's self-join + dense re-rank then
    # runs at reachable volume (the duplication rate), not corpus
    # volume.  Positions at a pruned right edge see their shifted
    # partner as -1 (as if the suffix ended); by the horizon bound their
    # ranks are still prefix-correct for at least 2^i tokens at every
    # offset a probe can reach, which is all stages 2-3 compare.
    cw = Window.partitionBy(id_col).orderBy("pos")
    cp = cand.select(F.col(id_col), "pos")
    isl = cp.withColumn(
        "_new",
        F.when(F.col("pos") - F.lag("pos").over(cw) == 1, 0).otherwise(1),
    ).withColumn(
        "_isl",
        F.sum("_new").over(cw.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # bounded 1-row probe: the corpus-wide longest candidate island
    maxrun = (
        isl.groupBy(id_col, "_isl")
        .agg(F.count("*").alias("_n"))
        .agg(F.max("_n"))
        .first()[0]
    )
    maxrep_bound = int(maxrun) + min_len  # > any repeat/identical-suffix len
    horizon = 4 * maxrep_bound
    flagged = pos_tbl.join(
        cp.withColumn("_c", F.lit(1)), [id_col, "pos"], "left"
    )
    lastc = F.last(
        F.when(F.col("_c").isNotNull(), F.col("pos")), ignorenulls=True
    ).over(cw.rowsBetween(Window.unboundedPreceding, 0))
    pos_tbl = tracked_persist(
        flagged.withColumn("_lc", lastc)
        .filter(
            F.col("_lc").isNotNull()
            & (F.col("pos") - F.col("_lc") <= F.lit(horizon))
        )
        .drop("_c", "_lc")
    )
    n_positions = pos_tbl.count()
    RANK_BUILD_TELEMETRY.clear()
    RANK_BUILD_TELEMETRY.update(
        {"retained_positions": n_positions, "horizon": horizon}
    )
    # cut strategy for the NON-compounding intermediates (dense-index
    # tables, LCP-descend chain — their stats only ADD per round, so
    # localCheckpoint is stats-safe): localCheckpoint blocks accumulate
    # in executor memory until the JVM's ContextCleaner gets to them,
    # and at sf10 (~10 rounds of 67M-row cuts) that produced GCLocker
    # thrash — measured 393.6 s vs 239.7 s with parquet cuts.  Below
    # the threshold the parquet round-trips cost more than they save
    # (sf1: 52.5 s localCheckpoint vs 64.1 s parquet), so pick by the
    # counted position volume.  The LEVEL tables stay parquet at every
    # scale: their stats COMPOUND (see _parquet_cut).
    _cut = (
        _pcut
        if n_positions > checkpoint_positions_threshold
        else _lineage_cut
    )
    spark = docs.sparkSession

    # ---- level 0: GLOBAL competition ranks over tokens ----
    # rank[p] = count of retained positions whose token sorts strictly
    # before p's.  Competition ranks (unlike per-round dense numbering)
    # are STABLE: once a position's group is a singleton, its rank IS
    # its final suffix-order index and never changes — which is what
    # lets later rounds FREEZE resolved positions and re-rank only the
    # still-tied ones (suffix-array bucket refinement, distributed).
    tok_sizes = pos_tbl.groupBy("_tok").agg(F.count("*").alias("_n"))
    d0 = _cut(
        tok_sizes.repartitionByRange(F.col("_tok")).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    pcounts = sorted(
        (r["_pid"], r["_s"])
        for r in d0.groupBy("_pid").agg(F.sum("_n").alias("_s")).collect()
    )
    offs, acc = [], 0
    for pid, c in pcounts:
        offs.append((pid, int(acc)))
        acc += int(c)
    off_df = spark.createDataFrame(offs or [], "_pid int, _off bigint")
    w0 = Window.partitionBy("_pid").orderBy("_tok")
    vocab = (
        d0.join(F.broadcast(off_df), "_pid")
        .withColumn(
            "_cum",
            F.sum("_n").over(w0.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn(
            "_r",
            (F.coalesce(F.col("_cum"), F.lit(0)) + F.col("_off")).cast(
                "long"
            ),
        )
        .select("_tok", "_r", "_n")
    )
    lvl0 = _parquet_cut(
        pos_tbl.join(vocab, "_tok").select(id_col, "pos", "_r", "_n"),
        os.path.join(tmpdir, "lvl0"),
    )

    # The descend only ever asks "do these two DIFFERENT positions have
    # equal 2^i-token prefixes?" — two distinct equal-prefix positions
    # are by definition in a group of size >= 2, so the per-level
    # tables keep only the still-tied (ACTIVE) positions; a probe that
    # misses the table is frozen/absent and correctly compares unequal.
    # one cumulative frozen store, appended per round (a single scan
    # per lookup instead of a per-round union that grows the plan)
    frozen_dir = os.path.join(tmpdir, "frozen")

    def _freeze(df):
        df.select(id_col, "pos", "_r").write.mode("append").parquet(
            frozen_dir
        )

    _freeze(lvl0.filter(F.col("_n") == 1))
    active = lvl0.filter(F.col("_n") > 1).drop("_n")
    levels = [active]
    st0 = lvl0.agg(
        F.sum(F.when(F.col("_n") > 1, 1).otherwise(0)).alias("live"),
        F.count_distinct(
            F.when(F.col("_n") > 1, F.col("_r"))
        ).alias("groups"),
    ).first()
    live, prev_groups = int(st0["live"] or 0), int(st0["groups"] or 0)
    live_per_round = [live]
    span = 1
    while live > 0:
        # rank at p+span: still-tied positions carry the current level
        # rank, resolved ones their frozen (final) rank — competition
        # semantics keep the two value sets order-consistent and
        # collision-free, so mixing rounds in one key is exact
        lookup = active.unionByName(spark.read.parquet(frozen_dir))
        shifted = lookup.select(
            F.col(id_col),
            (F.col("pos") - span).alias("pos"),
            F.col("_r").alias("_r2"),
        )
        paired = active.join(shifted, [id_col, "pos"], "left").select(
            id_col,
            "pos",
            F.col("_r").alias("_r1"),
            F.coalesce("_r2", F.lit(-1)).alias("_r2"),
        )
        # bucket refinement: new rank of key (r1, r2) = r1 + count of
        # same-group positions with a strictly smaller r2 — global
        # competition ranks maintained while shuffling only ACTIVE
        # rows (one groupBy + one bounded window over the key table;
        # no global range partition, no per-round driver collect)
        sizes = paired.groupBy("_r1", "_r2").agg(F.count("*").alias("_n"))
        wg = Window.partitionBy("_r1").orderBy("_r2")
        keyrank = sizes.withColumn(
            "_nr",
            F.col("_r1")
            + F.coalesce(
                F.sum("_n").over(
                    wg.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        nxt = _parquet_cut(
            paired.join(keyrank, ["_r1", "_r2"]).select(
                id_col, "pos", F.col("_nr").alias("_r"), "_n"
            ),
            os.path.join(tmpdir, f"lvl{len(levels)}"),
        )
        active = nxt.filter(F.col("_n") > 1).drop("_n")
        levels.append(active)
        span *= 2
        st = nxt.agg(
            F.sum(F.when(F.col("_n") == 1, 1).otherwise(0)).alias("froze"),
            F.sum(F.when(F.col("_n") > 1, 1).otherwise(0)).alias("live"),
            F.count_distinct(
                F.when(F.col("_n") > 1, F.col("_r"))
            ).alias("groups"),
        ).first()
        froze = int(st["froze"] or 0)
        live = int(st["live"] or 0)
        groups = int(st["groups"] or 0)
        live_per_round.append(live)
        if froze:
            _freeze(nxt.filter(F.col("_n") == 1))
        # refinement FIXPOINT, not "all distinct": identical suffixes
        # (whole-document duplicates) stay tied at every level.  If
        # nothing froze and no group split this round, the
        # deterministic doubling operator produces byte-identical
        # levels forever — remaining ties ARE identical suffixes;
        # stage 2 breaks them by position key (any consistent tiebreak
        # is a valid suffix order for interchangeable suffixes) and
        # the stage-3 clamp makes their LCP exact — PROVIDED the level
        # list is deep enough: a tied pair's descend accumulates
        # 2^(L+1)-1, which must reach the suffix length for the clamp
        # to snap it UP.  (A corpus whose ONLY repeats are whole-
        # document duplicates hits the fixpoint at round 1; stopping
        # there silently returned LCP <= 3 — a latent round-7 bug,
        # pinned by the pure-duplicate regression test.)  Since
        # post-fixpoint levels are identical, pad the list with the
        # CURRENT level until the span covers the island-derived
        # repeat bound — depth without further shuffles.
        if froze == 0 and groups == prev_groups:
            while span < maxrep_bound:
                levels.append(active)
                live_per_round.append(live)
                span *= 2
            break
        prev_groups = groups
    final_ranks = spark.read.parquet(frozen_dir).unionByName(active)
    RANK_BUILD_TELEMETRY["rounds"] = len(levels) - 1
    RANK_BUILD_TELEMETRY["active_rows_per_round"] = live_per_round
    RANK_BUILD_TELEMETRY["build_s"] = round(_time.time() - _t0, 1)

    # ---- stage 2: candidate neighbors in suffix order ----
    ranked = tracked_persist(
        cand.join(final_ranks, [id_col, "pos"])
        .repartitionByRange(F.col("_r"), F.col("_pk"))
        .withColumn("_pid", F.spark_partition_id())
    )
    win = Window.partitionBy("_pid").orderBy("_r", "_pk")
    inner = ranked.select(
        id_col,
        "pos",
        "_pk",
        F.lead(id_col).over(win).alias("_nid"),
        F.lead("pos").over(win).alias("_npos"),
    )
    edge_key = F.struct(F.col("_r"), F.col("_pk"))
    bnd = (
        ranked.groupBy("_pid")
        .agg(
            F.min_by(F.struct(id_col, "pos", "_pk", "_r"), edge_key).alias(
                "_lo"
            ),
            F.max_by(F.struct(id_col, "pos", "_pk", "_r"), edge_key).alias(
                "_hi"
            ),
        )
        .select(F.explode(F.array("_lo", "_hi")).alias("_x"))
        .select("_x.*")
        .dropDuplicates(["_pk"])
    )
    bwin = Window.partitionBy(F.lit(1)).orderBy("_r", "_pk")
    bpairs = bnd.select(
        F.col(id_col),
        "pos",
        "_pk",
        F.lead(id_col).over(bwin).alias("_nid"),
        F.lead("pos").over(bwin).alias("_npos"),
    )
    # boundary pairs include (first, last) of the SAME partition, whose
    # LCP only under-estimates interior neighbors (for sorted a≤b≤c,
    # LCP(a,c) ≤ min(LCP(a,b), LCP(b,c))) — greatest() keeps exactness
    pairs = inner.unionByName(bpairs).filter(F.col("_nid").isNotNull())

    # ---- stage 3: pair LCPs by descending the level tables ----
    cur = pairs.withColumn("_acc", F.lit(0))
    for i in range(len(levels) - 1, -1, -1):
        t = levels[i]
        ra = t.select(
            F.col(id_col).alias("_ad"),
            F.col("pos").alias("_ap"),
            F.col("_r").alias("_ra"),
        )
        rb = t.select(
            F.col(id_col).alias("_bd"),
            F.col("pos").alias("_bp"),
            F.col("_r").alias("_rb"),
        )
        cur = (
            cur.join(
                ra,
                (F.col(id_col) == F.col("_ad"))
                & (F.col("pos") + F.col("_acc") == F.col("_ap")),
                "left",
            )
            .join(
                rb,
                (F.col("_nid") == F.col("_bd"))
                & (F.col("_npos") + F.col("_acc") == F.col("_bp")),
                "left",
            )
            .withColumn(
                "_acc",
                F.when(
                    F.col("_ra").isNotNull()
                    & (F.col("_ra") == F.col("_rb")),
                    F.col("_acc") + F.lit(2**i),
                ).otherwise(F.col("_acc")),
            )
            .drop("_ad", "_ap", "_ra", "_bd", "_bp", "_rb")
        )
        cur = _cut(cur)
    RANK_BUILD_TELEMETRY["descend_s"] = round(
        _time.time() - _t0 - RANK_BUILD_TELEMETRY["build_s"], 1
    )
    # each pair contributes its LCP to BOTH endpoints; clamp to the
    # suffix length (exact for identical-suffix overshoot, a no-op
    # otherwise)
    contrib = cur.select(id_col, "pos", F.col("_acc").alias("_lcp")).unionByName(
        cur.select(
            F.col("_nid").alias(id_col),
            F.col("_npos").alias("pos"),
            F.col("_acc").alias("_lcp"),
        )
    )
    ext = (
        contrib.groupBy(id_col, "pos")
        .agg(F.max("_lcp").alias("_ext"))
        .join(basep, id_col)
        .withColumn(
            "_ext", F.least(F.col("_ext"), F.size("_arr") - F.col("pos"))
        )
        .filter(F.col("_ext") >= min_len)
        .select(id_col, "pos", (F.col("pos") + F.col("_ext")).alias("_e"))
    )
    # ---- stage 4: left-maximality + span text (capped path's tail) ----
    dwin = Window.partitionBy(id_col).orderBy("pos")
    prev_max = F.max("_e").over(dwin.rowsBetween(Window.unboundedPreceding, -1))
    maximal = ext.withColumn("_pm", prev_max).filter(
        F.col("_pm").isNull() | (F.col("_e") > F.col("_pm"))
    )
    return (
        maximal.join(basep, id_col)
        .select(
            F.col(id_col),
            F.col("pos").cast("int").alias("s"),
            F.col("_e").cast("int").alias("e"),
            (F.col("_e") - F.col("pos")).cast("int").alias("rep_len"),
            F.concat_ws(
                sep,
                F.slice(
                    F.col("_arr"), F.col("pos") + 1, F.col("_e") - F.col("pos")
                ),
            ).alias("rep_text"),
        )
    )


def exact_substring_maximal(
    docs: DataFrame,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = " ",
    cap: int = _MAXREP_CAP_DEFAULT,
    gram_stage: str = "rolling",
    _persist_spans: bool = False,
) -> DataFrame:
    """MAXIMAL corpus repeats ≥ ``min_len`` tokens — the exact object a
    suffix-array ExactSubstr implementation enumerates (Lee et al.
    2022, arXiv:2107.06499 §4.1), closing the semantics gap the
    window-union approximation (:func:`exact_substring_dedup`) leaves:
    that operator computes the exact COVERAGE of repeated positions but
    merges overlapping distinct repeats into one span whose text may
    itself occur nowhere else.  This one returns, per document, every
    repeat that is both left- and right-maximal: extending it by one
    token in either direction makes it non-repeated.

    Algorithm (all JVM expressions, candidate volume only):

    1. Candidate starts = positions whose ``min_len``-gram occurs ≥ 2
       times corpus-wide (hash prefilter + exact-text verify — the same
       two stages as :func:`exact_substring_dedup`, WITHOUT the
       keep-first exemption: every occurrence of a repeat is a start).
       Any position starting a repeat ≥ min_len is such a candidate.
    2. EXT(s) — the longest repeated substring starting at s — equals
       the max token-LCP between s's suffix and ANY other candidate
       suffix, and that max is attained at a lexicographic neighbor
       (the standard suffix-array adjacency theorem, valid for the
       candidate SUBSET too because the partner achieving EXT is
       itself a candidate).  So: materialize each candidate's suffix
       capped at ``cap`` tokens, ``repartitionByRange`` on the token
       array (Spark arrays order lexicographically), and take
       per-partition window ``lead``s for neighbor LCPs.
    3. Partition-boundary neighbors: the first/last row of every range
       partition (2 rows per partition — bounded by the shuffle
       partition count, not the data) meet in one tiny
       single-partition window; for sorted a ≤ b ≤ c,
       LCP(a,c) ≤ min(LCP(a,b), LCP(b,c)), so cross-boundary pairs can
       only under-estimate and ``greatest()`` keeps exactness.
    4. ``EXT ≥ min_len`` rows become intervals [s, s+EXT); a per-doc
       running-max window drops intervals contained in an earlier one
       (left-maximality); right-maximality holds because EXT is the
       neighbor-LCP max.

    Scale shape: the corpus-volume stages are the gram hash agg and
    one broadcast-verified join (identical to exact_substring_dedup);
    the suffix sort shuffles only candidates × ``cap`` tokens — the
    duplication rate times the cap is the valve, and both are
    observable (count candidates) before committing the sort.  A
    repeat longer than ``cap`` is reported as a staircase of
    cap-length spans (coverage unaffected).

    Output: (id, s, e, rep_len, rep_text) — one row per maximal
    repeat occurrence, including the corpus-first one (reporting, not
    removal: feed the spans to a keep-policy of choice).
    """
    arr = F.split(F.col(text_col), re.escape(sep))  # sep is LITERAL
    base = _spread(docs).select(F.col(id_col), arr.alias("_arr"))
    verified = (
        _verified_repeat_starts(base, min_len, sep, id_col, gram_stage)
        .join(base, id_col)
        .select(
            F.col(id_col),
            "pos",
            F.slice(F.col("_arr"), F.col("pos") + 1, cap).alias("_suf"),
        )
        .withColumn("_pk", _pos_key(id_col, "pos"))
    )

    from ..cache import tracked_persist

    # the range-partitioned candidate set feeds BOTH the inner-neighbor
    # window and the boundary-row extraction; persisting severs the
    # shared gram/verify lineage so it runs once, not per branch (and
    # pins spark_partition_id so both branches see the same layout)
    rb = tracked_persist(
        verified.repartitionByRange(F.col("_suf"), F.col("_pk")).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    win = Window.partitionBy("_pid").orderBy("_suf", "_pk")
    inner = rb.withColumn(
        "_lcp_next",
        F.coalesce(_token_lcp(F.col("_suf"), F.lead("_suf").over(win)), F.lit(0)),
    ).withColumn(
        "_ext_inner",
        F.greatest(
            F.col("_lcp_next"),
            F.coalesce(F.lag("_lcp_next").over(win), F.lit(0)),
        ),
    )

    # boundary rows: 2 per range partition — a frame bounded by the
    # partition COUNT, so its single-partition window is safe
    edge_key = F.struct(F.col("_suf"), F.col("_pk"))
    bnd = (
        rb.groupBy("_pid")
        .agg(
            F.min_by(F.struct("_suf", "_pk"), edge_key).alias("_lo"),
            F.max_by(F.struct("_suf", "_pk"), edge_key).alias("_hi"),
        )
        .select(F.explode(F.array("_lo", "_hi")).alias("_r"))
        .select(F.col("_r._suf").alias("_suf"), F.col("_r._pk").alias("_pk"))
        .dropDuplicates(["_pk"])
    )
    bwin = Window.partitionBy(F.lit(1)).orderBy("_suf", "_pk")
    bnd_lcp = bnd.withColumn(
        "_blcp_next",
        F.coalesce(_token_lcp(F.col("_suf"), F.lead("_suf").over(bwin)), F.lit(0)),
    ).withColumn(
        "_ext_bnd",
        F.greatest(
            F.col("_blcp_next"),
            F.coalesce(F.lag("_blcp_next").over(bwin), F.lit(0)),
        ),
    ).select("_pk", "_ext_bnd")

    ext = (
        inner.join(F.broadcast(bnd_lcp), "_pk", "left")
        .withColumn(
            "_ext", F.greatest("_ext_inner", F.coalesce("_ext_bnd", F.lit(0)))
        )
        .filter(F.col("_ext") >= min_len)
        .select(id_col, "pos", (F.col("pos") + F.col("_ext")).alias("_e"))
    )
    # left-maximality: drop intervals contained in an earlier-starting one
    dwin = Window.partitionBy(id_col).orderBy("pos")
    prev_max = F.max("_e").over(dwin.rowsBetween(Window.unboundedPreceding, -1))
    # ``_persist_spans``: NARROW lazy persist (3 ints per maximal
    # repeat) for callers that reference the span set more than once
    # (keep_one's keep-first agg + join sides read it twice, and the
    # lambda-bearing LCP chain above never canonicalizes equal in
    # Spark 4.1, so no Exchange is reused across those references).
    # Persisting the wide span TEXT instead measured NEGATIVE
    # (OPTIMIZATION_r11.md keep_one note); intervals are the smallest
    # sufficient cut, and rep_text re-derives per consumer with one
    # candidate-volume join against the token arrays.  Default OFF:
    # the single-reference standalone entry pays the cache
    # materialization with nothing to reuse (measured +8% at sf0.1).
    maximal = (
        ext.withColumn("_pm", prev_max)
        .filter(F.col("_pm").isNull() | (F.col("_e") > F.col("_pm")))
        .select(id_col, "pos", "_e")
    )
    if _persist_spans:
        maximal = tracked_persist(maximal)
    return (
        maximal.join(base, id_col)
        .select(
            F.col(id_col),
            F.col("pos").cast("int").alias("s"),
            F.col("_e").cast("int").alias("e"),
            (F.col("_e") - F.col("pos")).cast("int").alias("rep_len"),
            F.concat_ws(
                sep,
                F.slice(
                    F.col("_arr"), F.col("pos") + 1, F.col("_e") - F.col("pos")
                ),
            ).alias("rep_text"),
        )
    )


def exact_substring_keep_one(
    docs: DataFrame,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = " ",
    cap: int = _MAXREP_CAP_DEFAULT,
    ranked: bool = False,
    gram_stage: str = "rolling",
) -> DataFrame:
    """ExactSubstr removal with the PAPER's keep policy (Lee et al.
    2022 §4.1: "except for one occurrence"): for every maximal corpus
    repeat, the corpus-first occurrence survives CONTIGUOUSLY; all
    other occurrences are cut.

    ``ranked=True`` enumerates the spans with the UNCAPPED
    prefix-doubling path (:func:`exact_substring_maximal_ranked`) —
    use it when repeats may exceed ``cap``: a >cap repeat's capped
    staircase would otherwise let keep-one exempt only the first
    cap-length step while later steps of the SAME repeat are cut from
    the keeper document too.

    This is the policy-level complement of :func:`exact_substring_dedup`
    (whose keep-first exemption is per WINDOW, so a repeat's surviving
    windows can end up scattered across documents with no contiguous
    copy anywhere).  Built on :func:`exact_substring_maximal`'s spans:
    occurrences cluster by their exact repeat text, the minimum
    (doc, pos) key in each cluster is the keeper, every other span is
    cut, and per-document span-merge + token reassembly are the same
    gaps-and-islands shape as the window-union operator.

    Caveat shared with the paper: a keeper may itself overlap a cut
    span of a DIFFERENT repeat in the same document, in which case part
    of the kept text still disappears — the paper accepts this (one
    pass, no fixpoint), and so does this operator.

    Output: (id, clean_text, n_tokens, removed_tokens, n_spans) — one
    row per input document, untouched documents with n_spans = 0.

    Cache note for library callers: the default path asks
    :func:`exact_substring_maximal` to lazily persist its narrow
    (id, pos, e) interval table (``_persist_spans=True`` — it is read
    twice here).  The persist is registered with
    :func:`..cache.tracked_persist`; long-lived drivers outside the
    bench/oracle harness should call
    :func:`..cache.release_persisted` after consuming the result, or
    the cached block accumulates per invocation.
    """
    arr = F.split(F.col(text_col), re.escape(sep))
    base = docs.select(F.col(id_col), arr.alias("_arr"))
    if ranked:
        spans = exact_substring_maximal_ranked(
            docs, min_len=min_len, text_col=text_col, id_col=id_col,
            sep=sep, gram_stage=gram_stage,
        )
    else:
        spans = exact_substring_maximal(
            docs, min_len=min_len, text_col=text_col, id_col=id_col,
            sep=sep, cap=cap, gram_stage=gram_stage, _persist_spans=True,
        )
    keyed = spans.withColumn("_pk", _pos_key(id_col, "s"))
    first = keyed.groupBy("rep_text").agg(F.min("_pk").alias("_first"))
    cuts = (
        keyed.join(first, "rep_text")
        .filter(F.col("_pk") != F.col("_first"))
        .select(id_col, F.col("s").alias("pos"), F.col("e").alias("end"))
    )
    # merge overlapping cut spans per document (gaps-and-islands) and
    # reassemble — identical shape to exact_substring_dedup stage 3
    wd = Window.partitionBy(id_col).orderBy("pos")
    prev_max = F.max("end").over(wd.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        cuts.withColumn(
            "_new", (prev_max.isNull() | (F.col("pos") > prev_max)).cast("int")
        )
        .withColumn(
            "_island",
            F.sum("_new").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "_island")
        .agg(F.min("pos").alias("s"), F.max("end").alias("e"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("_ivs"))
    )

    def _keep(tok):
        return ~F.exists(
            "_ivs", lambda v: (tok["i"] >= v["s"]) & (tok["i"] < v["e"])
        )

    idxed = F.transform(
        F.col("_arr"), lambda x, i: F.struct(i.alias("i"), x.alias("t"))
    )
    kept = F.filter(idxed, _keep)
    return (
        base.join(islands, id_col, "left")
        .withColumn("_ivs", F.coalesce(F.col("_ivs"), F.array()))
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(kept, lambda s: s["t"]), sep
            ).alias("clean_text"),
            F.size("_arr").cast("long").alias("n_tokens"),
            (F.size("_arr") - F.size(kept)).cast("long").alias("removed_tokens"),
            F.size("_ivs").cast("long").alias("n_spans"),
        )
    )


def exact_substring_keep_one_sql(
    table: str,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = " ",
    cap: int = _MAXREP_CAP_DEFAULT,
) -> str:
    """DuckDB twin of :func:`exact_substring_keep_one`: the maximal-
    repeat twin as a CTE, then keep-first per rep_text + islands merge
    + reassembly (same SQL shapes as the window-union twin)."""
    sq = sep.replace("'", "''")
    maximal = exact_substring_maximal_sql(
        table, min_len=min_len, text_col=text_col, id_col=id_col, sep=sep,
        cap=cap,
    )
    return f"""
    WITH spans AS ({maximal}),
    arrs2 AS (
      SELECT {id_col}, string_split({text_col}, '{sq}') AS arr
      FROM {table}
    ),
    keyed2 AS (
      SELECT *, CAST({id_col} AS BIGINT) * {POSITIONS_PER_DOC} + s AS pk
      FROM spans
    ),
    firsts AS (
      SELECT rep_text, min(pk) AS first_pk FROM keyed2 GROUP BY rep_text
    ),
    cuts AS (
      SELECT k.{id_col}, k.s AS pos, k.e AS e
      FROM keyed2 k JOIN firsts f USING (rep_text)
      WHERE k.pk <> f.first_pk
    ),
    flagged AS (
      SELECT {id_col}, pos, e,
             CASE WHEN max(e) OVER (PARTITION BY {id_col} ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL
                  OR pos > max(e) OVER (PARTITION BY {id_col} ORDER BY pos
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM cuts
    ),
    islands AS (
      SELECT {id_col}, pos, e,
             sum(new_island) OVER (PARTITION BY {id_col} ORDER BY pos
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    merged AS (
      SELECT {id_col}, min(pos) AS s, max(e) AS e
      FROM islands GROUP BY {id_col}, island
    ),
    toks AS (
      SELECT {id_col}, unnest(arr) AS tok,
             generate_subscripts(arr, 1) - 1 AS idx
      FROM arrs2
    ),
    kept AS (
      SELECT t.{id_col}, t.tok, t.idx
      FROM toks t LEFT JOIN merged m
        ON m.{id_col} = t.{id_col} AND t.idx >= m.s AND t.idx < m.e
      WHERE m.s IS NULL
    ),
    kept_agg AS (
      SELECT {id_col}, string_agg(tok, '{sq}' ORDER BY idx) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY 1
    ),
    span_agg AS (
      SELECT {id_col}, count(*) AS n_spans FROM merged GROUP BY 1
    )
    SELECT a.{id_col} AS {id_col},
           coalesce(k.clean_text, '') AS clean_text,
           CAST(len(a.arr) AS BIGINT) AS n_tokens,
           CAST(len(a.arr) - coalesce(k.n_kept, 0) AS BIGINT) AS removed_tokens,
           CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans
    FROM arrs2 a
    LEFT JOIN kept_agg k ON k.{id_col} = a.{id_col}
    LEFT JOIN span_agg s ON s.{id_col} = a.{id_col}
    """


def exact_substring_maximal_sql(
    table: str,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = " ",
    cap: int = _MAXREP_CAP_DEFAULT,
) -> str:
    """DuckDB twin of :func:`exact_substring_maximal`.

    Single-node luxury: one global window over the lexicographically
    sorted candidate suffixes (DuckDB orders LIST columns token-wise,
    matching Spark's array ordering) with ``lead``/``lag`` for the
    neighbor LCPs.  The engines may range-partition differently, but
    EXT(s) = max neighbor LCP is order-independent for any
    prefix-consistent lexicographic order, so the outputs are
    bit-identical.  ``list_position`` returns 0 (not NULL) for
    no-match in bundled DuckDB — hence the ``nullif``."""
    sq = sep.replace("'", "''")
    lcp_next = f"""CASE WHEN nxt IS NULL THEN 0 ELSE coalesce(
        nullif(list_position(list_transform(range(least(len(sufarr), len(nxt))),
                             i -> sufarr[i+1] IS DISTINCT FROM nxt[i+1]), true), 0) - 1,
        least(len(sufarr), len(nxt))) END"""
    return f"""
    WITH arrs AS (
      SELECT {id_col}, string_split({text_col}, '{sq}') AS arr
      FROM {table}
    ),
    grams AS (
      SELECT {id_col},
             unnest([{{'pos': i - 1,
                       'g': array_to_string(arr[i : i + {min_len} - 1], '{sq}')}}
                     for i in generate_series(1, greatest(len(arr) - {min_len} + 1, 0))]) AS gr
      FROM arrs
    ),
    keyed AS (
      SELECT {id_col}, gr.pos AS pos, gr.g AS g FROM grams
    ),
    hot AS (SELECT g FROM keyed GROUP BY g HAVING count(*) > 1),
    cand AS (SELECT k.{id_col}, k.pos FROM keyed k JOIN hot USING (g)),
    suffs AS (
      SELECT c.{id_col}, c.pos,
             a.arr[c.pos + 1 : c.pos + {cap}] AS sufarr
      FROM cand c JOIN arrs a USING ({id_col})
    ),
    ordered AS (
      SELECT *, lead(sufarr) OVER w AS nxt, row_number() OVER w AS rn
      FROM suffs
      WINDOW w AS (ORDER BY sufarr, {id_col}, pos)
    ),
    lcps AS (
      SELECT {id_col}, pos, rn, ({lcp_next}) AS lcp_next
      FROM ordered
    ),
    exts AS (
      SELECT {id_col}, pos,
             greatest(lcp_next,
                      coalesce(lag(lcp_next) OVER (ORDER BY rn), 0)) AS ext
      FROM lcps
    ),
    maximal AS (
      SELECT {id_col}, pos AS s, pos + ext AS e
      FROM exts WHERE ext >= {min_len}
    ),
    kept AS (
      SELECT {id_col}, s, e,
             max(e) OVER (PARTITION BY {id_col} ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      FROM maximal
    )
    SELECT k.{id_col} AS {id_col},
           CAST(k.s AS INT) AS s,
           CAST(k.e AS INT) AS e,
           CAST(k.e - k.s AS INT) AS rep_len,
           array_to_string(a.arr[k.s + 1 : k.e], '{sq}') AS rep_text
    FROM kept k JOIN arrs a USING ({id_col})
    WHERE k.pm IS NULL OR k.e > k.pm
    """


# ---------------------------------------------------------------------------
# LSH banding planner — choose (bands x rows) BEFORE the 100 TB run
# ---------------------------------------------------------------------------


def _pow_sq_expr(expr: str, k: int) -> str:
    """``expr`` raised to the 2**k power by repeated squaring — every
    step is ONE IEEE-754 multiply, so Spark and any oracle engine
    evaluating the identical expression produce identical bits (unlike
    pow(), whose last-ulp behavior is implementation-defined)."""
    for _ in range(k):
        expr = f"(({expr}) * ({expr}))"
    return expr


def banding_combos(num_hashes: int) -> list[tuple[int, int]]:
    """(bands, rows_per_band) factorizations of a power-of-two signature
    budget, widest-banding first."""
    assert num_hashes & (num_hashes - 1) == 0, "num_hashes must be a power of 2"
    out = []
    r = 1
    while r <= num_hashes:
        out.append((num_hashes // r, r))
        r *= 2
    return out


def banding_collision_sql(bands: int, rows: int, sim: str = "s") -> str:
    """Collision probability 1 - (1 - s^r)^b as a pure
    repeated-squaring expression (requires power-of-two bands/rows) —
    valid Spark SQL and DuckDB SQL alike, bit-identical in both."""
    sr = _pow_sq_expr(f"({sim})", rows.bit_length() - 1)
    # the base MUST carry its own parens: at bands=1 no squaring wraps
    # it, and a bare  1.0 - 1.0 - s^r  would parse as  -s^r
    miss = _pow_sq_expr(f"(1.0 - {sr})", bands.bit_length() - 1)
    return f"1.0 - {miss}"


def banding_plan(
    pairs: DataFrame,
    num_hashes: int = 64,
    dup_threshold: float = 0.5,
    sim_col: str = "jaccard",
) -> DataFrame:
    """Evaluate every (bands x rows) split of a minhash budget against
    the corpus's MEASURED pair-similarity distribution — the
    tune-before-you-build step for LSH dedup (the S-curve math is
    standard, e.g. Leskovec/Rajaraman/Ullman, *Mining of Massive
    Datasets* §3.4; the reference has no LSH — its exact upserts are
    S5-S7 — so this extends the dedup suite, like dedup_eval).

    ``pairs`` carries one row per candidate pair with its exact
    similarity (from :func:`ngram_jaccard_near_duplicates` at a LOW
    threshold, so the sub-threshold mass is present).  For each
    factorization the output reports, per the expected-value of the
    collision probability 1-(1-s^r)^b over the observed pairs:

    - ``expected_recall``  over true pairs (s >= dup_threshold): the
      fraction of real dups the banding would surface;
    - ``expected_near_miss_candidates`` over sub-threshold pairs: the
      verification work the banding wastes on non-dups.

    Determinism contract: probabilities use repeated-squaring only
    (bit-exact across engines), are quantized to integer micro-units
    per pair, and summed as int64 — no float aggregation order anywhere.

    Scale shape: one narrow aggregation over the pair frame (which the
    inverted-index join already bounded); the planner adds no shuffle
    beyond a scalar agg, so it runs casually even where a wrong (b, r)
    choice would cost a cluster-day.
    """
    combos = banding_combos(num_hashes)
    s = pairs.select(F.col(sim_col).cast("double").alias("s"))
    aggs = [
        F.count(F.when(F.col("s") >= dup_threshold, 1)).alias("true_pairs"),
        F.count(F.when(F.col("s") < dup_threshold, 1)).alias("near_miss_pairs"),
    ]
    # Column-algebra twin of banding_collision_sql: c = c*c applied
    # bit_length-1 times IS the _pow_sq_expr repeated-squaring tree
    # (same multiplies in the same order, so the micro-unit rounding
    # stays bit-identical to the DuckDB twin) — but built as small
    # shared Column trees instead of F.expr strings whose inlined
    # polynomial doubles per squaring (the (64,1) string is 1.3 KB and
    # the 14 CASE parses + agg analysis measured 9.3 s cold / 1.1 s
    # warm on the driver; the Column form cut the cold agg build to
    # ~0.3 s — guide §1/§7 driver-side construction cost)
    def _pow_sq(c, k: int):
        for _ in range(k):
            c = c * c
        return c

    thr = F.lit(float(dup_threshold))
    for i, (b, r) in enumerate(combos):
        sr = _pow_sq(F.col("s"), r.bit_length() - 1)
        miss = _pow_sq(F.lit(1.0) - sr, b.bit_length() - 1)
        pu = F.round((F.lit(1.0) - miss) * F.lit(1000000.0)).cast("long")
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("s") >= thr, pu)), F.lit(0)
            ).alias(f"hit_units_{i}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("s") < thr, pu)), F.lit(0)
            ).alias(f"fp_units_{i}")
        )
    agg = s.agg(*aggs)
    stacked = ", ".join(
        f"{b}, {r}, CAST({round((1.0 / b) ** (1.0 / r), 6)!r} AS DOUBLE), "
        f"hit_units_{i}, fp_units_{i}"
        for i, (b, r) in enumerate(combos)
    )
    return agg.select(
        "true_pairs",
        "near_miss_pairs",
        F.expr(
            f"stack({len(combos)}, {stacked}) AS "
            "(bands, rows_per_band, s_mid, hit_units, fp_units)"
        ),
    ).select(
        F.col("bands").cast("int").alias("bands"),
        F.col("rows_per_band").cast("int").alias("rows_per_band"),
        "s_mid",
        F.col("true_pairs").cast("long").alias("true_pairs"),
        F.round(
            F.col("hit_units") / 1000000.0 / F.greatest("true_pairs", F.lit(1)),
            6,
        ).alias("expected_recall"),
        F.col("near_miss_pairs").cast("long").alias("near_miss_pairs"),
        F.round(F.col("fp_units") / 1000000.0, 4).alias(
            "expected_near_miss_candidates"
        ),
    ).filter(
        # no observed pairs -> no plan rows (degenerate-input contract)
        (F.col("true_pairs") + F.col("near_miss_pairs")) > 0
    )


def banding_plan_sql(
    pairs_cte: str,
    num_hashes: int = 64,
    dup_threshold: float = 0.5,
    sim_col: str = "jaccard",
) -> str:
    """DuckDB twin of :func:`banding_plan` — identical repeated-squaring
    expressions over a pair CTE yielding ``sim_col``."""
    combos = banding_combos(num_hashes)
    sums = []
    for i, (b, r) in enumerate(combos):
        pu = (
            f"CAST(round(({banding_collision_sql(b, r, sim='s')}) * "
            "1000000.0) AS BIGINT)"
        )
        sums.append(
            f"coalesce(sum(CASE WHEN s >= {dup_threshold!r} THEN {pu} END), 0)"
            f" AS hit_units_{i}"
        )
        sums.append(
            f"coalesce(sum(CASE WHEN s < {dup_threshold!r} THEN {pu} END), 0)"
            f" AS fp_units_{i}"
        )
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({b} AS INTEGER) AS bands,
           CAST({r} AS INTEGER) AS rows_per_band,
           CAST({round((1.0 / b) ** (1.0 / r), 6)!r} AS DOUBLE) AS s_mid,
           true_pairs,
           round(hit_units_{i} / 1000000.0 / greatest(true_pairs, 1), 6)
             AS expected_recall,
           near_miss_pairs,
           round(fp_units_{i} / 1000000.0, 4)
             AS expected_near_miss_candidates
    FROM agg"""
        for i, (b, r) in enumerate(combos)
    )
    return f"""
    WITH pairs AS ({pairs_cte}),
    agg AS (
      SELECT CAST(count(CASE WHEN s >= {dup_threshold!r} THEN 1 END) AS BIGINT)
               AS true_pairs,
             CAST(count(CASE WHEN s < {dup_threshold!r} THEN 1 END) AS BIGINT)
               AS near_miss_pairs,
             {", ".join(sums)}
      FROM (SELECT CAST({sim_col} AS DOUBLE) AS s FROM pairs)
    )
    SELECT * FROM (
{rows}
    ) WHERE true_pairs + near_miss_pairs > 0"""
