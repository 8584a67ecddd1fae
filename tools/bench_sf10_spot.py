"""sf10 spot rehearsal: time the heaviest catalog workloads at 100× of
sf0.1 (two decades above the driver's bench scale) and append one JSON
line per query to a results file, so partial progress survives driver
timeouts.  The committed artifact is BENCH_sf10_spot.json (assembled
from the lines).

Entries (the round-5 verdict's pick of the five heaviest):
- semantic_dedup_sqrtN: the PRODUCTION SemDeDup configuration (k=None
  → √N auto-valve), not the catalog entry's k=8 oracle pin — the
  verdict explicitly warns the pinned entry must not be quoted as a
  scaling datapoint.
- minhash_near_dups_xxhash, curation_funnel, winnow_passage_overlap:
  the catalog fns as-is.
- stream_near_dup_rocksdb: the catalog fn under the RocksDB state
  store (the documented 100 TB setting, measured at sf1 in
  BENCH_sf1_state.json).

Usage: python tools/bench_sf10_spot.py SF_DIR OUT_FILE [name ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dystonse_gtfs_data_spark import queries as Q
from dystonse_gtfs_data_spark.cache import release_persisted
from dystonse_gtfs_data_spark.session import build_session
from dystonse_gtfs_data_spark.sources.tables import load_table
from dystonse_gtfs_data_spark.streaming.pipeline import rocksdb_state


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def run_semantic_sqrtn(spark, sf_dir):
    from dystonse_gtfs_data_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    # same rounds/threshold as the catalog entry; k=None -> sqrt(N) valve
    _noop(semantic_dedup(emb, k=None, rounds=2, threshold=0.4))


def run_stream_near_dup_rocksdb(spark, sf_dir):
    with rocksdb_state(spark):
        _noop(Q.REGISTRY["stream_near_dup"].fn(spark, sf_dir))


def _stream_dedup_evicting(spark, sf_dir):
    """Eviction-realistic stream_dedup: the catalog entry's 87,600-hour
    watermark never expires state during the replay, so it measures the
    provider's WORST case (pure changelog-write overhead, zero
    eviction benefit).  This variant slices the feed into 16 event-time
    windows fed oldest-first (each staged file holds every record
    twice, so the dedup state is HIT within the reorder horizon) with a
    2-slice watermark horizon — state older than ~2 slices is evicted
    while the stream is still running, the shape a bounded-state store
    exists for.  Output is still exactly the distinct feed (duplicates
    arrive inside the horizon; nothing is late), asserted below."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    n_expected = ev.count()
    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    span_s = max(1, int((b["hi"] - b["lo"]).total_seconds()))
    n_slices = 16
    slice_s = span_s // n_slices + 1
    sliced = ev.withColumn(
        "_sl",
        F.least(
            F.lit(n_slices - 1),
            ((F.unix_timestamp("ts") - F.lit(int(b["lo"].timestamp())))
             / F.lit(slice_s)).cast("int"),
        ),
    )
    stage0 = tempfile.mkdtemp(prefix="sdev_stage_")
    land = tempfile.mkdtemp(prefix="sdev_land_")
    outdir = tempfile.mkdtemp(prefix="sdev_out_")
    try:
        sliced.write.partitionBy("_sl").parquet(stage0, mode="overwrite")
        for k in range(n_slices):  # sequential → strictly increasing mtimes
            part = spark.read.parquet(os.path.join(stage0, f"_sl={k}"))
            part.union(part).coalesce(2).write.parquet(
                os.path.join(land, f"s{k:02d}")
            )
        schema = spark.read.parquet(os.path.join(land, "s00")).schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(land + "/*")
        )
        deduped = src.withWatermark(
            "ts", f"{2 * slice_s} seconds"
        ).dropDuplicatesWithinWatermark(["event_id"])
        from dystonse_gtfs_data_spark.streaming.pipeline import (
            catalog_stream_state,
        )

        with catalog_stream_state(spark, 8):
            q = (
                deduped.writeStream.format("parquet")
                .option("path", os.path.join(outdir, "data"))
                .option("checkpointLocation", os.path.join(outdir, "ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        n_out = spark.read.parquet(os.path.join(outdir, "data")).count()
        if n_out != n_expected:
            raise AssertionError(
                f"evicting dedup output {n_out} != distinct feed {n_expected}"
            )
    finally:
        shutil.rmtree(stage0, ignore_errors=True)
        shutil.rmtree(land, ignore_errors=True)
        shutil.rmtree(outdir, ignore_errors=True)


def run_stream_dedup_evicting(spark, sf_dir):
    _stream_dedup_evicting(spark, sf_dir)


def run_stream_dedup_evicting_heap(spark, sf_dir):
    os.environ["SPARK_GRAFT_HEAP_STATE"] = "1"
    try:
        _stream_dedup_evicting(spark, sf_dir)
    finally:
        os.environ.pop("SPARK_GRAFT_HEAP_STATE", None)


def run_semantic_windowed_sqrtn(spark, sf_dir):
    """Round-11 canonical: the neighbor-window pair valve at the same
    k=None √N setting as run_semantic_sqrtn — the A/B pair for the
    Σ m_c² → Σ m_c·w claim."""
    from dystonse_gtfs_data_spark.operators.similarity import (
        semantic_dedup_windowed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    _noop(
        semantic_dedup_windowed(
            emb, k=None, rounds=2, threshold=0.4, window=16
        )
    )


def run_winnow_rolling(spark, sf_dir):
    """Round-11 canonical: the rolling Karp-Rabin fingerprint kernel at
    the same kgram/window as the winnow_passage_overlap row's
    fingerprint stage."""
    from dystonse_gtfs_data_spark.operators.dedup import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    _noop(winnow_fingerprints(docs, base_hash="rolling"))


SPECIALS = {
    "semantic_dedup_sqrtN": run_semantic_sqrtn,
    "semantic_dedup_windowed_sqrtN": run_semantic_windowed_sqrtn,
    "winnow_fingerprints_rolling": run_winnow_rolling,
    "stream_near_dup_rocksdb": run_stream_near_dup_rocksdb,
    "stream_dedup_evicting": run_stream_dedup_evicting,
    "stream_dedup_evicting_heap": run_stream_dedup_evicting_heap,
}

DEFAULT_NAMES = (
    "minhash_near_dups_xxhash",
    "winnow_passage_overlap",
    "curation_funnel",
    "semantic_dedup_sqrtN",
    "semantic_dedup_windowed_sqrtN",
    "winnow_fingerprints_rolling",
    "stream_near_dup_rocksdb",
)


def main() -> None:
    sf_dir = sys.argv[1]
    out_path = sys.argv[2]
    names = sys.argv[3:] or list(DEFAULT_NAMES)
    spark = build_session("bench-sf10-spot")
    for t in ("documents", "embeddings", "events"):
        _noop(load_table(spark, sf_dir, t))  # warm footers/page cache
    for name in names:
        t0 = time.time()
        err = None
        try:
            if name in SPECIALS:
                SPECIALS[name](spark, sf_dir)
            else:
                _noop(Q.REGISTRY[name].fn(spark, sf_dir))
        except Exception as exc:  # record, keep measuring the rest
            err = str(exc)[:300]
        wall = round(time.time() - t0, 2)
        release_persisted()
        line = {"query": name, "sf_dir": sf_dir, "wall_sec": wall, "err": err}
        with open(out_path, "a") as fh:
            fh.write(json.dumps(line) + "\n")
        print(f"# {name} {wall}s err={err}", file=sys.stderr, flush=True)


if __name__ == "__main__":
    main()
