"""Streaming-native operators: windowed aggregation with watermark (T7)
and the stateful prediction-basis dedup (T3) — basis changes emit,
unchanged bases are suppressed across micro-batches."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dystonse_gtfs_data_spark import schemas as S
from dystonse_gtfs_data_spark.streaming.aggregations import (
    stateful_basis_stream,
    windowed_event_counts,
)


class TestWindowedCounts:
    def test_stream_counts_match_batch(self, spark, sf_dir, tmp_path):
        from dystonse_gtfs_data_spark.sources.tables import load_table

        ev = load_table(spark, sf_dir, "events")
        land = str(tmp_path / "ev")
        ev.write.parquet(land)
        stream = spark.readStream.schema(ev.schema).parquet(land)
        agg = windowed_event_counts(stream)
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("wincounts")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["window_start"], r["event_type"]): r["n_events"]
            for r in spark.sql("SELECT * FROM wincounts").collect()
        }
        batch = {
            (r["w"]["start"], r["event_type"]): r["n"]
            for r in ev.groupBy(F.window("ts", "4 hours").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        # append mode emits only watermark-closed windows; every emitted
        # window must match the batch count exactly, and most windows close
        assert got, "no windows emitted"
        for k, v in got.items():
            assert batch[k] == v
        assert len(got) >= len(batch) - 2 * 5  # at most the last window per type open


class TestStatefulBasis:
    def _mk_updates(self, spark, rows):
        return spark.createDataFrame(rows, S.RT_UPDATES)

    def test_basis_change_detection(self, spark, tmp_path):
        hdr = dt.datetime(2024, 1, 1, 8, 0, 0)
        batch1 = [
            ("f1", hdr, "t1", "20240101", "08:00:00", "r1", "s1", 3, None, 60),
            ("f1", hdr, "t2", "20240101", "08:00:00", "r1", "s1", 2, None, 12),
        ]
        batch2 = [
            # t1: same basis (stop 3, delay 60) → must NOT re-emit
            ("f2", hdr + dt.timedelta(minutes=2), "t1", "20240101", "08:00:00", "r1", "s1", 3, None, 60),
            # t2: new basis → emits
            ("f2", hdr + dt.timedelta(minutes=2), "t2", "20240101", "08:00:00", "r1", "s2", 4, None, 48),
        ]
        land = tmp_path / "land"
        land.mkdir()
        self._mk_updates(spark, batch1).write.parquet(str(land / "b1"))

        stream = spark.readStream.schema(S.RT_UPDATES).parquet(str(land) + "/*")
        out = stateful_basis_stream(stream)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("bases")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            q.processAllAvailable()
            first = spark.sql("SELECT * FROM bases").collect()
            assert {(r["trip_id"], r["stop_sequence"], r["delay_departure"]) for r in first} == {
                ("t1", 3, 60),
                ("t2", 2, 12),
            }
            self._mk_updates(spark, batch2).write.parquet(str(land / "b2"))
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM bases").collect()
            tally = {}
            for r in rows:
                tally.setdefault(r["trip_id"], []).append((r["stop_sequence"], r["delay_departure"]))
            # t1 emitted once (unchanged basis suppressed); t2 twice
            assert len(tally["t1"]) == 1
            assert sorted(tally["t2"]) == [(2, 12), (4, 48)]
        finally:
            q.stop()

    def test_late_batch_cannot_clobber_newer_basis(self, spark, tmp_path):
        # a micro-batch of STALE data (older header timestamp) must not
        # replace the retained basis: state advances only in
        # (time_of_recording, stop_sequence) order, so the stream's final
        # basis equals batch latest-wins regardless of arrival order
        hdr = dt.datetime(2024, 1, 1, 8, 0, 0)
        fresh = [("f2", hdr + dt.timedelta(minutes=10), "t1", "20240101",
                  "08:00:00", "r1", "s5", 5, None, 90)]
        stale = [("f1", hdr, "t1", "20240101", "08:00:00", "r1", "s2", 2,
                  None, 30)]
        land = tmp_path / "land"
        land.mkdir()
        self._mk_updates(spark, fresh).write.parquet(str(land / "b1"))
        stream = spark.readStream.schema(S.RT_UPDATES).parquet(str(land) + "/*")
        out = stateful_basis_stream(stream)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("bases_late")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            q.processAllAvailable()
            self._mk_updates(spark, stale).write.parquet(str(land / "b2"))
            q.processAllAvailable()
            rows = spark.sql(
                "SELECT stop_sequence, delay_departure FROM bases_late"
            ).collect()
            # only the fresh basis was ever emitted; the stale batch was
            # swallowed without output or state change
            assert [(r[0], r[1]) for r in rows] == [(5, 90)]
        finally:
            q.stop()


def test_stream_state_partitions_restores_batch_width(spark):
    from dystonse_gtfs_data_spark.streaming.pipeline import (
        stream_state_partitions,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with stream_state_partitions(spark, 4):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # restored even when the stream fails to start
    try:
        with stream_state_partitions(spark, 4):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_catalog_stream_state_defaults_to_rocksdb(spark, monkeypatch):
    from dystonse_gtfs_data_spark.streaming.pipeline import (
        _ROCKSDB_PROVIDER,
        catalog_stream_state,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    monkeypatch.delenv("SPARK_GRAFT_HEAP_STATE", raising=False)
    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    with catalog_stream_state(spark, 4):
        assert spark.conf.get(key) == _ROCKSDB_PROVIDER
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get(key, None) != _ROCKSDB_PROVIDER
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_width
    # the heap knob: catalog entries fall back to the default provider
    monkeypatch.setenv("SPARK_GRAFT_HEAP_STATE", "1")
    with catalog_stream_state(spark, 4):
        assert spark.conf.get(key, None) != _ROCKSDB_PROVIDER
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"


class TestStreamDedup:
    def test_drop_duplicates_within_watermark_across_batches(
        self, spark, tmp_path
    ):
        """At-least-once replay: three byte-identical copies of a feed
        land as separate micro-batches; fingerprint-keyed dedup state
        must emit each record exactly once regardless of which arrival
        wins (copies are identical, so the output set must equal the
        distinct feed)."""
        import pyspark.sql.functions as F

        # +1 day: a row whose event time sits AT the initial watermark
        # (epoch 0) is filtered as late before it ever reaches dedup
        # state — Spark's late-row predicate is ts <= watermark, and the
        # watermark starts at 0, so timestamp_micros(0) silently
        # disappears.  Real feeds never carry epoch-0 event times; the
        # fixture must not either.
        base = spark.range(100).select(
            F.col("id").alias("event_id"),
            F.timestamp_micros((F.col("id") + 86_400) * 1_000_000).alias("ts"),
            (F.col("id") % 7).alias("user_id"),
        )
        land = tmp_path / "land"
        for i, order in enumerate(("event_id", "user_id", "ts")):
            base.orderBy(order).coalesce(1).write.parquet(
                str(land / f"copy{i}")
            )
        src = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land) + "/*")
        )
        out = src.withWatermark("ts", "365 days").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        q = (
            out.writeStream.format("memory")
            .queryName("dedup_sink_t")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.table("dedup_sink_t").orderBy("event_id").collect()
        assert len(got) == 100
        assert [r.event_id for r in got] == list(range(100))
        assert all(r.user_id == r.event_id % 7 for r in got)


class TestStreamingNearDup:
    def test_rowwise_bands_match_batch_signatures(self, spark):
        # identical texts share every band signature; the per-row HOF
        # signatures must equal the batch explode+groupBy signatures
        from dystonse_gtfs_data_spark.operators.dedup import (
            minhash_signatures,
            rowwise_minhash_bands,
        )

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy dog"),
                (3, "an entirely different document about trains"),
            ],
            ["doc_id", "text"],
        )
        bands = rowwise_minhash_bands(docs, num_hashes=16).collect()
        by_doc = {}
        for r in bands:
            by_doc.setdefault(r["doc_id"], {})[r["band_id"]] = r["band_sig"]
        assert by_doc[1] == by_doc[2]
        assert by_doc[1] != by_doc[3]
        # parity with the batch signature pipeline (same family, md5 fold)
        sigs = {
            r["doc_id"]: r["signature"]
            for r in minhash_signatures(
                docs, num_hashes=16, base_hash="md5"
            ).collect()
        }
        expect = ":".join(str(v) for v in sigs[1][0:4])
        assert by_doc[1][0] == expect

    def test_rowwise_bands_equal_batch_pipeline_random_corpus(self, spark):
        # 24 pseudo-random word-soup docs: every one of the 16 permuted
        # minima reconstructed from the band strings must equal the
        # batch explode+groupBy signature exactly
        import random

        from dystonse_gtfs_data_spark.operators.dedup import (
            minhash_signatures,
            rowwise_minhash_bands,
        )

        rng = random.Random(42)
        vocab = [f"w{i}" for i in range(50)]
        docs = spark.createDataFrame(
            [
                (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
                for i in range(24)
            ],
            ["doc_id", "text"],
        )
        batch = {
            r["doc_id"]: list(r["signature"])
            for r in minhash_signatures(
                docs, num_hashes=16, base_hash="md5"
            ).collect()
        }
        rebuilt: dict[int, list[int]] = {}
        for r in rowwise_minhash_bands(docs, num_hashes=16).collect():
            sig = rebuilt.setdefault(r["doc_id"], [0] * 16)
            for j, v in enumerate(r["band_sig"].split(":")):
                sig[r["band_id"] * 4 + j] = int(v)
        assert rebuilt == batch

    def test_state_fn_first_wins_across_batches(self):
        # pure-pandas check of the keyed state transition: original in
        # batch 1 emits nothing, the batch-2 duplicate emits a hit
        import pandas as pd

        from dystonse_gtfs_data_spark.streaming.aggregations import (
            _make_near_dup_fn,
        )

        fn = _make_near_dup_fn(None)
        st = FakeState()
        b1 = list(fn((0, "sig"), iter([pd.DataFrame({"doc_id": [7]})]), st))
        assert b1 == [] and st.get == (7, 0)
        b2 = list(fn((0, "sig"), iter([pd.DataFrame({"doc_id": [9]})]), st))
        assert len(b2) == 1
        row = b2[0].iloc[0]
        assert (row["doc_id"], row["band_id"], row["dup_of"]) == (9, 0, 7)
        assert st.get == (7, 0)  # the first id is sticky


class FakeState:
    """Minimal GroupState double for pure-pandas state-fn tests."""

    def __init__(self, now_ms: int = 0, has_timed_out: bool = False):
        self.exists = False
        self._v = None
        self.hasTimedOut = has_timed_out
        self.now_ms = now_ms
        self.timeout_duration: int | None = None
        self.removed = False

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def remove(self):
        self._v = None
        self.exists = False
        self.removed = True

    def getCurrentProcessingTimeMs(self):
        return self.now_ms

    def setTimeoutDuration(self, ms):
        self.timeout_duration = ms


class TestStreamingNearDupTTL:
    def test_within_ttl_duplicate_flagged(self):
        import pandas as pd

        from dystonse_gtfs_data_spark.streaming.aggregations import (
            _make_near_dup_fn,
        )

        fn = _make_near_dup_fn(5_000)
        st = FakeState(now_ms=1_000)
        assert list(fn((0, "sig"), iter([pd.DataFrame({"doc_id": [7]})]), st)) == []
        assert st.get == (7, 1_000) and st.timeout_duration == 5_000
        st.now_ms = 4_000  # 3 s later, inside the 5 s TTL
        out = list(fn((0, "sig"), iter([pd.DataFrame({"doc_id": [9]})]), st))
        assert len(out) == 1 and out[0].iloc[0]["dup_of"] == 7
        assert st.get == (7, 4_000)  # last_seen refreshed by the arrival

    def test_expired_signature_rearrival_is_new_original(self):
        import pandas as pd

        from dystonse_gtfs_data_spark.streaming.aggregations import (
            _make_near_dup_fn,
        )

        fn = _make_near_dup_fn(5_000)
        st = FakeState(now_ms=1_000)
        list(fn((0, "sig"), iter([pd.DataFrame({"doc_id": [7]})]), st))
        st.now_ms = 7_001  # 6.001 s later — past the TTL
        out = list(fn((0, "sig"), iter([pd.DataFrame({"doc_id": [9]})]), st))
        assert out == []  # NOT a dup: the retained entry aged out
        assert st.get == (9, 7_001)  # doc 9 is the new original

    def test_timed_out_group_removes_state(self):
        from dystonse_gtfs_data_spark.streaming.aggregations import (
            _make_near_dup_fn,
        )

        fn = _make_near_dup_fn(5_000)
        st = FakeState(has_timed_out=True)
        st.update((7, 1_000))
        assert list(fn((0, "sig"), iter([]), st)) == []
        assert st.removed and not st.exists

    def test_basis_ttl_expiry_restarts_vehicle(self):
        import pandas as pd

        from dystonse_gtfs_data_spark.streaming.aggregations import (
            _make_basis_fn,
        )

        fn = _make_basis_fn(5_000)
        key = ("t1", "20240101", 28800)
        b1 = pd.DataFrame(
            {
                "time_of_recording": [pd.Timestamp("2024-01-01 08:00:00")],
                "stop_sequence": [3],
                "delay_departure": [60],
            }
        )
        st = FakeState(now_ms=1_000)
        assert len(list(fn(key, iter([b1]), st))) == 1  # first basis emits
        # same basis but an OLDER recording arriving after expiry: with a
        # live state it would be swallowed twice over (stale AND
        # unchanged); after TTL expiry the vehicle restarts fresh, so the
        # stale-guard and unchanged-guard both reset and it emits
        b2 = pd.DataFrame(
            {
                "time_of_recording": [pd.Timestamp("2024-01-01 07:00:00")],
                "stop_sequence": [3],
                "delay_departure": [60],
            }
        )
        st.now_ms = 7_001
        assert len(list(fn(key, iter([b2]), st))) == 1

    def test_streaming_ttl_end_to_end(self, spark, tmp_path):
        """Real multi-run Structured Streaming expiry: run 1 indexes a
        signature; after sleeping past the TTL, run 2 (same checkpoint —
        a parquet sink, since the memory sink can't recover) replays the
        SAME text from a new doc — with the entry expired it must be
        treated as a new original, not a duplicate.

        availableNow + ProcessingTimeTimeout never self-terminates (the
        state operator always requests another cleanup batch), so each
        run is drained with drain_availablenow_stream instead of a bare
        awaitTermination."""
        import time

        from dystonse_gtfs_data_spark.operators.dedup import (
            rowwise_minhash_bands,
        )
        from dystonse_gtfs_data_spark.streaming.aggregations import (
            streaming_near_dup,
        )
        from dystonse_gtfs_data_spark.streaming.pipeline import (
            drain_availablenow_stream,
        )

        land = tmp_path / "land"
        land.mkdir()
        ck = str(tmp_path / "ck")
        out = str(tmp_path / "out")
        text = "the quick brown fox jumps over the lazy dog"

        def run_once() -> None:
            src = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(land) + "/*")
            )
            q = (
                streaming_near_dup(
                    rowwise_minhash_bands(src, num_hashes=16), ttl_ms=2_000
                )
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            drain_availablenow_stream(q, timeout_s=180, expect_data=True)

        def hit_ids() -> set:
            return {
                r[0]
                for r in spark.read.parquet(out)
                .select("doc_id")
                .distinct()
                .collect()
            }

        spark.createDataFrame(
            [(1, text), (2, text)], ["doc_id", "text"]
        ).coalesce(1).write.parquet(str(land / "b0"))
        run_once()
        assert hit_ids() == {2}  # in-TTL duplicate flagged

        time.sleep(3)  # let the 2 s TTL lapse in processing time
        spark.createDataFrame([(3, text)], ["doc_id", "text"]).coalesce(
            1
        ).write.parquet(str(land / "b1"))
        run_once()  # recovers from the checkpoint, processes only b1
        assert hit_ids() == {2}  # expired signature: doc 3 is a new original


class TestRocksDBStateStore:
    def test_rocksdb_provider_same_results_and_engaged(self, spark, tmp_path):
        """streaming_near_dup under the RocksDB provider: identical
        output to the default provider, and the progress metrics prove
        RocksDB actually backed the state operator."""
        import pandas as pd

        from dystonse_gtfs_data_spark.operators.dedup import (
            rowwise_minhash_bands,
        )
        from dystonse_gtfs_data_spark.streaming.aggregations import (
            streaming_near_dup,
        )
        from dystonse_gtfs_data_spark.streaming.pipeline import (
            rocksdb_state,
            stream_state_partitions,
        )

        land = tmp_path / "land"
        land.mkdir()
        text = "the quick brown fox jumps over the lazy dog"
        spark.createDataFrame(
            [(1, text), (2, text), (3, "completely different words here")],
            ["doc_id", "text"],
        ).coalesce(1).write.parquet(str(land / "b0"))

        def run(ck: str, out: str, provider_ctx):
            src = spark.readStream.schema("doc_id long, text string").parquet(
                str(land) + "/*"
            )
            with provider_ctx, stream_state_partitions(spark, 4):
                q = (
                    streaming_near_dup(rowwise_minhash_bands(src, num_hashes=16))
                    .writeStream.format("parquet")
                    .outputMode("append")
                    .option("path", out)
                    .option("checkpointLocation", ck)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination(180)
                return q.lastProgress

        import contextlib

        p_default = run(
            str(tmp_path / "ck_d"), str(tmp_path / "out_d"),
            contextlib.nullcontext(),
        )
        p_rocks = run(
            str(tmp_path / "ck_r"), str(tmp_path / "out_r"),
            rocksdb_state(spark),
        )
        rows_d = sorted(
            tuple(r)
            for r in spark.read.parquet(str(tmp_path / "out_d")).collect()
        )
        rows_r = sorted(
            tuple(r)
            for r in spark.read.parquet(str(tmp_path / "out_r")).collect()
        )
        assert rows_d == rows_r and len(rows_r) > 0
        rocks_metrics = p_rocks["stateOperators"][0]["customMetrics"]
        assert any("rocksdb" in k.lower() for k in rocks_metrics)
        default_metrics = p_default["stateOperators"][0]["customMetrics"]
        assert not any("rocksdb" in k.lower() for k in default_metrics)
        # the context restored the session conf
        assert (
            spark.conf.get(
                "spark.sql.streaming.stateStore.providerClass", "unset-ok"
            )
            == "unset-ok"
        )


def test_bucketed_near_dup_matches_per_signature_keying(spark, tmp_path):
    # bucketed-state keying must be OUTPUT-IDENTICAL to the
    # per-signature reference keying (_make_near_dup_fn, which no engine
    # API selects, so the query is built here) — same hits, same dup_of
    # attribution, across a multi-batch replay with duplicate groups
    # spanning batches
    import random

    from pyspark.sql.streaming.state import GroupStateTimeout

    from dystonse_gtfs_data_spark.operators.dedup import (
        rowwise_minhash_bands,
    )
    from dystonse_gtfs_data_spark.streaming.aggregations import (
        _NEARDUP_OUTPUT_SCHEMA,
        _NEARDUP_STATE_SCHEMA,
        _make_near_dup_fn,
        streaming_near_dup,
    )

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(50)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(15)) for _ in range(12)
    ]
    rows = []
    for i in range(40):
        rows.append((i, texts[i % 12]))  # every text repeats across ids
    df = spark.createDataFrame(rows, "doc_id long, text string")
    land = tmp_path / "land"
    land.mkdir()
    import os as _os

    for b in range(2):  # id-ranged two-batch replay, pinned mtimes
        bdir = str(land / f"b{b:03d}")
        df.filter(
            (F.col("doc_id") >= b * 20) & (F.col("doc_id") < (b + 1) * 20)
        ).coalesce(1).write.parquet(bdir)
        for root, _dirs, names in _os.walk(bdir):
            for n in names:
                _os.utime(_os.path.join(root, n), (1_000_000 + b,) * 2)

    def per_signature(bands):
        return bands.groupBy("band_id", "band_sig").applyInPandasWithState(
            _make_near_dup_fn(None),
            outputStructType=_NEARDUP_OUTPUT_SCHEMA,
            stateStructType=_NEARDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    def run(stateful, tag):
        src = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land) + "/*")
        )
        out = str(tmp_path / f"out_{tag}")
        q = (
            stateful(rowwise_minhash_bands(src, num_hashes=16))
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["doc_id"], r["band_id"], r["dup_of"])
            for r in spark.read.parquet(out).collect()
        }

    # small bucket count → real packing
    bucketed = run(lambda b: streaming_near_dup(b, n_buckets=16), "bucketed")
    persig = run(per_signature, "persig")
    assert bucketed == persig
    assert bucketed  # repeated texts must produce hits


def test_bucketed_basis_matches_per_vehicle_keying(spark, tmp_path):
    # bucketed basis state must be OUTPUT-IDENTICAL to the per-vehicle
    # reference keying (_make_basis_fn, which no engine API selects, so
    # the query is built here): same emit-on-change rows, same
    # latest-wins advance across micro-batches, including a late stale
    # batch that must NOT clobber the newer basis
    import os as _os

    from pyspark.sql.streaming.state import GroupStateTimeout

    from dystonse_gtfs_data_spark.streaming.aggregations import (
        _BASIS_OUTPUT_SCHEMA,
        _BASIS_STATE_SCHEMA,
        _basis_keyed,
        _make_basis_fn,
        stateful_basis_stream,
    )

    rows = []
    # 6 vehicles x 2 feed files; vehicle v3 gets a STALE second update
    for v in range(6):
        rows.append((f"f1", f"t{v}", "20240101", "08:00:00", 3, 60 + v, 120,
                     "2024-01-01 08:10:00"))
        rows.append((f"f2", f"t{v}", "20240101", "08:00:00",
                     2 if v == 3 else 5, 90 + v, 150,
                     "2024-01-01 08:05:00" if v == 3 else "2024-01-01 08:20:00"))
    df = spark.createDataFrame(
        rows,
        "feed_file string, trip_id string, start_date string, "
        "start_time string, stop_sequence int, departure_delay int, "
        "arrival_delay int, header_timestamp string",
    ).withColumn("header_timestamp", F.col("header_timestamp").cast("timestamp"))
    land = tmp_path / "land"
    land.mkdir()
    for i, f in enumerate(("f1", "f2")):
        bdir = str(land / f"b{i:03d}")
        df.filter(F.col("feed_file") == f).coalesce(1).write.parquet(bdir)
        for root, _dirs, names in _os.walk(bdir):
            for n in names:
                _os.utime(_os.path.join(root, n), (1_000_000 + i,) * 2)

    def per_vehicle(updates):
        return _basis_keyed(updates).groupBy(
            "trip_id", "trip_start_date", "trip_start_time"
        ).applyInPandasWithState(
            _make_basis_fn(None),
            outputStructType=_BASIS_OUTPUT_SCHEMA,
            stateStructType=_BASIS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    def run(stateful, tag):
        src = (
            spark.readStream.schema(
                spark.read.parquet(str(land / "b000")).schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land) + "/*")
        )
        out_dir = str(tmp_path / f"out_{tag}")
        q = (
            stateful(src)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {tuple(r) for r in spark.read.parquet(out_dir).collect()}

    # small bucket count → real packing
    bucketed = run(lambda u: stateful_basis_stream(u, n_buckets=8), "bucketed")
    persig = run(per_vehicle, "pervehicle")
    assert bucketed == persig
    # every vehicle emitted its first basis; the 5 advancing vehicles
    # emitted a second row; the stale vehicle (t3) did not
    assert len(bucketed) == 11


def test_state_buckets_sqrt_rule_and_auto_resolution():
    # round-10: the bucket count is DERIVED (sqrt-keys rule, pow2,
    # clamped), not a magic 1024 — and "auto" with no estimate lands on
    # the documented anchor that reproduces the round-9 default
    from dystonse_gtfs_data_spark.streaming.aggregations import (
        DEFAULT_EXPECTED_KEYS,
        _resolve_buckets,
        state_buckets,
    )

    assert state_buckets(DEFAULT_EXPECTED_KEYS) == 1024
    assert state_buckets(1) == 64            # floor
    assert state_buckets(4096) == 64         # sqrt=64 → exactly the floor
    assert state_buckets(1_000_000) == 1024  # sqrt=1000 → next pow2
    assert state_buckets(4_000_000) == 2048
    assert state_buckets(10**14) == 1 << 20  # cap
    # pow2 monotonicity: more keys never means fewer buckets
    vals = [state_buckets(10**e) for e in range(2, 13)]
    assert vals == sorted(vals)
    assert _resolve_buckets("auto", None) == 1024
    assert _resolve_buckets("auto", 4_000_000) == 2048
    assert _resolve_buckets(512, 4_000_000) == 512   # explicit pin wins
