"""Streaming-native aggregations (T7) and the stateful prediction-basis
dedup (T3) — the Structured Streaming forms of operators the batch
layer expresses with groupBy/window functions.

The batch engine recomputes + latest-wins-merges (simpler, same
results); these exist for deployments that want true incremental state:
event-time windows with watermarks for late data, and a keyed state
store remembering each vehicle's last prediction basis so unchanged
updates emit nothing (the reference's `current_prediction_basis`
HashMap, src/importer/mod.rs:42, 200-221)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: Sizing anchor for bucketed stateful operators when the caller gives
#: no expected key count: 2^20 (~1 M) distinct state keys — the sf10
#: signature-index scale the round-9 bucketing work was profiled at.
#: ``state_buckets(DEFAULT_EXPECTED_KEYS)`` = 1024, so defaults are
#: unchanged from round 9; the constant is now DERIVED, not magic.
DEFAULT_EXPECTED_KEYS = 1 << 20


def state_buckets(expected_keys: int) -> int:
    """The √keys bucket-sizing rule for bucketed stateful operators,
    rounded up to a power of two and clamped to [64, 2^20].

    Rationale (measured in the round-9 sf10/sf1 state telemetry,
    BENCH_sf1_state.json): per-BUCKET pandas invocation overhead is
    ~0.6 ms/key/micro-batch under per-key keying, so buckets must not
    scale with keys; but a touched bucket rewrites its whole packed
    row, so per-bucket population (keys/buckets) bounds write
    amplification.  buckets = √keys balances the two — invocations and
    value sizes both grow as √keys, and the measured sf1→sf10 decade
    ratio stayed 2.6× under it.  The power-of-two rounding keeps
    ``pmod(xxhash64(...), buckets)`` distributions comparable across
    nearby corpus sizes; the floor (64) keeps small streams off the
    degenerate few-giant-buckets shape and the cap (2^20 buckets)
    bounds the state-store key count at the scale where RocksDB keying
    itself becomes the cost."""
    import math

    keys = max(1, int(expected_keys))
    b = 1 << max(6, (math.isqrt(keys) - 1).bit_length() if keys > 1 else 6)
    return min(b, 1 << 20)


def _resolve_buckets(n_buckets: int | str, expected_keys) -> int:
    """Shared ``n_buckets="auto"`` resolution for the bucketed stateful
    operators: an explicit int passes through; "auto" derives from
    ``expected_keys`` via :func:`state_buckets`, anchored at
    :data:`DEFAULT_EXPECTED_KEYS` when the caller has no estimate."""
    if n_buckets == "auto":
        return state_buckets(
            DEFAULT_EXPECTED_KEYS if expected_keys is None else expected_keys
        )
    return n_buckets


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "4 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time tumbling-window counts with a late-data watermark — the
    streaming form of the A1 interval report."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.avg("value").alias("avg_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


_BASIS_STATE_SCHEMA = (
    "stop_sequence int, delay_departure int, tor_us long, last_seen_ms long"
)
_BASIS_OUTPUT_SCHEMA = (
    "trip_id string, trip_start_date string, trip_start_time int, "
    "stop_sequence int, delay_departure int, time_of_recording_us long"
)


def _make_basis_fn(ttl_ms: int | None):
    """Per-vehicle reference form of the basis state function, keyed by
    the vehicle key itself with :data:`_BASIS_STATE_SCHEMA` state.  No
    engine path runs it: :func:`stateful_basis_stream` runs the
    bucketed :func:`_make_basis_bucket_fn`, and the tests check that
    the two emit the same rows."""

    def _basis_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Emit a row only when the vehicle's (stop_sequence, delay) basis
        changed — the incremental-skip the reference implements with a
        mutex-guarded map (src/importer/per_schedule_importer.rs:266-313).

        The retained basis is the GLOBAL latest observation by
        (time_of_recording, stop_sequence) — state only advances in that
        order, so a late-arriving micro-batch of stale data can never
        clobber a newer basis, and the stream's final basis per vehicle is
        exactly the batch `realtime_bases` latest-wins result regardless of
        file arrival order.

        With ``ttl_ms`` set, a vehicle idle past the TTL is dropped from
        the state store (ProcessingTimeTimeout) — the reference's T4
        retention for finished trips (src/importer/mod.rs:174-198);
        state stays O(active vehicles), not O(vehicles ever seen)."""
        if state.hasTimedOut:
            state.remove()
            return
        now = int(state.getCurrentProcessingTimeMs()) if ttl_ms else 0
        prev = state.get if state.exists else None
        if prev is not None and ttl_ms and now - int(prev[3]) > ttl_ms:
            prev = None  # aged-out basis: the vehicle restarts fresh
        batch = pd.concat(list(pdfs), ignore_index=True).dropna(
            subset=["delay_departure"]
        )
        if batch.empty:
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)
            return
        # delay_departure in the key + stable mergesort: rows tied on
        # (time, seq) but differing in delay must resolve identically in
        # the per-vehicle and bucketed forms (and run to run) — the
        # default unstable quicksort breaks both guarantees on ties
        last = batch.sort_values(
            ["time_of_recording", "stop_sequence", "delay_departure"],
            kind="mergesort",
        ).iloc[-1]
        tor_us = int(pd.Timestamp(last["time_of_recording"]).value // 1_000)
        best = (int(last["stop_sequence"]), int(last["delay_departure"]), tor_us)
        if prev is not None and (best[2], best[0]) <= (prev[2], prev[0]):
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)
            return  # stale (late) data → keep the newer retained basis
        state.update((*best, now))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        if prev is not None and (prev[0], prev[1]) == (best[0], best[1]):
            return  # unchanged basis → no output, no re-prediction
        trip_id, start_date, start_time = key
        yield pd.DataFrame(
            [
                {
                    "trip_id": trip_id,
                    "trip_start_date": start_date,
                    "trip_start_time": int(start_time),
                    "stop_sequence": best[0],
                    "delay_departure": best[1],
                    "time_of_recording_us": best[2],
                }
            ]
        )

    return _basis_fn


_BASIS_BUCKET_STATE_SCHEMA = (
    "trip_ids array<string>, start_dates array<string>, "
    "start_times array<int>, stop_seqs array<int>, delays array<int>, "
    "tors_us array<long>, seen_ms array<long>"
)


def _make_basis_bucket_fn(ttl_ms: int | None):
    def _bucket_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Bucketed form of :func:`_make_basis_fn` (the round-9
        streaming-near-dup lesson applied to the per-vehicle basis):
        keyed by a hash BUCKET of the vehicle key, the bucket's
        retained bases packed into one state row as parallel arrays.
        Output-identical — same per-vehicle latest-wins advance, same
        emit-on-change — but the Python stateful operator pays one
        invocation per BUCKET per micro-batch instead of one per
        vehicle (measured: 30 k synthetic vehicles cost 20.9 s under
        per-vehicle keying, ~0.6 ms per vehicle per batch of pure
        invocation overhead).

        TTL parity: per-vehicle timestamps decide expiry at lookup, an
        expired vehicle restarts fresh, expired entries purge whenever
        their bucket is rewritten, and the bucket-level
        ProcessingTimeTimeout reclaims idle buckets (uniformly expired
        by definition of idle)."""
        if state.hasTimedOut:
            state.remove()
            return
        now = int(state.getCurrentProcessingTimeMs()) if ttl_ms else 0
        idx: dict[tuple, tuple] = {}
        if state.exists:
            tids, dates, times, seqs, dels, tors, seens = state.get
            for t, d, tt, sq, dl, tor, sn in zip(
                tids, dates, times, seqs, dels, tors, seens
            ):
                if ttl_ms and now - int(sn) > ttl_ms:
                    continue  # aged-out vehicle: restarts fresh
                idx[(t, d, int(tt))] = (int(sq), int(dl), int(tor), int(sn))
        batch = pd.concat(list(pdfs), ignore_index=True).dropna(
            subset=["delay_departure"]
        )
        if batch.empty:
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)
            return
        out = []
        latest = (
            # same (time, seq, delay) mergesort as the per-vehicle form:
            # tie rows must pick the same winner in both keyings
            batch.sort_values(
                ["time_of_recording", "stop_sequence", "delay_departure"],
                kind="mergesort",
            )
            .groupby(
                ["trip_id", "trip_start_date", "trip_start_time"],
                sort=False,
                dropna=False,  # Spark groups null keys; match it
            )
            .tail(1)
        )
        for row in latest.itertuples(index=False):
            vkey = (
                row.trip_id,
                row.trip_start_date,
                int(row.trip_start_time),
            )
            tor_us = int(pd.Timestamp(row.time_of_recording).value // 1_000)
            best = (int(row.stop_sequence), int(row.delay_departure), tor_us)
            prev = idx.get(vkey)
            if prev is not None and (best[2], best[0]) <= (prev[2], prev[0]):
                continue  # stale (late) data → keep the newer basis
            idx[vkey] = (*best, now)
            if prev is not None and (prev[0], prev[1]) == (best[0], best[1]):
                continue  # unchanged basis → no output
            out.append(
                {
                    "trip_id": vkey[0],
                    "trip_start_date": vkey[1],
                    "trip_start_time": vkey[2],
                    "stop_sequence": best[0],
                    "delay_departure": best[1],
                    "time_of_recording_us": best[2],
                }
            )
        if idx:
            keys = list(idx)
            state.update(
                (
                    [k[0] for k in keys],
                    [k[1] for k in keys],
                    [k[2] for k in keys],
                    [idx[k][0] for k in keys],
                    [idx[k][1] for k in keys],
                    [idx[k][2] for k in keys],
                    [idx[k][3] for k in keys],
                )
            )
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out)

    return _bucket_fn


def stateful_basis_stream(
    updates: DataFrame,
    ttl_ms: int | None = None,
    n_buckets: int | str = "auto",
    expected_vehicles: int | None = None,
) -> DataFrame:
    """updates: streaming RT_UPDATES-shaped frame (trip_id, start_date,
    start_time parsed to seconds upstream).  Output: one row per basis
    *change* per vehicle.  ``ttl_ms`` bounds the state store: vehicles
    idle past it are evicted (and a later reappearance starts fresh).

    ``n_buckets="auto"`` keys the state by a hash bucket of the vehicle
    key with the bucket's bases packed into one state row —
    output-identical to per-vehicle keying (:func:`_make_basis_fn`),
    but the per-key pandas invocation cost stops scaling with
    the fleet (measured 0.6 ms/vehicle/batch of pure overhead at 30 k
    synthetic vehicles; see _make_basis_bucket_fn).  The bucket count
    derives from ``expected_vehicles`` by the √keys rule
    (:func:`state_buckets`; 1024 at the default anchor) — pass the
    fleet size for a right-sized store, or an explicit int to pin."""
    n_buckets = _resolve_buckets(n_buckets, expected_vehicles)
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms
        else GroupStateTimeout.NoTimeout
    )
    bucketed = _basis_keyed(updates).withColumn(
        "_bucket",
        F.pmod(
            F.xxhash64("trip_id", "trip_start_date", "trip_start_time"),
            F.lit(n_buckets),
        ),
    )
    return bucketed.groupBy("_bucket").applyInPandasWithState(
        _make_basis_bucket_fn(ttl_ms),
        outputStructType=_BASIS_OUTPUT_SCHEMA,
        stateStructType=_BASIS_BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def _basis_keyed(updates: DataFrame) -> DataFrame:
    """Project RT_UPDATES rows onto the basis state's input columns:
    the vehicle key (``start_time`` parsed to seconds) plus the
    observation."""
    return updates.select(
        "trip_id",
        F.col("start_date").alias("trip_start_date"),
        F.coalesce(
            F.split(F.col("start_time"), ":").getItem(0).cast("int") * 3600
            + F.split(F.col("start_time"), ":").getItem(1).cast("int") * 60
            + F.split(F.col("start_time"), ":").getItem(2).cast("int"),
            F.lit(0),
        ).alias("trip_start_time"),
        "stop_sequence",
        "departure_delay",
        F.col("header_timestamp").alias("time_of_recording"),
    ).withColumnRenamed("departure_delay", "delay_departure")


_NEARDUP_STATE_SCHEMA = "first_id long, last_seen_ms long"
_NEARDUP_OUTPUT_SCHEMA = "doc_id long, band_id int, dup_of long"
_NEARDUP_BUCKET_STATE_SCHEMA = (
    "band_ids array<int>, band_sigs array<string>, "
    "first_ids array<long>, seen_ms array<long>"
)


def _make_near_dup_bucket_fn(ttl_ms: int | None):
    def _bucket_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Keyed by a HASH BUCKET of (band_id, band_sig); the state row
        packs the bucket's whole signature index as parallel arrays.
        Output-identical to the per-signature keying, but the number of
        Python group invocations per micro-batch drops from
        O(distinct signatures) to O(buckets) — the sf10 profile showed
        per-signature keying spending its wall on ~2 M pandas state
        calls per batch, not on the dedup math.

        TTL semantics match the per-signature form observably: expiry
        is decided by the stored per-signature timestamp AT LOOKUP
        (an aged-out signature treats the arriving doc as a new
        original), expired entries are purged whenever their bucket is
        touched, and the bucket-level ProcessingTimeTimeout reclaims
        idle buckets — correct wholesale, because a bucket idle past
        the TTL implies every entry in it is expired."""
        if state.hasTimedOut:
            state.remove()
            return
        now = int(state.getCurrentProcessingTimeMs()) if ttl_ms else 0
        idx: dict[tuple, tuple] = {}
        if state.exists:
            b_ids, b_sigs, firsts, seens = state.get
            for bi, sig, f, t in zip(b_ids, b_sigs, firsts, seens):
                if ttl_ms and now - int(t) > ttl_ms:
                    continue  # purge aged-out entries on touch
                idx[(int(bi), sig)] = (int(f), int(t))
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values("doc_id")
        out = []
        for did, bi, sig in zip(
            batch["doc_id"], batch["band_id"], batch["band_sig"]
        ):
            did, bi = int(did), int(bi)
            hit = idx.get((bi, sig))
            if hit is None:
                idx[(bi, sig)] = (did, now)
            else:
                if did != hit[0]:
                    out.append(
                        {"doc_id": did, "band_id": bi, "dup_of": hit[0]}
                    )
                idx[(bi, sig)] = (hit[0], now)  # refresh last-seen
        if idx:
            keys = list(idx)
            state.update(
                (
                    [k[0] for k in keys],
                    [k[1] for k in keys],
                    [idx[k][0] for k in keys],
                    [idx[k][1] for k in keys],
                )
            )
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out)

    return _bucket_fn


def _make_near_dup_fn(ttl_ms: int | None):
    """Per-signature reference form of the near-dup state function,
    keyed by (band_id, band_sig) with :data:`_NEARDUP_STATE_SCHEMA`
    state.  No engine path runs it: :func:`streaming_near_dup` runs the
    bucketed :func:`_make_near_dup_bucket_fn`, and the tests check that
    the two emit the same rows."""

    def _near_dup_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Keyed by (band_id, band_sig): remember the FIRST doc id that
        ever produced this signature; every later doc sharing it is a
        near-dup candidate and emits a (doc, band, dup_of) hit.
        Originals emit nothing — the stream's output is exactly the
        duplicate set.

        Arrival-order contract: micro-batches replay in document order
        (landing files are id-ranged), so "first" is the min id, matching
        the batch oracle's earlier-doc-by-id rule.  In a production feed
        the order is ingestion time, which IS the dedup semantic there.

        With ``ttl_ms``, a signature unseen past the TTL ages out of the
        index two ways: idle groups are evicted by the state-store
        timeout (hasTimedOut → remove), and a re-arrival whose retained
        entry is older than the TTL treats the arriving doc as a NEW
        original — so the index holds only signatures seen inside the
        dedup horizon, O(recent signatures) at corpus scale."""
        if state.hasTimedOut:
            state.remove()
            return
        now = int(state.getCurrentProcessingTimeMs()) if ttl_ms else 0
        first = int(state.get[0]) if state.exists else None
        if (
            first is not None
            and ttl_ms
            and now - int(state.get[1]) > ttl_ms
        ):
            first = None  # aged-out signature: arriving doc is a new original
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values("doc_id")
        out = []
        for did in batch["doc_id"]:
            did = int(did)
            if first is None:
                first = did
            elif did != first:
                out.append(
                    {"doc_id": did, "band_id": int(key[0]), "dup_of": first}
                )
        state.update((first, now))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        if out:
            yield pd.DataFrame(out)

    return _near_dup_fn


def streaming_near_dup(
    bands: DataFrame,
    ttl_ms: int | None = None,
    n_buckets: int | str = "auto",
    expected_signatures: int | None = None,
) -> DataFrame:
    """Streaming minhash near-dup detection (the incremental form of the
    batch minhash+LSH pipeline): ``bands`` is the stateless per-row
    signature projection (operators/dedup.rowwise_minhash_bands) over a
    streaming source; the keyed state holds the accumulating LSH index
    — one entry per distinct (band_id, band_sig) seen inside the dedup
    horizon, O(distinct signatures), not O(documents × bands).

    ``n_buckets="auto"`` keys the state by a hash BUCKET of the
    signature, with each bucket's index packed into one state row as
    parallel arrays.  Output-identical to per-signature keying
    (:func:`_make_near_dup_fn`), but the Python stateful
    operator's per-key invocation cost stops scaling with the corpus: a
    round-9 sf10 profile showed per-signature keying paying for ~2 M
    pandas state calls per micro-batch while the dedup math itself was
    trivial.  Trade: a touched bucket rewrites its whole row, so the
    bucket count must rise with the corpus to keep value sizes and
    write amplification bounded — "auto" applies the √keys rule
    (:func:`state_buckets`) to ``expected_signatures`` (docs ×
    bands-per-doc inside the dedup horizon; 1024 at the default
    anchor).  Pass the estimate for a right-sized store, or an
    explicit int to pin (round-10 width sweep, BENCH_sf1_state.json:
    at sf1 under RocksDB, 1024 vs 4096 buckets run 6.2–6.4 vs
    7.9–9.1 s (near-dup) and overlap entirely on the TTL variant,
    with state bytes within 15% — while per-signature keying measured
    131–145 s on the same TTL workload in round 7.  The rule's
    CONSTANT matters far less than not being per-key; its job is to
    keep both invocation count and per-bucket value size at √keys as
    the corpus grows two more decades).

    ``ttl_ms`` bounds the index for unbounded feeds: a doc
    re-presenting a signature older than the TTL is treated as a new
    original (per-signature timestamps, checked at lookup), expired
    entries are purged whenever their bucket is touched, and idle
    buckets are reclaimed by ProcessingTimeTimeout — an idle bucket's
    entries are uniformly expired, so wholesale removal preserves the
    per-signature semantics (reference analog: the T4 retention
    semantics, src/importer/mod.rs:174-198)."""
    n_buckets = _resolve_buckets(n_buckets, expected_signatures)
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms
        else GroupStateTimeout.NoTimeout
    )
    bucketed = bands.withColumn(
        "_bucket",
        F.pmod(F.xxhash64("band_id", "band_sig"), F.lit(n_buckets)),
    )
    return bucketed.groupBy("_bucket").applyInPandasWithState(
        _make_near_dup_bucket_fn(ttl_ms),
        outputStructType=_NEARDUP_OUTPUT_SCHEMA,
        stateStructType=_NEARDUP_BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
