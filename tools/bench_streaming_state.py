"""Streaming state-store A/B: the default (HDFS-backed, executor-heap)
provider vs RocksDB for the stateful streaming catalog entries, at a
scaled sf dir (default the sf1 replica tools/make_scaled_sf.py builds).

Each entry runs under both providers and the harness prints one JSON
line.  A StreamingQueryListener captures every progress event's
stateOperators — numRowsTotal, memoryUsedBytes, and the provider's
customMetrics (for RocksDB: rocksdbSstFileSize = on-disk bytes,
rocksdbTotalMemoryUsage) — so the artifact states each provider's
state in rows and bytes per batch, not just wall time.  The RocksDB
metrics appear only on the RocksDB leg, which shows each leg ran the
store it names.

Usage: python tools/bench_streaming_state.py [SF_DIR] [REPS]
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener

from dystonse_gtfs_data_spark import queries as Q
from dystonse_gtfs_data_spark.cache import release_persisted
from dystonse_gtfs_data_spark.session import build_session

ENTRIES = ("stream_near_dup", "stream_near_dup_ttl", "basis_stream")

#: RocksDB custom metrics worth publishing (bytes); absent on the
#: default provider, harmlessly skipped
_ROCKSDB_BYTES = ("rocksdbSstFileSize", "rocksdbTotalMemoryUsage")


class _StateMetricsListener(StreamingQueryListener):
    """Collects per-batch state-operator metrics from every streaming
    query progress event (the listener bus is async — drain before
    reading)."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (API naming)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ops = []
        for so in p.stateOperators:
            rec = {
                "operator": so.operatorName,
                "rows_total": so.numRowsTotal,
                "memory_bytes": so.memoryUsedBytes,
            }
            custom = dict(so.customMetrics or {})
            for key in _ROCKSDB_BYTES:
                if key in custom:
                    rec[key] = int(custom[key])
            ops.append(rec)
        if ops:
            self.batches.append({"batch_id": p.batchId, "state": ops})

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def drain(self, since: int, settle_s: float = 0.3, max_wait_s: float = 10.0):
        """Events recorded after index ``since``, once the async bus has
        gone quiet (no new events for ``settle_s``)."""
        deadline = time.time() + max_wait_s
        last_len = len(self.batches)
        quiet_at = time.time()
        while time.time() < deadline:
            cur = len(self.batches)
            if cur != last_len:
                last_len, quiet_at = cur, time.time()
            elif time.time() - quiet_at >= settle_s:
                break
            time.sleep(0.05)
        return list(self.batches[since:])


@contextmanager
def _state_provider(provider: str):
    """Select a leg's state store.  Every entry runs under
    ``catalog_stream_state``, which picks RocksDB unless
    ``SPARK_GRAFT_HEAP_STATE=1``, so the variable (not a session conf)
    chooses the provider; its previous value is restored afterwards."""
    prev = os.environ.pop("SPARK_GRAFT_HEAP_STATE", None)
    if provider == "default":
        os.environ["SPARK_GRAFT_HEAP_STATE"] = "1"
    try:
        yield
    finally:
        os.environ.pop("SPARK_GRAFT_HEAP_STATE", None)
        if prev is not None:
            os.environ["SPARK_GRAFT_HEAP_STATE"] = prev


def _summarize(batches: list[dict]) -> dict:
    """Maxima across a run's batches (state grows monotonically within
    a run for these entries, so the max is the end-of-run footprint)."""
    out = {
        "batches": len(batches),
        "state_rows_max": 0,
        "state_memory_bytes_max": 0,
    }
    for b in batches:
        for so in b["state"]:
            out["state_rows_max"] = max(out["state_rows_max"], so["rows_total"])
            out["state_memory_bytes_max"] = max(
                out["state_memory_bytes_max"], so["memory_bytes"]
            )
            for key in _ROCKSDB_BYTES:
                if key in so:
                    k = f"{key}_max"
                    out[k] = max(out.get(k, 0), so[key])
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/testdata_sf1/sf1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = build_session("bench-streaming-state")
    listener = _StateMetricsListener()
    spark.streams.addListener(listener)
    # warm the JVM + parquet footers so rep timings measure the streams
    Q.REGISTRY["stream_dedup"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    release_persisted()

    out: dict[str, dict[str, dict]] = {e: {} for e in ENTRIES}
    for provider in ("default", "rocksdb"):
        for name in ENTRIES:
            fn = Q.REGISTRY[name].fn
            walls, states = [], []
            for _ in range(reps):
                mark = len(listener.batches)
                t0 = time.time()
                with _state_provider(provider):
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                walls.append(round(time.time() - t0, 3))
                release_persisted()
                batches = listener.drain(mark)
                states.append(
                    {"summary": _summarize(batches), "per_batch": batches}
                )
                print(
                    f"# {provider} {name} {walls[-1]}s "
                    f"state={states[-1]['summary']}",
                    file=sys.stderr,
                    flush=True,
                )
            out[name][provider] = {"wall_s": walls, "state": states}
    print(
        json.dumps(
            {
                "metric": "streaming_state_store_wall_time",
                "unit": "sec",
                "sf_dir": sf_dir,
                "reps": reps,
                "queries": out,
            }
        )
    )


if __name__ == "__main__":
    main()
