"""Sensitivity test of the lifecycle workload's statistics check.

The CLI and streaming imports call ``build_records`` without
``schedule_file_name`` (``__main__.cmd_import``,
``streaming/pipeline.start_records_stream``), so every record is tagged
with its feed file's path.  ``project_missing_delays`` keys vehicles on
that column, so a vehicle reported across many feed files gets its gap
grid built once per file and the specific curves multiply.

This script builds the statistics of one replica of the demo feed both
ways and requires the oracle check to pass on records tagged with the
schedule's name and to FAIL on records tagged the CLI's way:

    python3 perfbench/check_sensitivity.py      # from the checkout root

Exit 0 when both hold, 1 when either does not (the check has lost its
sensitivity, or the control no longer matches the oracle), 2 when the
engine is not importable from the working directory.
"""

from __future__ import annotations

import os
import shutil
import sys

import run as bench


def main() -> int:
    checkout = os.getcwd()
    if not os.path.isdir(os.path.join(checkout, "dystonse_gtfs_data_spark")):
        print("run from a checkout holding dystonse_gtfs_data_spark/", file=sys.stderr)
        return 2
    work = os.path.join(checkout, ".perfbench_work", f"sensitivity-{os.getpid()}")
    os.makedirs(work)
    try:
        bench.prepare_environment(checkout, work)
        spark = bench.start_session(work, "sensitivity", traced=False)
        return _check(spark, work)
    finally:
        bench.stop_spark()
        shutil.rmtree(work, ignore_errors=True)


def _check(spark, work: str) -> int:
    from dystonse_gtfs_data_spark.operators.records import build_records
    from dystonse_gtfs_data_spark.operators.specific_curves import specific_statistics
    from dystonse_gtfs_data_spark.sources.gtfs import read_gtfs
    from dystonse_gtfs_data_spark.sources.rt import decode_feed_messages

    from inputs import make_inputs
    from oracle import SOURCE, Oracle
    from workloads import specific_rows

    inputs = make_inputs(os.path.join(work, "inputs"), seed=0, replicas=1)
    oracle = Oracle(inputs)
    sched = read_gtfs(spark, inputs.schedule_dir)
    updates = decode_feed_messages(
        spark.read.format("binaryFile").load(os.path.join(inputs.root, "rt"))
    )
    results = {}
    for name, tag in (("schedule-tagged", os.path.basename(inputs.schedule_dir)),
                      ("CLI-tagged", None)):
        records = build_records(
            updates, sched["trips"], sched["stop_times"], source=SOURCE,
            schedule_file_name=tag,
        )
        path = os.path.join(work, name)
        records.write.parquet(path)
        stats = specific_statistics(spark.read.parquet(path), sched["stop_times"])
        results[name] = oracle.check_statistics(specific_rows(stats))
        print(f"{name}: {results[name] or 'matches the oracle'}")
    ok = not results["schedule-tagged"] and bool(results["CLI-tagged"])
    print("sensitivity check", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
