"""Oracle-checked transit lifecycle benchmark.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The inputs are generated from
``--seed``; the engine (``dystonse_gtfs_data_spark``) only ever sees the
generated GTFS CSV and GTFS-rt feed files.  Passes run until
``--seconds`` have elapsed, at least one.  Every output is checked
against the repo's single-node oracles (oracle.py) and every pass is
followed by the isolation checks (isolation.py).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones: the run
then adds an untraced and a traced pass, the latter with a label and a
span on every layer call, and reads Spark's event log.  Everything else
— Spark's output, failures, the spans, the seed — goes to
``.perfbench_work/diagnostics/``.

Exit codes: 0 with a result line, 2 if the engine is not importable
from the working directory, 1 on any other error (no result line).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("lifecycle", "incremental_import")
#: replicas of the demo feed per workload (inputs.py)
REPLICAS = 4
CPUS = 4
#: incremental import: whole passes set-up runs before the measured ones
WARM_PASSES = 2
#: incremental import: share of each service day's updates re-sent once
#: with changed delays (inputs.make_inputs).  A chosen value, not a
#: measured property of any feed: it only makes the merge resolve both
#: newer and older duplicates.
RESEND_SHARE = 0.05

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "import_records_per_s": "rec/s",
    "import_batch_p50_s": "s",
    "import_bytes_written_per_record": "B",
}
ENGINE_LAYERS = (
    "gtfs", "rt", "records", "stream", "sinks", "specific_curves",
    "default_curves", "predict", "monitor",
)


def per_layer_units() -> dict[str, str]:
    from tracing import ENGINE_METRICS

    units = {"jobs": "count", "tasks": "count", "shuffle_bytes": "B", "spill_bytes": "B"}
    out = {
        f"{layer}.{m}": units.get(m, "s")
        for layer in ENGINE_LAYERS
        for m in ENGINE_METRICS
    }
    out.update({
        "gtfs.read_s": "s",
        "rt.decode_s": "s", "rt.updates": "count", "rt.python_s": "s",
        "records.build_s": "s", "records.merge_s": "s", "records.kept_ratio": "ratio",
        "stream.batches": "count", "stream.start_s": "s", "stream.batch_s": "s",
        "sinks.records_bytes": "B", "sinks.records_files": "count",
        "sinks.statistics_write_s": "s", "sinks.predictions_write_s": "s",
        "sinks.predictions_files": "count",
        "specific_curves.s": "s", "specific_curves.cpu_s": "s",
        "specific_curves.python_s": "s", "specific_curves.curves": "count",
        "default_curves.s": "s", "default_curves.cpu_s": "s",
        "default_curves.curves": "count", "default_curves.untracked_persists": "count",
        "predict.s": "s", "predict.cpu_s": "s", "predict.python_s": "s",
        "predict.rows": "count", "predict.specific_share": "ratio",
        "monitor.board_ms": "ms", "monitor.jobs_per_board": "count",
        "monitor.tasks_per_board": "count",
        "http.rps": "req/s", "http.hit_p50_ms": "ms", "http.miss_p50_ms": "ms",
        "http.hit_ratio": "ratio", "http.coalesced": "count",
    })
    out.update({f"overhead.{k}": u for k, u in END_TO_END.items() if k != "setup_s"})
    return out


def stop_spark() -> None:
    """Stop the SparkContext and the JVM, and wait until the JVM and the
    Python workers have exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:  # noqa: SLF001
        SparkContext._active_spark_context.stop()  # noqa: SLF001
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    from tracing import descendants

    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)


def calibration_s() -> list[float]:
    """Seconds per fixed single-thread loop: how fast this machine ran
    when the run started (diagnostics only)."""
    out = []
    for _ in range(5):
        t = time.perf_counter()
        acc = 0
        for i in range(500_000):
            acc += i * i % 7
        out.append(time.perf_counter() - t)
    return out


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _redirect_output(log_path: str) -> tuple[int, int]:
    """Send fds 1 and 2 (this process, the JVM and the Python workers
    inherit them) to ``log_path``; return dups of the real ones."""
    sys.stdout.flush()
    sys.stderr.flush()
    real = os.dup(1), os.dup(2)
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 1)
    os.dup2(fd, 2)
    os.close(fd)
    return real


def prepare_environment(checkout: str, work: str) -> None:
    """Everything Spark, the JVM and Python workers write stays in
    ``work``; the workers import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [checkout] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    sys.path[:0] = [checkout, HERE]


def start_session(work: str, workload: str, traced: bool):
    from dystonse_gtfs_data_spark.session import build_session

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files in the system /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(f"perfbench-{workload}", master=f"local[{CPUS}]", extra_conf=conf)


def run(args, checkout: str, work: str, diag: dict) -> dict:
    from inputs import make_inputs
    from isolation import Isolation
    from oracle import Oracle
    from tracing import Tracer
    import workloads as W

    t = time.perf_counter()
    spark = start_session(work, args.workload, bool(args.trace))
    session_s = time.perf_counter() - t

    resend = RESEND_SHARE if args.workload == "incremental_import" else 0.0
    t = time.perf_counter()
    inputs = make_inputs(os.path.join(work, "inputs"), args.seed, REPLICAS, resend)
    gen_s = time.perf_counter() - t
    ctx = W.Ctx(spark, args.workload, inputs, Oracle(inputs), Isolation(spark),
                random.Random(args.seed))

    def one_pass(name: str):
        root = os.path.join(work, name)
        if args.workload == "lifecycle":
            return W.lifecycle_pass(ctx, root)
        return W.import_pass(ctx, root)

    t = time.perf_counter()
    _start_python_workers(spark)
    if args.workload == "incremental_import":
        # an automatic import is a long-lived process, so its warm-up
        # belongs to set-up.  Passes keep getting faster for about five
        # passes (on 4 vCPUs the first takes about 1.3x as long as the
        # third); two warm passes take most of that and keep a run near
        # a minute.
        for i in range(WARM_PASSES):
            one_pass(f"warm{i}")
    else:
        # the process's first import (5.7-9.3 s on 4 vCPUs against about
        # 2.5 s for the second) belongs to set-up.  The pass's analyse
        # and predict plans still run for the first time in the process,
        # as each CLI command's do.
        W.lifecycle_warm_import(ctx, os.path.join(work, "warm"))
    setup_s = session_s + gen_s + time.perf_counter() - t
    diag["setup"] = {"session_s": session_s, "generate_s": gen_s, "setup_s": setup_s}

    passes = []
    t_end = time.perf_counter() + args.seconds
    while not passes or time.perf_counter() < t_end:
        passes.append(one_pass(f"pass{len(passes)}"))
    e2e = {"setup_s": setup_s, **_end_to_end(passes)}
    diag["passes"] = [p.__dict__ for p in passes]

    if not args.trace:
        metrics = e2e
    else:
        # tracing overhead: a traced pass against an untraced one run
        # just before it, both warm
        baseline = _end_to_end([one_pass("baseline")])
        tracer = Tracer(spark.sparkContext, args.workload, f"{args.workload}-{args.seed}")
        ctx.tracer = tracer
        traced = one_pass("traced")
        ctx.tracer = None
        spark.stop()  # closes the event log
        metrics = _per_layer(work, tracer, ctx.isolation.known_leaks, traced, diag)
        traced_e2e = _end_to_end([traced])
        metrics.update({f"overhead.{k}": traced_e2e[k] - baseline[k] for k in traced_e2e})
        diag["spans"] = [s.__dict__ for s in tracer.spans]
    diag["failures"] = ctx.failures
    diag["known_engine_leaks"] = ctx.isolation.known_leaks
    return {"ctx": ctx, "metrics": metrics}


def _start_python_workers(spark) -> None:
    """Part of starting the session: fork one Arrow-fed Python worker
    per core, so no pass pays for the worker pool itself."""

    def identity(batches):
        yield from batches

    spark.range(CPUS, numPartitions=CPUS).mapInPandas(identity, "id long").collect()


def _end_to_end(passes) -> dict:
    med = statistics.median
    return {
        "pass_s": med(p.pass_s for p in passes),
        "pass_cpu_s": med(p.cpu_s for p in passes),
        "import_records_per_s": med(p.updates / sum(p.import_s) for p in passes),
        "import_batch_p50_s": med(b for p in passes for b in p.import_s),
        "import_bytes_written_per_record": med(p.records_bytes / p.updates for p in passes),
    }


def _per_layer(work: str, tracer, known_leaks: int, traced, diag: dict) -> dict:
    from tracing import layer_engine_metrics, read_event_log

    tracer_spans = tracer.spans
    (log_path,) = glob.glob(os.path.join(work, "events", "*"))
    log = read_event_log(log_path)
    diag["jobs"] = log["jobs"]
    engine = layer_engine_metrics(log, tracer)

    out = dict.fromkeys(per_layer_units(), 0.0)
    for layer, vals in engine.items():
        for k, v in vals.items():
            if f"{layer}.{k}" in out:
                out[f"{layer}.{k}"] = v

    def spans(name, table=None):
        return [
            s for s in tracer_spans
            if s.name == name and (table is None or s.counts.get("table") == table)
        ]

    def total(name, table=None):
        return sum(s.end - s.start for s in spans(name, table))

    c = traced.counts
    rt = spans("rt")
    updates = sum(s.counts.get("rows", 0) for s in rt)
    records = sum(s.counts.get("rows", 0) for s in spans("records"))
    out.update({
        "gtfs.read_s": total("gtfs"),
        "rt.decode_s": total("rt"),
        "rt.updates": updates,
        "rt.python_s": sum(s.python_s for s in rt),
        "records.build_s": total("records"),
        "records.merge_s": total("sinks", "records"),
        "records.kept_ratio": records / updates if updates else 0.0,
        "sinks.records_bytes": traced.records_bytes,
        "sinks.records_files": c["sinks.records_files"],
        "sinks.statistics_write_s": total("sinks", "statistics"),
        "sinks.predictions_write_s": total("sinks", "predictions"),
        "sinks.predictions_files": c.get("sinks.predictions_files", 0),
        "default_curves.untracked_persists": known_leaks,
    })
    for layer in ("specific_curves", "default_curves", "predict"):
        ss = spans(layer)
        out[f"{layer}.s"] = total(layer)
        out[f"{layer}.cpu_s"] = sum(s.cpu_s for s in ss)
        if f"{layer}.python_s" in out:
            out[f"{layer}.python_s"] = sum(s.python_s for s in ss)
    out["specific_curves.curves"] = sum(s.counts.get("rows", 0) for s in spans("specific_curves"))
    out["default_curves.curves"] = sum(s.counts.get("rows", 0) for s in spans("default_curves"))
    pred_rows = sum(s.counts.get("rows", 0) for s in spans("predict"))
    out["predict.rows"] = pred_rows
    out["predict.specific_share"] = (
        sum(s.counts.get("specific", 0) for s in spans("predict")) / pred_rows
        if pred_rows else 0.0
    )

    streams = spans("stream")
    if streams:
        out["stream.batches"] = len(streams)
        out["stream.batch_s"] = statistics.median(s.end - s.start for s in streams)
        starts = []
        for s in streams:
            q0 = s.counts["query_start"]
            first = min(
                (j["start"] for j in log["jobs"].values() if q0 <= j["start"] <= s.end),
                default=None,
            )
            if first is not None:
                starts.append(first - q0)
        out["stream.start_s"] = statistics.median(starts) if starts else 0.0

    boards = c.get("monitor.boards", 0)
    if boards:
        out["monitor.board_ms"] = c["monitor.board_ms"]
        out["monitor.jobs_per_board"] = out["monitor.jobs"] / boards
        out["monitor.tasks_per_board"] = out["monitor.tasks"] / boards
    for k in ("http.rps", "http.hit_p50_ms", "http.miss_p50_ms", "http.hit_ratio",
              "http.coalesced"):
        if k in c:
            out[k] = c[k]
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    checkout = os.getcwd()
    if not os.path.isdir(os.path.join(checkout, "dystonse_gtfs_data_spark")):
        print("perfbench: run from a checkout holding dystonse_gtfs_data_spark/",
              file=sys.stderr)
        return 2
    base = os.path.join(checkout, ".perfbench_work")
    diag_dir = os.path.join(base, "diagnostics")
    os.makedirs(diag_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(base, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    real_stdout, real_stderr = _redirect_output(os.path.join(diag_dir, f"{tag}.log"))
    diag = {"seed": args.seed, "workload": args.workload, "trace": args.trace,
            "calibration_s": calibration_s()}
    try:
        prepare_environment(checkout, work)
        try:
            import dystonse_gtfs_data_spark  # noqa: F401
        except ImportError:
            traceback.print_exc()
            return 2
        result = run(args, checkout, work, diag)
    except Exception:  # the run's boundary: record, report, no result line
        traceback.print_exc()
        os.write(real_stderr, f"perfbench: {tag} failed, see {diag_dir}/{tag}.log\n".encode())
        return 1
    finally:
        stop_spark()
        with open(os.path.join(diag_dir, f"{tag}.json"), "w") as fh:
            json.dump(diag, fh, indent=1, default=str)
        shutil.rmtree(work, ignore_errors=True)

    ctx = result["ctx"]
    units = END_TO_END if not args.trace else per_layer_units()
    line = {
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            k: {"value": float(result["metrics"][k]), "unit": u} for k, u in units.items()
        },
    }
    os.write(real_stdout, (json.dumps(line) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
