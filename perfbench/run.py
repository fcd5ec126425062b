"""Benchmark entry point.

    python3 perfbench/run.py --workload {query_mix,serve_mixed} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  The package is imported from the current
directory; every file the run writes (lake, models, prediction log,
fixtures, Spark local dirs, event log) lives in a fresh directory under
``.perfbench_runs/`` that is removed when the run ends.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: with ``--trace 0`` the
end-to-end metrics named in ``BENCHMARK.json``, with ``--trace 1`` every
per-layer metric.  A traced run also prints its span table (per-span
time, self time, actions and Spark task figures) to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PACKAGE = "modern_data_lakehouse_pipeline_for_logistics_analytics__spark"
WORKLOADS = ("query_mix", "serve_mixed")


def _cpus() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def spark_cores() -> int:
    """Task threads Spark gets: half the CPUs the process may use.  The
    rest is left to the Python driver (the serving workers, the query
    driver loops, ``mapInPandas`` workers), the JVM's own threads and the
    host: with a task thread on every CPU, one descheduled thread holds up
    each stage, and run-to-run spread on a shared 4-vCPU host grew several
    times over."""
    return max(1, _cpus() // 2)


class RunContext:
    """What a workload gets: the session, the tracer, its private run
    directory, and the timed-window bookkeeping."""

    def __init__(self, spark, tracer, run_dir: str, session_s: float):
        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir
        self.session_s = session_s
        self.window = [0.0, 0.0]  # epoch seconds
        self.window_wall_s = 0.0
        self._t0 = 0.0

    def window_start(self) -> None:
        self.window[0] = time.time()
        self._t0 = time.perf_counter()

    def window_end(self) -> None:
        self.window[1] = time.time()
        self.window_wall_s = time.perf_counter() - self._t0


def end_to_end_spec(root: str) -> dict[str, str]:
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["end_to_end"]}


def start_session(run_dir: str, trace: bool):
    from modern_data_lakehouse_pipeline_for_logistics_analytics__spark.session import build_session

    import tracing

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
        # A fixed heap, touched in full at start-up (set-up time) and
        # backed by huge pages: no page faults as the heap grows or
        # shrinks inside the timed window, which on a virtualised host
        # cost more the busier the host is.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{os.environ['SPARK_DRIVER_MEMORY']} "
            "-XX:+AlwaysPreTouch -XX:+UseTransparentHugePages -XX:-UseDynamicNumberOfCompilerThreads "
            f"-XX:ParallelGCThreads={spark_cores()} -XX:ConcGCThreads=1"
        ),
    }
    if trace:
        conf.update(tracing.event_log_conf(os.path.join(run_dir, "eventlog")))
    spark = build_session(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- last resort
            proc.kill()
            proc.wait()


def run_workload(workload: str, seed: int, seconds: float, trace: bool, root: str,
                 options: dict | None = None) -> dict:
    """Run one workload in a fresh run directory; returns the result
    object (``correct``, ``attempted``, ``failed``, ``metrics``) plus the
    span table under ``trace_table`` when tracing."""
    import layers
    import querymix
    import serving
    import tracing

    options = options or {}
    os.makedirs(os.path.join(root, ".perfbench_runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-", dir=os.path.join(root, ".perfbench_runs"))
    env_before = {k: os.environ.get(k) for k in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS", "TZ", "TMPDIR")}
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
    os.environ["TZ"] = "UTC"
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    time.tzset()
    cwd = os.getcwd()
    os.chdir(run_dir)  # anything written to a relative path lands in the run dir
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir, trace)
        session_s = time.perf_counter() - t0
        tracer = tracing.Tracer(spark.sparkContext, enabled=trace)
        if trace:
            layers.install(tracer, PACKAGE)
        ctx = RunContext(spark, tracer, run_dir, session_s)
        jvm_pid = getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", None)
        try:
            if workload == "query_mix":
                res = querymix.run(ctx, seed, seconds, **options)
                ops = res["ops"]
                e2e = querymix.end_to_end(res)
            else:
                res = serving.run(ctx, seed, seconds, **options)
                ops = res["reqs"] + res["days"]
                e2e = serving.end_to_end(res)
        finally:
            tracer.restore()
        peak_mb = tracing.peak_rss_mb(jvm_pid)
        stop_session(spark)
        spark = None

        failed = sum(1 for op in ops if not op.get("ok"))
        out = {"correct": failed == 0, "attempted": len(ops), "failed": failed}
        if not trace:
            values = {"setup_s": res["setup_s"], **e2e}
            spec = end_to_end_spec(root)
            out["metrics"] = {k: {"value": values[k], "unit": u} for k, u in spec.items()}
        else:
            events = tracing.read_event_log(os.path.join(run_dir, "eventlog"), tuple(ctx.window))
            values = layers.spark_layers(events, ctx.window_wall_s, spark_cores())
            values.update({"mem.peak_rss_mb": peak_mb,
                           "trace.setup_s": res["setup_s"], "trace.spans": len(tracer.spans),
                           "trace.latency_p50_ms": e2e["latency_p50_ms"],
                           "trace.latency_geomean_ms": e2e["latency_geomean_ms"],
                           "trace.cpu_ms_per_op": e2e["cpu_ms_per_op"]})
            if workload == "query_mix":
                values.update(querymix.per_layer(res))
            else:
                st = res["state"]
                values.update(layers.pipeline_layers(tracer, events, st["lake"], st["dates"]))
                values.update(serving.per_layer(res))
                values.update(layers.serve_span_layers(tracer, events, res["reqs"]))
            out["metrics"] = {k: {"value": v, "unit": layers.PER_LAYER[k]}
                              for k, v in layers.complete(values).items()}
            out["trace_table"] = [
                {**row, "spark": events["spans"].get(row["span"], {})} for row in tracer.table()
            ]
        out["errors"] = sorted({op["error"] for op in ops if op.get("error")})[:5]
        return out
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(cwd)
        for k, v in env_before.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), root)
    table = out.pop("trace_table", None)
    errors = out.pop("errors")
    if table is not None:
        print(json.dumps({"trace_table": table}), file=sys.stderr)
    for e in errors:
        print(f"perfbench: failed operation: {e}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
