"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_diff --seed 1 --seconds 25 --trace 0

Runs one workload against the ``aiesec_guc_spark`` package of the
checkout this file sits in, checks every operation's output, and prints
as its LAST stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the public
layer functions are wrapped in spans, Spark's status stores are read
after each operation, and the metrics are the per-layer ones (spans and
per-operation rows are also written under ``--out``).

Host settings are fixed here, before the JVM starts, so the program
sees the same host on every run: ``SPARK_GRAFT_CPUS`` = usable cores,
``PYTHONPATH`` = the checkout (Python workers import the package),
Spark local dirs, temp files and all outputs under a per-run work dir
inside the checkout.  ``SPARK_GRAFT_SHARED_FRAMES`` is left unset and
the program's driver-memory default is not overridden.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "aiesec_guc_spark"


def _host_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_EXTRA_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    for knob in ("SPARK_GRAFT_SHARED_FRAMES", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(knob, None)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Context:
    """What a workload gets: the session, its seed and window, a work dir
    and (traced runs only) tracer + status reader."""

    def __init__(self, spark, seed: int, seconds: float, work: str, traced: bool):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = self.status = None
        self.scan_tasks_of: int | None = None
        if traced:
            from tracing import StatusReader, Tracer

            self.tracer = Tracer()
            self.status = StatusReader(spark)


def setup() -> tuple[object, dict]:
    """Import the package and its query registry, start the session, and
    warm it with one SQL job."""
    t0 = time.perf_counter()
    from aiesec_guc_spark.queries import registry
    from aiesec_guc_spark.session import get_spark

    registry()
    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    return spark, {"setup_s": t3 - t0, "import_s": t1 - t0,
                   "session.start_s": t2 - t1, "warmup_job_s": t3 - t2}


def teardown(spark) -> None:
    """Stop the session (if it started), then the gateway JVM, and wait for
    it to exit (the gateway exits on stdin EOF; it is killed if it does not)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default=os.path.join(ROOT, ".perfbench_out"),
                   help="where a traced run writes its spans and per-op rows")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads
    from metrics import end_to_end, per_layer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # SIGTERM unwinds like an exception, so the JVM and work dir are cleaned up.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out_dir = os.path.abspath(args.out)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cwd = os.getcwd()
    _host_env(work)
    os.chdir(work)  # anything Spark drops in the cwd stays in the work dir
    spark = None
    try:
        spark, setup_info = setup()
        ctx = Context(spark, args.seed, args.seconds, work, bool(args.trace))
        if ctx.tracer is not None:
            ctx.tracer.install()
        t0 = time.perf_counter()
        res = workloads.WORKLOADS[args.workload](ctx)
        window_s = time.perf_counter() - t0
        if ctx.tracer is not None:
            ctx.tracer.uninstall()
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        rss = {"python_peak_rss_mb": _vm_hwm_mb(os.getpid()),
               "jvm_peak_rss_mb": _vm_hwm_mb(jvm_pid)}
        ops = res["ops"]
        failed = sum(1 for o in ops if o["failures"])
        for o in ops:
            for f in o["failures"]:
                print(f"perfbench: {o['op_id']} ({o['kind']}) FAILED: {f}", file=sys.stderr)
        named = {**res["named"], **setup_info, **rss, "fail_share": failed / len(ops),
                 "host_steal_share": sum(o["steal_share"] for o in ops) / len(ops),
                 "ops": len(ops), "window_s": window_s}
        print("perfbench named " + json.dumps(named))
        print("perfbench samples " + json.dumps(
            {o["op_id"]: [o["kind"], round(o["seconds"], 4), round(o["cpu_s"], 2),
                          round(o["steal_share"], 3)] for o in ops}))
        if args.trace:
            metrics = per_layer(res, ctx, setup_info, sum(rss.values()))
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            ctx.tracer.dump(stem + "-spans.jsonl")
            with open(stem + "-ops.json", "w") as f:
                json.dump({"setup": setup_info, "named": named, "ops": ops}, f, indent=1)
        else:
            metrics = end_to_end(res, setup_info)
    finally:
        try:
            teardown(spark)
        finally:
            os.chdir(cwd)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only when no other run uses it
            except OSError:
                pass
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
