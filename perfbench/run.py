"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads: ``etl_incremental``,
``etl_full`` (scheduled ETL ticks, see ``etl.py``) and ``query_mix``
(oracle-checked query gates, see ``gates.py``). The last line of stdout
is one JSON object::

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
and the spans go to one JSON file,
``.perfbench_runs/trace-<workload>-<seed>.json``. Everything a run
writes (generated inputs, warehouse, sinks, Spark scratch, event logs)
lives in a temporary directory under ``.perfbench_runs/`` in the
checkout and is removed at exit. Input generation and the oracles run
in a child process, so the run's peak RSS is the program's.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = (
    "aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_"
    "lambda_with_cloud_watch_logs_spark"
)
WORKLOADS = ("etl_incremental", "etl_full", "query_mix")
END_TO_END = {
    "setup_s": "s",
    "op_geomean_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}
DRIVER_MEMORY = "3g"
# Runs a workload's ``prepare`` in a child process and pickles its result.
PREPARE_CHILD = """
import importlib, os, pickle, sys
path, name, data_dir, work_dir, seed, seconds, out = sys.argv[1:]
sys.path[:0] = path.split(os.pathsep)
prepared = importlib.import_module(name).prepare(data_dir, work_dir, int(seed), float(seconds))
with open(out, "wb") as fh:
    pickle.dump(prepared, fh)
"""


class Run:
    """One benchmark run: its directories and its session."""

    def __init__(self, args):
        self.args = args
        self.cpus = len(os.sched_getaffinity(0))
        base = os.path.join(ROOT, ".perfbench_runs")
        os.makedirs(base, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
        self.data_dir = os.path.join(HERE, "data")
        self.spark = None
        self.setup_s: float | None = None
        self.get_spark_s: float | None = None
        for sub in ("tmp", "local", "warehouse", "events"):
            os.makedirs(os.path.join(self.dir, sub))
        # Read by the package's get_spark and by the JVM and Python
        # workers it starts; none of it may point outside the checkout.
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "local"),
            "TMPDIR": os.path.join(self.dir, "tmp"),
            # Read by every JVM before its command line, so options the
            # program passes to the driver JVM take precedence. A fixed
            # young generation: with G1's adaptive sizing the driver's
            # peak RSS spread by about 20 % between identical runs.
            "JAVA_TOOL_OPTIONS": (
                f"-Djava.io.tmpdir={os.path.join(self.dir, 'tmp')} -Xmn384m"
            ),
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        })
        tempfile.tempdir = None  # re-read TMPDIR

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.dir, "events"),
                "spark.eventLog.compress": "false",
            })
        return conf

    def prepare(self, workload):
        """``workload.prepare`` in a child process, so the generated
        inputs and the DuckDB oracles stay out of this process's RSS."""
        out = os.path.join(self.dir, "prepared.pickle")
        subprocess.run(
            [sys.executable, "-c", PREPARE_CHILD, os.pathsep.join((ROOT, HERE)),
             workload.__name__, self.data_dir, self.dir, str(self.args.seed),
             str(self.args.seconds), out],
            check=True,
        )
        with open(out, "rb") as fh:
            return pickle.load(fh)

    def setup(self, imports_s: float, workload, prepared) -> float:
        """The cold set-up: get_spark, which launches the JVM, a
        one-table warm-up and the workload's warm-up, counted from
        process start less the input generation. Returns the
        workload warm-up's share."""
        t0 = time.perf_counter()
        get_spark = importlib.import_module(f"{PKG}.session").get_spark
        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf())
        self.get_spark_s = time.perf_counter() - t0
        self.spark.read.parquet(os.path.join(self.data_dir, "region.parquet")).count()
        t1 = time.perf_counter()
        workload.warmup(self, prepared)
        t2 = time.perf_counter()
        self.setup_s = imports_s + t2 - t0
        return t2 - t1

    def peak_rss_mb(self) -> tuple[float, float]:
        """(Spark JVM high-water RSS, this process's peak RSS) in MB."""
        from pyspark import SparkContext

        jvm_kb = 0
        with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return jvm_kb / 1024.0, py_kb / 1024.0

    def close(self) -> None:
        """Stop the session and the JVM, wait for it, remove the run dir."""
        try:
            from pyspark import SparkContext

            if self.spark is not None:
                self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                proc = gateway.proc
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:  # noqa: BLE001 - must not leak the JVM
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # Only the result line goes to the real stdout: the JVM, py4j and
    # the program's own prints go to stderr.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    os.chdir(ROOT)
    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark  # noqa: F401
        __import__(PKG)
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    if args.workload == "query_mix":
        import gates as workload
    else:
        import etl as workload
    imports_done = time.perf_counter()

    run = Run(args)
    phases = {"imports_s": imports_done - PROCESS_T0}
    tracer = None
    try:
        t0 = time.perf_counter()
        prepared = run.prepare(workload)
        phases["prepare_s"] = time.perf_counter() - t0
        phases["warmup_s"] = run.setup(phases["imports_s"], workload, prepared)
        if args.trace:
            import tracing

            tracer = tracing.Tracer(run.get_spark_s)
            tracer.install(run.spark)
        t0 = time.perf_counter()
        result = workload.measure(run, prepared, tracer)
        phases["measure_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        result.check(run, prepared)
        phases["check_s"] = time.perf_counter() - t0
        peak = run.peak_rss_mb()
        if tracer is not None:
            tracer.finish(run)
    except Exception:  # noqa: BLE001 - report the failure, print no result
        traceback.print_exc()
        return 1
    finally:
        run.close()

    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": run.cpus,
        "driver_memory": DRIVER_MEMORY,
        "spark": pyspark.__version__,
        "ops": len(result.op_s),
        "passes": len(result.pass_s),
        "op_s": [round(s, 3) for s in result.op_s],
        "setup_s": round(run.setup_s, 3),
        "get_spark_s": round(run.get_spark_s, 3),
        "rss_jvm_mb": round(peak[0], 1),
        "rss_python_mb": round(peak[1], 1),
        **{k: round(v, 3) for k, v in phases.items()},
    }
    print(f"perfbench: {json.dumps(meta)}", file=sys.stderr)
    if args.trace:
        layers = tracer.report(result)
        tracer.write(
            os.path.join(ROOT, ".perfbench_runs", f"trace-{args.workload}-{args.seed}.json"),
            meta, layers,
        )
        print(tracer.table(layers), file=sys.stderr)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        values = {
            "setup_s": run.setup_s,
            "op_geomean_s": statistics.geometric_mean(result.op_s),
            "pass_s": statistics.median(result.pass_s),
            "peak_rss_mb": sum(peak),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    line = json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    })
    os.write(real_stdout, (line + "\n").encode())
    os.close(real_stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
