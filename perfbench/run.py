"""Repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Runs from any working directory. The engine package is taken from the
checkout that holds this file; every file the run writes (corpus
parquet, index dirs, Spark scratch) lives in a temporary directory
under ``.perfbench_tmp/`` in that checkout and is removed at exit.
Traced runs also leave their spans in ``.perfbench_out/``.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it list every measured number with its unit and
sample count. See ``perfbench/README.md`` for the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

from tracing import Tracer
from workloads import RUNNERS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Bench:
    """State of one run: the session, the tracer, the op counters and
    every measured number."""

    def __init__(self, args, work: str, spark, tracer, t0: float) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.spark = spark
        self.tracer = tracer
        self.t0 = t0
        self.nproc = spark.sparkContext.defaultParallelism
        self.attempted = 0
        self.failed_ops: set[int] = set()
        self.end_to_end: dict[str, dict] = {}
        self.per_layer: dict[str, dict] = {}
        self.details: list[tuple[str, float, str, int]] = []
        self.setup_s = None

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t0

    def run_op(self, kind: str, fn):
        """Run one op under a span; returns (op id, result, seconds).
        An exception fails the op and yields a None result."""
        op = self.tracer.new_op()
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.span(kind, op=op):
                res = fn()
        except Exception:
            self.fail(op, f"{kind} raised:\n{traceback.format_exc()}")
            res = None
        return op, res, time.perf_counter() - t

    def fail(self, op: int, why: str) -> None:
        self.failed_ops.add(op)
        log(f"op {op} failed: {why}")

    def check(self, op: int, ok: bool, why: str) -> None:
        if not ok:
            self.fail(op, why)

    def verify(self, ok: bool, why: str) -> None:
        """A check that is an op of its own (not one op's result)."""
        self.attempted += 1
        self.check(self.tracer.new_op(), ok, why)

    def metric(self, table: dict, name: str, value: float, unit: str, n: int = 1) -> None:
        table[name] = {"value": float(value), "unit": unit}
        self.details.append((name, float(value), unit, n))

    def e2e(self, name, value, unit, n=1) -> None:
        self.metric(self.end_to_end, name, value, unit, n)

    def layer(self, name, value, unit, n=1) -> None:
        self.metric(self.per_layer, name, value, unit, n)

    def note(self, name, value, unit, n=1) -> None:
        """A number printed in the report but not in the result line."""
        self.details.append((name, float(value), unit, n))


def _prepare_env(work: str) -> None:
    # Python workers import the engine and the benchmark's own modules
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for d in ("spark-local", "tmp"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = f"{work}/tmp"


def _start_spark(work: str, nproc: int):
    """``local[nproc]`` with the engine's session defaults, except
    that Spark scratch stays inside the run's directory. The JVM
    compiles with C1 only: JIT warm-up then ends within set-up and
    does not shift latencies part-way through a run. C1 alone gets a
    48 MB code cache, which a run fills; then the JVM stops compiling,
    so the cache gets the size the default tiered compiler has."""
    from top2vec_spark.session import get_spark

    return get_spark(
        parallelism=nproc,
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": (
                "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m "
                f"-Djava.io.tmpdir={work}/tmp "
                f"-Dderby.system.home={work}/tmp"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, if one started, then end the JVM, if one was
    launched, and wait for it. A run stopped by a signal may have a JVM
    but no session, or a py4j connection left mid-call, so the JVM is
    ended through its process whatever the session calls raise."""
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
            # the gateway JVM exits when its stdin closes
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _report(bench: Bench, traced: bool) -> dict:
    for name, value, unit, n in bench.details:
        print(f"{name} = {value:.6g} {unit} (n={n})")
    failed = len(bench.failed_ops)
    print(
        f"failed_op_ratio = {failed / max(bench.attempted, 1):.6g} ratio "
        f"(n={bench.attempted})"
    )
    return {
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": bench.per_layer if traced else bench.end_to_end,
    }


def main(argv=None) -> int:
    t0 = time.perf_counter()
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "top2vec_spark", "__init__.py")):
        log(f"engine package top2vec_spark not found under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)

    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run_", dir=os.path.join(ROOT, ".perfbench_tmp"))
    spark = None
    try:
        _prepare_env(work)
        nproc = len(os.sched_getaffinity(0))
        spark = _start_spark(work, nproc)
        session_s = time.perf_counter() - t0

        bench = Bench(args, work, spark, Tracer(spark, bool(args.trace)), t0)
        bench.note("setup.session_s", session_s, "s")
        RUNNERS[args.workload](bench)
        if bench.traced:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            bench.tracer.dump(
                os.path.join(out, f"spans_{args.workload}_seed{args.seed}.jsonl")
            )
        result = _report(bench, bench.traced)
    finally:
        try:
            _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
