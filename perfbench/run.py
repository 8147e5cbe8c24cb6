"""Benchmark of the jcf_nb_migration_spark engine.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. One run is one Spark process on
``local[4]`` driven by a single closed-loop client: the next call into
the engine starts only when the previous one has returned. Workloads
(see BENCHMARK.json for why each exists):

- ``analytics``: passes over the 14 headline registry queries on a
  seeded star schema, noop sink, in a seed-shuffled order;
- ``migration``: runs of the STM-driven CSV-to-CSV pipeline on a seeded
  all-string CRM extract, with the CLI's sinks;
- ``serving``: a seeded stream of probes, fetches and copy-on-write
  mutations against the four persisted serving layouts.

Each workload makes its inputs, runs one cold operation in the fresh
session and checks it, then repeats warm operations until the window
is spent. ``--trace 0`` reports the end-to-end metrics: ``setup_s``,
the CPU seconds (this process plus the Spark JVM, less its JIT
compiler threads) from process start to the first warm operation, and
``op_cpu_s``, the CPU seconds of a typical warm operation, counted
only inside the calls into the engine: each call is timed under a part
(a query, a pipeline step, a request type) and the medians of the
parts over the warm operations are summed.
CPU seconds, not wall time, carry the bounds because on a shared host
the wall time of identical runs swings far more than their CPU time;
the wall times are among the per-layer metrics. ``--trace 1`` reports
the per-layer metrics of the same work, taken from spans around every
call into the engine. Outputs are checked outside the timed region;
every failed or wrong operation counts in ``failed``. Every metric is
printed by name with its unit; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

from spans import Tracer, cpu_s

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics", "migration", "serving")


class Run:
    """State of one benchmark run, shared by the workload modules."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: int):
        self.spark = spark
        self.tracer = tracer
        self.span = tracer.span
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.setup_s: float | None = None   # wall, process start to ready()
        self.setup_cpu_s = 0.0
        self.first_op_s = 0.0             # wall of the cold operation
        self.op_s: list[float] = []       # wall of each warm operation
        self.part_cpu_s: dict[str, list[float]] = {}  # per part, per op
        self._op_wall = 0.0
        self._parts: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    @contextmanager
    def timed(self, part: str):
        """Count the block's wall and CPU seconds in the current
        operation, its CPU seconds also under ``part`` (a query, a
        pipeline step, a request type); the yielded dict holds its wall
        seconds afterwards."""
        t = {}
        t0, c0 = time.perf_counter(), cpu_s()
        try:
            yield t
        finally:
            t["wall"] = time.perf_counter() - t0
            cpu = cpu_s() - c0
            self._op_wall += t["wall"]
            self._parts[part] = self._parts.get(part, 0.0) + cpu

    def end_op(self) -> None:
        """Close the current operation: before ``ready`` it is the cold
        one, after it a warm one."""
        wall, self._op_wall = self._op_wall, 0.0
        parts, self._parts = self._parts, {}
        if self.setup_s is None:
            self.first_op_s += wall
        else:
            self.op_s.append(wall)
            for part, c in parts.items():
                self.part_cpu_s.setdefault(part, []).append(c)

    def typical_op_cpu_s(self) -> float:
        """CPU seconds of a typical warm operation: for each part, the
        median over the warm operations, summed. A part slowed by a
        passing load on the host in one operation then does not carry
        the whole operation with it."""
        return sum(map(statistics.median, self.part_cpu_s.values()))

    def ready(self) -> None:
        """Set-up ends here: inputs made, cold operation run and checked."""
        self.setup_s = time.perf_counter() - T_START
        self.setup_cpu_s = cpu_s()

    def window(self, min_ops: int):
        """Operation numbers 0, 1, ... until ``seconds`` have passed and
        at least ``min_ops`` operations have run."""
        t0 = time.perf_counter()
        n = 0
        while n < min_ops or time.perf_counter() - t0 < self.seconds:
            yield n
            n += 1


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spark(work: str):
    from jcf_nb_migration_spark import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    # C1 only: C2 compilation of Spark's code runs for minutes after
    # start, longer than a run, and its CPU belongs to no operation.
    # Compiler threads live as long as the JVM, so that cpu_s can
    # leave their CPU out (an exited thread's CPU joins the process's).
    # The serial collector does its work in the pauses the allocating
    # operation causes, not in concurrent threads that run alongside
    # whichever operation comes next.
    jopts = (f"-Djava.io.tmpdir={local} -XX:-UsePerfData "
             "-XX:TieredStopAtLevel=1 "
             "-XX:-UseDynamicNumberOfCompilerThreads -XX:+UseSerialGC")
    spark = get_spark("perfbench", master="local[4]", extra_conf={
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": jopts,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # one reduce partition per core, as the engine's default of 32
        # matches the 32-core host it was tuned on
        "spark.sql.shuffle.partitions": "4",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit: the gateway JVM ends
    when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _metrics(run: Run, spec: dict, trace: bool) -> dict:
    if trace:
        names = spec["per_layer"]
        values = run.layer
    else:
        names = spec["end_to_end"]
        values = {"setup_s": run.setup_cpu_s,
                  "op_cpu_s": run.typical_op_cpu_s()}
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                        "unit": m["unit"]} for m in names}


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "jcf_nb_migration_spark")):
        print("perfbench: run from a source checkout (the "
              "jcf_nb_migration_spark package is missing)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)
    import tempfile
    tempfile.tempdir = work
    spark = None
    try:
        spark = _spark(work)
        run = Run(spark, Tracer(spark, bool(args.trace)), work, args.seed,
                  args.seconds)
        run.layer["session.start_s"] = time.perf_counter() - T_START
        mod = __import__(args.workload)
        mod.run(run)
        run.layer["cold.first_op_s"] = run.first_op_s
        run.layer["op_wall_s"] = statistics.median(run.op_s)
        run.layer["setup_wall_s"] = run.setup_s
        run.layer["trace.op_cpu_s"] = run.typical_op_cpu_s()
        metrics = _metrics(run, spec, bool(args.trace))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for name, m in metrics.items():
        print(f"{name:44s} {m['value']:16.6g} {m['unit']}")
    for e in run.errors[:20]:
        print(f"FAILED: {e}")
    print(f"correct={run.failed == 0} attempted={run.attempted} "
          f"failed={run.failed}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
