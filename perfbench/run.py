#!/usr/bin/env python3
"""Benchmark entry point for the map-matcher.

    python3 perfbench/run.py --workload flagship_bulk --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` under ``.perfbench_work/``
in the checkout, starts one ``local[<cores>]`` session, runs the workload
for ``--seconds``, checks its outputs outside the timed region, and prints
one JSON line as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs the traced form and reports its per-layer metrics
(layers a workload does not run read 0). Exits 1 when an output check
fails and 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Workload sizes, in trips of TRIP_LEN points each.
BULK_TRIPS = 625          # flagship_bulk: 5,000 points per pass
REQUEST_TRIPS = 8         # flagship_bulk, traced: 64 points per small request
LIFECYCLE_TRIPS = 250     # lifecycle_cold: 2,000 points


@dataclass
class Inputs:
    """The run's inputs, all drawn from ``seed``. Bulk and request inputs
    are written when a pass asks for one (outside its timing), each from
    its own stream, so no input is ever run twice."""
    seed: int
    work_dir: str
    bulk_trips: int = BULK_TRIPS
    lifecycle_dir: str = ""
    lifecycle_docs: object = None

    def _make(self, name: str, n_trips: int, stream: int) -> tuple[str, object]:
        from inputs import doc_ids, trip_ids, write_documents

        trips = trip_ids(n_trips, self.seed, stream)
        return write_documents(os.path.join(self.work_dir, name), trips), doc_ids(trips)

    def bulk(self, n: int) -> tuple[str, object]:
        """The ``n``-th bulk input: its directory and doc ids."""
        return self._make(f"bulk{n}", self.bulk_trips, 10 + n)

    def request(self, n: int) -> tuple[str, object]:
        """The ``n``-th small request's input."""
        return self._make(f"request{n}", REQUEST_TRIPS, 1_000_000 + n)


def make_inputs(workload: str, seed: int, work_dir: str, trips: int | None) -> Inputs:
    inp = Inputs(seed, work_dir, bulk_trips=trips or BULK_TRIPS)
    if workload == "lifecycle_cold":
        inp.lifecycle_dir, inp.lifecycle_docs = inp._make(
            "lifecycle_in", trips or LIFECYCLE_TRIPS, 3)
    return inp


def configure_env(work_dir: str) -> None:
    """Everything the session and its Python workers write stays inside
    the checkout, and the workers import ``pfaedle_spark`` from it."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too: no hsperfdata, temp files
    # here, and JIT compiler threads that live for the whole run, so that
    # tracing.tree_cpu_s can leave their CPU out
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
                                       " -XX:-UseDynamicNumberOfCompilerThreads")


def declared_metrics(trace: bool) -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return [(m["name"], m["unit"]) for m in bench["per_layer" if trace else "end_to_end"]]


def stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit
    (its Python workers are stopped with the context)."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["flagship_bulk", "lifecycle_cold"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--trips", type=int, default=None,
                    help="override the workload's trip count (smoke tests)")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import pfaedle_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(pfaedle_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine imported from {pfaedle_spark.__file__}, "
              f"not from this checkout ({ROOT})", file=sys.stderr)
        return 2

    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    try:
        configure_env(work_dir)
        inp = make_inputs(args.workload, args.seed, work_dir, args.trips)
        result = run(args, inp, work_dir)
    finally:
        trace_file = os.path.join(work_dir, "trace.jsonl")
        if os.path.exists(trace_file):
            keep = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.move(trace_file, os.path.join(keep, f"{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(args, inp: Inputs, work_dir: str) -> dict:
    import workloads
    from pfaedle_spark.session import get_spark
    from tracing import jvm_heap_peak

    fn = getattr(workloads, args.workload + ("_traced" if args.trace else ""))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        metrics, attempted, failed = fn(spark, inp, args.seconds, start_s, work_dir)
        if args.trace:
            metrics["jvm.heap_peak_mb"] = (jvm_heap_peak(spark.sparkContext) / 2**20, "MB")
    finally:
        stop_session(spark)
    if args.trace:
        metrics["run.error_rate"] = (failed / attempted, "ratio")
    out = {}
    for name, unit in declared_metrics(bool(args.trace)):
        value, got_unit = metrics.pop(name, (0, unit))
        if got_unit != unit:
            raise ValueError(f"{name}: unit {got_unit}, declared {unit}")
        out[name] = {"value": value, "unit": unit}
    if metrics:
        raise ValueError(f"metrics missing from BENCHMARK.json: {sorted(metrics)}")
    print("# " + ", ".join(f"{k} {v['value']:.4g} {v['unit']}" for k, v in out.items()),
          file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


if __name__ == "__main__":
    sys.exit(main())
