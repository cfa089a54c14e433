"""The benchmark's one command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It generates its inputs from ``--seed``
under ``.bench_work/``, starts a fresh JVM and Spark session on
``local[4]`` and warms it up (``setup_s``), runs the workload for
``--seconds``, checks the outputs and prints, as its last line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
workload runs once untraced and once traced, and the metrics are the
per-layer ones. The line before it is the full run record, which is also
written to ``.bench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CPUS = 4


def _environment(work: str) -> None:
    """Process environment for Spark and its Python workers; must be set
    before the JVM starts. Workers import the engine, so PYTHONPATH names
    the checkout."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": local,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join([REPO, HERE, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        }
    )


def _versions(spark) -> dict:
    java = [
        line for line in subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
        if not line.startswith("Picked up")
    ]
    return {
        "spark": spark.version,
        "java": java[0] if java else None,
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "nproc": os.cpu_count(),
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (
        os.path.isfile(os.path.join(REPO, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(REPO, "clickestream_project_bigdata_spark"))
    ):
        print(f"perfbench: the engine is not in {REPO}; run from a full checkout", file=sys.stderr)
        return 2

    root = os.path.join(REPO, ".bench_work")
    work = os.path.join(root, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    sys.path[:0] = [REPO, HERE]

    import workloads
    from probes import Tracer, jvm_peak_rss_mb

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run = workloads.WORKLOADS[args.workload]
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "loadavg_start": os.getloadavg(),
        "phases": {"start": T_START, "imported": time.time()},
    }
    tracer = Tracer() if args.trace else None
    spark = None
    try:
        workloads.write_warm_input(work, args.seed)
        spark, setup = workloads.setup(work, tracer)
        record["setup"] = setup
        record["phases"]["set_up"] = time.time()
        record["environment"] = _versions(spark)

        result = run(spark, os.path.join(work, "run0"), args.seed, args.seconds, None)
        record["untraced"] = {k: v for k, v in result.items() if k != "layers"}
        record["phases"]["untraced"] = time.time()
        attempted, failed = result["attempted"], result["failed"]
        if args.trace:
            traced = run(spark, os.path.join(work, "run1"), args.seed, args.seconds, tracer)
            record["traced"] = traced
            attempted += traced["attempted"]
            failed += traced["failed"]
            layers = dict(traced["layers"])
            layers["session.get_spark_s"] = setup["get_spark_s"]
            layers["session.warmup_s"] = setup["warmup_s"]
            layers["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
            layers["control.duckdb_s"] = traced["control_duckdb_s"]
            layers["trace.overhead_ms"] = (
                traced["e2e"]["freshness_p50_ms"] - result["e2e"]["freshness_p50_ms"]
            )
            metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in bench["per_layer"]}
        else:
            values = dict(result["e2e"], setup_s=setup["setup_s"])
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    finally:
        if spark is not None:
            _stop(spark)

    record["phases"]["stopped"] = time.time()
    record["loadavg_end"] = os.getloadavg()
    record["error_rate"] = failed / attempted
    record["metrics"] = metrics
    records = os.path.join(root, "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if tracer is not None:
        tracer.dump(stem + ".spans.json")
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
