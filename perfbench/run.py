"""Benchmark entry point. From the root of a checkout:

    python3 perfbench/run.py --workload poll_1hz --seed 1 --seconds 10 --trace 0

Runs one workload on local[4] and prints, as the last line of stdout, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (the traced run also writes its spans under
``.perfbench_traces/``). Exits non-zero when an output check fails or the
program is not in the checkout. Every file it writes stays inside the
checkout, under ``.perfbench_work/`` (removed at exit) and
``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: local[N] for every run, whatever the host has, so runs compare
CPUS = "4"
#: driver heap, fixed (initial = maximum) so that peak RSS does not
#: depend on when the collector chose to grow the heap
HEAP = "1g"


def _configure(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python inside
    ``work`` and put the checkout on the workers' import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": CPUS,
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(paths),
            # every JVM spark-submit starts, its launcher included: no
            # /tmp/hsperfdata files, temp files in the work directory
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options -Xms{HEAP} --conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }
    )
    tempfile.tempdir = tmp


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _declared_metrics(kind: str) -> dict[str, str]:
    """Name → unit of the ``kind`` metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "iotdatapipeline_spark")):
        print(f"perfbench: no iotdatapipeline_spark/ package under {ROOT}", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, Harness

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    trace_dir = os.path.join(ROOT, ".perfbench_traces")
    if args.trace:
        os.makedirs(trace_dir, exist_ok=True)
    spark = None
    try:
        _configure(work)
        from iotdatapipeline_spark import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("FATAL")
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        h = Harness(spark, work, args.seed, args.seconds, bool(args.trace), session_s, t_start, trace_dir)
        res = WORKLOADS[args.workload](h)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)

    for msg in res.problems:
        print(f"perfbench: {msg}", file=sys.stderr)
    wanted = _declared_metrics("per_layer" if args.trace else "end_to_end")
    missing = [n for n in wanted if n not in res.metrics] if not args.trace else []
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    # every metric of the kind is printed; a layer the workload does
    # not reach reads 0
    metrics = {}
    for name, unit in wanted.items():
        value, got_unit = res.metrics.get(name, (0.0, unit))
        if got_unit != unit:
            raise ValueError(f"{name}: unit {got_unit!r}, BENCHMARK.json says {unit!r}")
        metrics[name] = {"value": float(value), "unit": unit}
    unknown = sorted(set(res.metrics) - set(wanted)) if args.trace else []
    if unknown:
        raise ValueError(f"metrics not in BENCHMARK.json: {unknown}")
    correct = res.failed == 0 and res.attempted > 0
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
