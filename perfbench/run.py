"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_upsert --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Inputs are generated
from the seed under ``.bench_work/``, the package is driven on
``local[nproc]``, outputs are checked against DuckDB, and the last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables spans
and the Spark event log and reports the per-layer metrics. The line before
the result is the full report (every workload metric with its sample
count and tail percentile, set-up breakdown, CPU drift probe, inputs); it
is also written to ``.bench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _environment():
    """Scratch paths inside the checkout, and the repository root on the
    path of this process and of Spark's Python workers."""
    work = os.path.join(ROOT, ".bench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the spark-submit launcher JVM: no hsperfdata files outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # at most two glibc malloc arenas: the JVM's native buffers (Arrow,
    # codecs) otherwise spread over one arena per thread, and how much of
    # them stays resident (peak_rss_mb) depends on thread timing
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)

    _environment()
    try:
        import ecommerce_lakehouse_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: package not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import metrics
    from perfbench.harness import cpu_drift_score
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2

    drift0 = cpu_drift_score()
    cores = len(os.sched_getaffinity(0))
    run = Run(ROOT, args.seed, args.seconds, bool(args.trace), cores)
    try:
        WORKLOADS[args.workload](run)
    finally:
        extra = run.finish()
    report = metrics.report(args.workload, run, extra)
    report.update(seed=args.seed, seconds=args.seconds, trace=args.trace, cores=cores,
                  drift_mops={"start": drift0, "end": cpu_drift_score()})

    results = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}"
    with open(os.path.join(results, stem + ".json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    if run.trace:
        with open(os.path.join(results, stem + ".spans.json"), "w") as f:
            json.dump([s.to_json() for s in run.tracer.spans], f)
    shutil.rmtree(run.work, ignore_errors=True)

    for e in run.errors:
        print(e, file=sys.stderr)
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": report["per_layer"] if run.trace else report["end_to_end"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
