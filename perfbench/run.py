"""Benchmark of the timberjack_spark engine: one command, one workload per run.

    python3 perfbench/run.py --workload route_scan --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The run sizes Spark to the box (cores from
the CPU affinity mask, driver heap from the memory size), cuts the seed's
input from a cached corpus (see corpus.py), then

* ``--trace 0``: sets up SETUP_ROUNDS times (session start, corpus, warm-up;
  the set-up time is the median), computes the expected results on the same
  files, and runs closed-loop iterations -- one Spark job at a time, at
  ``local[cores]`` -- for ``--seconds``: the first WARM_SHARE of it untimed,
  the rest timed (at least MIN_ITERS iterations).  Every iteration is
  checked; the timings reported are medians.
* ``--trace 1``: times untraced iterations, repeats the workload with Spark's
  event log on, a span around each layer call and a streaming progress
  listener, then runs the quarter input at ``local[cores/4]`` (weak scaling);
  prints the per-layer metrics and writes spans, progress and the event-log
  reduction to ``perfbench/.work/traces/``.

The last line of stdout is the JSON result; the line before it records the
box (cores, heap, pyspark and JVM versions) and the run's error rate.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.dont_write_bytecode = True
from harness import Session, java_version, log, measure  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def size_box(run_dir: str) -> dict:
    """Everything the engine reads from the environment, set before pyspark
    or the engine is imported."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gib = int(fh.readline().split()[1]) / 2**20
    heap = f"{max(1, min(4, int(mem_gib // 4)))}g"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=heap,
        SPARK_GRAFT_EXTRA_JAVA=f"-Xms{heap} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TIMBERJACK_FIXTURE_DIR=os.path.join(WORK, "fixtures"),
        TMPDIR=tmp,
        TZ="UTC",
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT]
    return {"cores": cores, "heap": heap, "mem_gib": round(mem_gib, 1)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "timberjack_spark", "__init__.py")):
        log(f"no timberjack_spark package under {ROOT}: run from the root of a checkout")
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    box = size_box(run_dir)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    sess = Session(run_dir)
    try:
        if args.trace:
            import tracing

            loop, metrics = tracing.traced(wl, args, box, sess, run_dir)
        else:
            loop, metrics = measure(wl, args, box, sess, run_dir)
        import pyspark

        box.update(
            pyspark=pyspark.__version__,
            jvm=java_version(),
            workload=wl.name, seed=args.seed, seconds=args.seconds, trace=args.trace,
            error_rate=loop.failed / loop.attempted,
        )
    finally:
        sess.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"env": box}))
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
