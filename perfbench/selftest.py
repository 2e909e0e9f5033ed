"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Run from the root of a checkout.  Every workload runs end to end on a small
input (8 files of the base corpus) and must pass its check; the same output
checked against an expected result with one count planted wrong must fail.
Each workload also runs one traced round in a session with the event log on,
and the reduced log must yield every per-layer metric.  Exits 0 when all of
that holds.
"""

from __future__ import annotations

import copy
import os
import shutil
import sys
import traceback

sys.dont_write_bytecode = True
import run  # noqa: E402  (sizes the box before the engine is imported)

TINY_FILES = 32  # the quarter of this, 8 files, is the input


def plant(ref):
    """Corrupt the first count of an expected result, in place."""
    if isinstance(ref, dict):
        key = next(iter(ref))
        if isinstance(ref[key], int):
            ref[key] += 1
        else:
            plant(ref[key])
    return ref


def main() -> int:
    run_dir = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    box = run.size_box(run_dir)

    import corpus
    import eventlog
    import tracing
    import workloads
    from harness import Session, log, wipe

    sess = Session(run_dir)
    events = os.path.join(run_dir, "events")
    os.makedirs(events)
    scratch = os.path.join(run_dir, "scratch")
    problems: list[str] = []
    traced: list[tuple] = []
    try:
        spark = sess.start(box["cores"], events=events)
        tracer = tracing.Tracer(spark)
        files = corpus.base_files(spark)
        for rnd, (name, cls) in enumerate(workloads.WORKLOADS.items()):
            wl = cls()
            _, tiny = corpus.pick(rnd + 1, TINY_FILES)
            input_dir = corpus.link_input(files, tiny, os.path.join(run_dir, f"in_{name}"))
            try:
                wipe(scratch)
                ref = wl.reference(spark, input_dir)
                out = wl.run(spark, input_dir, scratch)
                bad = wl.check(spark, out, ref)
                if bad:
                    problems.append(f"{name}: check failed on a correct run: {bad}")
                if not wl.check(spark, out, plant(copy.deepcopy(ref))):
                    problems.append(f"{name}: check passed with a planted wrong count")
                wipe(scratch)
                counters = wl.trace(spark, input_dir, scratch, tracer, rnd)
                bad = wl.check(spark, counters["out"], ref)
                if bad:
                    problems.append(f"{name}: traced round failed its check: {bad}")
                traced.append((wl, rnd, counters))
            except Exception:
                problems.append(f"{name}: {traceback.format_exc()}")
            log(f"selftest: {name} done")
        tracer.drain()
        sess.start(box["cores"])  # closes the traced event log
        (log_file,) = os.listdir(events)
        red = eventlog.reduce(os.path.join(events, log_file), tracer.queries)
        for wl, rnd, counters in traced:
            metrics = tracing.round_metrics(wl, tracer, red, rnd, counters)
            missing = sorted(set(tracing.METRICS) - set(metrics))
            if missing:
                problems.append(f"{wl.name}: traced round lacks {missing}")
            if metrics["sources.input_bytes"] <= 0:
                problems.append(f"{wl.name}: event log shows no input bytes for the scan span")
    finally:
        sess.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems:
        log(f"selftest: {p}")
    print("selftest: " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
