"""Measurement core shared by the untraced and the traced run."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback

import corpus
import proc

SETUP_ROUNDS = 2
MIN_ITERS = 3
WARM_SHARE = 1 / 3  # of --seconds: checked but untimed, so JIT compilation settles first


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Session:
    """Starts and stops the engine's Spark session; records start times."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.starts: list[float] = []

    def start(self, cores: int, events: str | None = None):
        from timberjack_spark.session import get_spark, stop_spark

        stop_spark()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.eventLog.enabled": "true" if events else "false",
        }
        if events:
            conf.update({
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        spark = get_spark(cores=cores, app_name="perfbench", extra_conf=conf)
        self.starts.append(time.perf_counter() - t0)
        return spark

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        from timberjack_spark.session import stop_spark

        stop_spark()
        gw = SparkContext._gateway
        if gw is None:
            return
        with contextlib.suppress(Exception):
            gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Loop:
    """Closed-loop iterations of one workload, each timed and checked."""

    def __init__(self, wl, scratch: str):
        self.wl, self.scratch = wl, scratch
        self.attempted = self.failed = 0

    def once(self, spark, input_dir: str, ref):
        c0, t0 = proc.cpu_seconds(), time.perf_counter()
        try:
            out = self.wl.run(spark, input_dir, self.scratch)
            wall, cpu = time.perf_counter() - t0, proc.cpu_seconds() - c0
            bad = self.wl.check(spark, out, ref)
        except Exception:
            wall = cpu = None
            bad = [traceback.format_exc()]
        self.record(bad)
        return wall, cpu

    def record(self, bad: list[str]) -> None:
        self.attempted += 1
        if bad:
            self.failed += 1
            log(f"{self.wl.name}: check failed: {'; '.join(bad)[:2000]}")
        wipe(self.scratch)

    def block(self, spark, input_dir: str, ref, seconds: float, min_iters: int = MIN_ITERS):
        walls, cpus = [], []
        end = time.perf_counter() + seconds
        while len(walls) < min_iters or time.perf_counter() < end:
            wall, cpu = self.once(spark, input_dir, ref)
            if wall is None:
                if self.failed >= MIN_ITERS:
                    break
                continue
            walls.append(wall)
            cpus.append(cpu)
        return walls, cpus


def wipe(d: str) -> None:
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)


class Inputs:
    """A seed's input files, hard-linked under the run directory."""

    def __init__(self, spark, wl, seed: int, run_dir: str):
        files = corpus.base_files(spark)
        full_idx, quarter_idx = corpus.pick(seed, wl.n_files)
        self.full = corpus.link_input(files, full_idx, os.path.join(run_dir, "in_full"))
        self.quarter = corpus.link_input(files, quarter_idx, os.path.join(run_dir, "in_quarter"))
        self.rows = corpus.rows_in(full_idx)


def set_up(sess: Session, wl, seed: int, cores: int, run_dir: str, scratch: str,
           rounds: int = SETUP_ROUNDS):
    """Rounds of session start, corpus availability and a warm-up iteration on
    the full input.  The first round also launches the JVM (and, once per
    checkout, writes the base corpus)."""
    setups = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        spark = sess.start(cores)
        inputs = Inputs(spark, wl, seed, run_dir)
        wl.run(spark, inputs.full, scratch)
        setups.append(time.perf_counter() - t0)
        wipe(scratch)
    return spark, inputs, setups


def references(wl, spark, inputs: list[str]):
    return [wl.reference(spark, d) for d in inputs]


def measure(wl, args, box, sess: Session, run_dir: str) -> tuple[Loop, dict]:
    loop = Loop(wl, os.path.join(run_dir, "scratch"))
    wipe(loop.scratch)
    spark, inputs, setups = set_up(sess, wl, args.seed, box["cores"], run_dir, loop.scratch)
    (ref,) = references(wl, spark, [inputs.full])
    loop.block(spark, inputs.full, ref, args.seconds * WARM_SHARE, min_iters=1)
    walls, cpus = loop.block(spark, inputs.full, ref, args.seconds * (1 - WARM_SHARE))
    wall = median(walls)
    log(f"{wl.name}: setups {[round(s, 3) for s in setups]} walls {[round(w, 3) for w in walls]}")
    return loop, {
        "setup_s": (median(setups), "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (inputs.rows / wall if wall else 0.0, "1/s"),
        "cpu_s": (median(cpus), "s"),
        "peak_rss_mb": (proc.peak_rss_mb(), "MB"),
    }


def java_version() -> str:
    from pyspark import SparkContext

    return str(SparkContext._jvm.java.lang.System.getProperty("java.version"))
