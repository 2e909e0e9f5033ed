"""Seeded benchmark inputs cut from one cached transcript corpus.

The base corpus is written once per checkout by the engine's own distributed
generator (``fixtures.bench_transcripts_dir``): BASE_ROWS turns in BASE_FILES
parquet files, file ``k`` holding the contiguous row range
``[k * ROWS_PER_FILE, (k + 1) * ROWS_PER_FILE)``.  The first tenth of the rows
belong to the hot conversation ``conv-000000``, so files ``0 .. HOT_FILES-1``
are "hot" and the rest "cold".

A workload's input for a seed is a set of those files, hard-linked into a
fresh directory: one hot file per seven cold ones, each side drawn by the seed.
Every seed therefore reads different rows with the same shape (12.5% hot key,
the same text-format mix), so a run's cost does not depend on its seed while
its results do.  The quarter input (set-up warm-up, weak scaling) is a quarter
of the files with the same hot share.
"""

from __future__ import annotations

import os
import random
import shutil

BASE_ROWS = 1_024_000
BASE_FILES = 1280
ROWS_PER_FILE = BASE_ROWS // BASE_FILES
HOT_FILES = BASE_FILES // 10


def base_files(spark) -> list[str]:
    """Parquet files of the base corpus in row order, generating it on first use."""
    from timberjack_spark.fixtures import bench_transcripts_dir

    path = bench_transcripts_dir(spark, BASE_ROWS, partitions=BASE_FILES)
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    if len(files) != BASE_FILES:
        raise RuntimeError(f"base corpus at {path} has {len(files)} files, want {BASE_FILES}")
    return [os.path.join(path, f) for f in files]


def pick(seed: int, n_files: int) -> tuple[list[int], list[int]]:
    """File indices of a seed's full input and of its quarter input; both keep
    one hot file per eight."""
    if n_files % 32:
        raise ValueError("n_files must be a multiple of 32")
    rng = random.Random(seed)
    hot = rng.sample(range(HOT_FILES), n_files // 8)
    cold = rng.sample(range(HOT_FILES, BASE_FILES), n_files - n_files // 8)
    quarter = hot[: len(hot) // 4] + cold[: len(cold) // 4]
    return sorted(hot + cold), sorted(quarter)


def link_input(files: list[str], indices: list[int], dest: str) -> str:
    """Hard-link the chosen base files into ``dest`` (a plain parquet dir)."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    for i in indices:
        os.link(files[i], os.path.join(dest, f"part-{i:05d}.parquet"))
    return dest


def rows_in(indices: list[int]) -> int:
    return len(indices) * ROWS_PER_FILE
