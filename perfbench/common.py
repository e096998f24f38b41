"""Paths, cache and logging shared by the benchmark's files.

Everything the benchmark writes lives under ``perfbench/_work/`` in the
checkout: the input caches, the per-run state dirs, Spark's scratch dir
and the traced runs' span files.
"""

from __future__ import annotations

import os
import statistics
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")


def work_dir(*parts: str) -> str:
    d = os.path.join(WORK, *parts)
    os.makedirs(d, exist_ok=True)
    return d


def cache_dir(workload: str, key: str) -> str:
    """Cache directory for one (workload, inputs key)."""
    return work_dir("cache", workload, key)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
