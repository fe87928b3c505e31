"""Seeded corpora for the crawl workloads, cached as parquet.

The load generator is ``webscraper_spark.synth.gen_corpus``; the engine
only ever sees the parquet files. A corpus is cached per workload, size
and seed, so only the first run of a seed pays for generation, and that
time is reported apart from ``setup_s``.
"""

from __future__ import annotations

import os
import shutil
import time

KEEP_PER_WORKLOAD = 12


def corpus_dir(work: str, workload: str, params: dict, seed: int) -> str:
    return os.path.join(work, "corpus", f"{workload}-n{params['n_urls']}-s{seed}")


def ensure(work: str, workload: str, params: dict, seed: int) -> tuple[str, float]:
    """Path of the cached corpus and the seconds spent generating it now
    (0.0 when it was already cached)."""
    from webscraper_spark import synth

    path = corpus_dir(work, workload, params, seed)
    done = os.path.join(path, "_complete")
    if os.path.exists(done):
        os.utime(path)
        return path, 0.0
    t0 = time.perf_counter()
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    synth.write_corpus(synth.gen_corpus(seed=seed, **params), tmp)
    open(os.path.join(tmp, "_complete"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    gen_s = time.perf_counter() - t0
    _prune(os.path.dirname(path), f"{workload}-", keep=path)
    return path, gen_s


def _prune(parent: str, prefix: str, keep: str) -> None:
    """Drop the least recently used corpora of one workload past the cap."""
    dirs = [
        os.path.join(parent, d) for d in os.listdir(parent)
        if d.startswith(prefix) and ".tmp" not in d
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_PER_WORKLOAD:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
