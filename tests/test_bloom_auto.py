"""Automatic seen-set topology (round-2 verdict item 6): the broadcast→
sharded flip happens from the memory envelope without the caller asking."""
from __future__ import annotations

from webscraper_spark.operators.dedup import (
    bloom_bytes_estimate,
    choose_bloom_mode,
)
from webscraper_spark.plans import round as round_mod
from webscraper_spark.plans.round import run_crawl
from webscraper_spark.sources.tables import TableStore


def test_choose_bloom_mode_thresholds():
    gib = 1 << 30
    # 10^10 keys ≈ 12 GB of filter — sharded on any sane executor
    assert choose_bloom_mode(10**10, 16 * gib) == "sharded"
    # 10^6 keys ≈ 1.2 MB — broadcast
    assert choose_bloom_mode(10**6, gib) == "broadcast"
    # flip point is ¼ of executor memory
    n = 10**7
    est = bloom_bytes_estimate(n)
    assert choose_bloom_mode(n, est * 4 - 8) == "sharded"
    assert choose_bloom_mode(n, est * 4 + 8) == "broadcast"
    assert choose_bloom_mode(0, gib) == "broadcast"


def test_bloom_bytes_estimate_matches_shard_sizing():
    import numpy as np

    from webscraper_spark.operators.dedup import BloomShard

    keys = np.arange(50_000, dtype=np.int64)
    shard = BloomShard.build(keys, fpp=0.01)
    est = bloom_bytes_estimate(len(keys), fpp=0.01)
    assert abs(shard.bits.nbytes - est) <= 16  # same formula, mod rounding


def test_run_round_auto_flips_without_caller(spark, sdfs, tmp_path, monkeypatch):
    # same corpus, two runs differing only in the executor memory the
    # round reads: tiny memory → sharded store picked; huge memory →
    # broadcast. Identical lineage counts either way (output equivalence).
    def crawl(subdir, mem):
        monkeypatch.setattr(round_mod, "_executor_memory", lambda _spark: mem)
        store = TableStore(spark, str(tmp_path / subdir))
        return run_crawl(
            store, sdfs["pages"], sdfs["seeds"], sdfs["hosts"],
            n_rounds=1, per_host_budget=3,
        )

    small = crawl("small", 8)               # absurdly small → sharded
    big = crawl("big", 16 << 30)            # 16 GiB → broadcast
    assert small[0]["bloom_mode_used"] == "sharded"
    assert big[0]["bloom_mode_used"] == "broadcast"
    strip = lambda l: {k: v for k, v in l.items()
                       if k not in ("elapsed_sec", "eta_sec", "bloom_mode_used")}
    assert strip(small[0]) == strip(big[0])
