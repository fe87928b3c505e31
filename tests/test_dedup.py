"""Seen-set layers: exact join, Bloom (no false negatives), cuckoo."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from webscraper_spark.operators.dedup import (
    BloomSeenSet,
    BloomShard,
    CuckooFilter,
    anti_join_seen,
    bloom_filtered_new,
    dedup_latest,
    semi_join_seen,
)


def test_bloom_shard_no_false_negatives():
    rng = np.random.default_rng(7)
    keys = rng.integers(-(2**62), 2**62, 5000, dtype=np.int64)
    bf = BloomShard.build(keys, fpp=0.01)
    assert bf.might_contain(keys).all()  # Bloom ⊇ exact (SURVEY §5.2.4)
    other = rng.integers(-(2**62), 2**62, 20000, dtype=np.int64)
    fresh = other[~np.isin(other, keys)]
    fpr = bf.might_contain(fresh).mean()
    assert fpr < 0.03, fpr


def test_bloom_roundtrip_bytes():
    keys = np.arange(1000, dtype=np.int64)
    bf = BloomShard.build(keys)
    bf2 = BloomShard.from_bytes(bf.to_bytes(), bf.n_bits, bf.n_hashes)
    assert bf2.might_contain(keys).all()


def test_exact_joins(spark):
    seen = spark.createDataFrame([(i,) for i in range(100)], "url_hash: long")
    cand = spark.createDataFrame([(i,) for i in range(50, 150)], "url_hash: long")
    assert anti_join_seen(cand, seen).count() == 50
    assert semi_join_seen(cand, seen).count() == 50


def test_bloom_filtered_new_equals_exact(spark):
    seen = spark.createDataFrame([(i * 3,) for i in range(2000)], "url_hash: long")
    cand = spark.createDataFrame([(i,) for i in range(0, 3000)], "url_hash: long")
    bloom = BloomSeenSet.build(seen, n_shards=8)
    got = sorted(r["url_hash"] for r in bloom_filtered_new(cand, seen, bloom).collect())
    want = sorted(r["url_hash"] for r in anti_join_seen(cand, seen).collect())
    assert got == want  # layered path ≡ ground truth


def test_dedup_latest(spark):
    df = spark.createDataFrame(
        [(1, 10, "old"), (1, 20, "new"), (2, 5, "only")],
        "k: long, ts: long, v: string",
    )
    rows = {r["k"]: r["v"] for r in dedup_latest(df, ["k"], "ts").collect()}
    assert rows == {1: "new", 2: "only"}


def test_cuckoo_insert_contains_delete():
    cf = CuckooFilter(capacity=5000)
    keys = list(range(-2000, 2000, 3))
    for k in keys:
        assert cf.insert(k)
    assert all(cf.contains(k) for k in keys)
    # deletions — the capability Bloom lacks
    for k in keys[:100]:
        assert cf.delete(k)
    misses = sum(cf.contains(k) for k in keys[:100])
    assert misses < 5  # rare fp collisions may remain, never many
    assert all(cf.contains(k) for k in keys[100:])


def test_cuckoo_roundtrip_and_determinism():
    a, b = CuckooFilter(1000), CuckooFilter(1000)
    for k in range(500):
        a.insert(k)
        b.insert(k)
    assert a.to_bytes() == b.to_bytes()  # rebuilds are reproducible
    c = CuckooFilter.from_bytes(a.to_bytes(), a.n_buckets)
    assert all(c.contains(k) for k in range(500))


@given(st.sets(st.integers(-(2**63), 2**63 - 1), min_size=0, max_size=300))
@settings(max_examples=50, deadline=None)
def test_cuckoo_property_membership(keys):
    cf = CuckooFilter(capacity=max(64, len(keys) * 2))
    for k in keys:
        cf.insert(k)
    assert all(cf.contains(k) for k in keys)


def test_sharded_bloom_probe_equals_broadcast_and_exact(spark):
    """BloomShardStore (distributed, never-collected shards) must produce
    exactly the anti-join's output, like the broadcast probe — the 10^10-
    key memory path is a plan change, not a semantics change."""
    from webscraper_spark.operators.dedup import BloomSeenSet, BloomShardStore

    seen = spark.range(0, 20000, 2).select(
        (F.col("id") * 2654435761 % 2**31).alias("url_hash")
    )
    cand = spark.range(0, 30000, 3).select(
        (F.col("id") * 2654435761 % 2**31).alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
    )
    exact = {r.url_hash for r in anti_join_seen(cand, seen).collect()}
    store = BloomShardStore.build(seen, n_shards=8)
    sharded = {
        r.url_hash for r in bloom_filtered_new(cand, seen, store).collect()
    }
    bcast = {
        r.url_hash
        for r in bloom_filtered_new(
            cand, seen, BloomSeenSet.build(seen, n_shards=8)
        ).collect()
    }
    store.unpersist()
    assert sharded == exact == bcast


def test_round_sharded_bloom_equals_broadcast(spark, sdfs, tmp_path, monkeypatch):
    """A round whose seen-set goes sharded (tiny executor memory) commits
    byte-identical state to the broadcast-bloom round (ample memory)."""
    from webscraper_spark.plans import round as round_mod
    from webscraper_spark.plans.round import run_crawl
    from webscraper_spark.sources.tables import TableStore

    outs = {}
    for mode, mem in (("broadcast", 16 << 30), ("sharded", 8)):
        monkeypatch.setattr(round_mod, "_executor_memory", lambda _spark: mem)
        store = TableStore(spark, str(tmp_path / f"store_{mode}"))
        lineages = run_crawl(store, sdfs["pages"], sdfs["seeds"], sdfs["hosts"],
                             n_rounds=2, per_host_budget=3)
        assert [l["bloom_mode_used"] for l in lineages] == [mode, mode]
        outs[mode] = {
            t: sorted(
                tuple(r) for r in store.read_delta(t, up_to=2)
                .drop("elapsed_sec", "scheduled_ts").collect()
            )
            for t in ("seen", "fetched", "frontier")
        }
    assert outs["broadcast"] == outs["sharded"]
