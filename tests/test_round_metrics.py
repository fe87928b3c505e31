"""Per-shard ``metrics`` (C9) recomputed from the other committed tables.

Each round's metrics partition must equal what its committed ``fetched``
and ``seen`` partitions and the pages table imply, shard by shard:
``scheduled``/``fetched``/``missed`` from the fetch outcomes,
``new_urls`` from the seen rows the round added (minus its recrawl
re-adds, listed in ``seen_deletes``), ``bytes_html`` from the fetched
pages' html. The crawl starts from one host's seeds and forces a recrawl
in round 1, so that round's new URLs land on shards it fetched nothing
from.
"""

from __future__ import annotations

import glob
from collections import defaultdict

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from webscraper_spark.plans.round import (
    N_METRIC_SHARDS,
    init_crawl,
    prepare_pages,
    run_round,
)
from webscraper_spark.schemas import METRICS
from webscraper_spark.sources.tables import TableStore

COUNTERS = ("scheduled", "fetched", "missed", "new_urls", "bytes_html")


def _expected(store, pages_latest, r):
    shard = F.pmod(F.xxhash64("host"), F.lit(N_METRIC_SHARDS)).cast("int").alias("shard")
    html_len = pages_latest.select("url_hash", "url", F.length("html").alias("n"))
    fetched = store.read_round("fetched", r).join(html_len, ["url_hash", "url"], "left")
    added = store.read_round("seen", r)
    recrawled = store.read_round("seen_deletes", r)
    if recrawled is not None:
        added = added.join(recrawled, "url_hash", "left_anti")
    want = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for row in fetched.select(shard, "fetch_status", "n").collect():
        m = want[row["shard"]]
        m["scheduled"] += 1
        if row["fetch_status"] == "ok":
            m["fetched"] += 1
            m["bytes_html"] += row["n"]
        else:
            assert row["fetch_status"] == "miss"
            m["missed"] += 1
    for row in added.select(shard).collect():
        want[row["shard"]]["new_urls"] += 1
    return dict(want)


def test_metrics_recompute_from_committed_tables(spark, sdfs, tmp_path):
    store = TableStore(spark, str(tmp_path / "store"))
    head = "host000.example"
    seeds = sdfs["seeds"].filter(F.lower("url").contains(f"//{head}"))
    init_crawl(store, seeds, sdfs["hosts"])
    pages_latest = prepare_pages(sdfs["pages"]).persist()

    def recrawl(urls):
        return spark.createDataFrame([(u,) for u in urls], "url string")

    seed_url = seeds.orderBy("url").first()["url"]
    run_round(store, pages_latest, 1, per_host_budget=4, recrawl=recrawl([seed_url]))
    run_round(store, pages_latest, 2, per_host_budget=4)
    done = [r["url"] for r in store.read_delta("fetched").orderBy("url").collect()]
    lineage = run_round(
        store, pages_latest, 3, per_host_budget=4, recrawl=recrawl(done[:5])
    )
    assert lineage["bloom_mode_used"] == "cuckoo"

    for r in (1, 2, 3):
        metrics = store.read_round("metrics", r)
        assert [(f.name, f.dataType) for f in metrics.schema] == [
            (f.name, f.dataType) for f in METRICS
        ]
        files = glob.glob(f"{store.part_path('metrics', r)}/*.parquet")
        file_schema = pq.read_schema(files[0])
        assert [(f.name, f.nullable) for f in file_schema] == [
            (f.name, f.nullable) for f in METRICS
        ]
        rows = metrics.collect()
        assert {row["round"] for row in rows} == {r}
        got = {row["shard"]: {c: row[c] for c in COUNTERS} for row in rows}
        assert len(got) == len(rows)  # one row per shard
        want = _expected(store, pages_latest, r)
        assert got == want, r
        if r == 1:
            only_new = [s for s, m in want.items() if m["scheduled"] == 0]
            assert only_new and all(want[s]["new_urls"] > 0 for s in only_new)
    pages_latest.unpersist()
