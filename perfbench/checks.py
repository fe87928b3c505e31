"""Output checks for a crawl run, read straight from the committed
TableStore partitions with pyarrow and pandas (no Spark).

Per round:

- lineage adds up (``scheduled = fetched + missed``) and matches the
  committed ``fetched``, ``seen`` and ``metrics`` partitions row for row;
- politeness: no host gets more fetches than the per-host budget, and no
  ``/private/`` path is fetched from a host whose robots.txt disallows it;
- extraction parity: every fetched page's text and capture time equal
  those of the newest capture of its url in the generated corpus;
- no url is fetched twice, except one forced back by a recrawl.

Fingerprints are order-insensitive (sum of row hashes modulo 2**64 plus a
row count), so they do not depend on how Spark partitioned a write.
``metrics`` is not fingerprinted: it carries the wall-clock
``elapsed_sec``.
"""

from __future__ import annotations

import glob
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from webscraper_spark.functions.canon import canonicalize_url

FINGERPRINTED = ("fetched", "seen", "frontier")
_NULL = "\x00null"


def part_dir(store_root: str, table: str, round_no: int) -> str:
    return os.path.join(store_root, table, f"round={round_no}")


def read_part(store_root: str, table: str, round_no: int,
              columns: list[str] | None = None) -> pa.Table | None:
    path = part_dir(store_root, table, round_no)
    if not os.path.isdir(path):
        return None
    return pq.read_table(path, columns=columns)


def fingerprint(table: pa.Table, exclude=()) -> dict:
    """Order- and partitioning-insensitive fingerprint of a table."""
    cols = sorted(c for c in table.column_names if c not in exclude)
    text = {
        c: pc.fill_null(pc.cast(table.column(c), pa.string()), _NULL).to_numpy(
            zero_copy_only=False)
        for c in cols
    }
    hashes = pd.util.hash_pandas_object(pd.DataFrame(text), index=False)
    total = int(hashes.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))
    return {"rows": table.num_rows, "hash": f"{total:016x}"}


def round_fingerprints(store_root: str, round_no: int) -> dict:
    out = {}
    for name in FINGERPRINTED:
        t = read_part(store_root, name, round_no)
        out[name] = fingerprint(t) if t is not None else None
    return out


class CorpusTruth:
    """What the generated corpus says each fetch must return: the newest
    capture of every canonical url. Canonical forms come from the
    engine's pure-Python ``canonicalize_url``, the same kernel its
    reference simulator uses. Cached next to the corpus."""

    def __init__(self, corpus_dir: str):
        cache = os.path.join(corpus_dir, "truth.parquet")
        if not os.path.exists(cache):
            pages = pq.read_table(
                os.path.join(corpus_dir, "pages.parquet"),
                columns=["url", "warc_ts", "text"],
            ).to_pandas()
            pages["url"] = pages["url"].map(canonicalize_url)
            newest = (
                pages.dropna(subset=["url"])
                .sort_values(["url", "warc_ts"])
                .drop_duplicates("url", keep="last")
            )
            tmp = f"{cache}.tmp{os.getpid()}"
            pq.write_table(pa.Table.from_pandas(newest, preserve_index=False), tmp)
            os.replace(tmp, cache)
        self.newest = pq.read_table(cache).to_pandas().set_index("url")
        hosts = pq.read_table(
            os.path.join(corpus_dir, "hosts.parquet"), columns=["host", "robots_txt"]
        ).to_pandas()
        self.private_disallowed = set(
            hosts.loc[hosts["robots_txt"].str.contains("Disallow: /private/",
                                                       regex=False), "host"]
        )


class CrawlChecker:
    """Checks each committed round of one crawl, in round order."""

    def __init__(self, truth: CorpusTruth, budget: int):
        self.truth = truth
        self.budget = budget
        self.fetched: set[str] = set()
        self.recrawled: set[str] = set()

    def check_round(self, store_root: str, round_no: int, lineage: dict,
                    recrawl_urls: list[str] | None) -> list[str]:
        problems: list[str] = []
        r = round_no
        if lineage["scheduled"] != lineage["fetched"] + lineage["missed"]:
            problems.append(f"round {r}: scheduled != fetched + missed ({lineage})")

        fetched = read_part(store_root, "fetched", r,
                            ["url", "host", "fetch_status", "warc_ts", "text"])
        seen = read_part(store_root, "seen", r, ["url_hash"])
        metrics = read_part(store_root, "metrics", r,
                            ["scheduled", "fetched", "missed", "new_urls"])
        if fetched is None or seen is None or metrics is None:
            return problems + [f"round {r}: a committed partition is missing"]
        f = fetched.to_pandas()
        ok = f[f["fetch_status"] == "ok"]

        recrawled = lineage.get("recrawled", 0)
        expect_rows = {
            "fetched rows": (len(f), lineage["scheduled"]),
            "ok rows": (len(ok), lineage["fetched"]),
            "miss rows": (int((f["fetch_status"] == "miss").sum()), lineage["missed"]),
            "seen rows": (seen.num_rows, lineage["new_urls"] + recrawled),
        }
        m = metrics.to_pandas().sum()
        for k in ("scheduled", "fetched", "missed", "new_urls"):
            expect_rows[f"metrics.{k}"] = (int(m[k]), lineage[k])
        for what, (got, want) in expect_rows.items():
            if got != want:
                problems.append(f"round {r}: {what} {got} != lineage {want}")

        per_host = f.groupby("host").size()
        if len(per_host) and per_host.max() > self.budget:
            problems.append(
                f"round {r}: host {per_host.idxmax()} got {per_host.max()} fetches "
                f"over the budget {self.budget}")
        private = f["url"].str.contains("/private/", regex=False)
        blocked = f[private & f["host"].isin(self.truth.private_disallowed)]
        if len(blocked):
            problems.append(f"round {r}: {len(blocked)} robots-disallowed urls fetched")

        want = self.truth.newest.reindex(ok["url"].to_numpy())
        unknown = int(want["text"].isna().sum())
        if unknown:
            problems.append(f"round {r}: {unknown} fetched urls unknown to the corpus")
        bad_text = int((want["text"].to_numpy() != ok["text"].to_numpy()).sum()) - unknown
        bad_ts = int((want["warc_ts"].to_numpy() != ok["warc_ts"].to_numpy()).sum()) - unknown
        if bad_text or bad_ts:
            problems.append(
                f"round {r}: extraction parity failed on {bad_text} texts and "
                f"{bad_ts} capture times")

        if recrawl_urls:
            self.recrawled.update(canonicalize_url(u) for u in recrawl_urls)
        this_round = set(ok["url"])
        if len(this_round) != len(ok):
            problems.append(f"round {r}: a url was fetched twice in one round")
        again = (this_round & self.fetched) - self.recrawled
        if again:
            problems.append(f"round {r}: {len(again)} urls fetched again without a recrawl")
        self.fetched |= this_round
        return problems


def store_usage(store_root: str, rounds) -> tuple[int, int]:
    """(bytes, parquet files) of every table partition of the given rounds."""
    total = files = 0
    for r in rounds:
        for path in glob.glob(os.path.join(store_root, "*", f"round={r}", "*")):
            total += os.path.getsize(path)
            files += path.endswith(".parquet")
    return total, files


def rows_through(store_root: str, table: str, last_round: int) -> int:
    """Rows of a delta table's partitions 0..last_round, from the footers."""
    n = 0
    for r in range(last_round + 1):
        for path in glob.glob(os.path.join(part_dir(store_root, table, r), "*.parquet")):
            n += pq.ParquetFile(path).metadata.num_rows
    return n


def compare_rounds(label: str, got: dict, want: dict) -> list[str]:
    """Differences between two ``{round: record}`` maps on shared rounds."""
    problems = []
    for r in sorted(set(got) & set(want), key=int):
        if got[r] != want[r]:
            problems.append(f"round {r}: differs from {label}: {got[r]} != {want[r]}")
    return problems


def round_of(problem: str) -> int | None:
    m = re.match(r"round (\d+):", problem)
    return int(m.group(1)) if m else None
