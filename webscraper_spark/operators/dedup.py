"""Seen-set deduplication — the engine's J1/U1 kernel at crawl scale.

Reference behavior: a single in-memory Python ``set`` of normalized keys,
probed row-by-row (``CrunchBase Follow/crunchbase_matching.py:55-75``).
That caps out at one machine's RAM. The engine's layered design for a
10^10-key seen-set:

1. **Ground truth**: the ``seen`` table; membership = exact
   ``left_anti``/``left_semi`` join on ``url_hash`` (hash-partitioned —
   at cluster scale the table is bucketed by ``url_hash`` so the probe is
   a co-partitioned join with no build-side shuffle).
2. **Bloom pre-probe** (fast path): per-shard Bloom bitmaps built with
   ``applyInPandas`` (one shard = one ``pmod(url_hash, n_shards)``
   partition), broadcast to executors, probed vectorized. Candidates the
   filter rejects are *definitely new* and skip the exact join entirely —
   at steady state the overwhelming majority of discovered outlinks are
   already-seen, so the exact join sees only the small maybe-seen slice
   plus false positives (no false negatives, property-tested).
3. **Cuckoo filter fallback** when deletions are required (e.g. forced
   re-crawl): supports delete; versioned per round and rebuilt from the
   ``seen`` table on resume (filters are caches, never truth).

All Python-side hashing is vectorized numpy (splitmix64 double-hashing) —
no per-row Python in the probe path.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_U64 = np.uint64
_GOLDEN = _U64(0x9E3779B97F4A7C15)
_MIX1 = _U64(0xBF58476D1CE4E5B9)
_MIX2 = _U64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constants)."""
    with np.errstate(over="ignore"):
        z = (x + _GOLDEN).astype(_U64)
        z = (z ^ (z >> _U64(30))) * _MIX1
        z = (z ^ (z >> _U64(27))) * _MIX2
        return z ^ (z >> _U64(31))


def _hash_pair(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Two independent 64-bit hash streams from int64 keys."""
    u = keys.astype(np.int64).view(_U64)
    h1 = _splitmix64(u)
    h2 = _splitmix64(u ^ _U64(0xD6E8FEB86659FD93)) | _U64(1)  # odd → full cycle
    return h1, h2


# --------------------------------------------------------------------------
# Bloom filter
# --------------------------------------------------------------------------

@dataclass
class BloomShard:
    bits: np.ndarray  # uint8 bitmap
    n_bits: int
    n_hashes: int

    @classmethod
    def build(cls, keys: np.ndarray, fpp: float = 0.01) -> "BloomShard":
        n = max(1, len(keys))
        n_bits = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        n_bits = (n_bits + 7) // 8 * 8
        n_hashes = max(1, round(n_bits / n * math.log(2)))
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        if len(keys):
            h1, h2 = _hash_pair(np.asarray(keys))
            for i in range(n_hashes):
                pos = (h1 + _U64(i) * h2) % _U64(n_bits)
                np.bitwise_or.at(bits, (pos // _U64(8)).astype(np.int64),
                                 np.left_shift(np.uint8(1), (pos % _U64(8)).astype(np.uint8)))
        return cls(bits=bits, n_bits=n_bits, n_hashes=n_hashes)

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        h1, h2 = _hash_pair(np.asarray(keys))
        out = np.ones(len(keys), dtype=bool)
        for i in range(self.n_hashes):
            pos = (h1 + _U64(i) * h2) % _U64(self.n_bits)
            byte = self.bits[(pos // _U64(8)).astype(np.int64)]
            bit = (byte >> (pos % _U64(8)).astype(np.uint8)) & 1
            out &= bit.astype(bool)
        return out

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, b: bytes, n_bits: int, n_hashes: int) -> "BloomShard":
        return cls(np.frombuffer(b, dtype=np.uint8).copy(), n_bits, n_hashes)


_BLOOM_ROW = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType(), False),
        T.StructField("n_bits", T.LongType(), False),
        T.StructField("n_hashes", T.IntegerType(), False),
        T.StructField("n_items", T.LongType(), False),
    ]
)


def build_bloom_shards(
    seen: DataFrame, key_col: str = "url_hash", n_shards: int = 32, fpp: float = 0.01
) -> DataFrame:
    """Build per-shard Bloom bitmaps distributed (one grouped-map task per
    shard). Shard = ``pmod(key, n_shards)`` — the same sharding used for
    the seen table's bucketing, so each executor builds from local rows."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf[key_col].to_numpy(dtype=np.int64)
        shard = int(pdf["__shard"].iloc[0])
        bf = BloomShard.build(keys, fpp=fpp)
        return pd.DataFrame(
            [
                {
                    "shard": shard,
                    "bits": bf.to_bytes(),
                    "n_bits": bf.n_bits,
                    "n_hashes": bf.n_hashes,
                    "n_items": len(keys),
                }
            ]
        )

    return (
        seen.select(key_col)
        .withColumn("__shard", F.pmod(F.col(key_col), F.lit(n_shards)).cast("int"))
        .groupBy("__shard")
        .applyInPandas(_build, schema=_BLOOM_ROW)
    )


def bloom_bytes_estimate(n_keys: int, fpp: float = 0.01) -> int:
    """Bytes the Bloom seen-set will occupy for ``n_keys`` at ``fpp``
    (the standard -n·ln(p)/ln²2 bits sizing used by BloomShard.build)."""
    if n_keys <= 0:
        return 0
    return int(-n_keys * math.log(fpp) / (math.log(2) ** 2) / 8) + 1


def choose_bloom_mode(n_keys: int, mem_bytes: int, fpp: float = 0.01) -> str:
    """Pick the probe topology from the memory envelope — the documented
    flip point made automatic: a broadcast probe ships the WHOLE filter
    to every executor, so once the filter exceeds ~¼ of executor memory
    the shard-cogrouped store (per-shard memory, one narrow candidate
    shuffle) wins. At the SCALE.md design point (10^10 keys ≈ 12 GB of
    filter) broadcast is never viable; at steady sandbox scale (10^6-10^8
    keys, MBs) broadcast avoids the extra shuffle."""
    return (
        "sharded"
        if bloom_bytes_estimate(n_keys, fpp) > mem_bytes // 4
        else "broadcast"
    )


class BloomSeenSet:
    """Driver-held handle over collected shard bitmaps, probed vectorized
    inside executors via a broadcast dict (shard → BloomShard)."""

    def __init__(self, shards: dict[int, BloomShard], n_shards: int):
        self.shards = shards
        self.n_shards = n_shards

    @classmethod
    def from_df(cls, bloom_df: DataFrame, n_shards: int) -> "BloomSeenSet":
        shards = {
            r["shard"]: BloomShard.from_bytes(r["bits"], r["n_bits"], r["n_hashes"])
            for r in bloom_df.collect()
        }
        return cls(shards, n_shards)

    @classmethod
    def build(cls, seen: DataFrame, key_col: str = "url_hash",
              n_shards: int = 32, fpp: float = 0.01) -> "BloomSeenSet":
        return cls.from_df(build_bloom_shards(seen, key_col, n_shards, fpp), n_shards)

    def might_contain_udf(self, spark):
        bc = spark.sparkContext.broadcast(
            {s: (bf.to_bytes(), bf.n_bits, bf.n_hashes) for s, bf in self.shards.items()}
        )
        n_shards = self.n_shards

        @F.pandas_udf(T.BooleanType())
        def _probe(keys: pd.Series) -> pd.Series:
            arr = keys.to_numpy(dtype=np.int64)
            shard = np.mod(arr, n_shards)  # pmod: numpy % matches Spark pmod for +n
            out = np.zeros(len(arr), dtype=bool)
            local = {}
            for s in np.unique(shard):
                packed = bc.value.get(int(s))
                if packed is None:
                    continue
                if int(s) not in local:
                    local[int(s)] = BloomShard.from_bytes(*packed)
                mask = shard == s
                out[mask] = local[int(s)].might_contain(arr[mask])
            return pd.Series(out)

        return _probe


class BloomShardStore:
    """Distributed Bloom shards that are NEVER collected to the driver —
    the 10^10-key probe path. ``BloomSeenSet`` broadcasts the whole shard
    dict to every executor (12 GB per executor at the SCALE.md design
    point); this store keeps the shards as a DataFrame and probes via a
    shard-cogrouped map, so one task holds exactly one shard's bitmap plus
    that shard's candidate keys. Output-equivalent to the broadcast probe
    (tested) — pick by memory envelope:

    - |bloom| ≪ executor memory → ``BloomSeenSet`` (no extra shuffle)
    - |bloom| ~ GBs → this store (one narrow shuffle of candidate keys,
      per-shard memory)
    """

    def __init__(self, bloom_df: DataFrame, n_shards: int):
        # persist: built once per round, probed once; without it the
        # grouped-map build would re-run per consumer
        self.bloom_df = bloom_df.persist()
        self.n_shards = n_shards

    @classmethod
    def build(cls, seen: DataFrame, key_col: str = "url_hash",
              n_shards: int = 32, fpp: float = 0.01) -> "BloomShardStore":
        return cls(build_bloom_shards(seen, key_col, n_shards, fpp), n_shards)

    def maybe_seen_keys(self, candidates: DataFrame,
                        key_col: str = "url_hash") -> DataFrame:
        """Keys from ``candidates`` the filter cannot rule out (false
        positives possible, false negatives impossible)."""
        n_shards = self.n_shards
        cand = candidates.select(key_col).withColumn(
            "__shard", F.pmod(F.col(key_col), F.lit(n_shards)).cast("int")
        )
        shards = self.bloom_df.withColumnRenamed("shard", "__shard")

        def _probe(key, cand_pdf: pd.DataFrame, shard_pdf: pd.DataFrame) -> pd.DataFrame:
            if not len(cand_pdf) or not len(shard_pdf):
                # no bitmap for this shard → it held no seen keys → all new
                return pd.DataFrame({key_col: pd.Series([], dtype="int64")})
            row = shard_pdf.iloc[0]
            bf = BloomShard.from_bytes(
                row["bits"], int(row["n_bits"]), int(row["n_hashes"])
            )
            keys = cand_pdf[key_col].to_numpy(dtype=np.int64)
            return pd.DataFrame({key_col: keys[bf.might_contain(keys)]})

        return (
            cand.groupBy("__shard")
            .cogroup(shards.groupBy("__shard"))
            .applyInPandas(_probe, schema=f"{key_col} long")
        )

    def unpersist(self) -> None:
        self.bloom_df.unpersist()


class CuckooSeenSet:
    """Sharded cuckoo-filter seen-set — the deletion-capable fast path
    used when forced re-crawl invalidations exist (Bloom cannot delete).

    Build is cogrouped per shard: insert every discovered key, then
    *delete* keys whose latest deletion round is >= their latest
    discovery round (re-discovery after deletion restores membership).
    Same layered-probe contract as :class:`BloomSeenSet`: no false
    negatives (property of cuckoo deletes only removing known keys),
    false positives resolved by the exact anti-join.

    Scale limit: every built shard is ``collect()``-ed to the driver and
    broadcast whole to every executor, so the whole filter must fit in
    driver memory and in each executor's broadcast budget. It costs
    2.3-4.6 bytes per key (2-byte slots, 1.15 load headroom, power-of-two
    bucket counts), twice that in a shard whose build had to double its
    capacity: roughly 2×10^8 keys per GB. Past that the seen-set needs a
    shard-local probe like :class:`BloomShardStore`."""

    def __init__(self, shards: dict[int, CuckooFilter], n_shards: int):
        self.shards = shards
        self.n_shards = n_shards

    @classmethod
    def build(
        cls,
        seen: DataFrame,
        deletes: DataFrame | None = None,
        key_col: str = "url_hash",
        round_col: str = "discovered_round",
        n_shards: int = 32,
        extra: DataFrame | None = None,
    ) -> "CuckooSeenSet":
        """Distributed per-shard build. ``extra`` keys (e.g. this round's
        forced-recrawl set — they must still read as "seen" for admission)
        are folded into the cogroup with an always-wins discovery round,
        so bulk recrawls of millions of URLs never collect to the driver.
        Inserts are capacity-checked: a shard whose filter fills is
        rebuilt with doubled capacity (never silently dropped — dropped
        keys would be false negatives, violating the layered-probe
        contract)."""
        spark = seen.sparkSession
        shard = F.pmod(F.col(key_col), F.lit(n_shards)).cast("int").alias("__shard")
        s = seen.select(
            F.col(key_col), F.col(round_col).cast("long").alias("__disc"), shard
        )
        if extra is not None:
            s = s.unionByName(
                extra.select(
                    F.col(key_col),
                    F.lit(2**62).cast("long").alias("__disc"),  # beats any delete round
                    shard,
                )
            )
        if deletes is None:
            d = spark.createDataFrame(
                [], schema=T.StructType([
                    T.StructField(key_col, T.LongType()),
                    T.StructField("__del", T.LongType()),
                    T.StructField("__shard", T.IntegerType()),
                ])
            )
        else:
            d = deletes.select(
                F.col(key_col),
                F.col("deleted_round").cast("long").alias("__del"),
                shard,
            )

        def _build(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            sh = int(key[0])
            if len(left):
                disc = left.groupby(key_col)["__disc"].max()
            else:
                disc = pd.Series(dtype="int64")
            keys = disc.index.to_numpy(dtype=np.int64)
            cap = max(16, len(keys))
            while True:  # checked insert: full shard → rebuild at 2× capacity
                cf = CuckooFilter(capacity=cap)
                if bool(cf.insert_many(keys).all()):
                    break
                cap *= 2
            if len(right):
                dele = right.groupby(key_col)["__del"].max()
                both = disc.index.intersection(dele.index)
                stale = both[disc.loc[both].to_numpy() < dele.loc[both].to_numpy()]
                for k in stale:
                    cf.delete(int(k))
            return pd.DataFrame(
                [{"shard": sh, "bits": cf.to_bytes(), "n_buckets": cf.n_buckets}]
            )

        rows = (
            s.groupBy("__shard")
            .cogroup(d.groupBy("__shard"))
            .applyInPandas(
                _build,
                schema="shard int, bits binary, n_buckets int",
            )
            .collect()
        )
        shards = {
            r["shard"]: CuckooFilter.from_bytes(r["bits"], r["n_buckets"]) for r in rows
        }
        return cls(shards, n_shards)

    def might_contain_udf(self, spark):
        bc = spark.sparkContext.broadcast(
            {s: (cf.to_bytes(), cf.n_buckets) for s, cf in self.shards.items()}
        )
        n_shards = self.n_shards

        @F.pandas_udf(T.BooleanType())
        def _probe(keys: pd.Series) -> pd.Series:
            arr = keys.to_numpy(dtype=np.int64)
            shard = np.mod(arr, n_shards)
            out = np.zeros(len(arr), dtype=bool)
            local: dict[int, CuckooFilter] = {}
            for s in np.unique(shard):
                packed = bc.value.get(int(s))
                if packed is None:
                    continue
                if int(s) not in local:
                    local[int(s)] = CuckooFilter.from_bytes(*packed)
                cf = local[int(s)]
                mask = shard == s
                out[mask] = cf.contains_many(arr[mask])
            return pd.Series(out)

        return _probe


# --------------------------------------------------------------------------
# Exact joins + the layered probe
# --------------------------------------------------------------------------

def anti_join_seen(candidates: DataFrame, seen: DataFrame,
                   key_col: str = "url_hash") -> DataFrame:
    """Exact ground-truth dedup: candidates NOT IN seen (J1 anti-join)."""
    return candidates.join(seen.select(key_col), on=key_col, how="left_anti")


def semi_join_seen(candidates: DataFrame, seen: DataFrame,
                   key_col: str = "url_hash") -> DataFrame:
    return candidates.join(seen.select(key_col), on=key_col, how="left_semi")


def bloom_filtered_new(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: "BloomSeenSet | BloomShardStore | CuckooSeenSet",
    key_col: str = "url_hash",
) -> DataFrame:
    """Layered membership: Bloom pre-probe routes definitely-new rows
    around the exact join; maybe-seen rows get the exact anti-join.
    Equivalent to :func:`anti_join_seen` (no false negatives), cheaper at
    steady state. Accepts the broadcast probe (BloomSeenSet/CuckooSeenSet)
    or the shard-local distributed probe (BloomShardStore)."""
    if isinstance(bloom, BloomShardStore):
        # eager localCheckpoint: the cogrouped per-shard bitmap probe
        # (shuffle + applyInPandas) feeds BOTH the anti and the semi
        # join below — without it the probe would execute twice. Unlike
        # .persist(), the checkpoint blocks are released by the context
        # cleaner when the DataFrame goes out of scope, so long
        # multi-round crawls don't accumulate one pinned cache per round
        maybe_keys = bloom.maybe_seen_keys(candidates, key_col).localCheckpoint(
            eager=True
        )
        definitely_new = candidates.join(maybe_keys, on=key_col, how="left_anti")
        maybe = candidates.join(maybe_keys, on=key_col, how="left_semi")
        return definitely_new.unionByName(anti_join_seen(maybe, seen, key_col))
    if not bloom.shards:
        return anti_join_seen(candidates, seen, key_col)
    spark = candidates.sparkSession
    probe = bloom.might_contain_udf(spark)
    tagged = candidates.withColumn("__maybe_seen", probe(F.col(key_col)))
    definitely_new = tagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    maybe = tagged.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    confirmed_new = anti_join_seen(maybe, seen, key_col)
    return definitely_new.unionByName(confirmed_new)


def dedup_latest(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Newest-wins dedup (A6/C10: ``max(files, key=mtime)`` →
    ``row_number`` over desc order). Used to pick the latest ``warc_ts``
    capture of each url before extraction."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --------------------------------------------------------------------------
# Cuckoo filter (deletion-capable fallback) — pure Python + numpy storage
# --------------------------------------------------------------------------

class CuckooFilter:
    """Bucketed cuckoo filter: 4-slot buckets, 16-bit fingerprints,
    deterministic eviction (no RNG — kick slot derived from the
    fingerprint, so rebuilds are reproducible). Supports delete, which
    Bloom cannot — used for forced re-crawl invalidation. Versioned per
    round; rebuilt from the ``seen`` table on resume (SURVEY §7.4)."""

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, capacity: int):
        n_buckets = 1
        while n_buckets * self.SLOTS < capacity * 1.15:
            n_buckets <<= 1  # power of two → mask indexing
        self.n_buckets = n_buckets
        self.table = np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)
        self.count = 0

    def _fp_and_index(self, key: int) -> tuple[int, int]:
        h = int(_splitmix64(np.array([key], dtype=np.int64).view(_U64))[0])
        fp = (h & 0xFFFF) or 1  # fingerprint 0 reserved for empty
        idx = (h >> 16) & (self.n_buckets - 1)
        return fp, idx

    def _alt_index(self, idx: int, fp: int) -> int:
        mix = int(_splitmix64(np.array([fp], dtype=np.uint64))[0])
        return (idx ^ mix) & (self.n_buckets - 1)

    def _fp_index_many(
        self, keys: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Vectorized twin of ``_fp_and_index`` + ``_alt_index`` —
        bit-identical to the scalar path (property-tested)."""
        h = _splitmix64(np.asarray(keys, dtype=np.int64).view(_U64))
        fp = (h & _U64(0xFFFF)).astype(np.uint16)
        fp[fp == 0] = 1
        mask = _U64(self.n_buckets - 1)
        i1 = ((h >> _U64(16)) & mask).astype(np.int64)
        mix = _splitmix64(fp.astype(np.uint64))
        i2 = ((i1.view(_U64) ^ mix) & mask).astype(np.int64)
        return fp, i1, i2

    def insert_many(self, keys: np.ndarray) -> np.ndarray:
        """Bulk insert with hashes computed vectorized (the hash is the
        per-insert hot cost; eviction placement stays sequential by
        nature). Returns a bool per key — callers MUST check: a False
        means the key was not inserted (a false negative if ignored).

        Fails fast: the first key that cannot be placed means the table
        is full, so insertion stops there and that key and every later
        one report False. Once full, each further ``_place`` would run
        all ``MAX_KICKS`` evictions and roll them back only to fail."""
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        fps, i1s, i2s = self._fp_index_many(np.asarray(keys, dtype=np.int64))
        ok = np.zeros(len(fps), dtype=bool)
        for j in range(len(fps)):
            if not self._place(int(fps[j]), int(i1s[j]), int(i2s[j])):
                break
            ok[j] = True
        return ok

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        """Vectorized membership probe — no per-row Python."""
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        fps, i1s, i2s = self._fp_index_many(np.asarray(keys, dtype=np.int64))
        hit1 = (self.table[i1s] == fps[:, None]).any(axis=1)
        hit2 = (self.table[i2s] == fps[:, None]).any(axis=1)
        return hit1 | hit2

    def insert(self, key: int) -> bool:
        fp, i1 = self._fp_and_index(key)
        i2 = self._alt_index(i1, fp)
        return self._place(fp, i1, i2)

    def _place(self, fp: int, i1: int, i2: int) -> bool:
        for idx in (i1, i2):
            row = self.table[idx]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = fp
                self.count += 1
                return True
        idx, cur = i1, fp
        chain: list[tuple[int, int]] = []  # (bucket, slot) of each eviction
        for kick in range(self.MAX_KICKS):
            slot = (cur + kick) % self.SLOTS  # deterministic eviction
            chain.append((idx, slot))
            cur, self.table[idx][slot] = int(self.table[idx][slot]), cur
            idx = self._alt_index(idx, cur)
            row = self.table[idx]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = cur
                self.count += 1
                return True
        # Table full: ROLL BACK the eviction chain so previously-inserted
        # keys are untouched (otherwise a failed insert silently evicts an
        # earlier key's fingerprint — a false negative for a key whose
        # insert returned True).
        for bidx, bslot in reversed(chain):
            cur, self.table[bidx][bslot] = int(self.table[bidx][bslot]), cur
        return False  # caller must resize/rebuild

    def contains(self, key: int) -> bool:
        fp, i1 = self._fp_and_index(key)
        i2 = self._alt_index(i1, fp)
        return bool((self.table[i1] == fp).any() or (self.table[i2] == fp).any())

    def delete(self, key: int) -> bool:
        fp, i1 = self._fp_and_index(key)
        i2 = self._alt_index(i1, fp)
        for idx in (i1, i2):
            hit = np.flatnonzero(self.table[idx] == fp)
            if len(hit):
                self.table[idx][hit[0]] = 0
                self.count -= 1
                return True
        return False

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, b: bytes, n_buckets: int) -> "CuckooFilter":
        cf = cls.__new__(cls)
        cf.n_buckets = n_buckets
        cf.table = np.frombuffer(b, dtype=np.uint16).reshape(n_buckets, cls.SLOTS).copy()
        cf.count = int((cf.table != 0).sum())
        return cf
