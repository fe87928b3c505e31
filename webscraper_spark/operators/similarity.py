"""Deduplication + similarity search for training-data pipelines.

The reference's dedup is a normalized-name exact seen-set
(``crunchbase_matching.py:55-75``). A 100 TB web-text corpus needs the
full near-dup family; each operator here is a first-class engine citizen
with a DuckDB-verifiable formulation:

- exact dedup (hash groupBy),
- word-shingle MinHash signatures + banded LSH candidate pairs,
- exact n-gram Jaccard verification over candidate pairs,
- SimHash (bit-voting) + banded Hamming near-dup,
- brute-force cosine top-k (ANN baseline) and sign-LSH bucketed cosine
  near-dup over ``array<float>`` embeddings.

Hashing discipline: all hashes used by *oracle-checked* operators are a
portable polynomial hash (``(acc*131 + ascii) mod 1e9+7``) expressible in
both Spark SQL and DuckDB SQL, so signatures match bit-for-bit across
engines. At production scale you would swap ``PORTABLE=False`` to use
JVM ``xxhash64`` (same plan shape, faster); correctness of the swap is
covered by the no-false-negative property tests, not the oracle.

Everything is whole-stage-codegen-able higher-order functions — no
Python in the hot path. The only shuffles are the groupBys/joins the
algorithms inherently need, and candidate generation always goes through
bucket keys (LSH bands / simhash bands / sign buckets), never a full
cross join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

POLY_MOD = 1_000_000_007
POLY_MULT = 131

# 32 fixed MinHash permutations (a odd, b arbitrary) generated by a frozen
# LCG so engine and oracle share them literally.
def _gen_perms(n: int) -> list[tuple[int, int]]:
    x = 88172645463325252
    out = []
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = (x % (POLY_MOD - 1)) | 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = x % POLY_MOD
        out.append((a, b))
    return out


MINHASH_PERMS = _gen_perms(32)


# --------------------------------------------------------------------------
# Portable SQL fragments (Spark SQL dialect; DuckDB twins live in
# __spark_entry__.oracle_sql)
# --------------------------------------------------------------------------

def bind_sql(value_expr: str, var: str, body: str) -> str:
    """Bind ``value_expr`` to a lambda variable so it is evaluated ONCE per
    row even when the body references it many times. Catalyst's
    CollapseProject would otherwise re-inline a projected alias into every
    consumer (e.g. 32 MinHash permutations each recomputing every shingle
    hash); a higher-order-function lambda argument is evaluated once."""
    return f"transform(array({value_expr}), {var} -> {body})[0]"


def words_sql(text: str) -> str:
    return f"split(lower(trim({text})), '\\\\s+')"


def shingles_sql(words: str, k: int = 3) -> str:
    """Word k-shingles: concat_ws of k consecutive words."""
    parts = ", ".join(f"element_at({words}, cast(i + {j} as int))" for j in range(k))
    return (
        f"case when size({words}) >= {k} then "
        f"transform(sequence(1, size({words}) - {k - 1}), i -> "
        f"concat_ws(' ', {parts})) "
        f"else array() end"
    )


def poly_hash_sql(s: str) -> str:
    """Portable polynomial string hash (left fold, init 0 — identical to
    DuckDB's init-free list_reduce because f(0, c1) == c1)."""
    return (
        f"aggregate(transform(sequence(1, length({s})), i -> "
        f"cast(ascii(substring({s}, i, 1)) as bigint)), cast(0 as bigint), "
        f"(acc, c) -> (acc * {POLY_MULT} + c) % {POLY_MOD})"
    )


def shingle_hashes_sql(text: str, k: int = 3, portable: bool = True) -> str:
    """Shingle hash array. ``portable=True`` → the char-fold polynomial
    (bit-identical in DuckDB; interpreted per char — the oracle path).
    ``portable=False`` → JVM ``xxhash64`` folded into [0, POLY_MOD)
    (codegen'd; ~10× faster — the production path; same plan shape, so
    the oracle-checked portable twin certifies the algorithm)."""
    sh = shingles_sql(words_sql(text), k)
    if portable:
        return f"transform({sh}, s -> {poly_hash_sql('s')})"
    return f"transform({sh}, s -> pmod(xxhash64(s), {POLY_MOD}))"


def minhash_sig_sql(text: str, n_hashes: int = 32, k: int = 3,
                    portable: bool = True) -> str:
    """Array of n_hashes minima over permuted shingle hashes."""
    perms = MINHASH_PERMS[:n_hashes]
    ab = ", ".join(f"named_struct('a', {a}L, 'b', {b}L)" for a, b in perms)
    hs = shingle_hashes_sql(text, k, portable=portable)
    return bind_sql(
        hs, "hv",
        f"transform(array({ab}), p -> "
        f"array_min(transform(hv, h -> (p.a * h + p.b) % {POLY_MOD})))",
    )


# --------------------------------------------------------------------------
# DataFrame operators
# --------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: canonical = min id per text group.
    One hash-aggregate (map-side partial combine free); at 100 TB scale
    group on ``xxhash64(text)`` first so the shuffle carries 8-byte keys,
    with the full-text equality verified inside each tiny group."""
    return (
        docs.groupBy(F.xxhash64(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
    )


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_hashes: int = 32, k: int = 3,
) -> DataFrame:
    return docs.select(
        F.col(id_col), F.expr(minhash_sig_sql(text_col, n_hashes, k)).alias("sig")
    )


def minhash_band_keys_pandas(n_hashes: int = 32, k: int = 3, bands: int = 8):
    """Arrow-vectorized MinHash banding kernel: text → array of (band,
    key) longs. Spark SQL higher-order functions are *interpreted* per
    lambda call (no whole-stage codegen), which makes the expression
    formulation O(docs × shingles × perms) interpreter steps; this numpy
    kernel does the same math as one broadcasted matmul-shaped pass per
    Arrow batch (~10× faster at 5k docs, scales with batch size).

    Hash family: blake2b-8byte per shingle folded into [0, POLY_MOD) —
    deterministic across workers; NOT the portable oracle family (the
    portable expression twin certifies the algorithm)."""
    import hashlib

    rows = n_hashes // bands
    a = np.array([p[0] for p in MINHASH_PERMS[:n_hashes]], dtype=np.int64)
    b = np.array([p[1] for p in MINHASH_PERMS[:n_hashes]], dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _keys(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            words = (t or "").lower().split()
            if len(words) < k:
                out.append([])
                continue
            sh = [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]
            hv = np.array(
                [
                    int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(), "big")
                    % POLY_MOD
                    for s in set(sh)
                ],
                dtype=np.int64,
            )
            # perms × shingles, min over shingles → signature
            sig = ((a[:, None] * hv[None, :] + b[:, None]) % POLY_MOD).min(axis=1)
            keys = []
            for band in range(bands):
                acc = 0
                for v in sig[band * rows:(band + 1) * rows]:
                    acc = (acc * POLY_MULT + int(v)) % POLY_MOD
                keys.append(band * (POLY_MOD + 1) + acc)  # fold band id into key
            out.append(keys)
        return pd.Series(out)

    return _keys


def lsh_candidate_pairs_pandas(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_hashes: int = 32, k: int = 3, bands: int = 8,
) -> DataFrame:
    """Banded LSH with the Arrow-vectorized signature kernel — the
    production hot path (same join plan as :func:`lsh_candidate_pairs`)."""
    # asNondeterministic: the join's inferred isnotnull(key) filter would
    # otherwise split into Filter(udf)+Project(udf) — two full kernel
    # evaluations per branch (guide §4.4); the kernel is pure, the mark
    # only forbids Catalyst from duplicating it. (A repartition on the
    # join key to share one exchange was measured SLOWER here: the
    # broadcast self-join keeps the scan's even round-robin layout, while
    # hash-partitioning by band key serializes hot buckets into single
    # tasks — guide §2.5 skew.)
    keys_udf = minhash_band_keys_pandas(n_hashes, k, bands).asNondeterministic()
    banded = docs.select(
        F.col(id_col), F.explode(keys_udf(F.col(text_col))).alias("key")
    )
    a2, b2 = banded.alias("a"), banded.alias("b")
    return (
        a2.join(b2, on="key")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def lsh_candidate_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_hashes: int = 32, k: int = 3, bands: int = 8, portable: bool = True,
) -> DataFrame:
    """Banded LSH: docs sharing any band of the signature become a
    candidate pair. Plan: signature → explode bands → groupBy-free
    self-equi-join on (band_id, band_key) → distinct pairs. The join key
    is a single long (band slice folded with the polynomial), so the
    shuffle is narrow; a full cross join never appears."""
    rows = n_hashes // bands
    band_key = bind_sql(
        minhash_sig_sql(text_col, n_hashes, k, portable=portable), "sig",
        f"transform(sequence(0, {bands - 1}), b -> "
        f"named_struct('band', b, 'key', "
        f"aggregate(slice(sig, b * {rows} + 1, {rows}), cast(0 as bigint), "
        f"(acc, v) -> (acc * {POLY_MULT} + v) % {POLY_MOD})))",
    )
    # repartition on the join key: both self-join branches project
    # identically, so their exchanges canonicalize equal and
    # ReuseExchange runs the interpreted signature pass ONCE instead of
    # once per branch (A/B at sf1.0: 7.1 s → 4.0 s). Skew-safe here,
    # unlike the simhash banding: these band keys are wide (polynomial
    # fold mod 1e9+7), so only true near-dup groups collide.
    banded = docs.select(id_col, F.explode(F.expr(band_key)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    ).repartition("band", "key")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band", "key"], how="inner")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, min_jaccard: float = 0.0, candidates: DataFrame | None = None,
    max_shingle_df: int | None = 64,
) -> DataFrame:
    """Exact word-k-gram Jaccard (|A∪B| = |A|+|B|-|A∩B|), emitting only
    pairs with ≥1 shared shingle.

    Scale contract — the verify step must never degenerate to
    all-pairs-per-shared-shingle (a shingle like "terms of service"
    shared by 10^6 web docs would yield 10^12 intermediate rows):

    - ``candidates`` given (the production path, gate with
      :func:`lsh_candidate_pairs`): intersections are computed by joining
      the candidate pairs against per-doc shingle-hash ARRAYS and taking
      ``array_intersect`` — cost is O(|candidates| · doc_len), the
      shared-shingle self-join never appears in the plan.
    - ungated: the self-join is document-frequency-capped — shingles with
      df > ``max_shingle_df`` (default 64) are dropped from the
      intersection count (denominator keeps the full set sizes, so hot
      shingles can only under-estimate jaccard, never inflate it). Pass
      ``max_shingle_df=None`` explicitly with ``candidates=None`` only if
      you genuinely want the unbounded exact form on a small corpus.
    """
    sets = docs.select(
        F.col(id_col),
        F.array_distinct(F.expr(shingle_hashes_sql(text_col, k))).alias("sh"),
    )
    if candidates is not None:
        # materialize the (rare by construction) candidate pairs once —
        # they are consumed three times below — then SEMI-FILTER the
        # corpus side to candidate members before the shingle arrays are
        # built (guide §3.2: reduce the big side before moving it; the
        # left-semi pushes below the shingle projection, so the
        # interpreted shingle fold runs only for docs that appear in
        # some candidate pair, not the whole corpus).
        cand = (
            candidates.select("id_a", "id_b").distinct()
            .localCheckpoint(eager=True)
        )
        members = F.broadcast(
            cand.select(F.col("id_a").alias(id_col))
            .unionByName(cand.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        sets = sets.join(members, on=id_col, how="left_semi")
        a = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
        b = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
        scored = (
            cand
            .join(a, on="id_a")
            .join(b, on="id_b")
            .select(
                "id_a", "id_b",
                F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
                F.size("sh_a").alias("n_a"),
                F.size("sh_b").alias("n_b"),
            )
            .filter(F.col("n_inter") >= 1)
        )
    else:
        ex = sets.select(
            id_col, F.size("sh").alias("n_sh"), F.explode("sh").alias("h")
        )
        if max_shingle_df is not None:
            rare = (
                ex.groupBy("h")
                .agg(F.count("*").alias("df"))
                .filter(F.col("df") <= max_shingle_df)
                .select("h")
            )
            ex = ex.join(rare, on="h", how="left_semi")
        a, b = ex.alias("a"), ex.alias("b")
        scored = (
            a.join(b, on="h")
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.n_sh").alias("n_a"),
                F.col("b.n_sh").alias("n_b"),
            )
            .agg(F.count("*").alias("n_inter"))
        )
    return scored.select(
        "id_a", "id_b",
        (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias(
            "jaccard"
        ),
    ).filter(F.col("jaccard") >= min_jaccard)


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 30) -> DataFrame:
    """SimHash: per-bit majority vote over word hashes, folded to a long.
    30 bits keeps every intermediate inside portable int64 arithmetic."""
    wh = f"transform({words_sql(text_col)}, w -> {poly_hash_sql('w')})"
    votes = (
        f"transform(sequence(0, {bits - 1}), b -> "
        f"aggregate(arr, cast(0 as bigint), "
        f"(acc, h) -> acc + case when (h div shiftleft(cast(1 as bigint), b)) % 2 = 1 "
        f"then 1 else -1 end))"
    )
    fold = bind_sql(
        wh, "arr",
        f"aggregate(reverse({votes}), cast(0 as bigint), "
        f"(acc, v) -> acc * 2 + case when v > 0 then 1 else 0 end)",
    )
    return docs.select(F.col(id_col), F.expr(fold).alias("simhash"))


def simhash_pandas_udf(bits: int = 30):
    """Arrow-vectorized SimHash kernel (blake2b word hashes, numpy bit
    voting) — production twin of the oracle-checked expression variant
    (same algorithm, different hash family; see minhash_band_keys_pandas
    for why the SQL HOF form is interpreter-bound)."""
    import hashlib

    @F.pandas_udf(T.LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        masks = (np.int64(1) << np.arange(bits, dtype=np.int64))
        memo: dict[str, int] = {}  # word-hash memo — natural text repeats words heavily

        def _h(w: str) -> int:
            v = memo.get(w)
            if v is None:
                v = int.from_bytes(
                    hashlib.blake2b(w.encode(), digest_size=8).digest(), "big"
                ) >> (64 - bits)
                memo[w] = v
            return v

        for i, t in enumerate(texts):
            words = (t or "").lower().split()
            if not words:
                continue
            hv = np.fromiter((_h(w) for w in words), dtype=np.int64, count=len(words))
            votes = ((hv[:, None] & masks[None, :]) != 0).sum(axis=0) * 2 - len(hv)
            out[i] = int((masks[votes > 0]).sum())
        return pd.Series(out)

    return _simhash


def simhash_near_pairs_fast(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = 30, bands: int = 3, max_hamming: int = 3,
) -> DataFrame:
    """Banded Hamming near-dup over the Arrow-vectorized SimHash — same
    join plan as :func:`simhash_near_pairs`."""
    # asNondeterministic: stops Catalyst splitting the kernel into
    # Filter(udf)+Project(udf) when the join's isnotnull(key) constraint
    # is pushed down (guide §4.4 — the kernel itself is pure)
    sh = docs.select(
        F.col(id_col),
        simhash_pandas_udf(bits).asNondeterministic()(F.col(text_col)).alias("simhash"),
    )
    width = bits // bands
    band_expr = (
        f"transform(sequence(0, {bands - 1}), b -> named_struct('band', b, "
        f"'key', (simhash div shiftleft(cast(1 as bigint), b * {width})) % "
        f"shiftleft(cast(1 as bigint), {width})))"
    )
    # NOTE: no repartition on (band, key) — hot 10-bit buckets make the
    # candidate set quadratic per bucket, and hash-partitioning by the
    # band key would serialize each hot bucket's pair generation into one
    # task (guide §2.5). The broadcast self-join instead probes from the
    # scan's even round-robin layout, so pair generation stays balanced.
    banded = sh.select(id_col, "simhash", F.explode(F.expr(band_expr)).alias("bk")).select(
        id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    # The candidate set is quadratic in hot 10-bit buckets, so nothing
    # wide may hit a shuffle: hamming is computed and filtered inside the
    # join's codegen stage (guide §2.3), and instead of a distinct over
    # all surviving pairs, each pair is emitted only from its LOWEST
    # matching band (both simhashes are present, so "no earlier band
    # matches" is a couple of bitwise compares). Exactly one emission per
    # pair ⇒ the same set the distinct produced, with zero exchanges.
    pairs = (
        a.join(b, on=["band", "key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("band").alias("__band"),
            F.col("a.simhash").alias("__sa"),
            F.col("b.simhash").alias("__sb"),
        )
        .withColumn("hamming", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))))
        .filter(F.col("hamming") <= max_hamming)
    )
    first_band = F.lit(True)
    for bp in range(bands - 1):
        div, mod = 2 ** (bp * width), 2 ** width
        same_bp = F.expr(f"(__sa div {div}) % {mod} = (__sb div {div}) % {mod}")
        first_band = first_band & ~((F.col("__band") > bp) & same_bp)
    return pairs.filter(first_band).select("id_a", "id_b", "hamming")


def simhash_near_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = 30, bands: int = 3, max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ t: band the simhash (pigeonhole
    — any pair within t < bands must share a band), join per band,
    verify with bit_count(xor)."""
    sh = simhash(docs, id_col, text_col, bits)
    width = bits // bands
    band_expr = (
        f"transform(sequence(0, {bands - 1}), b -> named_struct('band', b, "
        f"'key', (simhash div shiftleft(cast(1 as bigint), b * {width})) % "
        f"shiftleft(cast(1 as bigint), {width})))"
    )
    banded = sh.select(id_col, "simhash", F.explode(F.expr(band_expr)).alias("bk")).select(
        id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    # lowest-matching-band emission instead of a distinct — see
    # simhash_near_pairs_fast for the full rationale (same pair set,
    # zero dedup exchange)
    pairs = (
        a.join(b, on=["band", "key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("band").alias("__band"),
            F.col("a.simhash").alias("__sa"),
            F.col("b.simhash").alias("__sb"),
        )
        .withColumn("hamming", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))))
        .filter(F.col("hamming") <= max_hamming)
    )
    first_band = F.lit(True)
    for bp in range(bands - 1):
        div, mod = 2 ** (bp * width), 2 ** width
        same_bp = F.expr(f"(__sa div {div}) % {mod} = (__sb div {div}) % {mod}")
        first_band = first_band & ~((F.col("__band") > bp) & same_bp)
    return pairs.filter(first_band).select("id_a", "id_b", "hamming")


# --------------------------------------------------------------------------
# Embedding similarity
# --------------------------------------------------------------------------

def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def cosine_col(a: str, b: str):
    """Deterministic left-fold cosine (double) between two float arrays."""
    return F.expr(f"{_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)})")


def norm_col(a: str):
    """Materializable L2 norm (the exact left-fold expression
    :func:`cosine_col` uses). Computing it ONCE per vector row and
    reusing the column in :func:`cosine_from_norms` is bit-identical to
    the inline form — ``sqrt(dot(a,a))`` is deterministic — but removes
    the dominant redundancy of pairwise scoring: the inline cosine
    re-folds both norms per PAIR, so a corpus vector scored against q
    queries pays its own norm q times (guide §1.2 'per-task work')."""
    return F.expr(_norm_sql(a))


def cosine_from_norms(a: str, b: str, na: str, nb: str):
    """Cosine with pre-materialized norms: ``dot(a,b) / (na * nb)`` —
    the same double arithmetic (division by the product, norms computed
    by the identical fold) as :func:`cosine_col`, so values match
    bit-for-bit."""
    return F.expr(f"{_dot_sql(a, b)} / ({na} * {nb})")


def cosine_topk(
    embeddings: DataFrame, query: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k per query row — the exact ANN baseline.
    query(query_id, embedding) is broadcast; one scan of the corpus, one
    salted top-k. This is the plan you verify approximate variants
    against."""
    from .topk import topk_per_group

    q = F.broadcast(
        query.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        ).withColumn("__qn", norm_col("__qvec"))
    )
    # corpus norm folded once per vector instead of once per (vector,
    # query) pair; bit-identical (see norm_col)
    scored = (
        embeddings.withColumn("__vn", norm_col(vec_col))
        .crossJoin(q)
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col),
            F.round(cosine_from_norms(vec_col, "__qvec", "__vn", "__qn"), 6).alias("cosine"),
        )
    )
    return topk_per_group(
        scored, ["query_id"],
        [F.col("cosine").desc(), F.col(id_col).asc()],
        k=k, rank_col="rank",
    )


def ivf_train(
    embeddings: DataFrame, n_centroids: int = 8, n_iters: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding",
    sample_fraction: float | None = None, seed: int = 42,
    tol: float | None = None,
) -> DataFrame:
    """Deterministic distributed k-means (Lloyd) refinement for the IVF
    coarse quantizer — the iterative-algorithm path the plain bucketed
    IVF lacks (init = the ``n_centroids`` lowest-id vectors, which is
    what q_ivf_topk uses untrained, so refinement is directly
    comparable).

    ``sample_fraction``: train the quantizer on a deterministic sample
    instead of the full corpus — at 10^10 vectors a Lloyd iteration must
    not scan every embedding; k-means quality saturates on a small
    sample, and the FULL corpus is assigned once afterwards with
    :func:`ivf_assign` (the standard IVF build recipe). Default None
    keeps the oracle-checked full-corpus behavior.

    ``tol``: optional convergence early stop — iterate until the max
    absolute centroid-component change is below ``tol`` (one extra
    small agg per iteration over n_centroids × dim rows, so off by
    default; Lloyd on quantized components reaches an exact fixed point
    quickly, at which point further iterations are pure waste).

    Each iteration is pure DataFrame algebra: assign (broadcast
    centroids, max-cosine, id tie-break) → element-wise mean via
    posexplode + groupBy(centroid, dim) → arrays rebuilt with an
    order-pinned sort. Every centroid component is rounded to 6 places
    per iteration, which makes the result reproducible across
    partitionings (double addition order varies; 1e-6 quantization
    absorbs it) — the same discipline as every cosine in this module.
    Empty clusters keep their previous centroid. The iteration count is
    a small constant; each iteration is one scan + one narrow shuffle of
    (centroid_id, dim) pairs."""
    cents = embeddings.orderBy(id_col).limit(n_centroids).select(
        F.col(id_col).alias("__cid"),
        F.transform(vec_col, lambda x: F.round(x.cast("double"), 6)).alias("__cvec"),
    )
    train_set = embeddings
    if sample_fraction is not None and sample_fraction < 1.0:
        # seeded Bernoulli sample, persisted so every Lloyd iteration sees
        # the SAME subset (sample() re-draws per action otherwise)
        train_set = embeddings.sample(
            withReplacement=False, fraction=sample_fraction, seed=seed
        ).persist()
        train_set.count()
    for _ in range(n_iters):
        assigned = ivf_assign(
            train_set,
            cents.select(F.col("__cid").alias(id_col), F.col("__cvec").alias(vec_col)),
            id_col=id_col, vec_col=vec_col,
        )
        means = (
            assigned.select("centroid_id", F.posexplode(vec_col).alias("__d", "__v"))
            .groupBy("centroid_id", "__d")
            .agg(F.round(F.avg(F.col("__v").cast("double")), 6).alias("__m"))
            .groupBy("centroid_id")
            .agg(
                F.expr("transform(array_sort(collect_list(struct(__d, __m))), "
                       "x -> x.__m)").alias("__newvec")
            )
        )
        prev_cents = cents
        cents = (
            cents.join(means, cents["__cid"] == means["centroid_id"], "left")
            .select(
                "__cid",
                F.coalesce("__newvec", "__cvec").alias("__cvec"),  # empty cluster
            )
            # truncate lineage per iteration (iterative-DataFrame
            # discipline — the nested plan otherwise grows superlinearly)
            .localCheckpoint(eager=True)
        )
        if tol is not None:
            delta = (
                prev_cents.select("__cid", F.col("__cvec").alias("__v0"))
                .join(cents, on="__cid")
                .select(
                    F.expr(
                        "array_max(zip_with(__v0, __cvec, "
                        "(a, b) -> abs(a - b)))"
                    ).alias("d")
                )
                .agg(F.max("d").alias("d"))
                .first()["d"]
            )
            if delta is not None and delta < tol:
                break
    if train_set is not embeddings:
        train_set.unpersist()
    return cents.select(
        F.col("__cid").alias("centroid_id"), F.col("__cvec").alias("embedding")
    )


def ivf_assign(
    embeddings: DataFrame, centroids: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid (max cosine; deterministic centroid_id tie-break). The
    centroid table is tiny and broadcast; assignment is one scan —
    this is the build side of an IVF index, partitioned by bucket at
    cluster scale so each probe touches only nprobe partitions."""
    c = F.broadcast(
        centroids.select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("__cvec")
        ).withColumn("__cn", norm_col("__cvec"))
    )
    # vector norm folded once per row, not once per (row, centroid) pair;
    # bit-identical (see norm_col)
    scored = embeddings.withColumn("__vn", norm_col(vec_col)).crossJoin(c).select(
        id_col, vec_col, "centroid_id",
        F.round(cosine_from_norms(vec_col, "__cvec", "__vn", "__cn"), 6).alias("__ccos"),
    )
    # argmax as ONE hash aggregate instead of a row_number window: the
    # window exchange carried every (vector, centroid) row INCLUDING the
    # embedding payload (n_centroids× duplication of every vector across
    # the wire — guide §2.3 'shuffle keys and metadata instead of
    # payloads'); the max-struct partial agg collapses to one row per
    # vector map-side. Ordering contract identical to the old
    # [__ccos desc, centroid_id asc] rank-1: lexicographic max on
    # (__ccos with NULL→-2, -centroid_id); cosine ∈ [-1,1], so -2
    # reproduces the window's nulls-last-descending placement, and the
    # carried payload fields are never compared (centroid ids are
    # distinct, so ties cannot reach them).
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(
                F.coalesce(F.col("__ccos"), F.lit(-2.0)).alias("__o1"),
                (-F.col("centroid_id")).alias("__o2"),
                F.col(vec_col).alias("__v"),
            )
        ).alias("__b")
    )
    return best.select(
        id_col,
        F.col("__b.__v").alias(vec_col),
        (-F.col("__b.__o2")).alias("centroid_id"),
    )


def ivf_topk(
    embeddings: DataFrame, query: DataFrame, centroids: DataFrame,
    k: int = 10, nprobe: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: probe only the ``nprobe`` closest centroid
    buckets per query instead of the whole corpus. At 10^9+ vectors the
    corpus is partitioned by ``centroid_id`` so each query reads
    nprobe/n_centroids of the data; recall is verified against
    :func:`cosine_topk` (the exact baseline) in tests."""
    from .topk import topk_per_group

    # norms folded once per corpus vector / query / centroid instead of
    # once per scored pair; bit-identical (see norm_col)
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col).withColumn(
        "__vn", norm_col(vec_col)
    )
    q = query.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    ).withColumn("__qn", norm_col("__qvec"))
    c = F.broadcast(
        centroids.select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("__cvec")
        ).withColumn("__cn", norm_col("__cvec"))
    )
    probes = topk_per_group(
        q.crossJoin(c).select(
            "query_id", "__qvec", "__qn", "centroid_id",
            F.round(cosine_from_norms("__qvec", "__cvec", "__qn", "__cn"), 6).alias("__ccos"),
        ),
        ["query_id"],
        [F.col("__ccos").desc(), F.col("centroid_id").asc()],
        k=nprobe, rank_col="__prank",
    ).select("query_id", "__qvec", "__qn", "centroid_id")
    cands = probes.join(assigned, on="centroid_id")
    scored = cands.filter(F.col(id_col) != F.col("query_id")).select(
        "query_id", id_col,
        F.round(cosine_from_norms(vec_col, "__qvec", "__vn", "__qn"), 6).alias("cosine"),
    )
    return topk_per_group(
        scored, ["query_id"],
        [F.col("cosine").desc(), F.col(id_col).asc()],
        k=k, rank_col="rank",
    )


def _gen_planes(n_planes: int, dim: int) -> list[list[int]]:
    """Frozen pseudo-random hyperplanes with small INTEGER coefficients
    in {-2,-1,1,2} (same published LCG as the MinHash permutations).
    Integer coefficients make every float×coeff product exact in double,
    so the sign of the left-fold dot product is bit-identical between
    Spark and DuckDB — the bucket keys oracle-check exactly."""
    x = 0x5DEECE66D
    out = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x = (x * 6364136223846793005 + 1442695040888963407) % (2**63)
            v = (x >> 16) % 5 - 2
            row.append(1 if v == 0 else v)
        out.append(row)
    return out


SIGN_LSH_PLANES = _gen_planes(8, 64)


def sign_lsh_buckets(
    embeddings: DataFrame, planes: list[list[int]] | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane sign-LSH bucket key — the scale path for
    near-dup embedding search: only same-bucket pairs are verified.
    bit_i = sign(vec · plane_i); cos similarity s ⇒ per-plane agreement
    probability 1 − θ(s)/π, so near-identical vectors share the 8-bit
    bucket w.h.p. (axis-aligned planes, the round-1 stand-in, are the
    degenerate special case and recall-tested against this). One
    interpreted-HOF pass per plane; production swaps in a Pandas-UDF
    matmul with the same frozen planes.

    Fails LOUDLY on a vector whose length differs from the plane
    dimension: zip_with would pad with nulls, the dot would go NULL,
    every bit would read '0' and all vectors would silently collapse
    into one bucket (near-pair search degenerating to all-pairs).
    Pass ``planes=_gen_planes(8, dim)`` for non-64-dim embeddings."""
    planes = planes or SIGN_LSH_PLANES
    dim = len(planes[0])
    bits = []
    for p in planes:
        arr = ", ".join(f"cast({c} as double)" for c in p)
        dot = (
            f"aggregate(zip_with({vec_col}, array({arr}), (a, b) -> a * b), "
            f"cast(0 as double), (acc, x) -> acc + x)"
        )
        bits.append(f"case when {dot} >= 0 then '1' else '0' end")
    key = " || ".join(bits)
    guarded = (
        f"case when size({vec_col}) = {dim} then {key} "
        f"else raise_error(concat('sign_lsh_buckets: embedding dim ', "
        f"cast(size({vec_col}) as string), ' != plane dim {dim}; "
        f"pass planes=_gen_planes(n, dim)')) end"
    )
    return embeddings.withColumn("bucket", F.expr(guarded))


def embedding_near_pairs(
    embeddings: DataFrame, min_cosine: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup: sign-LSH bucket join + exact cosine verify.
    Norms fold once per vector (not per candidate pair) — bit-identical,
    see :func:`norm_col`."""
    b = sign_lsh_buckets(embeddings, id_col=id_col, vec_col=vec_col).withColumn(
        "__n", norm_col(vec_col)
    )
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(c, on="bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(
                cosine_from_norms(f"a.{vec_col}", f"b.{vec_col}", "a.__n", "b.__n"), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


# --------------------------------------------------------------------------
# Passage-level repeated-text dedup
# --------------------------------------------------------------------------

def passage_hashes_sql(text: str, span: int = 8, portable: bool = True) -> str:
    """Array of hashes of non-overlapping ``span``-word passages of
    ``text`` (lowercased, whitespace-tokenized; a trailing partial
    passage is dropped — the standard fixed-window formulation). The
    portable polynomial keeps it DuckDB-oracle-checkable; production
    flips to xxhash64 (same plan)."""
    ws = words_sql(text)
    body = (
        f"transform(sequence(0, cast(size(w) / {span} as int) - 1), i -> "
        f"concat_ws(' ', slice(w, i * {span} + 1, {span})))"
    )
    passages = bind_sql(
        ws, "w",
        f"case when size(w) >= {span} then {body} else array() end",
    )
    if portable:
        return f"transform({passages}, s -> {poly_hash_sql('s')})"
    return f"transform({passages}, s -> pmod(xxhash64(s), {POLY_MOD}))"


def paragraph_hashes_sql(text: str, min_words: int = 3,
                         portable: bool = True) -> str:
    """Paragraph-mode spans: split on blank lines (one-or-more newline
    runs), normalize each paragraph (lowercase, collapse whitespace),
    drop paragraphs under ``min_words`` words, hash. The natural unit
    when the corpus HAS paragraph structure — extracted web text often
    does; the fixed-window form is the fallback when it doesn't (the
    driver `documents` table is single-line, so the window form is the
    oracled one and this mode is pytest-covered)."""
    paras = (
        f"filter(transform(split({text}, '\\\\n+'), p -> "
        f"concat_ws(' ', split(lower(trim(p)), '\\\\s+'))), "
        f"p -> p != '' and size(split(p, ' ')) >= {min_words})"
    )
    if portable:
        return f"transform({paras}, s -> {poly_hash_sql('s')})"
    return f"transform({paras}, s -> pmod(xxhash64(s), {POLY_MOD}))"


def passage_rows_pandas(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    span: int = 8, with_text: bool = False,
) -> DataFrame:
    """Arrow twin of the exploded portable passage-hash projection:
    one row per fixed ``span``-word window with its polynomial hash —
    BIT-IDENTICAL to the SQL form by the same construction rules as
    :func:`embed_kernel_pandas` / the fingerprint kernel (space-only
    trim, ASCII ``\\s+`` split keeping the leading empty token,
    code-point char fold; docs shorter than one span emit no rows, a
    NULL text explodes to nothing). ``with_text=True`` additionally
    carries the passage string and the document's trailing partial span
    (``__trail``) for :func:`passage_filter_text` reassembly. The
    interpreted char-fold was a top GC source for the whole bench."""
    import re as _re

    ws = _re.compile(r"\s+", _re.ASCII)
    fields = [T.StructField(id_col, T.LongType(), True)]
    if with_text:
        fields.append(T.StructField("__trail", T.StringType(), True))
    fields.append(T.StructField("passage_idx", T.IntegerType(), False))
    if with_text:
        fields.append(T.StructField("passage", T.StringType(), True))
    fields.append(T.StructField("passage_hash", T.LongType(), True))
    schema = T.StructType(fields)

    def _rows(it):
        memo: dict[str, int] = {}

        def _h(s: str) -> int:
            v = memo.get(s)
            if v is None:
                v = 0
                for ch in s:
                    v = (v * POLY_MULT + ord(ch)) % POLY_MOD
                memo[s] = v
            return v

        for pdf in it:
            ids, trails, idxs, passages, hashes = [], [], [], [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue
                words = ws.split(t.strip(" ").lower())
                n = len(words) // span
                if len(words) < span:
                    continue
                for i in range(n):
                    s = " ".join(words[i * span:(i + 1) * span])
                    ids.append(did)
                    idxs.append(i)
                    hashes.append(_h(s))
                    if with_text:
                        passages.append(s)
                        trails.append(" ".join(words[n * span:]))
            data = {id_col: ids}
            if with_text:
                data["__trail"] = trails
            data["passage_idx"] = pd.Series(idxs, dtype="int32")
            if with_text:
                data["passage"] = passages
            data["passage_hash"] = pd.Series(hashes, dtype="int64")
            yield pd.DataFrame(data, columns=[f.name for f in fields])

    return docs.select(id_col, text_col).mapInPandas(_rows, schema=schema)


def passage_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    span: int = 8, min_dup_docs: int = 2, portable: bool = True,
    mode: str = "window", min_words: int = 3,
) -> DataFrame:
    """Cross-document repeated-passage dedup — the training-data step
    BELOW document granularity: boilerplate spans (navigation chrome,
    license blocks, "terms of service" paragraphs) repeat across
    millions of pages even when no two whole documents are near-dups,
    and the standard pipeline drops the repeated spans while keeping the
    rest of each document.

    Reference analog: the normalized-name seen-set dedup kernel
    (crunchbase_matching.py:55-75) generalized below doc granularity.

    Plan shape (the 100 TB contract): explode docs into fixed
    ``span``-word passages → groupBy passage HASH counting distinct
    docs (map-side partial combine; the shuffle carries 8-byte keys) →
    join the per-hash doc-frequency back on the hash. There is never a
    doc×doc or passage×passage pair join, so a passage shared by 10^6
    documents costs one aggregate row, not 10^12 intermediate pairs.

    Returns one row per (doc, passage): ``doc_id, passage_idx,
    passage_hash, n_docs, keep`` where ``keep`` = the passage appears in
    fewer than ``min_dup_docs`` distinct documents. Feed to
    :func:`passage_dedup_doc_stats` for per-document kept/dropped
    masks.

    ``mode="window"`` (default, the oracled form) uses fixed
    ``span``-word windows; ``mode="paragraph"`` splits on newline runs
    and hashes whitespace-normalized paragraphs of ≥ ``min_words``
    words — the natural unit when the corpus has paragraph structure."""
    if mode == "window" and portable:
        # Arrow kernel (bit-identical hashes; see passage_rows_pandas)
        p = passage_rows_pandas(docs, id_col, text_col, span)
    elif mode == "paragraph":
        hashes = paragraph_hashes_sql(text_col, min_words, portable)
        p = docs.select(
            F.col(id_col),
            F.posexplode(F.expr(hashes)).alias("passage_idx", "passage_hash"),
        )
    elif mode == "window":
        hashes = passage_hashes_sql(text_col, span, portable)
        p = docs.select(
            F.col(id_col),
            F.posexplode(F.expr(hashes)).alias("passage_idx", "passage_hash"),
        )
    else:
        raise ValueError(f"unknown passage mode {mode!r}")
    # repartition on the hash BEFORE branching (A/B-measured faster at
    # sf1.0, 1.35 s vs 1.78 s): it balances the kernel output ahead of
    # the join probe and pre-establishes the partitioning the
    # aggregation needs. (Column pruning diverges between the branches,
    # so the two exchanges do NOT canonicalize equal and ReuseExchange
    # does not fire — each branch keeps its own kernel pass, which is
    # cheap at 32-way.) Safe for skew: the join-back is row-per-passage,
    # never pair-quadratic, so a hot boilerplate hash only skews volume,
    # not output size.
    p = p.repartition("passage_hash")
    counts = p.groupBy("passage_hash").agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    return p.join(counts, on="passage_hash").select(
        F.col(id_col),
        F.col("passage_idx").cast("long").alias("passage_idx"),
        "passage_hash",
        "n_docs",
        (F.col("n_docs") < min_dup_docs).alias("keep"),
    )


def passage_dedup_doc_stats(passages: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-document kept/dropped span mask over :func:`passage_dedup`
    output: n_passages, n_dropped, the sorted kept indices, and the
    kept ratio a curation gate thresholds on."""
    return passages.groupBy(id_col).agg(
        F.count("*").alias("n_passages"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        F.sort_array(
            F.collect_list(F.when(F.col("keep"), F.col("passage_idx")))
        ).alias("kept_idx"),
        F.round(
            F.sum(F.col("keep").cast("long")) / F.count("*"), 4
        ).alias("kept_ratio"),
    )


# --------------------------------------------------------------------------
# Embedding generation (text -> array<double>) — closes the loop from
# pages.text to the ANN operators, which previously consumed an
# `embeddings` table the engine never produced.
# --------------------------------------------------------------------------

EMBED_DIMS = 64


def embed_sql(text: str, dims: int = EMBED_DIMS) -> str:
    """Deterministic hashed char-3-gram projection → L2-normalized
    ``array<double>(dims)`` (feature hashing / "hashing trick",
    public-knowledge: Weinberger et al. 2009). Each character trigram g
    of lower(trim(text)) contributes sign(h(g)) to dimension
    h(g) mod dims, with sign taken from the next hash bit — exactly the
    signed feature-hashing estimator. The portable polynomial hash makes
    the whole thing bit-identical in DuckDB; components are rounded to
    6 places so the doubles oracle-compare exactly."""
    t = f"lower(trim({text}))"
    grams = bind_sql(
        t, "t",
        # gram index var is `j`, NOT `i`: poly_hash_sql's inner lambda
        # binds `i` and would shadow it (hashing the wrong position)
        "case when length(t) >= 3 then transform(sequence(1, length(t) - 2), "
        f"j -> {poly_hash_sql('substring(t, j, 3)')}) else array() end",
    )
    raw = bind_sql(
        grams, "hv",
        f"aggregate(hv, array_repeat(cast(0 as bigint), {dims}), (acc, h) -> "
        f"transform(acc, (x, d) -> x + if(pmod(h, {dims}) = d, "
        f"if(pmod(h div {dims}, 2) = 0, 1, -1), 0)))",
    )
    return bind_sql(
        raw, "r",
        "transform(array(sqrt(aggregate(r, cast(0.0 as double), "
        "(acc, v) -> acc + cast(v as double) * cast(v as double)))), nrm -> "
        "transform(r, v -> case when nrm = 0.0 then cast(0.0 as double) "
        "else round(cast(v as double) / nrm, 6) end))[0]",
    )


def embed_documents(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    dims: int = EMBED_DIMS,
) -> DataFrame:
    """Oracle-checkable expression form of the hashed-trigram embedder.
    One projection per row, no shuffle; the output feeds
    :func:`cosine_topk` / :func:`ivf_topk` / :func:`embedding_near_pairs`
    directly."""
    return docs.select(
        F.col(id_col), F.expr(embed_sql(text_col, dims)).alias("embedding")
    )


def _embed_texts(texts, dims: int) -> list[list[float]]:
    """Shared math of the Arrow embed kernels: one length-``dims`` float
    list per text — same polynomial hash over unicode codepoints, same
    signed bincount, same HALF_UP 6-place rounding as :func:`embed_sql`
    (bit-identical; parity pytest-asserted)."""
    out = []
    for t in texts:
        s = (t or "").strip().lower()
        if len(s) < 3:
            out.append([0.0] * dims)
            continue
        # exact codepoints, vectorized (utf-32-le = one uint32 per
        # char — no Python-level ord loop)
        codes = np.frombuffer(
            s.encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        h = (
            (codes[:-2] * POLY_MULT + codes[1:-1]) % POLY_MOD * POLY_MULT
            + codes[2:]
        ) % POLY_MOD
        sign = 1 - 2 * ((h // dims) % 2)
        raw = np.bincount(h % dims, weights=sign, minlength=dims)
        nrm = float(np.sqrt((raw * raw).sum()))
        if nrm == 0.0:
            out.append([0.0] * dims)
            continue
        v = raw / nrm
        # HALF_UP to 6 places (Spark round semantics, not numpy's
        # banker's rounding)
        q = np.sign(v) * np.floor(np.abs(v) * 1e6 + 0.5) / 1e6
        out.append([float(x) for x in q])
    return out


def embed_kernel_pandas(dims: int = EMBED_DIMS):
    """Arrow-vectorized production twin of :func:`embed_sql` —
    bit-identical output (see :func:`_embed_texts`), ~10-50× the
    interpreted HOF path. Parity is pytest-asserted, so the fast path is
    certified by the oracle-checked expression twin."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _embed(texts: pd.Series) -> pd.Series:
        return pd.Series(_embed_texts(texts, dims))

    return _embed


def embed_documents_exploded(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    dims: int = EMBED_DIMS,
) -> DataFrame:
    """(id, dim, val) rows emitted directly by the Arrow kernel.
    Flattening inside the kernel replaces a JVM ``posexplode`` over
    Python-built arrays, which cost ~4× the embedding itself at bench
    scale (the Generate walks an UnsafeArrayData per element); here the
    flat columns cross the Arrow boundary once as three narrow vectors
    (guide §4.2). Values are exactly :func:`_embed_texts` output."""
    schema = T.StructType([
        T.StructField(id_col, T.LongType(), True),
        T.StructField("dim", T.LongType(), False),
        T.StructField("val", T.DoubleType(), True),
    ])

    def _flat(it):
        for pdf in it:
            if not len(pdf):
                continue
            vecs = _embed_texts(pdf[text_col], dims)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            yield pd.DataFrame({
                id_col: np.repeat(ids, dims),
                "dim": np.tile(np.arange(dims, dtype=np.int64), len(ids)),
                "val": np.concatenate(
                    [np.asarray(v, dtype=np.float64) for v in vecs]
                ),
            })

    return docs.select(id_col, text_col).mapInPandas(_flat, schema=schema)


def embed_documents_fast(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    dims: int = EMBED_DIMS,
) -> DataFrame:
    """Production embedder: Arrow kernel, same output contract."""
    return docs.select(
        F.col(id_col), embed_kernel_pandas(dims)(F.col(text_col)).alias("embedding")
    )


def ivf_assign_fast(
    embeddings: DataFrame, centroids: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Arrow production twin of :func:`ivf_assign`: one numpy matmul per
    Arrow batch against the (tiny, collected) centroid matrix instead of
    an interpreted ``cosine_col`` HOF per (vector, centroid) pair —
    ~10-30× at 64 dims × dozens of centroids, and the per-batch cost is
    a single BLAS call at any centroid count.

    Same assignment contract as the oracle-checked declarative form:
    cosine rounded to 6 places, ties broken by the SMALLEST centroid id
    (centroid rows are sorted by id so argmax's first-occurrence rule is
    the asc tie-break). Zero-norm vectors assign to the first centroid
    with cosine 0. Equivalence to :func:`ivf_assign` is asserted on the
    test corpus (not bit-proven: BLAS sums in SIMD order, the HOF in
    left-fold order — round-6 makes disagreement measure-zero, the same
    certification pattern as the minhash/simhash fast twins)."""
    cent = sorted(
        centroids.select(id_col, vec_col).collect(), key=lambda r: r[0]
    )
    if not cent:
        raise ValueError("ivf_assign_fast: empty centroid set")
    cids = np.array([r[0] for r in cent], dtype=np.int64)
    C = np.array([list(r[1]) for r in cent], dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))
    cn[cn == 0.0] = 1.0
    Cn = (C / cn[:, None]).T  # (dim, n_cent)

    @F.pandas_udf(T.LongType())
    def _assign(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        if V.ndim == 1:  # empty batch
            return pd.Series([], dtype="int64")
        vn = np.sqrt((V * V).sum(axis=1))
        vn[vn == 0.0] = 1.0
        cos = np.round((V / vn[:, None]) @ Cn, 6)
        return pd.Series(cids[cos.argmax(axis=1)])

    # withColumn (not select): passthrough columns ride along, so a
    # caller carrying metadata avoids a join-back against its own
    # upstream; for a plain (id, vec) input the output is unchanged
    return embeddings.withColumn("centroid_id", _assign(F.col(vec_col)))


def passage_filter_text(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    span: int = 8, min_dup_docs: int = 2, portable: bool = True,
) -> DataFrame:
    """Rebuild each document's text with cross-document repeated spans
    REMOVED — the consumable output of :func:`passage_dedup` (which
    emits the verdicts; this emits the cleaned corpus a training
    pipeline actually feeds the tokenizer).

    Same plan skeleton as passage_dedup (explode → hash groupBy doc
    frequency → join back on the 8-byte hash; no pair join), plus one
    per-doc ordered reassembly (sort_array over (idx, passage) structs —
    a map-side expression after the groupBy).

    Every document with at least one full span gets a row, so callers
    can tell the three cases apart: ``n_kept_passages > 0`` → use
    ``clean_text``; ``n_kept_passages = 0`` → the document is 100%
    cross-doc boilerplate (clean_text is the empty string unless a
    trailing partial span survives) and a curation pipeline should DROP
    it, not fall back to the original text; no row at all → the document
    is shorter than one span and the original text is the only choice.
    The trailing partial span (words beyond the last full span) is
    appended to ``clean_text`` so reassembly is lossless for kept
    documents."""
    ws = words_sql(text_col)
    body = (
        f"transform(sequence(0, cast(size(w) / {span} as int) - 1), i -> "
        f"concat_ws(' ', slice(w, i * {span} + 1, {span})))"
    )
    passages = bind_sql(
        ws, "w", f"case when size(w) >= {span} then {body} else array() end"
    )
    trail = bind_sql(
        ws, "w",
        f"case when size(w) >= {span} then concat_ws(' ', "
        f"slice(w, (size(w) div {span}) * {span} + 1, "
        f"size(w) % {span})) else '' end",
    )
    hash_expr = (
        poly_hash_sql("passage") if portable
        else f"pmod(xxhash64(passage), {POLY_MOD})"
    )
    # hash each passage INSIDE the generator (array of (passage, hash)
    # structs): the hash lands as a materialized column, so the join's
    # inferred isnotnull(passage_hash) filter checks the column instead
    # of re-evaluating the interpreted char fold (guide §4.4 shape)
    struct_arr = (
        f"transform({passages}, passage -> named_struct("
        f"'passage', passage, 'passage_hash', {hash_expr}))"
    )
    if portable:
        # Arrow kernel (bit-identical hashes; see passage_rows_pandas)
        p = passage_rows_pandas(docs, id_col, text_col, span, with_text=True)
    else:
        p = docs.select(
            F.col(id_col),
            F.expr(trail).alias("__trail"),
            F.posexplode(F.expr(struct_arr)).alias("passage_idx", "__ps"),
        ).select(
            F.col(id_col), "__trail", "passage_idx",
            F.col("__ps.passage").alias("passage"),
            F.col("__ps.passage_hash").alias("passage_hash"),
        )
    # repartition on the hash BEFORE branching — same A/B-measured win
    # and caveats as passage_dedup (see comment there)
    p = p.repartition("passage_hash")
    counts = p.groupBy("passage_hash").agg(
        F.countDistinct(id_col).alias("__n_docs")
    )
    marked = p.join(counts, on="passage_hash")
    kept_struct = (
        f"case when __n_docs < {min_dup_docs} "
        "then struct(passage_idx, passage) end"
    )
    return marked.groupBy(id_col).agg(
        F.expr(
            "array_join(filter(concat("
            f"transform(array_sort(collect_list({kept_struct})), "
            "x -> x.passage), array(first(__trail))), s -> s != ''), ' ')"
        ).alias("clean_text"),
        F.sum(
            F.when(F.col("__n_docs") < min_dup_docs, 1).otherwise(0)
        ).cast("long").alias("n_kept_passages"),
        F.count("*").cast("long").alias("n_passages"),
    )


def sign_lsh_buckets_fast(
    embeddings: DataFrame, planes: list[list[int]] | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Arrow production twin of :func:`sign_lsh_buckets`: the 8 plane
    dots per vector become one numpy integer matmul per Arrow batch.
    The frozen planes have INTEGER coefficients, so plane·vec is a sum
    of exact double products — numpy's pairwise summation and the HOF's
    left fold can only disagree when the true dot sits within float
    noise of 0, which the corpus equivalence test bounds; same fail-loud
    dim check as the expression form."""
    planes = planes or SIGN_LSH_PLANES
    P = np.array(planes, dtype=np.float64)  # (n_planes, dim)
    dim = P.shape[1]

    @F.pandas_udf(T.StringType())
    def _bucket(vecs: pd.Series) -> pd.Series:
        V = np.array(vecs.tolist(), dtype=np.float64)
        if V.ndim == 1:
            return pd.Series([], dtype="object")
        if V.shape[1] != dim:
            raise ValueError(
                f"sign_lsh_buckets_fast: embedding dim {V.shape[1]} != "
                f"plane dim {dim}; pass planes=_gen_planes(n, dim)"
            )
        bits = (V @ P.T) >= 0  # (n, n_planes)
        return pd.Series(
            ["".join("1" if b else "0" for b in row) for row in bits]
        )

    # asNondeterministic: guard against Filter(udf)+Project(udf)
    # duplication when a join infers isnotnull(bucket) (guide §4.4)
    return embeddings.withColumn(
        "bucket", _bucket.asNondeterministic()(F.col(vec_col))
    )


def embedding_near_pairs_fast(
    embeddings: DataFrame, min_cosine: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Production embedding near-dup: Arrow sign-LSH buckets + the same
    bucket join and exact cosine verify as :func:`embedding_near_pairs`."""
    b = sign_lsh_buckets_fast(embeddings, id_col=id_col, vec_col=vec_col).withColumn(
        "__n", norm_col(vec_col)
    )
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(c, on="bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(
                cosine_from_norms(f"a.{vec_col}", f"b.{vec_col}", "a.__n", "b.__n"), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def cosine_scores_fast(
    embeddings: DataFrame, query: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Arrow brute-force scoring: every (corpus vector, query) cosine via
    one matmul per Arrow batch against the collected query matrix
    (queries are few by contract — they ride inside the UDF closure the
    way a broadcast would). Emits (query_id, id, cosine round 6); feed
    :func:`..operators.topk.topk_per_group` for the exact top-k. The
    declarative :func:`cosine_topk` stays the oracle-checked twin."""
    q_rows = sorted(
        query.select(id_col, vec_col).collect(), key=lambda r: r[0]
    )
    if not q_rows:
        raise ValueError("cosine_scores_fast: empty query set")
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))
    qn[qn == 0.0] = 1.0
    Qn = (Q / qn[:, None]).T  # (dim, nq)

    out_schema = T.StructType([
        T.StructField("query_id", T.LongType(), False),
        T.StructField(id_col, T.LongType(), False),
        T.StructField("cosine", T.DoubleType(), True),
    ])

    def _batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vn = np.sqrt((V * V).sum(axis=1))
            vn[vn == 0.0] = 1.0
            cos = np.round((V / vn[:, None]) @ Qn, 6)  # (n, nq)
            n, nq = cos.shape
            yield pd.DataFrame({
                "query_id": np.repeat(qids, n),
                id_col: np.tile(ids, nq),
                "cosine": cos.T.reshape(-1),
            })

    return embeddings.select(id_col, vec_col).mapInPandas(
        _batches, schema=out_schema
    ).filter(F.col(id_col) != F.col("query_id"))


def cosine_topk_fast(
    embeddings: DataFrame, query: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Arrow brute-force cosine top-k — production twin of
    :func:`cosine_topk` (equivalence-tested)."""
    from .topk import topk_per_group

    scored = cosine_scores_fast(embeddings, query, id_col, vec_col)
    return topk_per_group(
        scored, ["query_id"],
        [F.col("cosine").desc(), F.col(id_col).asc()],
        k=k, rank_col="rank",
    )


def connected_components(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Near-dup CLUSTERING: pair lists → components, the step between
    "these documents are similar" and "keep one copy per group" that a
    pair emitter alone cannot answer (A~B and B~C must collapse to one
    cluster even though A~C was never emitted).

    Min-label propagation: every node starts labeled with itself; each
    iteration every node takes the min of its own and its neighbors'
    labels, until a fixed point (≤ component diameter iterations —
    near-dup components are short chains, so convergence is fast; the
    iteration stops EARLY on the first unchanged pass). Each iteration
    is one shuffle on the node id — the PageRank discipline, including
    per-iteration lineage truncation. Returns (node, cluster_id) with
    cluster_id = min node id in the component; only nodes that appear
    in some pair are returned (singletons are trivially their own
    cluster and would dominate the output at corpus scale)."""
    if max_iters < 1:
        raise ValueError("max_iters must be >= 1")
    # both edge directions from ONE pass over the pair source: the
    # two-select union referenced `pairs` twice, re-running the whole
    # upstream candidate join once per direction (guide §1.2 — don't
    # compute things twice); explode emits the same rows
    e = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
                F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
            )
        ).alias("__e")
    ).select("__e.src", "__e.dst").distinct().persist()
    labels = (
        e.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(max_iters):
        neighbor_min = (
            e.join(labels, e["dst"] == labels["node"])
            .groupBy("src").agg(F.min("label").alias("__nmin"))
        )
        new_label = F.least(F.col("label"), F.coalesce("__nmin", F.col("label")))
        # fixed-point flag rides in the checkpointed row — no separate
        # compare join per iteration (see _pointer_jump)
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                new_label.alias("__new"),
                (new_label != F.col("label")).alias("__changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("__changed").limit(1).count()
        labels = new_labels.select("node", F.col("__new").alias("label"))
        if changed == 0:
            break
    e.unpersist()
    if changed != 0:
        # fail loud rather than silently split long chains: a component
        # whose diameter exceeds max_iters would return partial labels
        # that diverge from the union-find/recursive-CTE oracles
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "iterations (a component's diameter exceeds the cap); "
            "raise max_iters"
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


def _pointer_jump(parent: DataFrame) -> DataFrame:
    """Path-halving fixed point: parent(node→p) becomes parent∘parent
    until stable — every node lands on its tree's root in O(log depth)
    self-joins. Requires every p value to appear as a node (true for the
    least-of-self-and-neighbors forests built below)."""
    while True:
        # fold the fixed-point test into the jump row itself: the old
        # separate p2⋈parent compare cost one extra join job per
        # iteration; here `changed` is a filter over the already-
        # checkpointed blocks (guide §1.2 — fewer passes)
        p2 = (
            parent.alias("a")
            .join(parent.alias("b"), F.col("a.p") == F.col("b.node"))
            .select(
                F.col("a.node").alias("node"),
                F.col("b.p").alias("p"),
                (F.col("b.p") != F.col("a.p")).alias("__changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = p2.filter("__changed").limit(1).count()
        parent = p2.drop("__changed")
        if changed == 0:
            return parent


def connected_components_contract(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b",
    max_rounds: int = 40,
) -> DataFrame:
    """Contraction connected components — the O(log n)-round scale path
    (same (node, cluster_id = component-min) contract as
    :func:`connected_components`, equivalence-tested).

    The label-propagation baseline needs as many shuffles as the longest
    chain's diameter — fine for near-dup clusters (short chains), fatal
    for a pathological 10^6-hop chain at corpus scale. Here each round
    (1) builds the least-of-self-and-min-neighbor forest over the
    CONTRACTED graph, (2) pointer-jumps it to roots in O(log depth)
    self-joins, (3) rewrites edges through the new labels and drops
    self-loops. Components at least halve per round, so the 40-round
    cap covers beyond-10^10-node worst-case structures while the loop
    exits at the first edge-free pass (near-dup graphs converge in 2-4
    rounds); labels only ever decrease and the
    component minimum maps to itself, so the fixed point is exactly
    min-id-per-component."""
    # one pass over the pair source for both edge directions (see
    # connected_components for the rationale)
    e = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
                F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
            )
        ).alias("__e")
    ).select("__e.src", "__e.dst").distinct().localCheckpoint(eager=True)
    labels = (
        e.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_rounds):
        e = e.filter(F.col("src") != F.col("dst"))
        if e.limit(1).count() == 0:
            converged = True
            break
        nodes = e.select(F.col("src").alias("node")).distinct()
        minnbr = e.groupBy("src").agg(F.min("dst").alias("__m"))
        parent = (
            nodes.join(minnbr, nodes["node"] == minnbr["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("node"), F.coalesce("__m", F.col("node"))
                ).alias("p"),
            )
            .localCheckpoint(eager=True)
        )
        parent = _pointer_jump(parent)
        labels = (
            labels.alias("l")
            .join(parent.alias("p"), F.col("l.label") == F.col("p.node"), "left")
            .select(
                F.col("l.node").alias("node"),
                F.coalesce(F.col("p.p"), F.col("l.label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        e = (
            e.alias("e")
            .join(parent.alias("pa"), F.col("e.src") == F.col("pa.node"))
            .join(parent.alias("pb"), F.col("e.dst") == F.col("pb.node"))
            .select(F.col("pa.p").alias("src"), F.col("pb.p").alias("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    if not converged:
        raise RuntimeError(
            f"connected_components_contract did not converge in "
            f"{max_rounds} rounds"
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


def canonical_near_dedup(
    docs: DataFrame, pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one document per near-dup cluster: cluster the pair graph,
    drop every clustered doc except its component's min-id canonical,
    keep all unpaired docs. One anti-join against the (tiny relative to
    the corpus) non-canonical set — the complete near-dedup flow:
    LSH candidates → verify → cluster → canonical keep."""
    cc = connected_components(pairs)
    losers = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, on=id_col, how="left_anti")
