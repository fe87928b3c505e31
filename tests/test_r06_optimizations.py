"""Round-6 optimization equivalence guards.

Every optimization that changed an operator's INTERNALS while promising
identical results gets a focused equivalence test here, so a future
refactor cannot silently break the promise the round-6 measurements
rest on:

- Arrow fingerprint kernel ≡ interpreted expression fold
- Arrow passage-row kernel ≡ interpreted explode+hash projection
  (incl. the with_text passage/trail columns)
- JVM robots_allows_col ≡ Python robots_allows (stdlib-robotparser
  semantics), including first-match ordering and Allow-before-Disallow
- simhash lowest-matching-band emission ≡ distinct over all bands
- ivf_assign max-struct argmax ≡ row_number window top-1
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# strings chosen to stress the trim/split/lower replication rules:
# space-only trim, ASCII \s+ split keeping a leading empty token,
# code-point folds, unicode, empties and NULLs
TRICKY_TEXTS = [
    None,
    "",
    " ",
    "plain words here",
    "  leading and trailing  ",
    "\ttab\tleading tab run",
    "newline\nsplit\r\nacross lines",
    "MIXED Case WORDS lower",
    "unicode naïve café 模型 тест",
    "word " * 30,
    "a b c d e f g h i j k l m n o p q r s",
    "x",
]


@pytest.fixture(scope="module")
def tricky_docs(spark):
    rows = [(i, t) for i, t in enumerate(TRICKY_TEXTS)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_fingerprint_kernel_matches_expression(spark, tricky_docs):
    from webscraper_spark.operators.textstats import (
        fingerprint_col,
        fingerprint_kernel_pandas,
    )

    both = tricky_docs.select(
        "doc_id",
        fingerprint_col("text").alias("expr"),
        fingerprint_kernel_pandas()(F.col("text")).alias("kern"),
    ).collect()
    for r in both:
        assert r["expr"] == r["kern"], f"doc {r['doc_id']}: {r['expr']} != {r['kern']}"


def test_passage_kernel_matches_expression(spark, tricky_docs):
    from webscraper_spark.operators.similarity import (
        passage_hashes_sql,
        passage_rows_pandas,
    )

    expr_rows = tricky_docs.select(
        "doc_id",
        F.posexplode(F.expr(passage_hashes_sql("text", 4))).alias(
            "passage_idx", "passage_hash"
        ),
    ).collect()
    kern_rows = passage_rows_pandas(
        tricky_docs, "doc_id", "text", span=4
    ).collect()
    assert sorted((r["doc_id"], r["passage_idx"], r["passage_hash"]) for r in expr_rows) \
        == sorted((r["doc_id"], r["passage_idx"], r["passage_hash"]) for r in kern_rows)


def test_passage_kernel_with_text_matches_expression(spark, tricky_docs):
    from webscraper_spark.operators.similarity import (
        bind_sql,
        passage_rows_pandas,
        poly_hash_sql,
        words_sql,
    )

    span = 4
    ws = words_sql("text")
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
    expr_rows = tricky_docs.select(
        "doc_id",
        F.expr(trail).alias("__trail"),
        F.posexplode(F.expr(passages)).alias("passage_idx", "passage"),
    ).withColumn("passage_hash", F.expr(poly_hash_sql("passage"))).collect()
    kern_rows = passage_rows_pandas(
        tricky_docs, "doc_id", "text", span=span, with_text=True
    ).collect()
    key = lambda r: (r["doc_id"], r["passage_idx"], r["passage"], r["passage_hash"], r["__trail"])
    assert sorted(map(key, expr_rows)) == sorted(map(key, kern_rows))


def test_robots_allows_col_matches_python(spark):
    from webscraper_spark.functions.robots import robots_allows, robots_allows_col

    rule_sets = [
        [],
        ["-/private/"],
        ["+/private/ok", "-/private/"],
        ["-/private/", "+/private/ok"],  # order matters: first match wins
        ["-/a", "-/ab", "+/abc"],
        ["+/", "-/x"],
        ["-/"],
    ]
    paths = ["/", "", "/private/ok/x", "/private/zz", "/abc", "/ab", "/a", "/other", None]
    rows = [
        (i * 100 + j, rs, p)
        for i, rs in enumerate(rule_sets)
        for j, p in enumerate(paths)
    ]
    df = spark.createDataFrame(rows, "id long, rules array<string>, path string")
    got = {
        r["id"]: r["allowed"]
        for r in df.select(
            "id", robots_allows_col(F.col("path"), F.col("rules")).alias("allowed")
        ).collect()
    }
    for rid, rs, p in rows:
        assert got[rid] == robots_allows(rs, p or "/"), (rid, rs, p)


def test_simhash_first_band_equals_distinct(spark, tricky_docs):
    """The lowest-matching-band emission must produce exactly the
    distinct pair set, with no duplicates, on a corpus dense enough to
    have multi-band collisions (duplicated + near-duplicated texts)."""
    from webscraper_spark.operators.similarity import simhash_near_pairs_fast

    texts = []
    for i in range(60):
        base = f"shared boilerplate sentence number {i % 7} repeated tokens"
        texts.append((i, base))
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    out = simhash_near_pairs_fast(docs, bits=30, bands=3, max_hamming=3).collect()
    pairs = [(r["id_a"], r["id_b"], r["hamming"]) for r in out]
    assert len(pairs) == len(set(pairs)), "duplicate pair emitted"
    # ground truth: brute-force over the same kernel simhashes
    from webscraper_spark.operators.similarity import simhash_pandas_udf

    sims = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id", simhash_pandas_udf(30)(F.col("text")).alias("sh")
        ).collect()
    }
    width = 10
    expected = set()
    ids = sorted(sims)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            shares = any(
                (sims[a] >> (bb * width)) % 1024 == (sims[b] >> (bb * width)) % 1024
                for bb in range(3)
            )
            ham = bin(sims[a] ^ sims[b]).count("1")
            if shares and ham <= 3:
                expected.add((a, b, ham))
    assert set(pairs) == expected


def test_ivf_assign_aggregate_matches_window_topk(spark, sdfs):
    """The max-struct argmax must reproduce the row_number window's
    rank-1 contract: cosine desc, centroid_id asc tie-break."""
    from webscraper_spark.operators.similarity import (
        cosine_col,
        embed_documents_fast,
        ivf_assign,
    )
    from webscraper_spark.operators.topk import topk_per_group

    pages = sdfs["pages"].limit(200).select(
        F.xxhash64("url").alias("vec_id"), F.col("text")
    )
    emb = embed_documents_fast(pages, id_col="vec_id").where(F.size("embedding") == 64)
    cents = emb.orderBy("vec_id").limit(5)
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(emb, cents).collect()
    }
    c = F.broadcast(
        cents.select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("__cvec"))
    )
    scored = emb.crossJoin(c).select(
        "vec_id", "centroid_id",
        F.round(cosine_col("embedding", "__cvec"), 6).alias("__ccos"),
    )
    want = {
        r["vec_id"]: r["centroid_id"]
        for r in topk_per_group(
            scored, ["vec_id"],
            [F.col("__ccos").desc(), F.col("centroid_id").asc()],
            k=1, rank_col="__r",
        ).collect()
    }
    assert got == want
