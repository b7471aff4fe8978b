"""Deduplication operators for training-data pipelines.

Five strategies, all shuffle-conscious (SURVEY.md §2.7):

- **exact**: hash-groupBy on a fingerprint — one shuffle, linear.
- **n-gram Jaccard**: exact set similarity via a shingle equi-join —
  quadratic in colliding docs; used as the small-scope oracle baseline.
- **MinHash**: fixed-size signatures (k hashes) → agreement estimates
  Jaccard; signature build is one groupBy, pair generation joins on
  (hash-index, value) so only signature collisions pair up.
- **MinHash+LSH banding**: signatures split into bands; docs sharing a
  band-hash land in one bucket → candidate pairs only within buckets.
  This is the 100 TB path: cost is O(docs × bands) + bucket-local pairs.
- **SimHash**: per-doc fingerprint whose Hamming distance tracks cosine
  similarity of the term-frequency vectors; near-dup = small Hamming ball.

All hashing is anchored on ``conv(substr(md5(token),1,8),16,10)`` — a
deterministic 32-bit integer identical in any engine that has md5, which
is what makes the DuckDB oracles exact (no engine-specific hash()).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE_P = 2147483647  # 2^31-1, modulus for the affine hash family


def word_tokens(c: Column) -> Column:
    """Lowercased whitespace tokens; blank → empty array."""
    t = F.trim(F.lower(c))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def word_ngrams_all(tk: Column, n: int) -> Column:
    """ALL word n-gram occurrences of a token array (with multiplicity —
    repetition statistics need the counts; shingling distincts on top).

    The ``size < n`` guard matters: Spark's ``sequence(1, size-n+1)``
    would produce a *descending* sequence when size < n, not an empty one.
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tk) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(tk, i + j) for j in range(n)]),
    )
    return F.when(F.size(tk) < n, F.array().cast("array<string>")).otherwise(grams)


def word_ngrams(tk: Column, n: int) -> Column:
    """Distinct word n-gram shingles of a token array."""
    return F.array_distinct(word_ngrams_all(tk, n))


def word_bigrams(tk: Column) -> Column:
    """Distinct word 2-gram shingles of a token array."""
    return word_ngrams(tk, 2)


def stable_hash32(c: Column) -> Column:
    """Deterministic 32-bit integer hash of a string: first 8 hex chars of
    md5 — engine-portable (unlike xxhash64/murmur, which differ per engine)."""
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 8), 16, 10).cast("bigint")


def minhash_j(h: Column, j: int) -> Column:
    """j-th affine MinHash function over a base hash: ((2j+1)·h + 1000003j) mod p."""
    return (F.lit(2 * j + 1) * h + F.lit(1000003 * j)) % F.lit(MERSENNE_P)


def annotate_bucket_occupancy(
    df: DataFrame, key_cols: list[str], id_col: str
) -> DataFrame:
    """Occupancy + representative for every bucket row via ONE window
    over the bucket key: adds ``__n`` (bucket size) and ``__rep`` (min
    id — the star-pairing representative). Shared by the capped LSH
    paths here and in ``operators.similarity`` (VERDICT r4 #4: a window
    replaces the former stats aggregate + annotate join, and its
    exchange is the same partitioning the pair join needs)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols)
    return df.withColumn("__n", F.count(F.lit(1)).over(w)).withColumn(
        "__rep", F.min(id_col).over(w)
    )


def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact dedup: one row per distinct value of ``cols`` (hash-groupBy;
    map-side partial aggregation keeps the shuffle small)."""
    return df.dropDuplicates(cols)


def _gram_table(
    docs: DataFrame, n: int, id_col: str, text_col: str, out_col: str
) -> DataFrame:
    """(id, gram) rows — distinct word n-grams per document.

    The token array is materialized as its own projection BEFORE the
    n-gram expansion: higher-order functions run interpreted, so inlining
    ``word_tokens`` (a regex split) into every ``element_at`` inside the
    lambda re-runs the split per gram element — measured ~30× slower than
    binding the array once.

    Built with ``selectExpr`` strings, not Column composition: this is
    the single hottest plan-construction path in the engine (every
    dedup/contamination/fuzzy-join query builds 1-4 gram tables), and
    each Column operator is a py4j round-trip — one parsed expression
    string is ONE round-trip for the whole lambda tree (identical
    analyzed plan, parity-checked)."""
    parts = ", ".join(f"element_at(__tk, i + {j})" for j in range(n))
    gram_expr = (
        f"CASE WHEN size(__tk) < {n} THEN array() "
        f"ELSE array_distinct(transform(sequence(1, size(__tk) - {n - 1}), "
        f"i -> concat_ws(' ', {parts}))) END"
    )
    return docs.selectExpr(
        f"`{id_col}`",
        f"CASE WHEN trim(lower(`{text_col}`)) = '' THEN array() "
        f"ELSE split(trim(lower(`{text_col}`)), '\\\\s+') END AS __tk",
    ).selectExpr(f"`{id_col}`", f"explode({gram_expr}) AS `{out_col}`")


def shingle_table(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, shingle) rows — distinct word bigrams per document."""
    return _gram_table(docs, 2, id_col, text_col, "shingle")


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.05,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_max: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over all pairs sharing ≥1 shingle.

    The equi-join on ``shingle`` only pairs docs that actually collide.
    ``df_max`` caps shingle document-frequency: shingles appearing in
    more than ``df_max`` docs are dropped from BOTH the intersection and
    the size denominators (jaccard is then computed over the capped
    shingle universe — consistent numerator/denominator). Without the
    cap, one ubiquitous shingle (boilerplate headers, '- -') expands to
    O(n²) join rows; with it, the worst-case per-shingle fan-out is
    df_max². Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    sh = shingle_table(docs, id_col, text_col)
    if df_max is not None:
        # fold the df count into the exchange the pair join needs anyway
        # (the same occupancy-window lesson as the capped LSH paths,
        # r10): ONE hash(shingle) shuffle serves the cap filter AND both
        # self-join sides via exchange reuse, replacing the former
        # groupBy + semi-join that moved the whole shingle table through
        # a second string-keyed join (~1 s of the q57 cap overhead at
        # sf0.1)
        from pyspark.sql import Window

        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(w))
            .filter(F.col("__df") <= df_max)
            .drop("__df")
        )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.round(jac, 4) >= threshold)
    )


def jaccard_rescore_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    threshold: float = 0.05,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_max: int | None = None,
    broadcast_sets: bool = False,
    max_set_size: int | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard for a GIVEN candidate pair list — the
    rescore half of LSH near-dup, pair-driven.

    ``jaccard_pairs`` scores every pair sharing ≥1 shingle and the
    caller then semi-joins down to its LSH candidates — at the q57
    bench scope that computes 835k co-shingled pairs (3.3M shingle-join
    fan-out rows through a pair-keyed shuffle) to keep 39.7k (r14
    measurement; 95% discarded). Here the candidate pairs DRIVE the
    join instead (guide §3.3: join on the un-exploded key, explode
    never): each doc's capped shingle set is collected once
    (``collect_list`` over the per-doc-distinct gram table), the pair
    list joins the two doc-set relations by id, and the intersection is
    a per-row ``array_intersect`` — no shingle-keyed fan-out, no
    pair-keyed aggregation, shuffle rows ∝ |pairs| + |docs|.

    Output is exactly ``jaccard_pairs(docs, ...) ⋉ pairs``: for a pair
    in ``pairs``, both shapes compute |A∩B| / (|A|+|B|−|A∩B|) over the
    df-capped shingle universe with the same round-then-threshold; a
    pair sharing no shingle is dropped by the explicit ``inter >= 1``
    filter exactly as the old inner shingle join dropped it (even at
    threshold 0); a doc with no surviving shingles drops its pairs in
    both (inner join here, absent shingle rows there). Equivalence
    pinned in tests/test_dedup_similarity.py.

    Input contract: ``pairs`` holds DISTINCT ``(doc_a, doc_b)`` rows,
    as every producer here (``lsh_candidate_pairs``,
    ``query_lsh_index``) ends in ``.distinct()``. The operator adds no
    ``distinct()`` of its own; its pair-keyed reassembly collapses a
    repeated input pair into one output row. ``docs`` should already
    be restricted to pair members (the callers' existing semi-join). ``broadcast_sets=True`` is for callers that
    DECLARED a bounded scope (q57's ``small_input``): the per-doc set
    relation rides the pair join as a broadcast. At corpus scale leave
    it False — two id-keyed shuffles of the pair list, payload bounded
    by bucket caps × doc shingle count.

    Scale note, stated: a doc's shingle array ships once per pair it
    participates in (≤ ``max_bucket``·bands arrays), where the
    shingle-join shape ships Σ_sh df(sh)² rows — both are cap-bounded;
    the pair-driven form is strictly less work whenever candidates are
    sparser than co-shingled pairs, which is the entire premise of LSH
    banding.

    ``max_set_size`` is the payload GUARD for that note (VERDICT r14
    #6): with ``df_max=None`` and one pathological hub document, the
    per-pair shingle arrays become the dominant shuffle payload at
    corpus scale. The guard does NOT truncate (any truncation would
    change the Jaccard): a doc whose capped-universe shingle set
    exceeds it raises from the executor with the offending id, so the
    operator's bounded-payload premise is enforced loudly instead of
    silently degrading the cluster. A no-op for every conforming input
    — output bytes identical."""
    sh = shingle_table(docs, id_col, text_col)
    if df_max is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(w))
            .filter(F.col("__df") <= df_max)
            .drop("__df")
        )
    sets = sh.groupBy(id_col).agg(F.collect_list("shingle").alias("__sh"))
    if max_set_size is not None:
        # guard, not a cap: over-limit docs error with their id (see
        # docstring); when() branch types coerce NullType → array<string>
        sets = sets.select(
            F.col(id_col),
            F.when(F.size("__sh") <= max_set_size, F.col("__sh"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("jaccard_rescore_pairs: doc "),
                        F.col(id_col).cast("string"),
                        F.lit(
                            f" has > {max_set_size} shingles — pre-chunk "
                            "the document or raise max_set_size"
                        ),
                    )
                )
            )
            .alias("__sh"),
        )

    # pair-MELT join (r15): reference ``sets`` exactly ONCE. The r14
    # shape joined pairs→sets(doc_a)→sets(doc_b), i.e. the whole
    # scan→shingle→df-window→collect pipeline appeared twice in the
    # plan; Catalyst/AQE exchange reuse canonically dedupes identical
    # subtrees — EXCEPT when they contain an RDD-scan leaf
    # (localCheckpoint output), whose deduplicated copies never
    # canonicalize equal (measured this round on a minimal repro:
    # ReusedExchange 2→0 the moment a checkpointed relation enters the
    # subtree). Every production caller feeds exactly such leaves (the
    # funnel's exact-dedup checkpoint, the streaming micro-batch
    # checkpoint), so the duplicated pipeline really executed twice: 4
    # parquet scans / 2 Windows / 4 ObjectHashAggregates in q57's
    # AQE-off pre-checkpoint plan. Melting each pair into its two
    # (pair, member-id) rows joins the ONE sets relation a single time,
    # then a pair-keyed aggregation reassembles (set_a, set_b): sets
    # pipeline ×1 instead of ×2, at the cost of shipping both arrays
    # (instead of one) through the pair-keyed exchange — a win whenever
    # one full shingle+collect pass over the candidate docs outweighs
    # one extra array hop over the (LSH-sparse) pair list.
    #
    # Contract made explicit by the melt: ``pairs`` must be DISTINCT
    # (doc_a, doc_b) rows — true of every producer here
    # (lsh_candidate_pairs / query_lsh_index end in .distinct()); a
    # duplicated input pair would now collapse to one output row where
    # the old join shape duplicated it. first(ignorenulls) is
    # deterministic: each (pair, side) group holds at most ONE non-null
    # array (the side's single sets row).
    side = sets.withColumnRenamed(id_col, "__id")
    if broadcast_sets:
        side = F.broadcast(side)
    melted = pairs.select(
        "doc_a",
        "doc_b",
        F.explode(
            F.array(
                F.struct(
                    F.lit(True).alias("__is_a"), F.col("doc_a").alias("__id")
                ),
                F.struct(
                    F.lit(False).alias("__is_a"), F.col("doc_b").alias("__id")
                ),
            )
        ).alias("__e"),
    ).select(
        "doc_a",
        "doc_b",
        F.col("__e.__is_a").alias("__is_a"),
        F.col("__e.__id").alias("__id"),
    )
    per_pair = (
        melted.join(side, "__id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first(F.when(F.col("__is_a"), F.col("__sh")), ignorenulls=True)
            .alias("__sha"),
            F.first(F.when(~F.col("__is_a"), F.col("__sh")), ignorenulls=True)
            .alias("__shb"),
        )
        # inner-join semantics of the old shape: a pair whose member has
        # no sets row (zero surviving shingles) drops
        .filter(F.col("__sha").isNotNull() & F.col("__shb").isNotNull())
    )
    inter = F.size(F.array_intersect("__sha", "__shb"))
    jac = inter / (F.size("__sha") + F.size("__shb") - inter)
    return (
        per_pair.filter(inter >= 1)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.round(jac, 4) >= threshold)
    )


def dedup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """Paragraph-level exact dedup (the C4/CCNet move): a paragraph
    repeated ANYWHERE in the corpus survives only at its first occurrence
    (lowest ``(doc_id, position)``); documents are reassembled from their
    surviving paragraphs, preserving order. Docs whose every paragraph
    was claimed elsewhere drop out entirely.

    Shuffle budget: one fingerprint-keyed aggregation (``min(struct)``
    partial-combines map-side → one row per distinct paragraph), one
    first-occurrence join, one doc-keyed reassembly. Paragraph identity
    is the normalized-text md5 (case/whitespace-insensitive), matching
    ``doc_fingerprint`` semantics at paragraph grain.
    """
    import re

    from knightshift_spark.functions.text import doc_fingerprint

    # F.split takes a regex; escape so `sep` is literal on both the split
    # and the concat_ws reassembly side
    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias("pos", "para"),
    ).withColumn("__fp", doc_fingerprint(F.col("para")))
    firsts = paras.groupBy("__fp").agg(
        F.min(F.struct(id_col, "pos")).alias("__first")
    )
    survivors = paras.join(firsts, "__fp").filter(
        (F.col(id_col) == F.col(f"__first.{id_col}"))
        & (F.col("pos") == F.col("__first.pos"))
    )
    return (
        survivors.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "para"))).alias("__ps"))
        .select(
            F.col(id_col),
            F.concat_ws(sep, F.transform(F.col("__ps"), lambda s: s["para"])).alias(
                text_col
            ),
        )
    )


def contaminated_ids(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed_prefilter: bool = False,
) -> DataFrame:
    """Just the ids of corpus docs sharing ≥1 word n-gram with the eval
    set — the anti-join input a curation pipeline actually needs. Same
    broadcast shape as ``contamination_report`` but skips the per-doc
    size/fraction aggregation entirely: one corpus gram scan, one
    distinct on the (small) surviving id set.

    ``hashed_prefilter=True`` is the big-eval-set variant: instead of
    broadcasting the eval grams as STRINGS (tens of bytes each — a
    multi-benchmark eval suite can push the broadcast past executor
    comfort), broadcast only their distinct ``xxhash64`` values (8
    bytes/gram, Bloom-filter economics with zero false negatives), join
    the corpus grams on the hash, then CONFIRM the surviving candidates
    against the true gram strings with an ordinary shuffle semi-join.
    The confirm join touches only true hits + ~n_corpus·n_eval/2^64
    expected hash collisions — both ≪ corpus — so the full corpus scan
    pays an 8-byte-per-gram broadcast and the result stays exact."""
    grams_c = _gram_table(corpus, n, id_col, text_col, "gram")
    eval_grams = (
        _gram_table(eval_docs, n, id_col, text_col, "gram").select("gram").distinct()
    )
    if hashed_prefilter:
        eval_hashes = eval_grams.select(F.xxhash64("gram").alias("__h")).distinct()
        cand = (
            grams_c.withColumn("__h", F.xxhash64("gram"))
            .join(F.broadcast(eval_hashes), "__h")
            .drop("__h")
        )
        return (
            cand.join(eval_grams, "gram", "left_semi").select(id_col).distinct()
        )
    return grams_c.join(F.broadcast(eval_grams), "gram").select(id_col).distinct()


def contamination_report(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing ≥1 word n-gram
    with an evaluation set (the GPT-3/PaLM-style n-gram collision check;
    production uses n≈8–13, the principle is identical).

    Scale shape: the eval side reduces to its DISTINCT n-gram universe —
    benchmarks are KBs-to-MBs while the corpus is TBs — so that set
    broadcasts. Corpus grams stream past the broadcast hash relation
    ONCE, as a LEFT join (r13: the old sizes ⋈ hits shape re-ran the
    gram explode — the hottest projection in the query — twice, once
    per aggregate; a hit marker on the left join folds both counts
    into ONE groupBy over one explode). No corpus-side shuffle from
    the join itself; the per-doc counts are one map-side-combinable
    groupBy. Total cost: one corpus scan + one doc-keyed shuffle,
    independent of eval-set pairing.

    Output: (id, n_grams, n_hit, hit_frac) for corpus docs with n_hit ≥ 1,
    where counts are over each doc's distinct n-grams.
    """
    grams_c = _gram_table(corpus, n, id_col, text_col, "gram")
    eval_grams = (
        _gram_table(eval_docs, n, id_col, text_col, "gram")
        .select("gram")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # grams are distinct per doc and the build side is distinct on the
    # key, so the left join preserves the per-doc gram count exactly
    return (
        grams_c.join(F.broadcast(eval_grams), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__hit").alias("n_hit"),
        )
        .filter(F.col("n_hit") >= 1)
        .select(
            id_col,
            "n_grams",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_grams"), 4).alias("hit_frac"),
        )
    )


def minhash_wide(
    docs: DataFrame, num_hashes: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Wide MinHash signatures: (id, mh_0 .. mh_{k-1}) in ONE shuffle.

    Each hash j is its own MIN aggregate over the shingle rows — partial
    MIN combines map-side, so the shuffle carries one k-wide row per doc
    regardless of document size. (A long-form explode×k + groupBy costs
    k× the shuffle rows and an extra exchange.)
    """
    sh = shingle_table(docs, id_col, text_col)
    # expr-string aggregates (one py4j round-trip each) — same
    # stable_hash32/minhash_j arithmetic, hash bound once in a
    # projection so the md5 computes once per shingle row, not per j
    hs = sh.selectExpr(
        f"`{id_col}`",
        "cast(conv(substring(md5(cast(shingle AS binary)), 1, 8), 16, 10) "
        "AS bigint) AS __h",
    )
    return hs.groupBy(id_col).agg(
        *[
            F.expr(
                f"min(({2 * j + 1} * __h + {1000003 * j}) % {MERSENNE_P})"
            ).alias(f"mh_{j}")
            for j in range(num_hashes)
        ]
    )


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Long-form MinHash signatures: (id, j, mh) — the wide form unpivoted
    (stack is a pure projection; the single wide shuffle does the work)."""
    wide = minhash_wide(docs, num_hashes, id_col, text_col)
    stack = ", ".join(f"{j}, mh_{j}" for j in range(num_hashes))
    return wide.select(
        F.col(id_col),
        F.expr(f"stack({num_hashes}, {stack}) AS (j, mh)"),
    )


def minhash_pairs(
    docs: DataFrame,
    num_hashes: int = 8,
    min_agree: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Estimated-Jaccard pairs from signature agreement (small-scope form:
    joins on hash index; use ``lsh_candidate_pairs`` at scale)."""
    mh = minhash_signatures(docs, num_hashes, id_col, text_col)
    a = mh.select(F.col(id_col).alias("doc_a"), "j", F.col("mh").alias("mh_a"))
    b = mh.select(F.col(id_col).alias("doc_b"), "j", F.col("mh").alias("mh_b"))
    return (
        a.join(b, "j")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum((F.col("mh_a") == F.col("mh_b")).cast("int")).alias("n_agree"))
        .filter(F.col("n_agree") >= min_agree)
        .withColumn("est_jaccard", F.round(F.col("n_agree") / F.lit(float(num_hashes)), 4))
    )


def lsh_band_buckets(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, band, bucket) band-bucket rows for MinHash+LSH banding —
    the shared signature layer under ``lsh_candidate_pairs`` and the
    persisted index (``write_lsh_index``/``query_lsh_index``). One
    shuffle (the wide-signature aggregation); the band explode is
    map-side."""
    rows_per_band = num_hashes // bands
    wide = minhash_wide(docs, num_hashes, id_col, text_col)
    # one expr string for the whole band-struct array (py4j round-trip
    # economy; identical analyzed plan to the Column-composed form)
    band_structs = ", ".join(
        "named_struct('band', {bd}, 'bucket', "
        "md5(cast(concat_ws(',', {cols}) AS binary)))".format(
            bd=bd,
            cols=", ".join(
                f"cast(mh_{j} AS string)"
                for j in range(bd * rows_per_band, (bd + 1) * rows_per_band)
            ),
        )
        for bd in range(bands)
    )
    return wide.selectExpr(
        f"`{id_col}`", f"explode(array({band_structs})) AS bb"
    ).selectExpr(f"`{id_col}`", "bb.band AS band", "bb.bucket AS bucket")


def lsh_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash+LSH banding: the 100 TB near-dup path.

    Signatures are split into ``bands`` bands of ``num_hashes/bands`` rows;
    a band's values hash to one bucket key; only docs sharing a bucket
    become candidates. Shuffle cost: O(docs × bands) for bucketing plus
    bucket-local pair expansion — never all-pairs. Dedup of candidate
    pairs across bands is one final distinct.

    ``max_bucket`` bounds bucket-local expansion (the ``df_max`` analog
    of ``jaccard_pairs``): a web-scale corpus is duplicate-HEAVY — a
    cluster of 1M identical docs lands in one band bucket and all-pairs
    expansion is quadratic in the cluster. Buckets with more than
    ``max_bucket`` members switch to STAR pairing: every member pairs
    with the bucket representative (its min id) only — linear per bucket,
    and the cluster stays connected (every member reaches every other
    through the representative under the transitive closure any dedup
    consumer applies). Buckets at/below the cap keep exact all-pairs, so
    a cap above the largest bucket is a no-op (oracle-identical output).
    """
    if max_bucket is not None and max_bucket < 1:
        raise ValueError(f"max_bucket must be >= 1, got {max_bucket}")
    buckets = lsh_band_buckets(docs, num_hashes, bands, id_col, text_col)
    a = buckets.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    if max_bucket is None:
        return (
            a.join(b, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
    # the former stats aggregate + annotate join cost q31b 0.49→0.90s
    # at a no-op cap setting; the window fold removes both
    bs = annotate_bucket_occupancy(b, ["band", "bucket"], "doc_b")
    # BOTH dense-join sides come from the same window subtree: a capped
    # bucket's members are exactly its rows in `small`, and the two sides
    # are identical plans, so Catalyst reuses one exchange AND the join
    # inherits the window's (band,bucket) hash partitioning — no third
    # shuffle of the bucket relation (r5 #3: that re-shuffle was most of
    # the residual cap overhead)
    small = bs.filter(F.col("__n") <= max_bucket).select("doc_b", "band", "bucket")
    dense = (
        small.select(F.col("doc_b").alias("doc_a"), "band", "bucket")
        .join(small, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    star = (
        bs.filter((F.col("__n") > max_bucket) & (F.col("doc_b") != F.col("__rep")))
        .select(F.col("__rep").alias("doc_a"), "doc_b")  # rep = min ⇒ doc_a < doc_b
    )
    return dense.unionByName(star).distinct()


def connected_components(
    pairs: DataFrame,
    max_iters: int = 20,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Connected components over candidate pairs: (id, component) with
    component = the MINIMUM id reachable through any chain of pairs —
    the transitive closure every dedup consumer needs to turn pair lists
    (``lsh_candidate_pairs``, ``neardup_pairs_lsh``, ``jaccard_pairs``)
    into cluster decisions.

    Algorithm: min-label propagation with POINTER JUMPING — each round
    every node takes the min label across its neighbors, then labels
    chase their own label's label (path halving). Neighbor-min alone
    moves a min one hop per round (a length-L chain costs L rounds);
    the jump step doubles resolved-path length, so convergence is
    O(log diameter) — and the star-shaped output of the capped LSH paths
    converges in 2 rounds. Each round is two key-partitioned shuffles;
    ``localCheckpoint`` truncates the growing lineage (iterative plans
    re-analyze their whole history otherwise — the q57 lesson), and the
    driver-side convergence check is one count per round (inherent to
    any iterate-to-fixpoint computation).

    Raises if ``max_iters`` rounds don't converge (silent partial labels
    would corrupt downstream dedup decisions).
    """
    e = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    # round 0 fused into init: comp = min(id, min(neighbors)) — the same
    # aggregation that would otherwise be (distinct-init + first nbr-min
    # round), one shuffle instead of three. Star-shaped pair sets (the
    # capped LSH output) already converge here; the loop then just
    # verifies changed == 0.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__m"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("__m")).alias("comp"),
        )
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nbr = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("comp").alias("__nbr_min"))
            .withColumnRenamed("src", "id")
        )
        stepped = labels.join(nbr, "id", "left").select(
            "id", F.least("comp", F.coalesce("__nbr_min", F.col("comp"))).alias("comp")
        )
        # pointer jump: comp := label(comp) — path halving
        jump = labels.select(F.col("id").alias("comp"), F.col("comp").alias("__cc"))
        # convergence check rides the round's OWN checkpoint job as an
        # observe() accumulator (the q57 funnel move): the old-label
        # join costs a map-side lookup inside the job that runs anyway,
        # where the former separate join+count was a whole extra job
        # per round — at fixpoint-iteration cadence that is the
        # difference between 2 and 3 jobs per round.
        from pyspark.sql import Observation

        obs = Observation()
        new = (
            stepped.join(jump, "comp", "left")
            .select(
                "id", F.least("comp", F.coalesce("__cc", F.col("comp"))).alias("comp")
            )
            .join(labels.withColumnRenamed("comp", "__old"), "id")
            .observe(
                obs,
                F.sum((F.col("comp") != F.col("__old")).cast("long")).alias("changed"),
            )
            .select("id", "comp")
            .localCheckpoint()
        )
        changed = int(obs.get["changed"] or 0)
        # the superseded round's checkpoint blocks are dead once
        # `changed` is counted; DataFrame.unpersist() cannot reach a
        # localCheckpoint's storage, so release works by dropping the
        # reference — `labels = new` makes the old RDD garbage and the
        # ContextCleaner unpersists its blocks asynchronously. Peak
        # storage is therefore ~2 rounds of (id, comp), not O(rounds).
        labels = new
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds "
        "(component diameter exceeds 2^rounds); raise max_iters"
    )


def dedup_keep_list(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """The dedup DECISION: one surviving row per near-dup cluster (the
    minimum id — deterministic), all unpaired docs kept. This is the
    consumer-side closure of the candidate-pair operators: pairs →
    components → anti-join of the non-representative members."""
    comps = connected_components(pairs, a_col=a_col, b_col=b_col)
    losers = comps.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def dedup_report(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str | None = "text",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """What a dedup run would do, before doing it: ONE summary row with
    ``n_docs``, ``n_clusters`` (components with ≥2 members),
    ``n_clustered`` (docs inside those), ``n_removed`` (non-representative
    members — what ``dedup_keep_list`` drops), ``max_cluster`` and, when
    ``text_col`` is given, ``chars_reclaimed`` (text mass of the removed
    docs). The sizing/reporting pass operators teams run on candidate
    pairs before committing to a destructive keep-list write.

    All cluster counts (``n_clusters``/``n_clustered``/``n_removed``)
    come from the SAME pairs-derived components relation regardless of
    ``text_col`` (ADVICE r5 #4: the text path used to semi-join docs for
    ``n_removed``, undercounting when pairs referenced ids absent from
    ``docs``); only ``chars_reclaimed`` joins ``docs`` — removed ids with
    no docs row contribute zero reclaimed characters."""
    comps = connected_components(pairs, a_col=a_col, b_col=b_col)
    sizes = comps.groupBy("comp").agg(F.count(F.lit(1)).alias("n_members"))
    cluster_stats = sizes.filter(F.col("n_members") >= 2).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.coalesce(F.sum("n_members"), F.lit(0)).alias("n_clustered"),
        F.coalesce(F.max("n_members"), F.lit(0)).alias("max_cluster"),
    )
    removed = comps.filter(F.col("id") != F.col("comp"))
    removed_stats = removed.agg(F.count(F.lit(1)).alias("n_removed"))
    report = (
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(cluster_stats)
        .crossJoin(removed_stats)
    )
    if text_col is not None:
        reclaimed = (
            docs.join(removed.select(F.col("id").alias(id_col)), id_col, "left_semi")
            .agg(F.coalesce(F.sum(F.length(text_col)), F.lit(0)).alias("chars_reclaimed"))
        )
        report = report.crossJoin(reclaimed)
    return report


def simhash16(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash over term frequencies: (id, simhash).

    Per-doc cost is O(tokens × 16) before a map-side-combinable groupBy;
    near-dup detection then compares fingerprints via Hamming distance
    (``bit_count(a XOR b)``) — cheap enough to run pairwise inside LSH
    buckets or against a broadcast center list.
    """
    tk = word_tokens(F.col(text_col))
    # ONE shuffle (r13): the term-frequency weighting is algebraically
    # redundant — Σ_w c_w·sign_b(w) over distinct words equals
    # Σ_occurrences sign_b(w) over raw occurrences — so the per-(doc,
    # word) count stage (a full word-row shuffle) is dropped and the
    # ±1 signed sums partial-combine map-side straight off the explode.
    # Measured at the 10× point: 0.72 → 0.50 s, bit-identical output.
    occ = docs.select(F.col(id_col), F.explode(tk).alias("w"))
    h = stable_hash32(F.col("w"))
    sums = occ.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
            ).alias(f"s_{b}")
            for b in range(16)
        ]
    )
    simhash = None
    for b in range(16):
        bit = F.when(F.col(f"s_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        simhash = bit if simhash is None else simhash + bit
    return sums.select(F.col(id_col), simhash.cast("bigint").alias("simhash"))


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MOSS-style winnowing document fingerprints: rolling character
    k-gram hashes, window-min selected.

    1. normalize text (lower/trim/collapse whitespace — ``doc_fingerprint``
       semantics);
    2. hash every character k-gram with the portable md5-derived 32-bit
       hash (the "rolling" hash — position-shifted substrings, same
       family as every other oracle-checked hash here);
    3. keep the minimum hash of each window of ``w`` consecutive k-grams,
       dedup per document.

    Winnowing guarantee: two documents sharing any substring of length
    ≥ w + k − 1 share at least one fingerprint — so a fingerprint
    equi-join is a plagiarism/near-dup candidate generator with bounded
    density (expected 2/(w+1) of positions selected).

    Pure native expressions, one explode shuffle. Every intermediate
    array is bound as its own projection — the HOF-CSE rule (SCALE.md):
    an inlined operand would re-normalize the text once per k-gram.

    Output: (id, fp) one row per distinct fingerprint per document.
    """
    from knightshift_spark.functions.text import normalize_text

    n = F.length(F.col("__t"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda p: F.col("__t").substr(p, F.lit(k)),
    )
    hashes = F.transform(F.col("__grams"), stable_hash32)
    nh = F.size(F.col("__hs"))
    mins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(nh - (w - 1), F.lit(1))),
            lambda i: F.array_min(F.slice(F.col("__hs"), i, w)),
        )
    )
    return (
        docs.select(id_col, normalize_text(F.col(text_col)).alias("__t"))
        .select(id_col, grams.alias("__grams"))
        .select(id_col, hashes.alias("__hs"))
        .select(id_col, F.explode(mins).alias("fp"))
    )


def winnow_candidate_pairs(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup/plagiarism candidates by shared winnowing fingerprints:
    (doc_a, doc_b, n_shared) for pairs sharing ≥ ``min_shared`` selected
    fingerprints. The join is equi on the fingerprint — candidate volume
    tracks fingerprint-bucket occupancy, the same scale shape as the
    banded-MinHash path."""
    fps = winnow_fingerprints(docs, k, w, id_col, text_col)
    a = fps.select(F.col(id_col).alias("doc_a"), "fp")
    b = fps.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def write_lsh_index(
    docs: DataFrame,
    path: str,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's LSH band buckets: signature the corpus ONCE,
    then every future batch dedups against it by reading the index
    instead of re-signaturing history (the text twin of the ANN index's
    write-once/query-many layout; closes the corpus-stream docstring's
    'near-dup stays a scheduled full recompute' gap — the schedule now
    appends). Layout: (id, bucket) parquet partitioned by ``band`` (band
    joins prune to their partition) + a ``_lsh_meta`` sidecar pinning
    (num_hashes, bands) so a config drift between writer and reader is
    an ERROR, not silently-empty buckets."""
    buckets = lsh_band_buckets(docs, num_hashes, bands, id_col, text_col)
    buckets.withColumnRenamed(id_col, "doc_id").write.mode(mode).partitionBy(
        "band"
    ).parquet(path)
    spark = docs.sparkSession
    # id type rides in the meta so readers use an explicit schema — an
    # index built over an EMPTY corpus (day-zero bootstrap) writes no
    # data files and schema inference would fail on it
    id_type = docs.schema[id_col].dataType.simpleString()
    spark.createDataFrame(
        [(num_hashes, bands, id_type)],
        "num_hashes int, bands int, id_type string",
    ).write.mode("overwrite").parquet(f"{path}/_lsh_meta")


def append_lsh_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Add a new batch's buckets to an existing index (append-only;
    parameters come from the index's own meta so every generation of the
    index is signatured identically)."""
    spark = docs.sparkSession
    meta = spark.read.parquet(f"{path}/_lsh_meta").collect()[0]
    buckets = lsh_band_buckets(
        docs, int(meta["num_hashes"]), int(meta["bands"]), id_col, text_col
    )
    buckets.withColumnRenamed(id_col, "doc_id").write.mode("append").partitionBy(
        "band"
    ).parquet(path)


def query_lsh_index(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
    include_within_batch: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs for an incoming batch against the
    persisted corpus index: (doc_a, doc_b) with doc_a = an indexed
    corpus id, doc_b = a new-batch id — plus, with
    ``include_within_batch``, the batch's internal pairs (doc_a <
    doc_b, both new). The batch is signatured with the INDEX's pinned
    parameters; only the batch is hashed — the corpus work is a parquet
    read. ``max_bucket`` caps corpus-bucket fan-out with the same star
    rule as ``lsh_candidate_pairs`` (over-occupied corpus buckets pair
    the new doc with the bucket representative only)."""
    meta = spark.read.parquet(f"{path}/_lsh_meta").collect()[0]
    num_hashes, bands = int(meta["num_hashes"]), int(meta["bands"])
    if max_bucket is not None and max_bucket < 1:
        raise ValueError(f"max_bucket must be >= 1, got {max_bucket}")
    idx = spark.read.schema(
        f"doc_id {meta['id_type']}, bucket string, band int"
    ).parquet(path).select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    nb = lsh_band_buckets(new_docs, num_hashes, bands, id_col, text_col).select(
        F.col(id_col).alias("doc_b"), "band", "bucket"
    )
    # a batch may legitimately re-send an already-indexed id (replays,
    # backfills): a (x, x) self-pair would read as "x duplicates x" to
    # every downstream consumer, so the cross join excludes identity
    if max_bucket is None:
        cross = (
            idx.join(nb, ["band", "bucket"])
            .filter(F.col("doc_a") != F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
    else:
        bs = annotate_bucket_occupancy(idx, ["band", "bucket"], "doc_a")
        dense = (
            bs.filter(F.col("__n") <= max_bucket)
            .select("doc_a", "band", "bucket")
            .join(nb, ["band", "bucket"])
            .select("doc_a", "doc_b")
        )
        star = (
            bs.filter(F.col("__n") > max_bucket)
            .select(F.col("__rep").alias("doc_a"), "band", "bucket")
            .distinct()
            .join(nb, ["band", "bucket"])
            .select("doc_a", "doc_b")
        )
        cross = dense.unionByName(star).filter(F.col("doc_a") != F.col("doc_b"))
    out = cross.distinct()
    if include_within_batch:
        within = lsh_candidate_pairs(
            new_docs, num_hashes, bands, id_col, text_col, max_bucket
        )
        out = out.unionByName(within.select("doc_a", "doc_b")).distinct()
    return out
