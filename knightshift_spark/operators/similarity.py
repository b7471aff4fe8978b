"""Embedding similarity search (ANN) over an ``array<float>`` column.

Two tiers (SURVEY.md §2.7):

- **Brute-force cosine top-k** — exact baseline. The query set broadcasts
  (it is small by construction); candidates never shuffle: each partition
  scores its local rows against the broadcast queries and a
  TakeOrdered/top-k per query key finishes it. Cost O(|Q|·N·d) flops,
  O(N) I/O, zero shuffles besides the final top-k.
- **LSH-bucketed (random hyperplane / SRP)** — scale path. Each vector
  gets a b-bit sign sketch; candidates = same-bucket (or
  Hamming-adjacent) vectors only. Bucketing is one projection; the join
  is bucket-equi, so cost tracks bucket occupancy, not N².

Arithmetic is done in DOUBLE with left-to-right array folds so results
are bit-identical to the DuckDB oracle's ``list_sum(list_transform(...))``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Left-to-right fold of the element-wise product (deterministic).

    Always the higher-order form: ``aggregate(zip_with(a, b, *), 0.0,
    +)``. Earlier rounds unrolled ``dim`` explicit ``element_at`` terms
    on the theory that the flat tree rides whole-stage codegen — on
    Spark 4.1 it does the OPPOSITE: the 64-term tree kicks the whole
    stage out of codegen (0 ``WholeStageCodegen`` spans) and the
    interpreted flat tree loses to the fold everywhere it was measured
    (broadcast-NL scoring 0.49s -> 0.35s; 500k-pair hash join 1.9s ->
    0.48s at sf0.1 — re-measure before un-learning this again). The fold
    adds in the same left-to-right order (0.0 + t1 + t2 ...), so values
    stay bit-identical to the old form and to the DuckDB oracle's
    ``list_sum(list_transform(...))``. ``dim`` is retained for call-site
    compatibility and ignored.
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str, dim: int | None = None) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_by_sim(scored: DataFrame, k: int) -> DataFrame:
    """The shared ranking tail of every cosine knn_* operator (and of
    q59's shared-scored variant derivation): per-query ``row_number``
    over (sim desc, neighbor_id), rank <= k, sim rounded to 4 decimals.
    ONE definition so the tie-break/rounding contract cannot silently
    fork between the operators and the harness (r11 review)."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("__sim", 4).alias("sim"), "rank")
    )


def srp_probe_array(vec: Column, bits: int, dim: int, hamming_probe: int) -> Column:
    """The probe-sketch array of a query vector: its own SRP sketch,
    plus every sketch at Hamming distance 1 when ``hamming_probe=1``
    (index 0 is ALWAYS the exact sketch — q59's shared-scored variants
    depend on that to derive the unprobed base by filtering probe
    index 0). Shared by ``knn_lsh`` and the harness for the same
    no-fork reason as ``topk_by_sim``."""
    sk = srp_sketch(vec, bits, dim)
    if hamming_probe == 0:
        return F.array(sk)
    if hamming_probe == 1:
        return F.array(sk, *[sk.bitwiseXOR(F.lit(1 << b)) for b in range(bits)])
    raise ValueError("hamming_probe supports 0 or 1 (cost grows as C(bits,r))")


def knn_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, sim, rank).

    ``queries`` is broadcast; the crossJoin is really a broadcast
    nested-loop scoring pass over the candidate scan — on a cluster every
    executor scores its own parquet splits, no repartitioning of the big
    side. The per-query top-k is a window over query_id (k small → the
    rank filter prunes before any further stage).
    """
    # norms are bound per relation (one unrolled tree per SIDE instead of
    # re-inlining them into every pair's expression): the same doubles in
    # the same order, so sims stay bit-identical to the inline form —
    # while the pair expression (and the plan the driver must analyze)
    # shrinks 3×
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", norm("__qv", dim))
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).withColumn("__cn", norm("__cv", dim))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .select(
            "query_id",
            "neighbor_id",
            (
                dot("__qv", "__cv", dim)
                / (F.col("__qn") * F.col("__cn"))
            ).alias("__sim"),
        )
    )
    return topk_by_sim(scored, k)


def srp_sketch(vec: Column, bits: int = 16, dim: int = 64) -> Column:
    """Signed-random-projection sketch: ``bits``-bit sign pattern of dot
    products with deterministic pseudo-random hyperplanes.

    Hyperplane components are derived from md5 of ``srp:{bit}:{dim-index}``
    strings → ±1 entries — the same portable hash family as
    ``stable_hash32``, folded to plain float literals at plan-build time
    (no per-row hashing cost).
    """
    import hashlib

    def sign(b: int, i: int) -> float:
        h = int(hashlib.md5(f"srp:{b}:{i}".encode()).hexdigest()[:8], 16)
        return 1.0 if h % 2 == 0 else -1.0

    sketch = F.lit(0).cast("bigint")
    for b in range(bits):
        proj = F.aggregate(
            F.zip_with(
                _as_double(vec),
                F.lit([sign(b, i) for i in range(dim)]),  # one array literal
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sketch = sketch + F.when(proj > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return sketch


def knn_bruteforce_arrow(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """Throughput variant of ``knn_bruteforce``: per-Arrow-batch numpy
    matmul inside ``mapInPandas``.

    The query matrix rides into every task as a broadcast variable; each
    candidate batch becomes one ``(batch × d) @ (d × |Q|)`` GEMM — BLAS
    throughput instead of per-element codegen. Output is each batch's
    local top-k per query, so the shuffle to the final per-query top-k
    carries ≤ k rows per (batch, query), never the full score matrix.
    Use when d×|Q| is large enough that GEMM beats codegen (~d ≥ 128 or
    |Q| ≥ 100); results are identical up to float-sum ordering.

    The query side collects to the driver and broadcasts — a driver-
    memory commitment, so it is guarded (VERDICT r6 #6): more than
    ``max_queries`` rows raises instead of silently OOMing. Batch a
    bigger query load through repeated calls (or flip the relations —
    the larger side belongs in ``candidates``).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import types as T

    # limit(max+1) bounds the check itself — no count job, no oversized
    # transfer even when the guard fires
    q_rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"queries exceed max_queries={max_queries}: the query matrix "
            "collects to the driver and broadcasts to every task. Put the "
            "large relation on the candidates side, or batch the queries."
        )
    q_ids = np.array([r[id_col] for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    sc = candidates.sparkSession.sparkContext
    bc = sc.broadcast((q_ids, q_mat))

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def score(batches):
        ids, qm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.stack(pdf[vec_col].map(np.asarray)).astype(np.float64)
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            sims = c @ qm.T  # (batch, |Q|)
            top = min(k, len(pdf))
            nid = pdf[id_col].to_numpy()
            # Deterministic batch-local top-k: ties at the k-th similarity
            # keep the smallest neighbor_id, so the final global window sees
            # the same candidates under any partitioning of the candidates.
            part = np.empty((top, sims.shape[1]), dtype=np.int64)
            for j in range(sims.shape[1]):
                part[:, j] = np.lexsort((nid, -sims[:, j]))[:top]
            rows = {
                "query_id": np.repeat(ids, top),
                "neighbor_id": nid[part.T.ravel()],
                "sim": np.take_along_axis(sims, part, axis=0).T.ravel(),
            }
            yield pd.DataFrame(rows)

    local_topk = candidates.select(id_col, vec_col).mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        local_topk.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")
    )


def _sq_l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _centroid_dists(vec: Column, centroids: list[list[float]]) -> Column:
    return F.array(
        *[
            F.struct(
                _sq_l2(vec, F.lit([float(x) for x in c])).alias("d"),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(centroids)
        ]
    )


def assign_ivf_cluster(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid id for a vector against broadcast-as-literals
    centroids (argmin squared L2). Centroid count is small by design, so
    the whole assignment folds into one codegen'd expression — no join,
    no Python."""
    return F.array_min(_centroid_dists(vec, centroids))["cid"]


def assign_ivf_clusters(
    vec: Column, centroids: list[list[float]], n_probe: int = 1
) -> Column:
    """The ``n_probe`` nearest centroid ids, nearest first — the
    multi-probe knob: probing p clusters scores ~p/k of the corpus and
    recovers queries that fall near a cluster boundary (the dominant IVF
    recall loss). Same codegen'd expression shape as the single-probe
    assignment; ties break on cid (deterministic)."""
    ordered = F.array_sort(_centroid_dists(vec, centroids))
    return F.transform(F.slice(ordered, 1, n_probe), lambda s: s["cid"])


def _cents_df(spark, cents: list[list[float]]) -> DataFrame:
    from knightshift_spark.plans.localrel import local_relation

    return local_relation(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cid int, cvec array<double>",
    )


def _nearest_center(
    vectors: DataFrame,
    cents: list[list[float]],
    id_col: str,
    vec_col: str,
    carry_vec: bool = False,
) -> DataFrame:
    """(id, cid, d[, v]): nearest center per vector via broadcast
    crossJoin + 1-row-per-key argmin. Centers travel as broadcast DATA,
    not codegen'd literals, so the plan (and its compiled code) is
    IDENTICAL across build iterations — recompiling per Lloyd step was
    the dominant build cost, the same per-config-compile trap as the PQ
    sweep. The squared-L2 fold is a runtime loop over the zipped arrays
    (deterministic left-to-right order). ``carry_vec`` rides the vector
    through the argmin struct (cid is unique per center, so it never
    participates in the comparison) — consumers that need the vector
    then skip a join-back shuffle against ``vectors``."""
    spark = vectors.sparkSession
    d = F.aggregate(
        F.zip_with(
            F.col(vec_col), F.col("cvec"), lambda a, b: (a.cast("double") - b) ** 2
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    fields = [d.alias("d"), F.col("cid").alias("cid")]
    if carry_vec:
        fields.append(F.col(vec_col).alias("v"))
    scored = vectors.crossJoin(F.broadcast(_cents_df(spark, cents))).select(
        F.col(id_col), F.struct(*fields).alias("__s")
    )
    out = scored.groupBy(id_col).agg(F.min("__s").alias("__m"))
    cols = [id_col, F.col("__m.cid").alias("cid"), F.col("__m.d").alias("__d")]
    if carry_vec:
        cols.append(F.col("__m.v").alias("__v"))
    return out.select(*cols)


def _lloyd_step(
    vectors: DataFrame,
    cents: list[list[float]],
    vec_col: str,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """One Lloyd iteration: assign every vector to its nearest centroid
    (broadcast argmin, constant plan shape) and average per (cluster,
    coordinate) — decimal accumulation so the mean is independent of
    partition order. One job, two shuffles: the vector rides the argmin
    struct (``carry_vec``), so no join back to ``vectors``. Only k×d mean
    rows reach the driver; clusters that lost every vector keep their
    previous centroid."""
    means = (
        _nearest_center(vectors, cents, id_col, vec_col, carry_vec=True)
        .select("cid", F.posexplode(F.col("__v")).alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(30,15)")) / F.count(F.lit(1))
            ).cast("double").alias("m")
        )
        .collect()
    )
    refined = [list(c) for c in cents]
    for r in means:
        refined[r["cid"]][r["pos"]] = r["m"]
    return refined


def _farthest_first(points: list[list[float]], k: int) -> list[list[float]]:
    """Greedy farthest-first reduction of a small oversampled center set
    to k centers (driver-side; the set is O(rounds·k), never the data)."""

    def sq(a: list[float], b: list[float]) -> float:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    centers = [points[0]]
    while len(centers) < min(k, len(points)):
        far = max(points, key=lambda p: min(sq(p, c) for c in centers))
        if all(sq(far, c) == 0.0 for c in centers):
            break  # all remaining points coincide with a center
        centers.append(far)
    return centers


def _div_half_up_e15(total: int, count: int) -> float:
    """HALF_UP divide of an exact 1e-15-scaled integer sum by ``count``
    at scale 15, then the correctly-rounded double of that decimal —
    the same arithmetic as Spark's ``sum(decimal(30,15)) / count`` cast
    to double (empirically bit-identical; see test_ivf_local_twin)."""
    from fractions import Fraction

    sign = -1 if total < 0 else 1
    q, r = divmod(abs(total), count)
    if 2 * r >= count:
        q += 1
    return float(Fraction(sign * q, 10**15))


def _quantize_e15(X) -> "object":
    """Exact 1e-15-scaled integers of each double, via the SHORTEST
    decimal representation (``repr``) — matching Spark's
    double→decimal(30,15) cast (Java ``BigDecimal.valueOf(double)``
    uses ``Double.toString``, also shortest-roundtrip) with HALF_UP."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-15)
    return np.array(
        [
            [int(Decimal(repr(float(x))).quantize(q, ROUND_HALF_UP).scaleb(15)) for x in row]
            for row in X
        ],
        dtype=np.int64,
    )


def _ivf_centroids_local(
    ids: list,
    vecs: list[list[float]],
    n_clusters: int,
    seed_rounds: int,
    lloyd_iters: int,
    tol: float,
) -> list[list[float]]:
    """Driver-side numpy twin of the distributed ``ivf_centroids``
    build, BIT-IDENTICAL by construction (pinned by
    ``test_ivf_local_twin_matches_distributed``): the squared-L2 is the
    same left-to-right coordinate fold (``**2`` in Spark is
    ``Math.pow(x,2)`` = ``x*x`` bit-for-bit), argmin ties break to the
    lower cid (np.argmin first-min = the (d, cid) struct min), seed
    selection sorts by (distance desc, id asc), and the Lloyd means
    replay Spark's deterministic decimal(30,15) accumulation exactly
    (quantize-to-1e-15 ints, exact integer sum, HALF_UP divide,
    correctly-rounded double). ``ids``/``vecs`` must be id-sorted."""
    import numpy as np

    X = np.asarray(vecs, dtype=np.float64)
    n, dim = X.shape

    def sq_dists(c) -> "np.ndarray":
        acc = np.zeros(n)
        for i in range(dim):  # sequential fold: matches zip_with order
            t = X[:, i] - c[i]
            acc = acc + t * t
        return acc

    centers = [[float(x) for x in X[0]]]
    for _ in range(seed_rounds):
        dmin = np.min(
            np.column_stack([sq_dists(np.asarray(c)) for c in centers]), axis=1
        )
        sel = sorted(range(n), key=lambda i: (-dmin[i], ids[i]))[:n_clusters]
        centers += [[float(x) for x in X[i]] for i in sel]
    cents = _farthest_first(centers, n_clusters)
    while len(cents) < n_clusters and cents:
        cents.append(list(cents[0]))
    # exact integer accumulation for the decimal-replay means: chunked
    # int64 partial sums (chunk sized so no partial can overflow),
    # folded into arbitrary-precision Python ints
    QX = _quantize_e15(X)
    absmax = max(1, int(np.abs(QX).max()))
    chunk = max(1, (1 << 62) // absmax)
    for _ in range(lloyd_iters):
        asg = np.argmin(
            np.column_stack([sq_dists(np.asarray(c)) for c in cents]), axis=1
        )
        new = [list(c) for c in cents]
        for cid in sorted(set(asg.tolist())):
            sub = QX[asg == cid]
            totals = [0] * dim
            for s in range(0, len(sub), chunk):
                part = sub[s : s + chunk].sum(axis=0)
                for pos in range(dim):
                    totals[pos] += int(part[pos])
            new[cid] = [_div_half_up_e15(t, len(sub)) for t in totals]
        shift = max(
            abs(a - b) for c0, c1 in zip(cents, new) for a, b in zip(c0, c1)
        )
        cents = new
        if shift < tol:
            break
    return cents


def ivf_centroids(
    vectors: DataFrame,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_rounds: int = 2,
    lloyd_iters: int = 3,
    tol: float = 1e-4,
    mode: str = "auto",
    local_max_bytes: int = 64 << 20,
) -> list[list[float]]:
    """Deterministic scalable IVF codebook (k-means‖-shaped build):

    1. **Oversampled seeding** — start from the lowest-id vector; each of
       ``seed_rounds`` rounds scores every vector's distance to its
       nearest current center (broadcast argmin — centers travel as data,
       so the compiled plan is reused across rounds) and takes the
       ``n_clusters`` farthest (TakeOrdered with id tie-break — the
       deterministic twin of k-means‖'s cost-proportional sampling).
    2. **Reduce** the O(rounds·k) oversampled set to k centers by greedy
       farthest-first — driver-side over a tiny list, as k-means‖ reduces
       with a local clustering.
    3. **Lloyd to convergence** — up to ``lloyd_iters`` assign+average
       jobs, stopping early when the max centroid shift (per-coordinate
       L∞) drops below ``tol``.

    Every driver transfer is centroid-sized (k·d floats); every data pass
    is one scan. Total jobs: seed_rounds + (≤ lloyd_iters), each with one
    k-row collect — the ≤2-collect-per-iteration budget at any scale.
    Deterministic end-to-end: same data → same codebook, any
    partitioning, any engine.

    ``mode="auto"`` (default) gates on Catalyst's free optimized-plan
    size estimate (VERDICT r10 #2 — the heavy-hitters/packing pattern):
    inputs under ``local_max_bytes`` collect to the driver and train
    with the numpy twin (``_ivf_centroids_local``, bit-identical
    centroids — the fixed ~5–6-job k-means‖ cost was 10.7 s on 2,100
    vectors), everything larger (or an unavailable estimate) runs the
    distributed build. The codebook is driver-sized either way — the
    gate changes cost, never semantics.
    """
    if mode not in ("auto", "local", "distributed"):
        raise ValueError(f"mode must be auto|local|distributed: {mode!r}")
    if mode == "auto":
        from knightshift_spark.plans.partitioning import plan_size_bytes

        est = plan_size_bytes(vectors)
        mode = (
            "local" if est is not None and est <= local_max_bytes else "distributed"
        )
    if mode == "local":
        rows = vectors.select(id_col, vec_col).collect()
        if not rows:
            return []
        pairs = sorted(
            ((r[0], [float(x) for x in r[1]]) for r in rows),
            key=lambda t: t[0],
        )
        ids = [p[0] for p in pairs]
        # twin-validity guards (r11 review): the distributed build's
        # _nearest_center groupBys by id (duplicate ids collapse to one
        # min-struct row — the twin keeps every row), and the decimal
        # replay scales by 1e15 into int64 (coordinates beyond ~9e3
        # overflow where decimal(30,15) does not). Either case falls
        # back to the distributed path: correct over fast.
        if len(ids) != len(set(ids)) or any(
            abs(x) > 9000.0 for p in pairs for x in p[1]
        ):
            mode = "distributed"
        else:
            return _ivf_centroids_local(
                ids,
                [p[1] for p in pairs],
                n_clusters,
                seed_rounds,
                lloyd_iters,
                tol,
            )
    first = vectors.orderBy(id_col).limit(1).collect()
    if not first:
        return []
    centers = [[float(x) for x in first[0][vec_col]]]
    for _ in range(seed_rounds):
        far = (
            _nearest_center(vectors, centers, id_col, vec_col, carry_vec=True)
            .orderBy(F.col("__d").desc(), F.col(id_col))
            .limit(n_clusters)
            .select("__v")
            .collect()  # k vectors — one TakeOrdered job, no join-back
        )
        centers += [[float(x) for x in r["__v"]] for r in far]
    cents = _farthest_first(centers, n_clusters)
    # pad degenerate inputs (fewer distinct points than clusters): repeat
    # the first center so downstream cid indexing stays dense
    while len(cents) < n_clusters and cents:
        cents.append(list(cents[0]))
    for _ in range(lloyd_iters):
        new = _lloyd_step(vectors, cents, vec_col, id_col)
        shift = max(
            abs(a - b) for c0, c1 in zip(cents, new) for a, b in zip(c0, c1)
        )
        cents = new
        if shift < tol:
            break
    return cents


def knn_ivf(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    n_clusters: int = 8,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: score only candidates in the query's ``n_probe`` nearest
    clusters.

    The candidate side gains a ``cid`` column (one codegen'd projection —
    persist it with the table in production so the index is built once);
    the probe is then a broadcast equi-join on ``cid``: cost tracks
    cluster occupancy (~n_probe·N/n_clusters per query), never N.
    ``n_probe > 1`` recovers boundary queries (the main IVF recall loss)
    by exploding the query side — clusters are disjoint so no pair dedup
    is needed.

    Pass a prebuilt ``centroids`` codebook (``ivf_centroids`` over the
    same candidate relation) to skip the build — the build-once /
    query-many path, and how callers share one codebook across
    ``n_probe`` settings.
    """
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(candidates, n_clusters, id_col, vec_col)
    )
    dim = len(cents[0]) if cents else None
    if {"neighbor_id", "__cv", "__cn", "__cid"}.issubset(candidates.columns):
        # prebuilt assignment table (prepare_ivf_candidates with the SAME
        # codebook — the caller owns that contract)
        c = candidates.select("neighbor_id", "__cv", "__cn", "__cid")
    else:
        c = candidates.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            norm(vec_col, dim).alias("__cn"),
            assign_ivf_cluster(F.col(vec_col), cents).alias("__cid"),
        )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(vec_col, dim).alias("__qn"),
        F.explode(
            assign_ivf_clusters(F.col(vec_col), cents, n_probe)
        ).alias("__cid"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "__cid")
        .select(
            "query_id",
            "neighbor_id",
            # dim is known from the codebook → unrolled codegen dot; the
            # per-side norms keep the pair expression at one dot
            (
                dot("__qv", "__cv", dim)
                / (F.col("__qn") * F.col("__cn"))
            ).alias("__sim"),
        )
    )
    return topk_by_sim(scored, k)


def _unit(df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str) -> DataFrame:
    """id + L2-normalized double vector. The norm is bound as its own
    column before the per-element division — inlining the aggregate into
    the transform() lambda would re-run it per element (HOFs are
    interpreted, no CSE)."""
    return (
        df.select(F.col(id_col).alias(out_id), _as_double(F.col(vec_col)).alias("__v"))
        .withColumn(
            "__n", F.sqrt(F.aggregate(F.col("__v"), F.lit(0.0), lambda a, v: a + v * v))
        )
        .select(out_id, F.transform("__v", lambda x: x / F.col("__n")).alias(out_vec))
    )


def _pq_codebooks_local(
    ids: list, vecs: list[list[float]], m: int, ksub: int
) -> list[list[list[float]]]:
    """Driver-side numpy twin of ``pq_codebooks`` (same gate rationale
    as ``_ivf_centroids_local``): ksub lowest-id seeds per subspace, one
    refine step — argmin with the same left-to-right multiply fold and
    lower-cid ties, float64 means (the distributed ``F.avg`` is plain
    double arithmetic, so the twin is exact wherever the sums are —
    pinned on integer-valued data by the both-paths test). ``ids``/
    ``vecs`` must be id-sorted."""
    import numpy as np

    X = np.asarray(vecs, dtype=np.float64)
    n, dim = X.shape
    dsub = dim // m
    books = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        seeds = [list(map(float, row[j * dsub : (j + 1) * dsub])) for row in X[:ksub]]
        dists = np.column_stack(
            [
                sum(
                    (S[:, i] - c[i]) * (S[:, i] - c[i])
                    for i in range(dsub)
                )
                for c in seeds
            ]
        )
        asg = np.argmin(dists, axis=1)  # first min = lower cid, as array_min
        book = [list(s) for s in seeds]  # empty clusters keep their seed
        for cid in sorted(set(asg.tolist())):
            sub = S[asg == cid]
            book[cid] = [float(sub[:, i].sum() / len(sub)) for i in range(dsub)]
        books.append(book)
    return books


def pq_codebooks(
    vectors: DataFrame,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "auto",
    local_max_bytes: int = 64 << 20,
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: the d dims split into
    ``m`` contiguous subspaces; each subspace gets a ``ksub``-centroid
    codebook (lowest-id seeds + one Lloyd step, the IVF recipe per
    subspace). TWO jobs total regardless of m: one seed collect, then one
    exploded (subspace, cluster) groupBy computing every refined mean —
    not 2m sequential jobs. Only m × ksub × (d/m) floats reach the
    driver.

    Same ``mode="auto"`` small-input gate as ``ivf_centroids``: under
    ``local_max_bytes`` of plan-size estimate, collect and train the
    numpy twin on the driver (codebooks are driver-sized either way)."""
    if mode not in ("auto", "local", "distributed"):
        raise ValueError(f"mode must be auto|local|distributed: {mode!r}")
    if mode == "auto":
        from knightshift_spark.plans.partitioning import plan_size_bytes

        est = plan_size_bytes(vectors)
        mode = (
            "local" if est is not None and est <= local_max_bytes else "distributed"
        )
    if mode == "local":
        rows = vectors.select(id_col, vec_col).collect()
        pairs = sorted(
            ((r[0], [float(x) for x in r[1]]) for r in rows),
            key=lambda t: t[0],
        )
        return _pq_codebooks_local(
            [p[0] for p in pairs], [p[1] for p in pairs], m, ksub
        )
    first = vectors.orderBy(id_col).limit(ksub).collect()
    dim = len(first[0][vec_col])
    dsub = dim // m
    seeds = [
        [[float(x) for x in r[vec_col][j * dsub : (j + 1) * dsub]] for r in first]
        for j in range(m)
    ]
    vec = _as_double(F.col(vec_col))
    subs = vectors.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _argmin_code(
                            F.slice(vec, j * dsub + 1, dsub), seeds[j]
                        ).alias("cid"),
                        F.slice(vec, j * dsub + 1, dsub).alias("v"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s")
    ).select("s.j", "s.cid", "s.v")
    means = (
        subs.groupBy("j", "cid")
        .agg(*[F.avg(F.element_at("v", i + 1)).alias(f"m{i}") for i in range(dsub)])
        .collect()
    )
    books = [list(s) for s in seeds]  # empty clusters keep their seed
    for r in means:
        books[r["j"]][r["cid"]] = [r[f"m{i}"] for i in range(dsub)]
    return books


def _argmin_code(vec_sub: Column, book: list[list[float]]) -> Column:
    """Nearest-centroid index of a sub-vector against one flattened
    codebook literal. The codebook appears ONCE as a flat array and the
    per-centroid distance is a transform() over centroid indices — ~10×
    fewer expression nodes than unrolling ksub separate fold expressions,
    which keeps plan compile time flat as ksub grows. Ties break on the
    lower centroid id (struct comparison: distance first, then cid)."""
    ksub, dsub = len(book), len(book[0])
    flat = F.array(*[F.lit(float(x)) for cent in book for x in cent])
    dists = F.transform(
        F.sequence(F.lit(0), F.lit(ksub - 1)),
        lambda cid: F.struct(
            F.aggregate(
                F.zip_with(
                    vec_sub,
                    F.slice(flat, cid * dsub + 1, dsub),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("d"),
            cid.alias("cid"),
        ),
    )
    return F.array_min(dists)["cid"]


def pq_encode(vec: Column, books: list[list[list[float]]]) -> Column:
    """m-byte PQ code: per subspace, the nearest sub-centroid id — one
    codegen'd expression, no join, no Python. The encoded table stores m
    small ints instead of d floats (the compression that lets a 100 TB
    embedding corpus fit hot storage)."""
    dsub = len(books[0][0])
    return F.array(
        *[
            _argmin_code(F.slice(vec, j * dsub + 1, dsub), books[j])
            for j in range(len(books))
        ]
    )


def knn_pq(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ ANN with asymmetric distance (ADC): candidates are scored from
    their m-code representation only — the raw vectors never leave the
    codebook-build step.

    Both sides are L2-normalized first, so ADC squared-L2 ranks like
    cosine (monotone: ||q−c||² = 2−2·cos on unit vectors) and recall is
    comparable against the cosine brute-force truth. Per candidate the
    distance is Σ_j sqL2(q_sub_j, codebook_j[code_j]) — a literal-array
    lookup plus a short fold, all codegen. PQ's win is compression, not
    pruning: it scans every code but reads m ints instead of d floats;
    compose with IVF bucketing (IVF-PQ) when pruning is also needed.
    Output: (query_id, neighbor_id, adc_dist, rank), ascending distance.

    Two honest costs: (1) the codebook folds into the plan as literals —
    scan-only with zero shuffle at 100 TB, but each distinct (m, ksub)
    pays a multi-second codegen compile, so at demo scale compile time
    dominates (which is why the declared q59 harness runs LSH/IVF only
    and the PQ variants live in pytest's full sweep,
    ``test_ann_recall_full_sweep``); (2) uniform-random embeddings are
    PQ's worst case (no cluster structure → quantization error
    dominates), so recall on such data sits well below LSH/IVF at equal
    cost; saturation behavior (codebook ≥ distinct sub-vectors → exact)
    is pinned by ``test_knn_pq_exact_when_codebook_saturates``.
    """
    cu = _unit(candidates, id_col, vec_col, "neighbor_id", "__cv")
    qu = _unit(queries, id_col, vec_col, "query_id", "__qv")
    if books is None:
        books = pq_codebooks(cu, m=m, ksub=ksub, id_col="neighbor_id", vec_col="__cv")
    dsub = len(books[0][0])
    # compressed candidate relation: id + m-code, nothing else
    c = cu.select("neighbor_id", pq_encode(F.col("__cv"), books).alias("__code"))
    dist = None
    for j in range(len(books)):
        bookj = F.array(
            *[F.array(*[F.lit(float(x)) for x in cent]) for cent in books[j]]
        )
        cent = F.element_at(bookj, F.element_at(F.col("__code"), j + 1) + 1)
        term = _sq_l2(F.slice(F.col("__qv"), j * dsub + 1, dsub), cent)
        dist = term if dist is None else dist + term
    scored = (
        F.broadcast(qu)
        .crossJoin(c)
        .select("query_id", "neighbor_id", dist.alias("__d"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("__d").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("__d", 4).alias("adc_dist"), "rank")
    )


def _np_subspace_kmeans(Y, m: int, ksub: int, iters: int = 3):
    """Deterministic per-subspace k-means on a driver-side sample (numpy):
    lowest-row seeds + ``iters`` Lloyd steps, ties to the lower centroid
    id (np.argmin picks the first minimum), empty clusters keep their
    center — the numpy twin of the ``pq_codebooks`` recipe. Returns
    (books, codes): books[j] is (ksub, dsub), codes is (n, m) ints."""
    import numpy as np

    n, d = Y.shape
    dsub = d // m
    books, codes = [], np.zeros((n, m), dtype=np.int64)
    for j in range(m):
        S = Y[:, j * dsub : (j + 1) * dsub]
        cent = S[:ksub].copy()
        if len(cent) < ksub:  # tiny sample: pad by repeating the first row
            cent = np.vstack([cent, np.repeat(cent[:1], ksub - len(cent), axis=0)])
        for _ in range(iters):
            d2 = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            asg = np.argmin(d2, axis=1)
            for c in range(ksub):
                if (asg == c).any():
                    cent[c] = S[asg == c].mean(axis=0)
        d2 = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = np.argmin(d2, axis=1)
        books.append(cent)
    return books, codes


def opq_train(
    vectors: DataFrame,
    m: int = 4,
    ksub: int = 8,
    iters: int = 5,
    sample: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """OPQ: learn an orthogonal rotation R that aligns the data with PQ's
    axis-aligned subspace split before quantizing (Ge et al., CVPR 2013 —
    public method, as in FAISS's OPQMatrix). Plain PQ quantizes fixed
    contiguous dims; when variance/correlation straddles subspace
    boundaries its error is needlessly high. OPQ alternates:

      1. quantize the rotated sample (per-subspace k-means),
      2. solve the orthogonal Procrustes problem R = argmin ‖XR − X̂‖
         via SVD of Xᵀ X̂,

    which monotonically reduces reconstruction error.

    Scale shape: training runs DRIVER-SIDE on a bounded deterministic
    sample (the ``sample`` lowest-id normalized vectors — d×d rotation
    and m codebooks need only thousands of rows; FAISS trains on samples
    too), so cost is independent of corpus size; applying R to the
    corpus is the distributed part (``rotate_vectors``). Returns
    (R  — d×d, row-major —, books in the ROTATED space), pluggable into
    ``knn_pq(books=...)`` after rotating both sides.
    """
    import numpy as np

    if iters < 1:
        raise ValueError(f"opq_train needs iters >= 1, got {iters}")
    rows = (
        _unit(vectors, id_col, vec_col, "__id", "__v")
        .orderBy("__id")
        .limit(sample)
        .collect()
    )
    if not rows:
        raise ValueError("opq_train: vectors relation is empty — nothing to train on")
    X = np.array([r["__v"] for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    R = np.eye(d)
    for _ in range(iters):
        Y = X @ R
        books, codes = _np_subspace_kmeans(Y, m, ksub)
        Yhat = np.hstack([books[j][codes[:, j]] for j in range(m)])
        U, _s, Vt = np.linalg.svd(X.T @ Yhat)
        R = U @ Vt
    # each Procrustes step updates R AFTER the codebook fit, so the loop's
    # last books live in the PREVIOUS rotation's space — refit once on the
    # final R so knn_opq quantizes with matching centroids (FAISS retrains
    # PQ on the final OPQMatrix the same way; ADVICE r5 #1)
    books, _codes = _np_subspace_kmeans(X @ R, m, ksub)
    return [[float(x) for x in row] for row in R], [
        [[float(x) for x in cent] for cent in book] for book in books
    ]


def rotate_vectors(
    df: DataFrame,
    rotation: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Apply a learned d×d rotation to a vector column: (id, rotated).

    Arrow-batched ``mapInPandas`` — a 64×64 matmul per row is exactly the
    dense float math that belongs in numpy (a 4096-term SQL expression
    would be interpreted); the whole batch multiplies as ONE (n, d)@(d, d)
    GEMM. Rotation is orthogonal, so unit vectors stay unit and ADC
    distances in the rotated space equal distances in the original.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    R = np.array(rotation, dtype=np.float64)
    d = len(R)
    src = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__v"))
    # id type follows the input (string/int/... ids all work, like every
    # other similarity operator); only the vector column is retyped
    out_schema = T.StructType(
        [
            src.schema[id_col],
            T.StructField(vec_col, T.ArrayType(T.DoubleType()), True),
        ]
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vals = pdf["__v"]
            ok = vals.map(lambda v: v is not None and len(v) == d)
            rotated = pd.Series([None] * len(pdf), dtype=object)
            if ok.any():
                X = np.stack(list(vals[ok]))
                rotated[np.flatnonzero(ok.to_numpy())] = list(X @ R)
            # NULL / wrong-length vectors pass through as NULL — the same
            # tolerance the pure-SQL knn paths have
            yield pd.DataFrame({id_col: pdf[id_col], vec_col: rotated})

    return src.mapInPandas(run, schema=out_schema)


def knn_opq(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained: tuple[list[list[float]], list[list[list[float]]]] | None = None,
) -> DataFrame:
    """OPQ ANN: rotate both sides with the learned R, then PQ/ADC in the
    rotated space using the codebooks trained there. Same output contract
    as ``knn_pq``; pass ``trained`` (from ``opq_train`` on the same
    candidate relation) to reuse a rotation across query batches."""
    if trained is None:
        trained = opq_train(candidates, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col)
    R, books = trained
    cu = _unit(candidates, id_col, vec_col, id_col, vec_col)
    qu = _unit(queries, id_col, vec_col, id_col, vec_col)
    cr = rotate_vectors(cu, R, id_col, vec_col)
    qr = rotate_vectors(qu, R, id_col, vec_col)
    return knn_pq(qr, cr, k=k, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col, books=books)


def knn_ivfpq_opq(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    n_clusters: int = 4,
    n_probe: int = 2,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """OPQ-rotated IVF-PQ: learn R on the candidates, rotate BOTH sides,
    then run the standard IVF-PQ path in the rotated space. An orthogonal
    rotation preserves every L2 distance, so coarse assignment, residuals
    and ADC are the same geometry — only PQ's subspace SPLIT sees a
    different (better-aligned) basis, which is where OPQ's accuracy gain
    lives. With ``rotation`` = identity this is exactly ``knn_ivfpq``
    (pinned by test). Pass a pre-trained ``rotation`` to amortize
    training across query batches."""
    if rotation is None:
        rotation, _books = opq_train(
            candidates, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col
        )
    qr = rotate_vectors(queries, rotation, id_col, vec_col)
    cr = rotate_vectors(candidates, rotation, id_col, vec_col)
    return knn_ivfpq(
        qr, cr, k=k, n_clusters=n_clusters, n_probe=n_probe, m=m, ksub=ksub,
        id_col=id_col, vec_col=vec_col,
    )


def knn_ivfpq(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    n_clusters: int = 4,
    n_probe: int = 2,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, list[list[float]], list[list[list[float]]]] | None = None,
) -> DataFrame:
    """IVF-PQ: coarse-quantizer pruning + residual PQ scoring — the
    canonical billion-scale ANN layout (IVF supplies the candidate
    pruning PQ lacks; PQ supplies the compression IVF lacks).

    Index side: each normalized vector gets its nearest coarse centroid
    ``cid`` and an m-code PQ encoding of its RESIDUAL (v − centroid) —
    residuals are what PQ textbooks quantize, because their spread is far
    smaller than the vectors'. The stored relation is (id, cid, code):
    a few bytes per vector. Query side: probe the ``n_probe`` nearest
    coarse cells; within a cell, ADC distance on the query's residual
    approximates ‖q − c‖² exactly because both sides subtract the SAME
    centroid. Plan shape: broadcast query probes equi-joined on ``cid``,
    distance folded in codegen, per-query top-k — cost tracks cell
    occupancy × n_probe, I/O tracks the code width, never d floats.
    Pass a prebuilt ``index`` (from ``build_ivfpq_index`` over the same
    candidate relation) to skip the index build — the in-session
    counterpart of ``write_ann_index``/``query_ann_index``.
    """
    qu = _unit(queries, id_col, vec_col, "query_id", "__qv")
    if index is None:
        cu = _unit(candidates, id_col, vec_col, "neighbor_id", "__cv")
        index = _ivfpq_index(cu, n_clusters, m, ksub)
    c, coarse, books = index
    return _ivfpq_topk(qu, c, coarse, books, k, n_probe)


def build_ivfpq_index(
    candidates: DataFrame,
    n_clusters: int = 4,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]]]:
    """Build the IVF-PQ index in-session: the (neighbor_id, cid, code)
    relation plus (coarse, PQ) codebooks, reusable across ``knn_ivfpq``
    calls and ``n_probe``/``k`` settings without re-quantizing."""
    cu = _unit(candidates, id_col, vec_col, "neighbor_id", "__cv")
    return _ivfpq_index(cu, n_clusters, m, ksub)


def _residual(vec: Column, cid: Column, coarse: list[list[float]]) -> Column:
    coarse_lit = F.array(*[F.array(*[F.lit(float(x)) for x in cent]) for cent in coarse])
    return F.zip_with(vec, F.element_at(coarse_lit, cid + 1), lambda x, c: x - c)


def _ivfpq_index(
    cu: DataFrame, n_clusters: int, m: int, ksub: int
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]]]:
    """Index side of IVF-PQ over a normalized (neighbor_id, __cv) relation:
    returns the (neighbor_id, cid, code) relation plus the coarse/PQ
    codebooks the query side needs."""
    coarse = ivf_centroids(cu, n_clusters, "neighbor_id", "__cv")
    c_res = cu.select(
        "neighbor_id",
        "__cv",
        assign_ivf_cluster(F.col("__cv"), coarse).alias("cid"),
    ).select(
        "neighbor_id", "cid", _residual(F.col("__cv"), F.col("cid"), coarse).alias("__rv")
    )
    books = pq_codebooks(c_res, m=m, ksub=ksub, id_col="neighbor_id", vec_col="__rv")
    c = c_res.select("neighbor_id", "cid", pq_encode(F.col("__rv"), books).alias("code"))
    return c, coarse, books


def _ivfpq_topk(
    qu: DataFrame,
    c: DataFrame,
    coarse: list[list[float]],
    books: list[list[list[float]]],
    k: int,
    n_probe: int,
) -> DataFrame:
    """Query side of IVF-PQ: probe n_probe coarse cells, ADC-score the
    probed codes, per-query top-k."""
    dsub = len(books[0][0])
    q = qu.select(
        "query_id",
        F.col("__qv"),
        F.explode(assign_ivf_clusters(F.col("__qv"), coarse, n_probe)).alias("cid"),
    ).select(
        "query_id", "cid", _residual(F.col("__qv"), F.col("cid"), coarse).alias("__qr")
    )
    dist = None
    for j in range(len(books)):
        bookj = F.array(
            *[F.array(*[F.lit(float(x)) for x in cent]) for cent in books[j]]
        )
        cent = F.element_at(bookj, F.element_at(F.col("code"), j + 1) + 1)
        term = _sq_l2(F.slice(F.col("__qr"), j * dsub + 1, dsub), cent)
        dist = term if dist is None else dist + term
    scored = (
        F.broadcast(q)
        .join(c, "cid")
        .select("query_id", "neighbor_id", dist.alias("__d"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("__d").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("__d", 4).alias("adc_dist"), "rank")
    )


def _encode_with(
    cu: DataFrame, coarse: list[list[float]], books: list[list[list[float]]]
) -> DataFrame:
    """(neighbor_id, cid, code, __rv) for a normalized (neighbor_id, __cv)
    relation under FIXED codebooks — the shared encode step of the index
    build and the incremental append (broadcast codebooks, narrow
    projections, no shuffle)."""
    c_res = cu.select(
        "neighbor_id",
        assign_ivf_cluster(F.col("__cv"), coarse).alias("cid"),
        "__cv",
    ).select(
        "neighbor_id", "cid", _residual(F.col("__cv"), F.col("cid"), coarse).alias("__rv")
    )
    return c_res.select(
        "neighbor_id", "cid", pq_encode(F.col("__rv"), books).alias("code"), "__rv"
    )


def _pq_reconstruction(books: list[list[list[float]]]) -> Column:
    """The decoded PQ vector of ``code``: per-subspace codebook rows
    concatenated back to full residual dimension."""
    parts = []
    for j, book in enumerate(books):
        bookj = F.array(*[F.array(*[F.lit(float(x)) for x in cent]) for cent in book])
        parts.append(F.element_at(bookj, F.element_at(F.col("code"), j + 1) + 1))
    return F.concat(*parts)


def _codes_dir(path: str) -> str:
    """The LIVE codes tree of a persisted ANN index. The index is
    versioned: codes live under ``codes-<uuid>/`` and a tiny
    ``CURRENT`` pointer file names the live one — a rebuild stages its
    whole tree, then retargets the pointer with ONE atomic
    ``os.replace`` (ADVICE r10: the previous rename-pair left a window
    where no codes directory existed and concurrent readers failed).
    An index without the pointer raises ``FileNotFoundError``."""
    import os

    with open(os.path.join(path, "CURRENT")) as f:
        return os.path.join(path, f.read().strip())


def _read_index_sidecar(path: str, codes_root: str | None = None) -> dict:
    """The index sidecar ``<codes>/_codebooks.json`` — versioned with
    the codes. Callers that also read the codes MUST resolve
    ``_codes_dir`` ONCE and pass it here — resolving twice races a
    concurrent rebuild's pointer flip and pairs one version's
    codebooks with the other's codes (r11 review)."""
    import json
    import os

    with open(os.path.join(codes_root or _codes_dir(path), "_codebooks.json")) as f:
        return json.load(f)


def write_ann_index(
    candidates: DataFrame,
    path: str,
    n_clusters: int = 4,
    n_probe_default: int = 2,
    m: int = 4,
    ksub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF-PQ index: the (id, cid, code) relation as parquet
    PARTITIONED BY (__batch, cid), plus a JSON sidecar with the codebooks
    and parameters. Build once, query many — the raw embedding column is
    not needed at query time, and the cid partitioning means a probe
    touches only its cells' files (partition pruning on the index scan).
    The extra ``__batch`` partition level is the incremental-append seam
    (``append_ann_index``): each append lands in its own directory, so
    replays overwrite themselves instead of duplicating codes.

    The sidecar also records the build-time mean PQ reconstruction error
    (``quant_error_base``) — the yardstick ``append_ann_index`` compares
    each new batch against to signal codebook staleness.

    A REBUILD (write over an existing path) is STAGED and VERSIONED
    (ADVICE r9 + r10): the new codes land under a fresh
    ``codes-<uuid>/`` tree while the old index keeps serving, and the
    swap is ONE atomic ``os.replace`` of the tiny ``CURRENT`` pointer
    file — zero-downtime reads, no window where no codes directory
    exists (the r10 rename-pair had one). The sidecar's CANONICAL copy
    lives INSIDE the codes tree (``_codebooks.json`` — the ``_`` prefix
    makes Spark's parquet discovery ignore it), so codes and codebooks
    version together and can never be observed mismatched. A crash
    anywhere before the pointer flip leaves the OLD index serving and
    the staged tree as litter (swept on the next rebuild); a crash
    after it leaves the new index serving and the old tree as litter.
    Old-codebook append batches are cleared in the swap because they
    would ADC-decode garbage against the new sidecar."""
    import json
    import os
    import shutil
    import uuid as _uuid

    os.makedirs(path, exist_ok=True)
    live = (
        _codes_dir(path) if os.path.isfile(os.path.join(path, "CURRENT")) else None
    )
    # sweep litter: any versioned codes tree the pointer does not name
    # (crashed-rebuild staging trees, trees an earlier rebuild retired;
    # readers only follow the pointer; concurrent rebuilds are not
    # supported)
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if d.startswith("codes-") and full != live:
            shutil.rmtree(full, ignore_errors=True)
    stage = os.path.join(path, f"codes-{_uuid.uuid4().hex}")
    cu = _unit(candidates, id_col, vec_col, "neighbor_id", "__cv")
    coarse = ivf_centroids(cu, n_clusters, "neighbor_id", "__cv")
    books = pq_codebooks(
        cu.select(
            "neighbor_id",
            assign_ivf_cluster(F.col("__cv"), coarse).alias("cid"),
            "__cv",
        ).select(
            "neighbor_id",
            _residual(F.col("__cv"), F.col("cid"), coarse).alias("__rv"),
        ),
        m=m,
        ksub=ksub,
        id_col="neighbor_id",
        vec_col="__rv",
    )
    enc = _encode_with(cu, coarse, books)
    # the error aggregate rides the write job as an observe() accumulator
    from pyspark.sql import Observation

    obs = Observation()
    try:
        enc.observe(
            obs, F.avg(_sq_l2(F.col("__rv"), _pq_reconstruction(books))).alias("e")
        ).select("neighbor_id", "cid", "code").write.mode("overwrite").partitionBy(
            "cid"
        ).parquet(os.path.join(stage, "__batch=__base__"))
        base_err = obs.get["e"]
        meta = {
            "coarse": coarse,
            "books": books,
            "m": m,
            "ksub": ksub,
            "n_clusters": n_clusters,
            "n_probe_default": n_probe_default,
            "quant_error_base": None if base_err is None else float(base_err),
        }
        # canonical sidecar INSIDE the staged codes tree: it versions
        # with the codes (Spark ignores _-prefixed files)
        with open(os.path.join(stage, "_codebooks.json"), "w") as f:
            json.dump(meta, f)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    # the build succeeded — flip the pointer. ONE atomic replace makes
    # the staged tree (codes + sidecar together) the live index; a
    # reader holds whichever tree its pointer read named, so there is
    # no moment with no codes directory (ADVICE r10).
    tmp_ptr = os.path.join(path, f".current-{_uuid.uuid4().hex}")
    with open(tmp_ptr, "w") as f:
        f.write(os.path.basename(stage))
    os.replace(tmp_ptr, os.path.join(path, "CURRENT"))
    shutil.rmtree(os.path.join(path, "_batches"), ignore_errors=True)
    # the previously live tree is NOT deleted here: an in-flight reader
    # that resolved the pointer before the flip may still be scanning
    # it. It becomes unreferenced litter the NEXT rebuild's sweep
    # removes — bounded at one stale tree per index.


def append_ann_index(
    new_vectors: DataFrame,
    path: str,
    batch_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incrementally add vectors to a persisted IVF-PQ index WITHOUT
    retraining (the FAISS ``add`` pattern): encode the batch with the
    index's frozen codebooks — broadcast centroids + narrow projections,
    no shuffle, no reread of history — and land its codes under
    ``codes-<uuid>/__batch=<batch_id>/``. Replaying a batch id
    OVERWRITES its own directory, so at-least-once upstream delivery yields
    exactly-once index contents (the same per-batch-directory rule as
    the corpus sinks).

    Returns ``{rows, quant_error, quant_error_base, drift_ratio}``.
    ``drift_ratio`` is the batch's mean PQ reconstruction error over the
    build-time base error: frozen codebooks quantize a drifted embedding
    distribution badly, so a sustained ratio well above 1 is the retrain
    signal (rebuild with ``write_ann_index``); in-distribution appends
    sit near 1. At 100 TB the append is the only per-batch cost — the
    O(corpus) retrain runs on the drift signal, not on a schedule."""
    import json
    import os
    import re

    if not re.fullmatch(r"[A-Za-z0-9_.-]+", batch_id) or batch_id == "__base__":
        raise ValueError(
            f"batch_id must be filesystem-safe ([A-Za-z0-9_.-]+, not "
            f"'__base__'): {batch_id!r}"
        )
    # ONE pointer resolution for sidecar + write: resolving again for
    # the write would race a concurrent rebuild's flip (r11 review)
    codes_root = _codes_dir(path)
    meta = _read_index_sidecar(path, codes_root)
    cu = _unit(new_vectors, id_col, vec_col, "neighbor_id", "__cv")
    enc = _encode_with(cu, meta["coarse"], meta["books"])
    from pyspark.sql import Observation

    obs = Observation()
    enc.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.avg(_sq_l2(F.col("__rv"), _pq_reconstruction(meta["books"]))).alias("e"),
    ).select("neighbor_id", "cid", "code").write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(os.path.join(codes_root, f"__batch={batch_id}"))
    got = obs.get
    err = None if got["e"] is None else float(got["e"])
    base = meta.get("quant_error_base")
    report = {
        "rows": int(got["n"]),
        "quant_error": err,
        "quant_error_base": base,
        "drift_ratio": (
            round(err / base, 4) if err is not None and base else None
        ),
    }
    audit_dir = os.path.join(path, "_batches")
    os.makedirs(audit_dir, exist_ok=True)
    with open(os.path.join(audit_dir, f"{batch_id}.json"), "w") as f:
        json.dump(report, f)
    return report


def maintain_ann_index(
    vectors: DataFrame,
    path: str,
    max_drift: float = 1.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Drift-triggered retrain policy for a persisted IVF-PQ index
    (r12, VERDICT item 3) — the maintenance loop that decides WHEN the
    O(corpus) rebuild runs, so it runs on evidence, never on a schedule.

    Reads the per-batch audit reports ``append_ann_index`` left under
    ``_batches/`` (each carries the batch's mean PQ reconstruction
    error over the build-time base, ``drift_ratio``) and folds them
    into ONE row-weighted mean drift — driver-side JSON only, no Spark
    job. If that drift exceeds ``max_drift``, the index is rebuilt
    from ``vectors`` (the CURRENT full corpus — codes are lossy, so
    retraining must see real vectors, which is why the caller supplies
    them) with the SAME hyperparameters read from the live sidecar,
    through ``write_ann_index``'s staged ``codes-<uuid>/`` tree and
    atomic ``CURRENT`` pointer swap — readers never see a half-built
    index. The swap clears ``_batches/``, so the decision resets: a
    second maintenance call right after a rebuild sees no appended
    batches and does nothing (exactly one rebuild per drift episode).
    In-distribution appends sit near ratio 1 and never trigger.

    Returns ``{drift, max_drift, batches, appended_rows, rebuilt}``;
    ``drift`` is None when nothing has been appended since the build."""
    import json
    import os

    audit_dir = os.path.join(path, "_batches")
    reports = []
    if os.path.isdir(audit_dir):
        for name in sorted(os.listdir(audit_dir)):
            if not name.endswith(".json"):
                continue
            try:
                with open(os.path.join(audit_dir, name)) as f:
                    reports.append(json.load(f))
            except (OSError, ValueError):
                continue  # torn write from a crashed append: not evidence
    weighted = [
        (int(r.get("rows") or 0), float(r["drift_ratio"]))
        for r in reports
        if r.get("drift_ratio") is not None and (r.get("rows") or 0) > 0
    ]
    rows = sum(n for n, _ in weighted)
    drift = (
        round(sum(n * d for n, d in weighted) / rows, 4) if rows else None
    )
    out = {
        "drift": drift,
        "max_drift": float(max_drift),
        "batches": len(weighted),
        "appended_rows": rows,
        "rebuilt": False,
    }
    if drift is None or drift <= max_drift:
        return out
    meta = _read_index_sidecar(path)
    write_ann_index(
        vectors,
        path,
        n_clusters=int(meta["n_clusters"]),
        n_probe_default=int(meta["n_probe_default"]),
        m=int(meta["m"]),
        ksub=int(meta["ksub"]),
        id_col=id_col,
        vec_col=vec_col,
    )
    out["rebuilt"] = True
    return out


def query_ann_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a persisted IVF-PQ index (``write_ann_index``).
    Only the probed cid partitions of the code relation are read."""
    import json
    import os

    codes_root = _codes_dir(path)  # ONE resolution: sidecar + codes must
    # come from the SAME version even if a rebuild flips the pointer now
    meta = _read_index_sidecar(path, codes_root)
    codes = spark.read.parquet(codes_root)
    qu = _unit(queries, id_col, vec_col, "query_id", "__qv")
    return _ivfpq_topk(
        qu,
        codes,
        meta["coarse"],
        meta["books"],
        k,
        n_probe if n_probe is not None else meta["n_probe_default"],
    )


def prepare_lsh_candidates(
    candidates: DataFrame,
    bits: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The candidate side of ``knn_lsh`` as a standalone relation:
    (neighbor_id, __cv, __sk). Build it once, persist (or write) it, and
    pass it to any number of ``knn_lsh`` calls with the same bits/dim —
    the sketch projection (bits×dim codegen terms) then runs once instead
    of once per probe setting. This is the in-memory twin of persisting
    the sketch column with the table at 100 TB. Carries the vector norm
    too, so pair scoring evaluates one unrolled dot, not three."""
    return candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        norm(vec_col, dim).alias("__cn"),
        srp_sketch(F.col(vec_col), bits, dim).alias("__sk"),
    )


def prepare_ivf_candidates(
    candidates: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The candidate side of ``knn_ivf`` as a standalone relation:
    (neighbor_id, __cv, __cn, __cid). Shareable across ``n_probe``
    settings the same way ``prepare_lsh_candidates`` shares the sketch
    table."""
    dim = len(centroids[0]) if centroids else None
    return candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        norm(vec_col, dim).alias("__cn"),
        assign_ivf_cluster(F.col(vec_col), centroids).alias("__cid"),
    )


def knn_lsh(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    bits: int = 8,
    dim: int = 64,
    hamming_probe: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed ANN: score only candidates whose SRP sketch matches the
    query's. Recall < 1.0 by design; the scale win is that the candidate
    join is equi on the sketch (shuffle O(N) once, reusable across query
    batches if the sketch column is persisted with the table).

    ``hamming_probe=1`` additionally probes every bucket at Hamming
    distance 1 from the query's sketch (bits+1 probes per query): a
    vector that flipped one hyperplane sign — the dominant SRP recall
    loss for near-boundary queries — is recovered at (bits+1)× the probe
    cost, still bucket-local. Probe sketches are distinct, so each
    candidate pairs at most once (no dedup needed).
    """
    probes = srp_probe_array(F.col(vec_col), bits, dim, hamming_probe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(vec_col, dim).alias("__qn"),
        F.explode(probes).alias("__sk"),
    )
    if {"neighbor_id", "__cv", "__cn", "__sk"}.issubset(candidates.columns):
        # prebuilt sketch table (prepare_lsh_candidates with the SAME
        # bits/dim — the caller owns that contract)
        c = candidates.select("neighbor_id", "__cv", "__cn", "__sk")
    else:
        c = candidates.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            norm(vec_col, dim).alias("__cn"),
            srp_sketch(F.col(vec_col), bits, dim).alias("__sk"),
        )
    scored = (
        F.broadcast(q)
        .join(c, "__sk")
        .select(
            "query_id",
            "neighbor_id",
            # per-side norms (same doubles, same order → bit-identical to
            # the inline cosine) keep the pair expression at one dot
            (
                dot("__qv", "__cv", dim)
                / (F.col("__qn") * F.col("__cn"))
            ).alias("__sim"),
        )
    )
    return topk_by_sim(scored, k)


def neardup_pairs_lsh(
    vectors: DataFrame,
    threshold: float = 0.9,
    bits: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate PAIRS at scale: SRP-bucket equi-join →
    exact cosine rescore → keep pairs ≥ ``threshold``.

    The all-pairs broadcast form (q34's oracle baseline) is quadratic in
    the corpus; this materializes only same-bucket pairs — candidate
    volume ∝ bucket occupancy (N²/2^bits expected under uniform spread),
    the same shape as the banded-MinHash text path. Recall < 1.0 by
    design: a near-dup pair straddling one hyperplane lands in different
    buckets; raise recall with fewer ``bits`` (bigger buckets) exactly
    like LSH band-width tuning. High thresholds are the sweet spot —
    vectors at cosine ≥ t collide on one hyperplane with probability
    arccos(t)/π per bit (≈ 0.14 per bit at t = 0.9), so duplicates
    nearly always share all ``bits`` signs.

    ``max_bucket`` bounds bucket expansion the same way as
    ``dedup.lsh_candidate_pairs``: the corpus this operator targets is
    duplicate-heavy, so one bucket can hold a 1M-copy cluster and
    all-pairs-within-bucket is quadratic in it. Buckets above the cap
    switch to STAR pairing against the bucket representative (min id) —
    linear per bucket, cluster stays connected through the rep under
    transitive closure; buckets at/below the cap keep exact all-pairs,
    so a cap above every bucket's occupancy is output-identical.

    Output: (id_a, id_b, sim) with id_a < id_b, sim rounded to 4.
    """
    if max_bucket is not None and max_bucket < 1:
        raise ValueError(f"max_bucket must be >= 1, got {max_bucket}")
    sk = srp_sketch(F.col(vec_col), bits=bits, dim=dim)
    a = vectors.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), sk.alias("__sk")
    )
    b = vectors.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), sk.alias("__sk")
    )
    if max_bucket is None:
        cand = a.join(b, "__sk").filter(F.col("id_a") < F.col("id_b"))
    else:
        from knightshift_spark.operators.dedup import annotate_bucket_occupancy

        bs = annotate_bucket_occupancy(b, ["__sk"], "id_b")
        dense = a.join(
            bs.filter(F.col("__n") <= max_bucket).select("__sk", "id_b", "__vb"),
            "__sk",
        ).filter(F.col("id_a") < F.col("id_b"))
        # rep vectors come from the a side: one joined row per star member,
        # keyed (__sk, id_a = rep); rep = min ⇒ id_a < every paired id_b
        star = (
            bs.filter((F.col("__n") > max_bucket) & (F.col("id_b") != F.col("__rep")))
            .select("__sk", "id_b", "__vb", F.col("__rep").alias("id_a"))
            .join(a, ["__sk", "id_a"])
        )
        cand = dense.unionByName(star.select(*dense.columns))
    return (
        cand.select(
            "id_a",
            "id_b",
            F.round(cosine("__va", "__vb", dim), 4).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
