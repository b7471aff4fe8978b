"""Incremental ANN-index append (operators.similarity.append_ann_index).

The persisted IVF-PQ index accepts new vectors WITHOUT retraining —
encoded with the frozen codebooks, landed under a per-batch partition
directory — and each append reports its PQ reconstruction error against
the build-time baseline (the retrain signal). Pins:

- appended vectors are queryable and win top-1 for their own queries;
- encoding equivalence: appended codes are exactly what the sidecar
  codebooks produce (no hidden re-quantization);
- replaying a batch id overwrites itself (exactly-once contents under
  at-least-once delivery);
- in-distribution appends report drift ~1, a shifted distribution
  reports drift >> in-distribution.
"""

import pyspark.sql.functions as F
import pytest

from knightshift_spark.operators.similarity import (
    append_ann_index,
    query_ann_index,
    write_ann_index,
)

EMB = "/root/testdata/sf0.001/embeddings.parquet"


@pytest.fixture()
def index_dir(spark, tmp_path):
    emb = spark.read.parquet(EMB)
    base = emb.filter(F.col("vec_id") >= 20)
    path = str(tmp_path / "ann")
    write_ann_index(base, path, n_clusters=2, n_probe_default=2, m=2, ksub=4)
    return path


def test_appended_vectors_are_queryable_and_exact_for_self(spark, index_dir):
    emb = spark.read.parquet(EMB)
    batch = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
    report = append_ann_index(batch, index_dir, "b1")
    assert report["rows"] == batch.count()
    # query WITH an appended vector: PQ self-distance is the cell minimum
    # for the vector's own code, so it must appear in its top-k
    q = emb.filter(F.col("vec_id") == 12)
    out = query_ann_index(spark, index_dir, q, k=3, n_probe=2).collect()
    assert 12 in {r["neighbor_id"] for r in out}


def test_append_encoding_matches_sidecar_codebooks(spark, index_dir):
    from knightshift_spark.operators.similarity import (
        _encode_with,
        _read_index_sidecar,
        _unit,
    )

    emb = spark.read.parquet(EMB)
    batch = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
    append_ann_index(batch, index_dir, "b1")
    meta = _read_index_sidecar(index_dir)
    expect = {
        (r["neighbor_id"], r["cid"], tuple(r["code"]))
        for r in _encode_with(
            _unit(batch, "vec_id", "embedding", "neighbor_id", "__cv"),
            meta["coarse"],
            meta["books"],
        ).collect()
    }
    from knightshift_spark.operators.similarity import _codes_dir

    stored = spark.read.parquet(_codes_dir(index_dir)).filter(
        F.col("__batch") == "b1"
    )
    got = {
        (r["neighbor_id"], r["cid"], tuple(r["code"])) for r in stored.collect()
    }
    assert got == expect


def test_replayed_batch_overwrites_itself(spark, index_dir):
    import os

    emb = spark.read.parquet(EMB)
    batch = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
    r1 = append_ann_index(batch, index_dir, "b1")
    r2 = append_ann_index(batch, index_dir, "b1")  # at-least-once replay
    assert r1["rows"] == r2["rows"]
    from knightshift_spark.operators.similarity import _codes_dir

    codes = spark.read.parquet(_codes_dir(index_dir))
    n_b1 = codes.filter(F.col("__batch") == "b1").count()
    assert n_b1 == r1["rows"]  # not doubled
    total = codes.count()
    base_n = codes.filter(F.col("__batch") == "__base__").count()
    assert total == base_n + n_b1


def test_drift_signal_separates_shifted_batch(spark, tmp_path):
    """Drift needs QUANTIZABLE data to be visible: the uniform-random
    test embeddings have ~no cluster structure, so PQ explains almost
    nothing even on its own training set (base error ≈ the residual
    energy) and no shift can move the ratio. Real embedding spaces are
    clustered; model that: base vectors sit near 4 prototypes (small
    in-cluster noise — base error small), the shifted batch sits near
    NEW prototypes the frozen codebooks never saw."""
    import numpy as np

    rng = np.random.default_rng(7)
    protos = rng.normal(size=(4, 64))
    protos /= np.linalg.norm(protos, axis=1, keepdims=True)
    new_protos = rng.normal(size=(4, 64))
    new_protos /= np.linalg.norm(new_protos, axis=1, keepdims=True)

    def rows(cents, n, id0):
        out = []
        for i in range(n):
            v = cents[i % len(cents)] + 0.02 * rng.normal(size=64)
            out.append((id0 + i, [float(x) for x in v]))
        return out

    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame(rows(protos, 80, 0), schema)
    in_dist = spark.createDataFrame(rows(protos, 20, 1000), schema)
    shifted = spark.createDataFrame(rows(new_protos, 20, 2000), schema)

    path = str(tmp_path / "ann_clustered")
    write_ann_index(base, path, n_clusters=4, n_probe_default=2, m=2, ksub=4)
    r_in = append_ann_index(in_dist, path, "indist")
    r_out = append_ann_index(shifted, path, "shifted")
    assert r_in["drift_ratio"] is not None and r_out["drift_ratio"] is not None
    # in-distribution stays near the build-time error; the shifted batch
    # quantizes far worse under the frozen codebooks
    assert r_in["drift_ratio"] < 2.0
    assert r_out["drift_ratio"] > 3 * r_in["drift_ratio"]


def test_batch_id_is_validated(spark, index_dir):
    emb = spark.read.parquet(EMB).limit(1)
    with pytest.raises(ValueError):
        append_ann_index(emb, index_dir, "__base__")
    with pytest.raises(ValueError):
        append_ann_index(emb, index_dir, "evil/../path")


def test_rebuild_clears_stale_appends(spark, index_dir, tmp_path):
    """Retrain (write over an existing path) must drop batches encoded
    with the OLD codebooks — stale codes would ADC-decode garbage."""
    import os

    emb = spark.read.parquet(EMB)
    append_ann_index(emb.filter(F.col("vec_id") < 10), index_dir, "old-batch")
    write_ann_index(
        emb.filter(F.col("vec_id") >= 20), index_dir,
        n_clusters=2, n_probe_default=2, m=2, ksub=4,
    )
    from knightshift_spark.operators.similarity import _codes_dir

    codes = spark.read.parquet(_codes_dir(index_dir))
    batches = {r["__batch"] for r in codes.select("__batch").distinct().collect()}
    assert batches == {"__base__"}
    assert not os.path.exists(os.path.join(index_dir, "_batches"))


def test_failed_rebuild_leaves_old_index_intact(spark, index_dir, monkeypatch):
    """ADVICE r9: a rebuild is staged — if it dies anywhere before the
    final swap, the previous codes + sidecar keep serving and no litter
    survives the next successful rebuild."""
    import os

    from knightshift_spark.operators import similarity as sim

    emb = spark.read.parquet(EMB)
    before_meta = sim._read_index_sidecar(index_dir)

    def boom(*a, **k):
        raise RuntimeError("kmeans died")

    monkeypatch.setattr(sim, "pq_codebooks", boom)
    with pytest.raises(RuntimeError):
        write_ann_index(emb, index_dir, n_clusters=2, m=2, ksub=4)
    monkeypatch.undo()

    # old index fully intact: same sidecar, queries still answer
    assert sim._read_index_sidecar(index_dir) == before_meta
    q = emb.filter(F.col("vec_id") == 25)
    out = query_ann_index(spark, index_dir, q, k=3, n_probe=2).collect()
    assert len(out) > 0

    # a later successful rebuild sweeps crash litter (a staged tree a
    # killed rebuild never flipped to) and clears the stale append audit
    append_ann_index(emb.filter(F.col("vec_id") < 10), index_dir, "b9")
    os.makedirs(os.path.join(index_dir, "codes-dead"), exist_ok=True)
    write_ann_index(emb, index_dir, n_clusters=2, m=2, ksub=4)
    from knightshift_spark.operators.similarity import _codes_dir

    def stale():
        live = os.path.basename(_codes_dir(index_dir))
        hard = [
            d for d in os.listdir(index_dir)
            if d in ("codes-dead", "_batches")
        ]
        trees = [
            d for d in os.listdir(index_dir)
            if d.startswith("codes-") and d != live
        ]
        return hard, trees

    hard, trees = stale()
    # crash litter and the stale audit are gone; the PREVIOUS live tree
    # is retained (in-flight readers may still scan it) — bounded at one
    assert hard == [] and len(trees) <= 1
    # ... and it stays bounded: another rebuild sweeps the old one
    write_ann_index(emb, index_dir, n_clusters=2, m=2, ksub=4)
    hard, trees = stale()
    assert hard == [] and len(trees) <= 1
    out2 = query_ann_index(spark, index_dir, q, k=3, n_probe=2).collect()
    assert len(out2) > 0


def test_index_without_pointer_fails_loudly(spark, index_dir):
    """The index is versioned behind its CURRENT pointer, and the
    sidecar lives only inside the codes tree. An index without the
    pointer is not a layout this build writes, so reads and appends
    raise instead of falling back to a bare codes/ directory."""
    import os

    assert not os.path.exists(os.path.join(index_dir, "codebooks.json"))
    os.remove(os.path.join(index_dir, "CURRENT"))
    emb = spark.read.parquet(EMB)
    with pytest.raises(FileNotFoundError):
        query_ann_index(
            spark, index_dir, emb.filter(F.col("vec_id") == 25), k=3, n_probe=2
        )
    with pytest.raises(FileNotFoundError):
        append_ann_index(emb.filter(F.col("vec_id") < 10), index_dir, "b1")


def test_maintain_ann_index_drift_policy(spark, tmp_path):
    """r12 (VERDICT item 3): maintain_ann_index turns the per-batch
    drift signal into the retrain decision — in-distribution appends
    never rebuild; planted drift triggers EXACTLY ONE staged rebuild
    (atomic pointer swap, audit reset) whose answers equal a fresh
    build's on the same corpus."""
    import json
    import os

    import numpy as np

    from knightshift_spark.operators.similarity import maintain_ann_index

    rng = np.random.default_rng(7)
    protos = rng.normal(size=(4, 64))
    protos /= np.linalg.norm(protos, axis=1, keepdims=True)
    new_protos = rng.normal(size=(4, 64))
    new_protos /= np.linalg.norm(new_protos, axis=1, keepdims=True)

    def rows(cents, n, id0):
        out = []
        for i in range(n):
            v = cents[i % len(cents)] + 0.02 * rng.normal(size=64)
            out.append((id0 + i, [float(x) for x in v]))
        return out

    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame(rows(protos, 80, 0), schema)
    in_dist = spark.createDataFrame(rows(protos, 20, 1000), schema)
    shifted = spark.createDataFrame(rows(new_protos, 20, 2000), schema)

    path = str(tmp_path / "ann_maint")
    write_ann_index(base, path, n_clusters=4, n_probe_default=2, m=2, ksub=4)

    def ptr():
        with open(os.path.join(path, "CURRENT")) as f:
            return f.read().strip()

    # in-distribution appends: drift ~1, no rebuild, pointer untouched
    append_ann_index(in_dist, path, "indist")
    p0 = ptr()
    corpus1 = base.unionByName(in_dist)
    m1 = maintain_ann_index(corpus1, path, max_drift=1.5)
    assert not m1["rebuilt"] and m1["drift"] is not None and m1["drift"] <= 1.5
    assert ptr() == p0

    # planted drift: the shifted batch pushes the weighted mean over the
    # gate -> exactly one staged rebuild + pointer swap
    append_ann_index(shifted, path, "shifted")
    corpus2 = corpus1.unionByName(shifted)
    m2 = maintain_ann_index(corpus2, path, max_drift=1.5)
    assert m2["rebuilt"] and m2["batches"] == 2
    assert ptr() != p0
    # audit reset: the very next maintenance sees no appended batches
    m3 = maintain_ann_index(corpus2, path, max_drift=1.5)
    assert not m3["rebuilt"] and m3["batches"] == 0 and m3["drift"] is None

    # the rebuilt index answers exactly like a fresh build on the same
    # corpus with the same (sidecar-carried) hyperparameters
    fresh = str(tmp_path / "ann_fresh")
    write_ann_index(
        corpus2, fresh, n_clusters=4, n_probe_default=2, m=2, ksub=4
    )
    q = spark.createDataFrame(rows(new_protos, 8, 9000), schema)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in query_ann_index(spark, path, q, k=3, n_probe=2).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in query_ann_index(spark, fresh, q, k=3, n_probe=2).collect()
    }
    assert got == want
    # the rebuild learned the drifted region: shifted vectors win their
    # own neighborhoods now
    assert any(n >= 2000 for _, n in got)
