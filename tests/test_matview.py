"""Incremental aggregate view: batch-sequence equivalence with a
single-shot groupBy, partition-pruned merges, replay idempotence, and a
live-stream maintenance run."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from knightshift_spark.sources.syncstate import (
    read_sync_sidecar,
    write_sync_sidecar,
)
from knightshift_spark.streaming.matview import (
    merge_view_batch,
    read_view,
    run_matview_stream,
)


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        (F.col("id") % 5).alias("grp"), (F.col("id") * 2).cast("double").alias("v")
    )


def _expected(spark, hi):
    return {
        r["grp"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in _rows(spark, 0, hi)
        .groupBy("grp")
        .agg(
            F.count("v").alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }


def test_incremental_merges_equal_one_shot_aggregate(spark, tmp_path):
    view = str(tmp_path / "view")
    for i, (lo, hi) in enumerate([(0, 40), (40, 90), (90, 130)]):
        merge_view_batch(_rows(spark, lo, hi), view, ["grp"], "v", n_buckets=8, batch_id=i)
    got = {
        r["grp"]: (r["n"], r["sum"], r["min"], r["max"])
        for r in read_view(spark, view).collect()
    }
    assert got == _expected(spark, 130)
    # avg finalizes from partials
    avgs = {r["grp"]: r["avg"] for r in read_view(spark, view).collect()}
    assert avgs[0] == round(got[0][1] / got[0][0], 6)
    # HLL distinct survives the batch merges (exact at this cardinality:
    # every v is distinct within its group, built across three batches)
    nd = {r["grp"]: r["n_distinct_approx"] for r in read_view(spark, view).collect()}
    assert nd == {g: t[0] for g, t in _expected(spark, 130).items()}


def test_replayed_batch_id_is_skipped(spark, tmp_path):
    view = str(tmp_path / "view")
    merge_view_batch(_rows(spark, 0, 50), view, ["grp"], "v", batch_id=0)
    before = _snapshot(spark, view)
    merge_view_batch(_rows(spark, 0, 50), view, ["grp"], "v", batch_id=0)  # replay
    assert _snapshot(spark, view) == before
    # but a NEW id merges
    merge_view_batch(_rows(spark, 50, 60), view, ["grp"], "v", batch_id=1)
    assert _snapshot(spark, view) == _expected(spark, 60)


def _snapshot(spark, view):
    return {
        r["grp"]: (r["n"], r["sum"], r["min"], r["max"])
        for r in read_view(spark, view).collect()
    }


def test_partial_commit_heals_on_replay(spark, tmp_path):
    """A crash that committed only SOME of a batch's buckets must heal:
    the replay merges the missing buckets and skips the committed ones
    (the per-bucket __last_batch watermark, not a sidecar marker)."""
    view = str(tmp_path / "view")
    # the simulation slices the batch by group, so each group must own
    # its bucket exclusively — verify the hash layout grants that
    buckets = {
        r["grp"]: r["b"]
        for r in _rows(spark, 0, 5)
        .select("grp", F.pmod(F.xxhash64("grp"), F.lit(64)).cast("int").alias("b"))
        .distinct()
        .collect()
    }
    assert len(set(buckets.values())) == 5, buckets
    full = _rows(spark, 0, 100)
    merge_view_batch(full, view, ["grp"], "v", n_buckets=64, batch_id=0)
    # simulate batch 1 crashing after committing only bucket(s) of grp 0:
    # merge the grp-0 slice under id 1, as the partial commit would leave
    merge_view_batch(
        _rows(spark, 100, 140).filter(F.col("grp") == 0),
        view, ["grp"], "v", n_buckets=64, batch_id=1,
    )
    # replay of the FULL batch 1: grp 0's bucket already carries id 1 →
    # skipped; the other groups' buckets merge now
    merge_view_batch(
        _rows(spark, 100, 140), view, ["grp"], "v", n_buckets=64, batch_id=1
    )
    assert _snapshot(spark, view) == _expected(spark, 140)


def test_merge_touches_only_buckets_of_the_batch(spark, tmp_path):
    view = str(tmp_path / "view")
    merge_view_batch(_rows(spark, 0, 100), view, ["grp"], "v", n_buckets=16, batch_id=0)
    files_before = {
        d: sorted(os.listdir(os.path.join(view, d)))
        for d in os.listdir(view)
        if d.startswith("__bucket=")
    }
    # a batch containing ONE group must rewrite only that group's bucket
    one = _rows(spark, 100, 101).filter(F.col("grp") == 0)
    assert one.count() == 1
    merge_view_batch(one, view, ["grp"], "v", n_buckets=16, batch_id=1)
    files_after = {
        d: sorted(os.listdir(os.path.join(view, d)))
        for d in os.listdir(view)
        if d.startswith("__bucket=")
    }
    changed = [d for d in files_before if files_after.get(d) != files_before[d]]
    assert len(changed) == 1
    assert _snapshot(spark, view) == _expected(spark, 101)


def test_streaming_maintenance(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    view = str(tmp_path / "view")
    ck = str(tmp_path / "ck")
    stream = (
        spark.readStream.schema("grp long, v double").json(str(src))
    )
    def drop(path, lo, hi):
        lines = [
            '{"grp": %d, "v": %.1f}' % (i % 5, i * 2.0) for i in range(lo, hi)
        ]
        path.write_text("\n".join(lines) + "\n")

    q = run_matview_stream(stream, view, ["grp"], "v", ck, n_buckets=8)
    try:
        drop(src / "a.json", 0, 30)
        drop(src / "b.json", 30, 70)
        deadline = time.time() + 60
        want = _expected(spark, 70)
        while time.time() < deadline:
            q.processAllAvailable()
            if os.path.isdir(view) and _snapshot(spark, view) == want:
                break
            time.sleep(0.5)
        assert _snapshot(spark, view) == want
    finally:
        q.stop()


def test_sync_view_from_txntable_cdc(spark, tmp_path):
    """r12 (VERDICT item 2): the view maintains itself purely from the
    TxnTable commit log — inserts, updates, and deletes each sync to
    exactly the one-shot groupBy over the current snapshot; a re-sync
    at the same version is a no-op (replay-idempotent); a restore in
    the CDC range degrades to the documented full resync."""
    from knightshift_spark.sources.txntable import TxnTable
    from knightshift_spark.streaming.matview import sync_view_from_table

    sch = "id long, g string, v long"
    t = TxnTable.create(
        spark, str(tmp_path / "src"), keys=["id"], schema=sch, n_buckets=4
    )
    view = str(tmp_path / "view")

    def check():
        exp = {
            r["g"]: (r["n"], r["s"], r["mn"], r["mx"], r["nd"])
            for r in t.snapshot()
            .groupBy("g")
            .agg(
                F.count("v").alias("n"),
                F.sum("v").cast("double").alias("s"),
                F.min("v").cast("double").alias("mn"),
                F.max("v").cast("double").alias("mx"),
                F.countDistinct("v").alias("nd"),
            )
            .collect()
        }
        got = {
            r["g"]: (
                r["n"], r["sum"], r["min"], r["max"],
                int(round(r["n_distinct_approx"])),
            )
            for r in read_view(spark, view).collect()
        }
        assert got == exp

    t.append(
        spark.createDataFrame([(i, f"g{i % 3}", i) for i in range(30)], sch)
    )
    v1 = sync_view_from_table(t, view, ["g"], "v", n_buckets=8)
    check()
    # replay-idempotent: same version, nothing moves
    assert sync_view_from_table(t, view, ["g"], "v", n_buckets=8) == v1
    check()
    # UPDATE via merge: group g1's values shift; only its groups resync
    t.merge(
        spark.createDataFrame([(i, f"g{i % 3}", i + 100) for i in range(1, 30, 3)], sch),
        order_by=["v"],
    )
    restore_point = t.version()
    sync_view_from_table(t, view, ["g"], "v", n_buckets=8)
    check()
    # DELETE an entire group: it must drop OUT of the view
    t.delete_where(F.col("g") == "g2", rewrite_all=True)
    sync_view_from_table(t, view, ["g"], "v", n_buckets=8)
    check()
    assert "g2" not in {r["g"] for r in read_view(spark, view).collect()}
    # group membership change: rows move BETWEEN groups via merge
    t.merge(
        spark.createDataFrame([(0, "g9", 7)], sch), order_by=["v"]
    )
    sync_view_from_table(t, view, ["g"], "v", n_buckets=8)
    check()
    # restore inside the CDC range -> table_changes raises -> full
    # rebuild, still exact
    t.restore(restore_point)
    sync_view_from_table(t, view, ["g"], "v", n_buckets=8)
    check()


def test_sync_view_crash_before_stamp_heals(spark, tmp_path):
    """A sync that commits its bucket overwrites but dies BEFORE writing
    _SYNCED_VERSION (the crash window) replays the whole range on the
    next call: already-stamped buckets skip via __last_batch, the rest
    re-apply, and the final view equals the one-shot groupBy."""
    from knightshift_spark.sources.txntable import TxnTable
    from knightshift_spark.streaming.matview import sync_view_from_table

    sch = "id long, g string, v long"
    t = TxnTable.create(
        spark, str(tmp_path / "src"), keys=["id"], schema=sch, n_buckets=4
    )
    view = str(tmp_path / "view")
    t.append(
        spark.createDataFrame([(i, f"g{i % 4}", i) for i in range(40)], sch)
    )
    v1 = sync_view_from_table(t, view, ["g"], "v", n_buckets=8)
    t.merge(
        spark.createDataFrame([(i, f"g{i % 4}", i + 500) for i in range(0, 40, 2)], sch),
        order_by=["v"],
    )
    v2 = sync_view_from_table(t, view, ["g"], "v", n_buckets=8)
    assert v2 > v1
    # simulate the crash window: v2's bucket data landed, but the
    # sidecar still shows v1 (stamp is written last) — the re-sync
    # replays (v1, v2], buckets already stamped v2 skip, and the
    # sidecar catches up
    write_sync_sidecar(view, v1, 8)
    assert sync_view_from_table(t, view, ["g"], "v", n_buckets=8) == v2
    # ...and a sidecar lost ENTIRELY (torn write) degrades to a full
    # rebuild that converges to the same view
    os.remove(os.path.join(view, "_SYNCED_VERSION"))
    assert sync_view_from_table(t, view, ["g"], "v", n_buckets=8) == v2
    exp = {
        (r["g"], r["n"], r["s"])
        for r in t.snapshot()
        .groupBy("g")
        .agg(F.count("v").alias("n"), F.sum("v").cast("double").alias("s"))
        .collect()
    }
    got = {
        (r["g"], r["n"], r["sum"])
        for r in read_view(spark, view).collect()
    }
    assert got == exp


def test_sync_sidecar_missing_reads_fresh_and_garbage_raises(tmp_path):
    """A missing sidecar is a fresh artifact; a sidecar that is not
    {"version", "n_buckets"} JSON raises naming the file. Reading it as
    fresh would replay the whole sync and, with no modulus recorded,
    let check_n_buckets accept any n_buckets."""
    d = str(tmp_path)
    assert read_sync_sidecar(d) == (-1, None)
    write_sync_sidecar(d, 7, 8)
    assert read_sync_sidecar(d) == (7, 8)
    for garbage in ("\x00garbage", "7", '{"version": 7}', "[7, 8]"):
        with open(os.path.join(d, "_SYNCED_VERSION"), "w") as f:
            f.write(garbage)
        with pytest.raises(ValueError, match="_SYNCED_VERSION"):
            read_sync_sidecar(d)


def _rows2(spark, lo, hi):
    """Two-measure source: v (doubles) and w (ints with repeats)."""
    return spark.range(lo, hi).select(
        (F.col("id") % 5).alias("grp"),
        (F.col("id") * 2).cast("double").alias("v"),
        (F.col("id") % 7).cast("double").alias("w"),
    )


def test_multi_measure_view_batch_split_equals_one_shot(spark, tmp_path):
    """r13 (VERDICT r12 item 6): a view over TWO measures in ONE
    scan/view — batch-split maintenance equals the one-shot aggregate
    for every per-measure statistic, HLL distinct included."""
    view = str(tmp_path / "view")
    for i, (lo, hi) in enumerate([(0, 40), (40, 90), (90, 130)]):
        merge_view_batch(
            _rows2(spark, lo, hi), view, ["grp"], ["v", "w"],
            n_buckets=8, batch_id=i,
        )
    want = {
        r["grp"]: (
            r["vn"], r["vs"], r["vmn"], r["vmx"], r["vd"],
            r["wn"], r["ws"], r["wmn"], r["wmx"], r["wd"],
        )
        for r in _rows2(spark, 0, 130)
        .groupBy("grp")
        .agg(
            F.count("v").alias("vn"), F.sum("v").alias("vs"),
            F.min("v").alias("vmn"), F.max("v").alias("vmx"),
            F.countDistinct("v").alias("vd"),
            F.count("w").alias("wn"), F.sum("w").alias("ws"),
            F.min("w").alias("wmn"), F.max("w").alias("wmx"),
            F.countDistinct("w").alias("wd"),
        )
        .collect()
    }
    got = {
        r["grp"]: (
            r["v_n"], r["v_sum"], r["v_min"], r["v_max"],
            r["v_n_distinct_approx"],
            r["w_n"], r["w_sum"], r["w_min"], r["w_max"],
            r["w_n_distinct_approx"],
        )
        for r in read_view(spark, view).collect()
    }
    assert got == want  # HLL exact at these cardinalities
    # per-measure avg finalizes from the stored partials
    avgs = {
        r["grp"]: (r["v_avg"], r["w_avg"])
        for r in read_view(spark, view).collect()
    }
    g0 = want[0]
    assert avgs[0] == (round(g0[1] / g0[0], 6), round(g0[6] / g0[5], 6))


def test_multi_measure_cdc_sync(spark, tmp_path):
    """The CDC sync path over two measures: incremental
    sync_view_from_table across merge + delete equals a full rebuild's
    read_view, per measure."""
    from knightshift_spark.sources.txntable import TxnTable
    from knightshift_spark.streaming.matview import sync_view_from_table

    t = TxnTable.create(
        spark, str(tmp_path / "t"), keys=["id"],
        schema="id long, g int, v double, w double", n_buckets=4,
    )
    view = str(tmp_path / "view")
    rows = [(i, i % 3, float(i), float(i % 4)) for i in range(60)]
    t.append(spark.createDataFrame(rows, "id long, g int, v double, w double"))
    sync_view_from_table(t, view, ["g"], ["v", "w"], n_buckets=8)
    t.merge(
        spark.createDataFrame(
            [(5, 0, 500.0, 9.0), (61, 1, 61.0, 1.0)],
            "id long, g int, v double, w double",
        ),
        ["v"],
    )
    t.delete_keys(spark.createDataFrame([(7,), (8,)], "id long"))
    sync_view_from_table(t, view, ["g"], ["v", "w"], n_buckets=8)

    def _canon(df):
        return {
            r["g"]: tuple(
                r[c] for c in sorted(df.columns) if c != "g"
            )
            for r in df.collect()
        }

    got = _canon(read_view(spark, view))
    # full rebuild into a fresh view as the oracle
    fresh = str(tmp_path / "fresh")
    sync_view_from_table(t, fresh, ["g"], ["v", "w"], n_buckets=8)
    assert got == _canon(read_view(spark, fresh))
    # and spot-check one group against a direct aggregate
    snap = t.snapshot().filter(F.col("g") == 0)
    direct = snap.agg(
        F.count("v"), F.sum("v"), F.min("v"), F.max("v")
    ).collect()[0]
    g0 = {r["g"]: r for r in read_view(spark, view).collect()}[0]
    assert (g0["v_n"], g0["v_sum"], g0["v_min"], g0["v_max"]) == tuple(direct)


def test_view_modulus_drift_refused(spark, tmp_path):
    """r13 review: a merge or CDC sync under a different n_buckets than
    the view was built with double-rows every group silently — both
    maintainers refuse loudly via the recorded modulus."""
    import pytest

    view = str(tmp_path / "view")
    merge_view_batch(_rows(spark, 0, 40), view, ["grp"], "v", n_buckets=8,
                     batch_id=0)
    with pytest.raises(ValueError, match="n_buckets=8"):
        merge_view_batch(_rows(spark, 40, 50), view, ["grp"], "v",
                         n_buckets=16, batch_id=1)
    merge_view_batch(_rows(spark, 40, 50), view, ["grp"], "v", n_buckets=8,
                     batch_id=1)
    got = {
        r["grp"]: (r["n"], r["sum"], r["min"], r["max"])
        for r in read_view(spark, view).collect()
    }
    assert got == _expected(spark, 50)

    from knightshift_spark.sources.txntable import TxnTable
    from knightshift_spark.streaming.matview import sync_view_from_table

    t = TxnTable.create(
        spark, str(tmp_path / "t"), keys=["id"],
        schema="id long, g int, v double", n_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(1, 0, 1.0), (2, 1, 2.0)], "id long, g int, v double"
    ))
    sv = str(tmp_path / "sview")
    sync_view_from_table(t, sv, ["g"], "v", n_buckets=8)
    with pytest.raises(ValueError, match="mixed-modulus"):
        sync_view_from_table(t, sv, ["g"], "v", n_buckets=4)
