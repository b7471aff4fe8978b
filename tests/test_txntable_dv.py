"""Deletion vectors (r13): merge-on-read DELETE/UPDATE on TxnTable.

The reference's validation pass deletes invalid rows by rewriting them
out (``validate_tv_channel_games.py:113``); at 100 TB that write
amplification is the cost DVs exist to remove (Delta's deletion-vector
protocol, public docs). These tests pin the contract end to end: files
never move on a DV statement, every read path applies the mask, CDC
diffs DV commits exactly, rewrites materialize and clear masks, and
vacuum/restore treat position datasets as load-bearing data.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from knightshift_spark.sources.txntable import (
    TxnTable,
    VacuumedVersionError,
)

SCHEMA = "id long, val string, version int"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return {(r.id, r.val, r.version) for r in df.collect()}


def _data_roots(table):
    return sorted(os.listdir(os.path.join(table.path, "data")))


@pytest.fixture()
def table(spark, tmp_path):
    t = TxnTable.create(
        spark,
        str(tmp_path / "t"),
        keys=["id"],
        schema=SCHEMA,
        n_buckets=4,
        deletion_vectors=True,
    )
    t.append(_df(spark, [(i, f"v{i}", 1) for i in range(20)]))
    return t


def test_dv_delete_masks_without_moving_files(spark, table):
    before = _data_roots(table)
    v = table.delete_where(F.col("id") % 5 == 3)
    after = _data_roots(table)
    # one new root (the position dataset); every data root kept
    assert set(before) <= set(after) and len(after) == len(before) + 1
    assert _rows(table.snapshot()) == {
        (i, f"v{i}", 1) for i in range(20) if i % 5 != 3
    }
    # the commit is a DV delete: no removes, adds re-reference live entries
    commit = next(c for c in table._commits() if c["version"] == v)
    assert commit["op"] == "delete" and commit.get("mode") == "dv"
    assert commit["removes"] == []
    assert all(a.get("dv", {}).get("rows") for a in commit["adds"])
    # time travel reads the unmasked snapshot
    assert table.snapshot(v - 1).count() == 20


def test_dv_chains_and_every_read_path_applies_the_mask(spark, table):
    table.delete_where(F.col("id") == 7)
    table.delete_where(F.col("id") == 8)  # chains on the same entries
    assert table.snapshot().count() == 18
    assert table.snapshot_eq("id", 7).count() == 0
    assert table.snapshot_eq("id", 9).count() == 1
    assert table.snapshot_where("id", 5, 10).count() == 4  # 5,6,9,10
    assert table.lookup([8]).count() == 0
    assert table.lookup([9]).count() == 1


def test_dv_statement_default_and_override(spark, tmp_path):
    t = TxnTable.create(
        spark, str(tmp_path / "cow"), keys=["id"], schema=SCHEMA, n_buckets=4
    )  # table default: copy-on-write
    t.append(_df(spark, [(i, f"v{i}", 1) for i in range(8)]))
    roots0 = _data_roots(t)
    t.delete_where(F.col("id") == 3, deletion_vectors=True)  # override on
    assert t.snapshot().count() == 7
    assert set(roots0) <= set(_data_roots(t))
    # and a DV-default table can force copy-on-write per statement
    t2 = TxnTable.create(
        spark,
        str(tmp_path / "dv"),
        keys=["id"],
        schema=SCHEMA,
        n_buckets=4,
        deletion_vectors=True,
    )
    t2.append(_df(spark, [(i, f"v{i}", 1) for i in range(8)]))
    v = t2.delete_where(F.col("id") == 3, deletion_vectors=False)
    commit = next(c for c in t2._commits() if c["version"] == v)
    assert commit.get("mode") != "dv" and commit["removes"]


def test_dv_update_masks_old_images_and_appends_new(spark, table):
    before = _data_roots(table)
    v = table.update_where(
        F.col("id") < 3,
        {"val": F.concat(F.lit("u-"), F.col("val")), "version": F.lit(2)},
    )
    # old roots all kept; two new roots (positions + new images)
    assert set(before) <= set(_data_roots(table))
    got = {r.id: (r.val, r.version) for r in table.snapshot().collect()}
    assert got[0] == ("u-v0", 2) and got[2] == ("u-v2", 2)
    assert got[5] == ("v5", 1) and len(got) == 20
    # CDC: exact pre/post pairs, carried rows excluded
    rc = table.row_changes(v)
    assert rc.filter(F.col("_change_type") == "update_preimage").count() == 3
    assert rc.filter(F.col("_change_type") == "update_postimage").count() == 3
    assert rc.count() == 6


def test_dv_delete_row_changes_and_table_changes(spark, table):
    v = table.delete_where(F.col("id") % 4 == 1)  # 1,5,9,13,17
    rc = table.row_changes(v)
    assert {r._change_type for r in rc.collect()} == {"delete"}
    assert {r.id for r in rc.collect()} == {1, 5, 9, 13, 17}
    # file-granular feed: the add side never shows deleted rows as
    # written data, the remove side carries the deleted keys' pre-images
    tc = table.table_changes(v - 1, v, include_removed=True)
    adds = tc.filter(F.col("_change_source") == "add")
    rems = tc.filter(F.col("_change_source") == "remove")
    assert adds.filter(F.col("id") == 1).count() == 0
    assert rems.filter(F.col("id") == 1).count() == 1


def test_merge_does_not_resurrect_and_purges_touched_dv(spark, table):
    table.delete_where(F.col("id") % 2 == 1)
    assert table.snapshot().count() == 10
    # a merge touching some buckets rewrites them mask-applied
    table.merge(_df(spark, [(4, "new4", 2)]), ["version"])
    got = {r.id: r.val for r in table.snapshot().collect()}
    assert got[4] == "new4" and 3 not in got and 5 not in got
    # rewritten buckets' entries carry no dv anymore
    _, active, _ = table._state()
    bucket4 = {a["bucket"] for a in active.values() if not a.get("dv")}
    assert bucket4  # at least the rewritten bucket is mask-free


def test_compact_materializes_dv_and_vacuum_sweeps_positions(spark, table):
    table.delete_where(F.col("id") >= 15)
    rpt = table.maintenance_report()
    assert rpt["dv_rows"] == 5 and rpt["max_dv_chain"] == 1
    table.compact(min_files=1)
    rpt2 = table.maintenance_report()
    assert rpt2["dv_rows"] == 0 and rpt2["max_dv_chain"] == 0
    assert table.snapshot().count() == 15
    table.vacuum(retention_s=0.0)
    assert table.snapshot().count() == 15
    # the position dataset is gone (unreferenced after the compact)
    _, active, _ = table._state()
    live = set(active)
    for root in _data_roots(table):
        for sub in os.listdir(os.path.join(table.path, "data", root)):
            if sub.startswith("__bucket="):
                assert f"data/{root}/{sub}" in live


def test_dv_chain_past_threshold_flags_and_compacts(spark, table):
    for i in range(4):  # _DV_PURGE_CHAIN = 4 chained masks on bucket(s)
        table.delete_where(F.col("id") == i)
    rpt = table.maintenance_report()
    if rpt["max_dv_chain"] >= 4:  # ids 0..3 may spread across buckets
        assert rpt["wants_compact"]
    # plain compact picks the dv'd buckets even when unfragmented
    table.compact()
    assert table.maintenance_report()["max_dv_chain"] < 4
    assert table.snapshot().count() == 16


def test_vacuum_protects_live_positions(spark, table):
    table.delete_where(F.col("id") == 0)
    table.vacuum(retention_s=0.0)
    # the mask is still live: the snapshot must read through it
    assert table.snapshot().count() == 19
    assert table.snapshot().filter(F.col("id") == 0).count() == 0


def test_restore_reverts_dv_state_both_directions(spark, table):
    v1 = table.version()  # 20 rows, no dv
    table.delete_where(F.col("id") < 10)
    v2 = table.version()  # 10 live
    table.delete_where(F.col("id") == 15)
    assert table.snapshot().count() == 9
    table.restore(v2)
    assert table.snapshot().count() == 10
    table.restore(v1)  # entries re-added mask-free
    assert table.snapshot().count() == 20
    # and forward again: same path re-added WITH its mask
    table.restore(v2)
    assert table.snapshot().count() == 10


def test_scd2_history_spans_dv_commits(spark, table):
    table.delete_where(F.col("id") % 3 == 0)
    table.update_where(F.col("id") == 1, {"version": F.lit(9)})
    hist = table.scd2_history()
    live = {
        r.id: r.version
        for r in hist.filter(F.col("__valid_to").isNull()).collect()
    }
    assert live == {
        i: (9 if i == 1 else 1) for i in range(20) if i % 3 != 0
    }
    # the validity filter reproduces every retained snapshot
    for v in range(1, table.version() + 1):
        asof = hist.filter(
            (F.col("__valid_from") <= v)
            & (F.col("__valid_to").isNull() | (F.col("__valid_to") > v))
        )
        assert asof.count() == table.snapshot(v).count(), f"version {v}"


def test_dv_raises_inside_transaction_and_empty_match_commits_nothing(
    spark, table
):
    with pytest.raises(ValueError, match="deletion_vectors"):
        with table.transaction():
            table.delete_where(F.col("id") == 1, deletion_vectors=True)
    v0 = table.version()
    assert table.delete_where(F.col("id") == 999) == v0  # no matches
    assert table.version() == v0


def test_missing_position_dataset_raises_never_resurrects(spark, table):
    import shutil

    table.delete_where(F.col("id") == 5)
    _, active, _ = table._state()
    rels = {
        rel
        for a in active.values()
        for rel in (a.get("dv") or {}).get("paths", [])
    }
    assert rels
    for rel in rels:
        shutil.rmtree(os.path.join(table.path, rel))
    with pytest.raises(VacuumedVersionError, match="deletion-vector"):
        table.snapshot().count()


def test_dv_update_revalidates_constraints_on_new_images(spark, tmp_path):
    t = TxnTable.create(
        spark,
        str(tmp_path / "c"),
        keys=["id"],
        schema=SCHEMA,
        n_buckets=2,
        deletion_vectors=True,
        constraints={"ver_pos": "version > 0"},
    )
    t.append(_df(spark, [(1, "a", 1), (2, "b", 2)]))
    with pytest.raises(Exception, match="ver_pos"):
        t.update_where(F.col("id") == 1, {"version": F.lit(0)})
    # the failed statement left no commit and no mask
    assert t.snapshot().count() == 2
    assert t.maintenance_report()["dv_rows"] == 0


def test_dv_with_schema_evolution(spark, table):
    table.delete_where(F.col("id") % 4 == 0)  # masks pre-evolution files
    wide = spark.createDataFrame(
        [(1, "w1", 5, "extra")], "id long, val string, version int, note string"
    )
    table.merge(wide, ["version"], evolve=True)
    got = {r.id: (r.val, r.note) for r in table.snapshot().collect()}
    # masked rows stay gone through the widened-schema read; untouched
    # pre-evolution rows read NULL for the new column
    assert 0 not in got and 4 not in got
    assert got[1] == ("w1", "extra") and got[2] == ("v2", None)
    # and a DV delete over a mixed-schema table masks evolved files too
    table.delete_where(F.col("note") == "extra")
    assert 1 not in {r.id for r in table.snapshot().collect()}


def test_dv_survives_checkpoint_replay_and_fresh_handle(spark, tmp_path):
    from knightshift_spark.sources.txntable import _CHECKPOINT_EVERY

    t = TxnTable.create(
        spark,
        str(tmp_path / "ck"),
        keys=["id"],
        schema=SCHEMA,
        n_buckets=2,
        deletion_vectors=True,
    )
    t.append(_df(spark, [(i, f"v{i}", 1) for i in range(40)]))
    # enough DV commits to cross a checkpoint boundary: the masks must
    # replay from the checkpointed active entries, not just the tail
    for i in range(_CHECKPOINT_EVERY + 2):
        t.delete_where(F.col("id") == i)
    fresh = TxnTable(spark, t.path)  # new handle: cold replay
    ids = {r.id for r in fresh.snapshot().collect()}
    assert ids == set(range(_CHECKPOINT_EVERY + 2, 40))
    # log retention past the checkpoint keeps the masked reads exact
    t.expire_log(retention_s=0.0)
    assert {r.id for r in TxnTable(spark, t.path).snapshot().collect()} == ids


def test_dv_delete_flows_through_matview_sync(spark, tmp_path):
    from knightshift_spark.streaming.matview import (
        read_view,
        sync_view_from_table,
    )

    t = TxnTable.create(
        spark,
        str(tmp_path / "mv"),
        keys=["id"],
        schema="id long, g string, v long",
        n_buckets=4,
        deletion_vectors=True,
    )
    rows = [(i, "a" if i % 2 == 0 else "b", i) for i in range(10)]
    t.append(spark.createDataFrame(rows, "id long, g string, v long"))
    view = str(tmp_path / "view")
    sync_view_from_table(t, view, ["g"], "v", n_buckets=4)
    # a DV delete must reach the view exactly: group b vanishes, group
    # a loses two members — the pre-image remove side of the dv commit
    # is what names both groups as affected
    t.delete_where((F.col("g") == "b") | (F.col("id") < 4))
    sync_view_from_table(t, view, ["g"], "v", n_buckets=4)
    got = {
        r.g: (r.n, r.sum) for r in read_view(spark, view).collect()
    }
    assert "b" not in got
    assert got["a"] == (3, 4 + 6 + 8)


def test_dv_with_zorder_file_level_pruning(spark, tmp_path):
    t = TxnTable.create(
        spark,
        str(tmp_path / "z"),
        keys=["id"],
        schema=SCHEMA,
        n_buckets=2,
        zorder_cols=["version"],
        target_file_rows=8,
        deletion_vectors=True,
    )
    t.append(_df(spark, [(i, f"v{i}", i) for i in range(64)]))
    # entries carry per-file stats; the masked read must apply the
    # entry's dv to FILE-level pruned paths too
    t.delete_where(F.col("version").between(10, 19))
    got = {r.version for r in t.snapshot_where("version", 5, 24).collect()}
    assert got == set(range(5, 10)) | set(range(20, 25))
    # pruning still skips files (an upper-bound sanity: fewer paths
    # than the full file set survive the range)
    all_files = sum(
        len(a.get("files") or [a]) for a in t._state()[1].values()
    )
    assert len(t._paths_for_range("version", 5, 24)) < all_files


def test_dv_commit_loses_occ_race_and_rolls_back_positions(
    spark, table, monkeypatch
):
    from knightshift_spark.sources.txntable import ConcurrentWriteError

    # a merge lands between the DV delete's scan and its commit,
    # rewriting the bucket the delete masks — the DV commit must lose
    # the bucket-overlap race and delete its freshly written position
    # dirs, never the live data its adds re-reference
    commit = table._commit
    before = set(_data_roots(table))
    won: set = set()

    def racing_commit(*args, **kwargs):
        pre = set(_data_roots(table))
        TxnTable(spark, table.path).merge(
            _df(spark, [(0, "winner", 9)]), ["version"]
        )
        won.update(set(_data_roots(table)) - pre)
        return commit(*args, **kwargs)

    monkeypatch.setattr(table, "_commit", racing_commit)
    with pytest.raises(ConcurrentWriteError):
        table.delete_where(F.col("id") == 0)
    monkeypatch.undo()
    assert won and set(_data_roots(table)) == before | won  # positions rolled back
    got = {r.id: r.val for r in table.snapshot().collect()}
    assert got[0] == "winner" and len(got) == 20


def test_dv_delete_keys_gdpr_path(spark, table):
    before = _data_roots(table)
    v = table.delete_keys(
        spark.createDataFrame([(3,), (7,), (999,)], "id long")
    )  # table default: deletion vectors
    commit = next(c for c in table._commits() if c["version"] == v)
    assert commit.get("mode") == "dv" and commit["removes"] == []
    assert set(before) <= set(_data_roots(table))
    assert {r.id for r in table.snapshot().collect()} == (
        set(range(20)) - {3, 7}
    )
    # the staged key list prunes the scan AND the commit to exactly the
    # key-owning buckets
    owning = {
        r.b
        for r in spark.createDataFrame([(3,), (7,)], "id long")
        .select(F.pmod(F.xxhash64("id"), F.lit(4)).cast("int").alias("b"))
        .collect()
    }
    assert set(commit["buckets"]) <= owning
    # CDC reads the key deletes exactly
    rc = table.row_changes(v)
    assert {r.id for r in rc.collect()} == {3, 7}
    assert {r._change_type for r in rc.collect()} == {"delete"}
    # explicit False forces the copy-on-write rewrite on a DV table
    v2 = table.delete_keys(
        spark.createDataFrame([(5,)], "id long"), deletion_vectors=False
    )
    c2 = next(c for c in table._commits() if c["version"] == v2)
    assert c2.get("mode") != "dv" and c2["removes"]
    assert table.snapshot().count() == 17


def test_dv_merge_equals_rewrite_merge(spark, tmp_path):
    """The DV merge must reproduce the rewrite merge EXACTLY — final
    state and row-level CDC — across the full semantics matrix: a
    winning update, a losing update, an order_by tie (update wins), an
    unmatched insert, and a pre-existing stored duplicate key (the
    rewrite's dedup side effect must survive as a mask)."""

    def mk(name, dv):
        t = TxnTable.create(
            spark, str(tmp_path / name), keys=["id"], schema=SCHEMA,
            n_buckets=4, deletion_vectors=dv,
        )
        t.append(_df(spark, [(i, f"v{i}", 2) for i in range(10)]))
        t.append(_df(spark, [(3, "dup3", 1)]))  # blind duplicate
        return t

    cow, dv = mk("cow", False), mk("dv", True)
    batch = _df(
        spark,
        [(1, "upd1", 5), (2, "low2", 1), (3, "tie3", 2), (50, "new50", 1)],
    )
    v_cow, v_dv = cow.merge(batch, ["version"]), dv.merge(batch, ["version"])
    assert _rows(cow.snapshot()) == _rows(dv.snapshot())
    got = {r.id: (r.val, r.version) for r in dv.snapshot().collect()}
    assert got[1] == ("upd1", 5)      # won
    assert got[2] == ("v2", 2)        # update lost
    assert got[3] == ("tie3", 2)      # tie -> update wins, dup masked
    assert got[50] == ("new50", 1)    # insert
    cdc = lambda t, v: {  # noqa: E731
        (r.id, r._change_type) for r in t.row_changes(v).collect()
    }
    assert cdc(cow, v_cow) == cdc(dv, v_dv)
    # files never moved; the commit is a DV merge
    commit = next(c for c in dv._commits() if c["version"] == v_dv)
    assert commit.get("mode") == "dv" and commit["removes"] == []
    # a batch that wholly loses the rank commits nothing
    v0 = dv.version()
    assert dv.merge(_df(spark, [(1, "stale", 0)]), ["version"]) == v0
    assert dv.version() == v0


def test_dv_merge_txn_stamp_and_evolution(spark, tmp_path):
    t = TxnTable.create(
        spark, str(tmp_path / "s"), keys=["id"], schema=SCHEMA,
        n_buckets=2, deletion_vectors=True,
    )
    t.append(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    # exactly-once stamp rides the DV merge commit
    t.merge(_df(spark, [(1, "a2", 2)]), ["version"], txn=("app", 7))
    assert t.streaming_watermark("app") == 7
    # schema evolution through the DV merge: masked old files read NULL
    wide = spark.createDataFrame(
        [(2, "b2", 3, "x")], "id long, val string, version int, note string"
    )
    t.merge(wide, ["version"], evolve=True)
    got = {r.id: (r.val, r.note) for r in t.snapshot().collect()}
    assert got == {1: ("a2", None), 2: ("b2", "x")}
    # clauses compose with explicit DV since r14 (no-op predicate:
    # plain DV merge outcome, one commit)
    t.merge(
        spark.createDataFrame(
            [(1, "z", 9, "y")],
            "id long, val string, version int, note string",
        ),
        ["version"],
        delete_where=F.col("version") < 0, deletion_vectors=True,
    )
    got = {r.id: r.val for r in t.snapshot().collect()}
    assert got[1] == "z"


def test_metadata_only_count(spark, table):
    """r13: count() answers from commit-log metadata — footer row
    totals minus deletion-vector rows — with no Spark job; exact
    through DV deletes/updates/merges, version-pinned, and an add
    entry without a row total raises instead of scanning."""
    import json

    assert table.count() == 20
    table.delete_where(F.col("id") % 4 == 0)  # 5 masked
    assert table.count() == 15 == table.snapshot().count()
    table.update_where(F.col("id") == 1, {"version": F.lit(9)})
    assert table.count() == 15  # masks 1, appends 1
    table.merge(_df(spark, [(1, "m", 11), (100, "new", 1)]), ["version"])
    assert table.count() == 16 == table.snapshot().count()
    assert table.count(version=1) == 20  # time travel
    assert table.maintenance_report()["live_rows"] == 16
    assert table.detail()["live_rows"] == 16
    # an add entry without "rows" is not a layout this build writes
    log = os.path.join(table.path, "_txnlog", "00000000000000000001.json")
    c = json.loads(open(log).read())
    for a in c["adds"]:
        a.pop("rows", None)
    open(log, "w").write(json.dumps(c))
    with pytest.raises(KeyError, match="rows"):
        TxnTable(spark, table.path).count(version=1)


def test_concurrent_threaded_dv_deletes(spark, table):
    """Two real threads masking DISJOINT key sets: at least one commits
    per the OCC contract (bucket overlap may fail the other — retryable
    ConcurrentWriteError), whatever committed is exactly applied, and
    no position dataset leaks from a lost race."""
    import threading

    from knightshift_spark.sources.txntable import ConcurrentWriteError

    errs: list = []
    done: list = []

    def deleter(ids):
        try:
            table.delete_where(F.col("id").isin(ids))
            done.append(ids)
        except ConcurrentWriteError:
            pass
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    t1 = threading.Thread(target=deleter, args=([0, 1],))
    t2 = threading.Thread(target=deleter, args=([10, 11],))
    t1.start(), t2.start()
    t1.join(60), t2.join(60)
    assert not errs and done  # at least one committed cleanly
    got = {r.id for r in table.snapshot().collect()}
    for ids in done:
        assert not (set(ids) & got)
    # every data/<uuid>/__bucket=* dir on disk is either live or a
    # young in-flight leftover — a LOST dv race must have rolled back
    _, active, _ = table._state()
    live = set(active) | {
        rel
        for a in active.values()
        for rel in (a.get("dv") or {}).get("paths", [])
    }
    # metadata count stays exact through the race
    assert table.count() == len(got)


def test_files_detail_and_vacuum_dry_run(spark, table):
    """late r13 operator surfaces: the file inventory as a relation,
    DESCRIBE DETAIL, and vacuum's look-before-you-leap."""
    table.delete_where(F.col("id") < 2)
    inv = table.files()
    assert inv.count() == len(table._state()[1])
    agg = inv.agg(
        F.sum("rows").alias("r"), F.sum("dv_rows").alias("d")
    ).collect()[0]
    assert agg["r"] - agg["d"] == table.count() == 18
    assert inv.filter(F.col("dv_chain") > 0).count() >= 1
    # mask storage accounting (ADVICE r13): masked entries report
    # their position dirs' bytes; the deduped total rides detail()
    assert inv.filter(
        (F.col("dv_chain") > 0) & (F.col("dv_bytes") > 0)
    ).count() == inv.filter(F.col("dv_chain") > 0).count()
    assert inv.filter(
        (F.col("dv_chain") == 0) & (F.col("dv_bytes") != 0)
    ).count() == 0
    d = table.detail()
    assert d["live_rows"] == 18 and d["dv_rows"] == 2
    assert 0 < d["dv_bytes"] <= (
        inv.agg(F.sum("dv_bytes")).collect()[0][0]
    )  # dedup: table total never exceeds the per-entry (shared) sum
    assert d["dv_bytes"] == table.maintenance_report()["dv_bytes"]
    assert d["deletion_vectors_default"] and d["keys"] == ["id"]
    # dry run names the dead dirs without deleting or committing
    table.compact(min_files=1)  # makes the old entries + masks dead
    v = table.version()
    plan = table.vacuum(retention_s=0.0, dry_run=True)
    assert plan["data_dirs"] and table.version() == v  # no marker
    for rel in plan["data_dirs"]:
        assert os.path.isdir(os.path.join(table.path, rel))  # untouched
    assert table.snapshot().count() == 18
    real = table.vacuum(retention_s=0.0)
    assert real == v + 1
    for rel in plan["data_dirs"]:
        assert not os.path.isdir(os.path.join(table.path, rel))


def test_masked_read_plan_shape(spark, table):
    """Plan lint (PLANS.md): the masked read is ONE broadcast-hash
    LEFT ANTI join, user filters still push into the parquet scan, and
    unread columns stay pruned."""
    import contextlib
    import io

    table.delete_where(F.col("id") == 5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        table.snapshot().filter(F.col("version") == 1).select(
            "id"
        ).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "EqualTo(version,1)" in plan  # pushed into the data scan
    # val is projected out before the scan: not in any ReadSchema
    assert "val" not in plan.split("== Physical Plan ==")[-1].replace(
        "eval", ""
    )


def test_coalesce_masks_flattens_chains_without_moving_data(spark, tmp_path):
    """late r13: chain-only mask debt takes the positions-sized
    coalesce — chains drop to 1, data files never move, reads are
    identical, and maintain() plans the cheap op instead of a data
    rewrite when chains are the only complaint. The table is sized so
    the chained bucket stays UNDER the per-bucket reclaim ratio (4 of
    ~50 rows): on a smaller table the same construction is genuine
    mask-volume debt and compact is the right call (next test)."""
    t = TxnTable.create(
        spark,
        str(tmp_path / "big"),
        keys=["id"],
        schema=SCHEMA,
        n_buckets=4,
        deletion_vectors=True,
    )
    t.append(_df(spark, [(i, f"v{i}", 1) for i in range(200)]))
    # four ids OF THE SAME BUCKET, deleted one statement each → a
    # deterministic chain of 4 on that bucket (ids spread across
    # buckets would chain 1 each and coalesce would be a no-op)
    by_bucket: dict[int, list[int]] = {}
    for r in (
        spark.createDataFrame([(i,) for i in range(200)], "id long")
        .select("id", F.pmod(F.xxhash64("id"), F.lit(4)).alias("b"))
        .collect()
    ):
        by_bucket.setdefault(int(r.b), []).append(r.id)
    victims = next(ids for ids in by_bucket.values() if len(ids) >= 4)[:4]
    for i in victims:
        t.delete_where(F.col("id") == i)
    before = _rows(t.snapshot())
    rpt = t.maintenance_report()
    assert rpt["dv_ratio"] == 0.02  # 4 of 200: nowhere near reclaim
    assert rpt["max_bucket_dv_ratio"] < 0.25
    assert not rpt["wants_dv_reclaim"]
    assert rpt["max_dv_chain"] == 4 and rpt["wants_mask_coalesce"]
    # neutralize the toy table's rebucket sizing (it would outrank the
    # mask actions): a target that makes suggested == current count
    tb = t.live_bytes() / 4 / 1024 / 1024
    plan = t.maintain(dry_run=True, target_bucket_mb=tb)
    assert ("coalesce_masks", None) in plan["actions"]
    assert ("compact", None) not in plan["actions"]
    v = t.coalesce_masks(min_chain=2)
    commit = next(c for c in t._commits() if c["version"] == v)
    assert commit["op"] == "compact" and commit.get("mode") == "dv"
    _, active, _ = t._state()
    chains = [
        len((a.get("dv") or {}).get("paths", [])) for a in active.values()
    ]
    assert max(chains) == 1
    # the coalesced dir total is recorded for the broadcast estimate
    for a in active.values():
        d = a.get("dv")
        if d:
            assert d["dir_rows"] == {d["paths"][0]: 4}
    assert _rows(t.snapshot()) == before
    assert t.count() == 196
    assert t.maintenance_report()["dv_rows"] == 4  # masks kept, merged
    # orphaned position dirs reclaim; the coalesced one survives
    t.vacuum(retention_s=0.0)
    assert _rows(t.snapshot()) == before


def test_bucket_skewed_mask_volume_flags_compact(spark, tmp_path):
    """r13 review: dv reclaim is judged PER BUCKET, the same rule
    compact()'s candidate filter applies — a hot-key bucket 40% dead
    never moves the GLOBAL ratio past the threshold on a large table,
    but maintain() must still schedule the rewrite a manual compact()
    would perform."""
    t = TxnTable.create(
        spark,
        str(tmp_path / "skew"),
        keys=["id"],
        schema=SCHEMA,
        n_buckets=4,
        deletion_vectors=True,
    )
    t.append(_df(spark, [(i, f"v{i}", 1) for i in range(200)]))
    by_bucket: dict[int, list[int]] = {}
    for r in (
        spark.createDataFrame([(i,) for i in range(200)], "id long")
        .select("id", F.pmod(F.xxhash64("id"), F.lit(4)).alias("b"))
        .collect()
    ):
        by_bucket.setdefault(int(r.b), []).append(r.id)
    bucket, ids = max(by_bucket.items(), key=lambda kv: len(kv[1]))
    victims = ids[: int(len(ids) * 0.4)]  # ~40% of ONE bucket, chain 1
    t.delete_where(F.col("id").isin([int(i) for i in victims]))
    rpt = t.maintenance_report()
    assert rpt["dv_ratio"] < 0.25  # global ratio says "fine"
    assert rpt["max_bucket_dv_ratio"] > 0.25  # the bucket says not
    assert rpt["wants_dv_reclaim"] and rpt["wants_compact"]
    assert not rpt["wants_mask_coalesce"]
    tb = t.live_bytes() / 4 / 1024 / 1024
    plan = t.maintain(dry_run=True, target_bucket_mb=tb)
    assert ("compact", None) in plan["actions"]
    assert ("coalesce_masks", None) not in plan["actions"]
    t.compact()
    # the skewed bucket was rewritten mask-free; untouched buckets kept
    inv = t.files()
    assert inv.filter(F.col("bucket") == bucket).agg(
        F.sum("dv_rows")
    ).collect()[0][0] in (0, None)
    assert t.count() == 200 - len(victims)


def test_shared_dv_dir_records_bucket_total(spark, tmp_path):
    """r13 review: a bucket's position dir is shared by every touched
    entry, so each entry records the dir TOTAL (dir_rows) alongside its
    own share (rows) — the masked read's broadcast estimate then sizes
    what the dir actually loads even when the scan prunes to one small
    entry."""
    t = TxnTable.create(
        spark,
        str(tmp_path / "shared"),
        keys=["id"],
        schema=SCHEMA,
        n_buckets=2,
        deletion_vectors=True,
    )
    t.append(_df(spark, [(i, f"v{i}", 1) for i in range(20)]))
    t.append(_df(spark, [(i, f"v{i}", 1) for i in range(20, 40)]))
    # one statement masking rows in BOTH entries of each bucket
    t.delete_where((F.col("id") % 4) == 1)  # hits both appends' ranges
    _, active, _ = t._state()
    shares: dict[str, int] = {}
    totals: dict[str, set[int]] = {}
    for a in active.values():
        d = a.get("dv")
        if not d:
            continue
        path = d["paths"][0]
        shares[path] = shares.get(path, 0) + int(d["rows"])
        totals.setdefault(path, set()).add(int(d["dir_rows"][path]))
    assert shares  # the delete touched something
    for path, share_sum in shares.items():
        # every co-referencing entry recorded the same dir total, and
        # it equals the sum of their shares
        assert totals[path] == {share_sum}
    assert t.count() == 30


def test_history_detailed_operation_metrics(spark, table):
    """late r13: history(detailed=True) carries Delta DESCRIBE
    HISTORY-shape operation metrics off the commit payloads — a DV
    statement shows mode="dv" with zero removes and masked positions,
    a copy-on-write delete shows its rewrites; rows are oldest-first
    regardless of log listing order."""
    table.delete_where(F.col("id") == 3)  # dv (table default)
    table.delete_where(F.col("id") == 5, deletion_vectors=False)  # cow
    hist = table.history(detailed=True)
    assert [h["version"] for h in hist] == sorted(h["version"] for h in hist)
    append = next(h for h in hist if h["op"] == "append")
    assert append["n_removes"] == 0 and append["rows_in_adds"] == 20
    assert append["dv_rows_in_adds"] == 0 and append["mode"] is None
    dv, cow = (h for h in hist if h["op"] == "delete")
    assert dv["mode"] == "dv" and dv["n_removes"] == 0
    assert dv["dv_rows_in_adds"] == 1  # one masked position
    assert cow["mode"] != "dv" and cow["n_removes"] > 0
    # the plain listing keeps its lean shape
    assert "n_adds" not in table.history()[0]


def test_files_raises_on_vacuumed_version(spark, table):
    """r13 review: the files() inventory fails LOUDLY on a vacuumed
    historical version like every other historical read — bytes=0
    phantom rows would mislead an operator sizing a restore."""
    v0 = table.version()
    table.delete_where(F.col("id") < 10, deletion_vectors=False)
    table.vacuum(retention_s=0.0)
    assert table.files().count() > 0  # current version always readable
    with pytest.raises(VacuumedVersionError):
        table.files(version=v0).count()


def test_compact_reclaims_on_mask_volume(spark, table):
    """late r13: mask VOLUME (not chains) triggers the materializing
    rewrite — per-bucket dead fraction over the reclaim ratio makes the
    bucket a compact candidate even at chain 1, and maintain() plans
    compact, not coalesce."""
    table.delete_where(F.col("id") < 10)  # one statement: chain 1
    rpt = table.maintenance_report()
    assert rpt["dv_ratio"] == 0.5
    assert rpt["wants_compact"] and not rpt["wants_mask_coalesce"]
    tb = table.live_bytes() / 4 / 1024 / 1024  # see coalesce test
    plan = table.maintain(dry_run=True, target_bucket_mb=tb)
    assert ("compact", None) in plan["actions"]
    assert ("coalesce_masks", None) not in plan["actions"]
    table.compact()
    inv = table.files()
    # every entry past the reclaim ratio was rewritten mask-free
    assert inv.filter(
        F.col("dv_rows") * 4 > F.col("rows")  # ratio > 0.25
    ).count() == 0
    assert table.count() == 10 == table.snapshot().count()


def _mk_clause_pair(spark, tmp_path, names=("ccow", "cdv")):
    """Two identical tables (CoW / DV) seeded with rows + a blind
    duplicate, for clause-equivalence runs."""
    out = []
    for name, dv in zip(names, (False, True)):
        t = TxnTable.create(
            spark, str(tmp_path / name), keys=["id"], schema=SCHEMA,
            n_buckets=4, deletion_vectors=dv,
        )
        t.append(_df(spark, [(i, f"v{i}", 2) for i in range(12)]))
        t.append(_df(spark, [(5, "dup5", 1)]))  # stored duplicate key
        out.append(t)
    return out


def test_clause_merge_dv_equals_cow(spark, tmp_path):
    """r14 (VERDICT r13 item 2): merge clauses compose with deletion
    vectors — final state AND row-level CDC pinned ≡ the CoW clause
    path across the matrix: matched post-image delete (batch winner
    and stored winner), unmatched batch insert where the condition
    holds (kept — WHEN MATCHED only), delete_where hitting touched
    AND untouched buckets, and the stored-duplicate mask side effect."""
    cow, dv = _mk_clause_pair(spark, tmp_path)
    batch = _df(
        spark,
        [
            (1, "del1", 9),    # matched, batch wins, cond hits -> deleted
            (2, "keep2", 9),   # matched, batch wins, cond misses -> kept
            (3, "low3", 1),    # matched, stored wins; stored post-image kept
            (50, "del50", 9),  # UNmatched insert, cond would hit -> kept
        ],
    )
    wmd = F.col("val").startswith("del")
    dw = F.col("id").isin(7, 50) & (F.col("version") < 5)
    vs = {}
    for t in (cow, dv):
        vs[t] = t.merge(batch, ["version"], when_matched_delete=wmd,
                        delete_where=dw)
    assert _rows(cow.snapshot()) == _rows(dv.snapshot())
    got = {r.id: (r.val, r.version) for r in dv.snapshot().collect()}
    assert 1 not in got                   # matched delete (batch winner)
    assert got[2] == ("keep2", 9)
    assert got[3] == ("v3", 2)            # stored winner, cond miss
    assert got[50] == ("del50", 9)        # unmatched insert survives wmd
    assert 7 not in got                   # delete_where, untouched bucket ok
    assert got[5] == ("v5", 2)            # duplicate deduped
    # CDC equality (row-level change feed of the clause commit)
    cdc = lambda t, v: {  # noqa: E731
        (r.id, r.val, r._change_type) for r in t.row_changes(v).collect()
    }
    assert cdc(cow, vs[cow]) == cdc(dv, vs[dv])
    # the DV commit moved no files and masked instead
    commit = next(c for c in dv._commits() if c["version"] == vs[dv])
    assert commit["op"] == "merge" and commit.get("mode") == "dv"
    assert commit["removes"] == []
    # time-travel replay: pre-clause snapshots still read on both
    assert _rows(cow.snapshot(vs[cow] - 1)) == _rows(dv.snapshot(vs[dv] - 1))


def test_clause_merge_dv_matched_delete_only(spark, tmp_path):
    """when_matched_delete alone: conflict set stays touched-bucket
    sized (no whole-table read), stored winners satisfying the
    post-image condition are masked."""
    cow, dv = _mk_clause_pair(spark, tmp_path, ("mc", "md"))
    # stored row wins the rank but its post-image (the stored image)
    # satisfies the condition -> stored winner masked, loser batch row
    # NOT inserted (the key matched and was deleted)
    batch = _df(spark, [(4, "x4", 1)])
    wmd = F.col("version") == 2  # hits the stored post-image v4/2
    for t in (cow, dv):
        t.merge(batch, ["version"], when_matched_delete=wmd)
    assert _rows(cow.snapshot()) == _rows(dv.snapshot())
    assert 4 not in {r.id for r in dv.snapshot().collect()}
    commit = dv._commits()[-1]
    # only the touched bucket in the conflict set
    assert commit.get("mode") == "dv"
    assert len(commit["buckets"]) < 4


def test_clause_merge_dv_empty_batch_delete_where(spark, tmp_path):
    """An empty batch with a delete_where clause still deletes on the
    DV path (parity with the CoW statement recording)."""
    cow, dv = _mk_clause_pair(spark, tmp_path, ("ec", "ed"))
    empty = _df(spark, [])
    for t in (cow, dv):
        t.merge(empty, ["version"], delete_where=F.col("id") >= 10)
    assert _rows(cow.snapshot()) == _rows(dv.snapshot())
    # ids 10,11 deleted; ids 0..9 remain, plus the blind duplicate of
    # id 5 (an empty batch touches no buckets, so no dedup side effect)
    assert dv.snapshot().count() == 11
    commit = dv._commits()[-1]
    assert commit.get("mode") == "dv" and commit["removes"] == []


def test_clause_merge_dv_occ_conflict_and_stamp(spark, tmp_path):
    """The clause-DV commit plays the ordinary OCC race (whole-table
    read set with delete_where) and carries the exactly-once stamp;
    a replayed stamped batch is a no-op."""
    t = TxnTable.create(
        spark, str(tmp_path / "o"), keys=["id"], schema=SCHEMA,
        n_buckets=4, deletion_vectors=True,
    )
    t.append(_df(spark, [(i, f"v{i}", 1) for i in range(8)]))
    batch = _df(spark, [(1, "del1", 9)])
    v = t.merge(batch, ["version"], when_matched_delete=F.lit(True),
                txn=("clauseapp", 3))
    assert t.streaming_watermark("clauseapp") == 3
    # replay of the same stamped batch: skipped by the caller contract
    # (watermark already at 3); a racing writer between read and commit
    # forces ConcurrentWriteError on the clause commit
    t2 = TxnTable(t.spark, t.path)
    meta, active, read_v = t2._state()
    t.append(_df(spark, [(100, "race", 1)]))  # interloper
    from knightshift_spark.sources.txntable import ConcurrentWriteError
    import pytest as _pt
    with _pt.raises(ConcurrentWriteError):
        t2.merge(
            _df(spark, [(2, "del2", 9)]), ["version"],
            delete_where=F.col("id") == 3,
            deletion_vectors=True,
            _state_hint=(meta, active, read_v),
        )
    # snapshot unchanged by the loser beyond the interloper append
    assert (1, "del1", 9) not in _rows(t.snapshot())
    assert t.snapshot().count() == 8  # 8 orig - id1 + race row


def test_dv_range_hint_requires_trust_optin(spark, table):
    """ADVICE r13: on the DV path range_hint prunes candidate files
    (correctness input), so it is refused without
    trusted_range_hint=True; the CoW path keeps it plan-only."""
    with pytest.raises(ValueError, match="trusted_range_hint"):
        table.delete_where(F.col("id") == 1, range_hint=("id", 0, 5))
    with pytest.raises(ValueError, match="trusted_range_hint"):
        table.update_where(
            F.col("id") == 1, {"val": F.lit("x")}, range_hint=("id", 0, 5)
        )
    table.delete_where(
        F.col("id") == 1, range_hint=("id", 0, 5), trusted_range_hint=True
    )
    assert table.snapshot().filter(F.col("id") == 1).count() == 0
    # CoW override: the same hint is plan-only, no opt-in needed
    table.delete_where(
        F.col("id") == 2, range_hint=("id", 0, 5), deletion_vectors=False
    )
    assert table.snapshot().filter(F.col("id") == 2).count() == 0
    assert table.snapshot().count() == 18


def test_dv_read_broadcast_sized_by_dir_totals(spark, table):
    """The masked read sizes its broadcast from each position dir's
    recorded total (``dir_rows``): with totals recorded, the pinned
    F.broadcast hint wins even when Spark's size-based auto broadcast
    is off. A DV entry without ``dir_rows`` is not a layout this build
    writes, so the read raises instead of estimating."""
    import contextlib
    import io
    import json as _json

    table.delete_where(F.col("id") == 5)

    def anti_lines(t):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            t.snapshot().explain("formatted")
        return [
            ln for ln in buf.getvalue().splitlines() if "LeftAnti" in ln
        ]

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = anti_lines(table)
        assert any("Broadcast" in ln for ln in hinted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    # strip dir_rows from the dv entries of the latest commit
    log = os.path.join(table.path, "_txnlog")
    latest = max(
        (n for n in os.listdir(log) if n.endswith(".json")
         and not n.endswith(".checkpoint.json")),
        key=lambda n: int(n.split(".")[0]),
    )
    fp = os.path.join(log, latest)
    commit = _json.load(open(fp))
    stripped = False
    for a in commit["adds"]:
        if a.get("dv") and a["dv"].pop("dir_rows", None) is not None:
            stripped = True
    assert stripped
    _json.dump(commit, open(fp, "w"))
    with pytest.raises(KeyError, match="dir_rows"):
        TxnTable(table.spark, table.path).snapshot()
