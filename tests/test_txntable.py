"""TxnTable: ACID commit-log parquet table (ROADMAP r7 item 1 — the
in-engine replacement for the unavailable Delta/Iceberg MERGE INTO).

Reference semantics being reproduced: ``knightshift/db/game_upsert.py``
(key-hit UPDATE / miss INSERT, reader never sees a half-applied batch)
and ``validate_tv_channel_games.py`` (conditional DELETE)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from knightshift_spark.operators.merge import upsert
from knightshift_spark.sources import txntable
from knightshift_spark.sources.txntable import (
    ConcurrentWriteError,
    TxnTable,
    VacuumedVersionError,
)

SCHEMA = "id long, val string, version int"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return {(r.id, r.val, r.version) for r in df.collect()}


@pytest.fixture()
def table(spark, tmp_path):
    return TxnTable.create(
        spark, str(tmp_path / "t"), keys=["id"], schema=SCHEMA, n_buckets=4
    )


def test_append_snapshot_roundtrip_and_crash_safety(spark, table):
    table.append(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    table.append(_df(spark, [(3, "c", 1)]))
    assert _rows(table.snapshot()) == {(1, "a", 1), (2, "b", 1), (3, "c", 1)}
    # a data directory WITHOUT a commit record (crashed writer) is invisible
    orphan = os.path.join(table.path, "data", "deadbeef", "__bucket=0")
    os.makedirs(orphan)
    _df(spark, [(99, "ghost", 9)]).write.mode("overwrite").parquet(orphan)
    assert (99, "ghost", 9) not in _rows(table.snapshot())
    # double-create refuses
    with pytest.raises(FileExistsError):
        TxnTable.create(spark, table.path, keys=["id"], schema=SCHEMA)


def test_merge_is_last_writer_wins_and_rewrites_touched_buckets_only(
    spark, table
):
    base = [(i, f"v{i}", 1) for i in range(12)]
    table.append(_df(spark, base))
    before = {a["path"]: a["bucket"] for a in table._state()[1].values()}

    updates = [(3, "UPD", 2), (7, "STALE", 0), (100, "NEW", 2)]
    table.merge(_df(spark, updates), order_by=["version"])

    expect = _rows(
        upsert(_df(spark, base), _df(spark, updates), ["id"], ["version"])
    )
    assert _rows(table.snapshot()) == expect
    assert (3, "UPD", 2) in expect and (7, "v7", 1) in expect  # stale lost

    after = {a["path"]: a["bucket"] for a in table._state()[1].values()}
    touched = {
        r.b
        for r in _df(spark, updates)
        .select(F.pmod(F.xxhash64("id"), F.lit(4)).alias("b"))
        .distinct()
        .collect()
    }
    # untouched buckets carry the SAME physical paths through the commit
    for path, bucket in before.items():
        if bucket not in touched:
            assert path in after
        else:
            assert path not in after


def test_time_travel_and_history(spark, table):
    table.append(_df(spark, [(1, "a", 1)]))          # v1
    table.merge(_df(spark, [(1, "b", 2)]), ["version"])  # v2
    table.delete_where(F.col("id") == 1)             # v3
    assert _rows(table.snapshot(1)) == {(1, "a", 1)}
    assert _rows(table.snapshot(2)) == {(1, "b", 2)}
    assert _rows(table.snapshot()) == set()
    assert [h["op"] for h in table.history()] == [
        "create", "append", "merge", "delete",
    ]


def test_delete_where_keeps_other_buckets_physically(spark, table):
    table.append(_df(spark, [(i, "x", 1) for i in range(8)]))
    before = set(table._state()[1])
    table.delete_where(F.col("id") == 5)
    snap = _rows(table.snapshot())
    assert (5, "x", 1) not in snap and len(snap) == 7
    after = set(table._state()[1])
    assert before & after  # untouched bucket files survived as-is


def test_optimistic_concurrency_conflict_and_rebase(spark, table):
    table.append(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    meta, _, read_v = table._state()

    # writer A stages a merge against read_v, then commits
    a_adds = table._write_data(_df(spark, [(1, "A", 2)]), meta)
    a_buckets = [x["bucket"] for x in a_adds]
    table._commit("merge", a_adds, [], a_buckets, read_v)

    # writer B staged against the SAME read_v on the SAME bucket: conflict
    b_adds = table._write_data(_df(spark, [(1, "B", 3)]), meta)
    with pytest.raises(ConcurrentWriteError):
        table._commit("merge", b_adds, [], [x["bucket"] for x in b_adds], read_v)
    for x in b_adds:  # staged data was rolled back
        assert not os.path.isdir(os.path.join(table.path, x["path"]))

    # writer C staged against the same read_v but a DISJOINT bucket: rebase
    disjoint_rows, key = None, 3
    while disjoint_rows is None:
        cand = _df(spark, [(key, "C", 2)])
        b = cand.select(F.pmod(F.xxhash64("id"), F.lit(4)).alias("b")).collect()[0].b
        if b not in set(a_buckets):
            disjoint_rows = cand
        key += 1
    c_adds = table._write_data(disjoint_rows, meta)
    v = table._commit("merge", c_adds, [], [x["bucket"] for x in c_adds], read_v)
    assert v == read_v + 2  # rebased past A's commit
    got = _rows(table.snapshot())
    assert (1, "A", 2) in got and (key - 1, "C", 2) in got


def test_compact_preserves_state_and_merges_files(spark, table):
    for i in range(3):
        table.append(_df(spark, [(j, f"r{i}", 1) for j in range(6)]))
    before_state = _rows(table.snapshot())
    _, active, _ = table._state()
    buckets = [a["bucket"] for a in active.values()]
    assert max(buckets.count(b) for b in set(buckets)) >= 2
    table.compact()
    _, active2, _ = table._state()
    buckets2 = [a["bucket"] for a in active2.values()]
    assert max(buckets2.count(b) for b in set(buckets2)) == 1
    assert _rows(table.snapshot()) == before_state


def test_vacuum_drops_dead_files_and_guards_time_travel(spark, table):
    table.append(_df(spark, [(1, "a", 1)]))              # v1
    table.merge(_df(spark, [(1, "b", 2)]), ["version"])  # v2 (v1 file dead)
    dead = [
        p for p in table._state(1)[1] if p not in table._state()[1]
    ]
    assert dead
    table.vacuum(retention_s=0)  # stop-the-world maintenance window
    for p in dead:
        assert not os.path.isdir(os.path.join(table.path, p))
    assert _rows(table.snapshot()) == {(1, "b", 2)}  # current unharmed
    with pytest.raises(VacuumedVersionError):
        table.snapshot(1).collect()


def test_checkpoint_bounds_log_replay(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(txntable, "_CHECKPOINT_EVERY", 3)
    t = TxnTable.create(
        spark, str(tmp_path / "ck"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    for i in range(4):
        t.append(_df(spark, [(i, f"a{i}", 1)]))
    ckpts = [
        n for n in os.listdir(os.path.join(t.path, "_txnlog"))
        if n.endswith(".checkpoint.json")
    ]
    assert ckpts  # v3 checkpointed
    with open(os.path.join(t.path, "_txnlog", sorted(ckpts)[-1])) as f:
        ck = json.load(f)
    assert ck["meta"]["keys"] == ["id"] and ck["active"]
    # a FRESH handle resolves through the checkpoint to the same state
    fresh = TxnTable(spark, t.path)
    assert _rows(fresh.snapshot()) == {(i, f"a{i}", 1) for i in range(4)}
    assert fresh.version() == 4


def test_point_lookup_prunes_to_one_bucket(spark, table):
    table.append(_df(spark, [(i, f"v{i}", 1) for i in range(10)]))
    got = table.lookup([7]).collect()
    assert [(r.id, r.val) for r in got] == [(7, "v7")]
    meta, active, _ = table._state()
    bucket7 = (
        _df(spark, [(7, "", 0)])
        .select(F.pmod(F.xxhash64("id"), F.lit(meta["n_buckets"])).alias("b"))
        .collect()[0].b
    )
    # physically remove every OTHER bucket's files: lookup must still work,
    # proving it never touches them
    import shutil

    for p, a in active.items():
        if a["bucket"] != bucket7:
            shutil.rmtree(os.path.join(table.path, p))
    assert [(r.id, r.val) for r in table.lookup([7]).collect()] == [(7, "v7")]


def test_schema_mismatch_fails_loudly_and_evolve_appends(spark, table):
    from knightshift_spark.sources.txntable import SchemaMismatchError

    table.append(_df(spark, [(1, "a", 1)]))
    wide = spark.createDataFrame(
        [(2, "b", 2, "extra")], SCHEMA + ", note string"
    )
    # extra column without evolve: loud failure, not a silent drop
    with pytest.raises(SchemaMismatchError, match="note"):
        table.merge(wide, ["version"])
    # missing column: same
    with pytest.raises(SchemaMismatchError, match="version"):
        table.append(spark.createDataFrame([(3, "c")], "id long, val string"))

    table.merge(wide, ["version"], evolve=True)
    got = {(r.id, r.val, r.version, r.note) for r in table.snapshot().collect()}
    # the pre-evolution file reads NULL for the new column
    assert got == {(1, "a", 1, None), (2, "b", 2, "extra")}
    # the widened schema is durable: fresh handle, next write must carry it
    fresh = TxnTable(spark, table.path)
    with pytest.raises(SchemaMismatchError, match="note"):
        fresh.append(_df(spark, [(4, "d", 1)]))


def test_racing_schema_evolutions_conflict(spark, table):
    from knightshift_spark.sources.txntable import _atomic_publish, _log_path

    table.append(_df(spark, [(1, "a", 1)]))
    meta, _, read_v = table._state()
    evolved = table._evolved_meta(
        spark.createDataFrame([], SCHEMA + ", x int"), meta
    )
    adds = table._write_data(_df(spark, [(2, "b", 1)]), meta)
    # another writer lands a schema-changing commit at our version first
    _atomic_publish(
        {
            "version": read_v + 1,
            "op": "merge",
            "adds": [],
            "removes": [],
            "buckets": [],
            "read_version": read_v,
            "schema": evolved["schema"],
        },
        _log_path(table.path, read_v + 1),
    )
    with pytest.raises(ConcurrentWriteError):
        table._commit(
            "merge",
            adds,
            [],
            [a["bucket"] for a in adds],
            read_v,
            schema=evolved["schema"],
        )


def test_table_changes_incremental_feed(spark, table):
    table.append(_df(spark, [(1, "a", 1), (2, "b", 1)]))  # v1
    table.merge(_df(spark, [(2, "B", 2)]), ["version"])   # v2
    table.compact(min_files=1)                            # v3 (not a change)
    table.append(_df(spark, [(3, "c", 1)]))               # v4
    ch = table.table_changes(since_version=1)
    got = {(r.id, r.val, r._commit_version) for r in ch.collect()}
    # v2 rewrote bucket(2): the carried/updated rows of that bucket appear
    # at v2; compaction contributes nothing; v4's append appears
    assert (3, "c", 4) in got
    assert all(v in (2, 4) for _, _, v in got)
    assert {(r.id, r.val) for r in ch.filter("_commit_version = 2").collect()} == {
        (2, "B")
    }
    # empty range → empty frame with the schema + _commit_version
    empty = table.table_changes(since_version=table.version())
    assert empty.count() == 0 and "_commit_version" in empty.columns


def test_delete_keys_removes_listed_rows_only(spark, table):
    table.append(_df(spark, [(i, "x", 1) for i in range(8)]))
    v = table.version()
    table.delete_keys(spark.createDataFrame([(2,), (5,), (999,)], "id long"))
    assert {r.id for r in table.snapshot().collect()} == {0, 1, 3, 4, 6, 7}
    assert table.version() == v + 1
    # an EMPTY key list commits nothing
    table.delete_keys(spark.createDataFrame([], "id long"))
    assert table.version() == v + 1


def test_snapshot_where_skips_files_by_footer_stats(spark, tmp_path):
    """Data skipping: three appends with disjoint id ranges → a range
    read opens only the matching commit's files. Proven physically: the
    out-of-range files are deleted from disk and the pruned read still
    answers (an unpruned plan would fail on the missing files)."""
    import shutil

    t = TxnTable.create(
        spark, str(tmp_path / "s"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    t.append(_df(spark, [(i, "a", 1) for i in range(0, 10)]))        # v1
    t.append(_df(spark, [(i, "b", 1) for i in range(100, 110)]))     # v2
    t.append(_df(spark, [(i, "c", 1) for i in range(200, 210)]))     # v3
    _, active, _ = t._state()
    assert all("stats" in a for a in active.values())
    got = {r.id for r in t.snapshot_where("id", lo=100, hi=109).collect()}
    assert got == set(range(100, 110))
    # physically remove every file that can't hold ids 100..109
    for p, a in t._state()[1].items():
        mn, mx = a["stats"]["id"]
        if mx < 100 or mn > 109:
            shutil.rmtree(os.path.join(t.path, p))
    got2 = {r.id for r in t.snapshot_where("id", lo=100, hi=109).collect()}
    assert got2 == set(range(100, 110))
    # stats survive a merge's rewrite (recomputed from the new footers)
    t2 = TxnTable.create(
        spark, str(tmp_path / "s2"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    t2.append(_df(spark, [(1, "a", 1), (500, "z", 1)]))
    t2.merge(_df(spark, [(500, "Z", 2)]), ["version"])
    _, active2, _ = t2._state()
    assert all("stats" in a for a in active2.values())
    assert {r.id for r in t2.snapshot_where("id", lo=400, hi=600).collect()} == {500}


def test_row_changes_classifies_cdc_exactly(spark, table):
    """Row-level CDC: a merge that updates one key, inserts one, and
    carries the rest yields exactly {update_pre/post, insert}; a
    delete commit yields exactly {delete}; carried rows never appear
    (unlike the file-granular table_changes feed)."""
    table.append(_df(spark, [(i, "base", 1) for i in range(6)]))      # v1
    table.merge(_df(spark, [(2, "UPD", 2), (100, "NEW", 2)]), ["version"])  # v2
    table.delete_where(F.col("id") == 4)                              # v3

    v1 = {(r.id, r._change_type) for r in table.row_changes(1).collect()}
    assert v1 == {(i, "insert") for i in range(6)}

    v2 = {(r.id, r.val, r._change_type) for r in table.row_changes(2).collect()}
    assert v2 == {
        (2, "base", "update_preimage"),
        (2, "UPD", "update_postimage"),
        (100, "NEW", "insert"),
    }
    assert all(r._commit_version == 2 for r in table.row_changes(2).collect())

    v3 = {(r.id, r._change_type) for r in table.row_changes(3).collect()}
    assert v3 == {(4, "delete")}

    # an append into buckets that ALREADY hold rows is pure inserts —
    # the pre-existing same-bucket rows must not read as deletes
    table.append(_df(spark, [(300, "app", 1), (301, "app", 1)]))      # v4
    v4 = {(r.id, r._change_type) for r in table.row_changes(4).collect()}
    assert v4 == {(300, "insert"), (301, "insert")}

    with pytest.raises(ValueError):
        table.row_changes(0)  # create is not a data commit

    # restore CDC (ROADMAP 4b): the v4→v1 rollback reads as the exact
    # row diff of the two snapshots — reverted row as update pre/post,
    # resurrected row as insert, rolled-back rows as deletes; carried
    # rows (0,1,3,5 identical in both states) never appear
    table.restore(1)                                                  # v5
    v5 = {
        (r.id, r.val, r._change_type) for r in table.row_changes(5).collect()
    }
    assert v5 == {
        (2, "UPD", "update_preimage"),
        (2, "base", "update_postimage"),
        (100, "NEW", "delete"),
        (4, "base", "insert"),
        (300, "app", "delete"),
        (301, "app", "delete"),
    }
    # the file-granular feed refuses to span the restore (ADVICE r8):
    # reappearing/disappearing rows aren't representable there
    with pytest.raises(ValueError):
        table.table_changes(0)
    # ranges that avoid the restore commit still work
    assert table.table_changes(0, to_version=4).count() > 0


def test_restore_rolls_back_by_reference(spark, table):
    table.append(_df(spark, [(1, "good", 1), (2, "good", 1)]))  # v1
    v1_files = set(table._state()[1])
    table.merge(_df(spark, [(1, "BAD", 9), (3, "BAD", 9)]), ["version"])  # v2
    table.delete_where(F.col("id") == 2)                                  # v3
    v = table.restore(1)                                                  # v4
    assert v == 4
    assert _rows(table.snapshot()) == {(1, "good", 1), (2, "good", 1)}
    # rollback is by REFERENCE: v1's physical files are active again
    assert set(table._state()[1]) == v1_files
    # the bad commits stay in history for audit
    assert [h["op"] for h in table.history()] == [
        "create", "append", "merge", "delete", "restore",
    ]
    # restoring to the current state is a no-op
    assert table.restore(4) == 4
    # after vacuum, a rollback past the horizon refuses loudly
    table.merge(_df(spark, [(1, "new", 2)]), ["version"])  # v5
    table.vacuum(retention_s=0)                            # v6
    with pytest.raises(VacuumedVersionError):
        table.restore(2)


def test_random_op_sequence_matches_dict_model(spark, tmp_path):
    """Model-based check: a seeded random sequence of append / merge /
    delete_keys / compact / multi-statement TRANSACTION ops replayed
    against a plain dict model (key -> (val, version), LWW on version
    then arrival; txn statements apply in order, atomically). The table
    must agree with the model after every op, and every recorded
    historical version must replay exactly."""
    import random

    rng = random.Random(77)
    t = TxnTable.create(
        spark, str(tmp_path / "m"), keys=["id"], schema=SCHEMA, n_buckets=3
    )
    model: dict[int, tuple[str, int]] = {}
    history: list[dict] = [dict(model)]  # version 0: empty

    def lww(rows):
        for i, val, ver in rows:
            cur = model.get(i)
            # updates beat stored rows on order_by ties (upsert _ORD)
            if cur is None or ver >= cur[1]:
                model[i] = (val, ver)

    def random_merge_rows(step):
        rows = [
            (rng.randrange(12), f"m{step}", rng.randrange(1, 4))
            for _ in range(rng.randrange(1, 4))
        ]
        batch: dict[int, tuple[str, int]] = {}
        for i, val, ver in rows:
            if i not in batch or ver >= batch[i][1]:
                batch[i] = (val, ver)
        return [(i, v, ver) for i, (v, ver) in batch.items()]

    for step in range(14):
        op = rng.choice(["append", "merge", "merge", "delete", "compact",
                         "txn", "txn", "rebucket", "zorder", "merge_clause",
                         "update_where", "dv_delete", "dv_update",
                         "coalesce"])
        before_v = t.version()
        if op == "append":
            rows = [
                (rng.randrange(12), f"a{step}", rng.randrange(1, 4))
                for _ in range(rng.randrange(1, 4))
            ]
            # append is blind insert; keep the model a function by never
            # appending a live key or an in-batch duplicate
            seen: set[int] = set()
            rows = [
                r for r in rows
                if r[0] not in model and r[0] not in seen and not seen.add(r[0])
            ]
            if not rows:
                continue
            t.append(_df(spark, rows))
            for i, val, ver in rows:
                model[i] = (val, ver)
        elif op == "merge":
            # in-batch dedup: last-writer-wins keeps ONE row per key —
            # mirror upsert's tie-break (highest version wins) per batch;
            # randomly the r13 merge-on-read path (identical semantics,
            # masks + new files instead of a bucket rewrite)
            batch = random_merge_rows(step)
            t.merge(
                _df(spark, batch), ["version"],
                deletion_vectors=rng.choice([True, False, None]),
            )
            lww(batch)
        elif op == "txn":
            # multi-statement transaction: random merge / delete_keys /
            # delete_where statements applied IN ORDER, one commit; the
            # model applies the same sequence eagerly
            n_stmts = rng.randrange(1, 4)
            stmts = []
            for s in range(n_stmts):
                kind = rng.choice(["merge", "merge", "del_keys", "del_where"])
                if kind == "merge":
                    stmts.append(("merge", random_merge_rows(f"{step}t{s}")))
                elif kind == "del_keys":
                    stmts.append(
                        ("del_keys", [rng.randrange(12) for _ in range(2)])
                    )
                else:
                    m, r = rng.choice([(2, 0), (3, 1), (4, 2)])
                    stmts.append(("del_where", m, r, rng.random() < 0.5))
            with t.transaction():
                for st in stmts:
                    if st[0] == "merge":
                        t.merge(_df(spark, st[1]), ["version"])
                    elif st[0] == "del_keys":
                        t.delete_keys(spark.createDataFrame(
                            [(i,) for i in st[1]], "id long"
                        ))
                    else:
                        _, m, r, ra = st
                        t.delete_where(F.col("id") % m == r, rewrite_all=ra)
            for st in stmts:
                if st[0] == "merge":
                    lww(st[1])
                elif st[0] == "del_keys":
                    for i in st[1]:
                        model.pop(i, None)
                else:
                    _, m, r, _ = st
                    for i in [k for k in model if k % m == r]:
                        model.pop(i)
        elif op == "delete":
            ids = [rng.randrange(12) for _ in range(2)]
            # randomly the r13 merge-on-read path: same model effect
            t.delete_keys(
                spark.createDataFrame([(i,) for i in ids], "id long"),
                deletion_vectors=rng.choice([True, False, None]),
            )
            for i in ids:
                model.pop(i, None)
        elif op == "merge_clause":
            # r13 conditional MERGE: update batch + fused predicate
            # delete in ONE statement/commit; the model applies the
            # merge, then the post-merge whole-table delete —
            # randomly via r14 clause deletion vectors (same
            # semantics, positions masked instead of rewritten)
            batch = random_merge_rows(step)
            m, r2 = rng.choice([(3, 0), (4, 1), (5, 2)])
            t.merge(
                _df(spark, batch), ["version"],
                delete_where=F.col("id") % m == r2,
                deletion_vectors=rng.choice([True, False, None]),
            )
            lww(batch)
            for i in [k for k in model if k % m == r2]:
                model.pop(i)
        elif op == "update_where":
            # r13 conditional UPDATE: predicate rows get simultaneous
            # pre-image SET; the model rewrites the same slice
            if not model:
                continue
            m, r2 = rng.choice([(3, 0), (4, 1), (5, 2)])
            ra = rng.choice([True, False, None])
            t.update_where(
                F.col("id") % m == r2,
                {"val": F.concat(F.lit(f"u{step}-"), F.col("val")),
                 "version": F.col("version") + 1},
                rewrite_all=ra,
            )
            for i in [k for k in model if k % m == r2]:
                v0, ver0 = model[i]
                model[i] = (f"u{step}-{v0}", ver0 + 1)
        elif op == "dv_delete":
            # r13 deletion vectors: merge-on-read delete — same model
            # effect as a predicate delete, no files rewritten
            m, r2 = rng.choice([(3, 0), (4, 1), (5, 2)])
            t.delete_where(F.col("id") % m == r2, deletion_vectors=True)
            for i in [k for k in model if k % m == r2]:
                model.pop(i)
        elif op == "dv_update":
            # r13 merge-on-read update: old images masked, new images
            # appended — same model effect as update_where
            if not model:
                continue
            m, r2 = rng.choice([(3, 1), (4, 2), (5, 3)])
            t.update_where(
                F.col("id") % m == r2,
                {"val": F.concat(F.lit(f"d{step}-"), F.col("val")),
                 "version": F.col("version") + 1},
                deletion_vectors=True,
            )
            for i in [k for k in model if k % m == r2]:
                v0, ver0 = model[i]
                model[i] = (f"d{step}-{v0}", ver0 + 1)
        elif op == "coalesce":
            # mask-chain coalescing (late r13) rewrites POSITIONS only —
            # live rows, data files and the model are untouched; a
            # chain-free table commits nothing
            t.coalesce_masks()
        elif op == "rebucket":
            # partition evolution moves bytes, never rows — the model
            # is untouched; no-op respecs (same count) commit nothing
            t.rebucket(rng.choice([2, 3, 5, 8]))
        elif op == "zorder":
            # clustering respec (r12): also moves bytes only; the spec
            # rides the commit log and must replay through time travel
            t.compact(zorder_by=["version"], target_file_rows=4)
        else:
            t.compact()
        got = {r.id: (r.val, r.version) for r in t.snapshot().collect()}
        assert got == model, f"step {step} op {op}: {got} != {model}"
        # metadata-only count stays exact through every op, DV included
        assert t.count() == len(model), f"step {step} op {op}: count"
        for _ in range(t.version() - before_v):
            history.append(dict(model))

    # time travel: every version replays to the state the model had then
    for v, expected in enumerate(history):
        got = {r.id: (r.val, r.version) for r in t.snapshot(v).collect()}
        assert got == expected, f"version {v}"

    # r13: the incremental SCD2 materializer agrees with the full build
    # over the whole random mutation history, and its open rows are the
    # model's final state
    from collections import Counter

    from knightshift_spark.sources.txntable import (
        read_scd2,
        sync_scd2_from_table,
    )

    hist_path = str(tmp_path / "m_hist")
    assert sync_scd2_from_table(t, hist_path, n_buckets=4) == t.version()

    def _canon(df):
        cols = sorted(df.columns)
        return Counter(
            tuple(r[c] for c in cols) for r in df.select(*cols).collect()
        )

    assert _canon(read_scd2(spark, hist_path)) == _canon(t.scd2_history())
    open_rows = {
        r.id: (r.val, r.version)
        for r in read_scd2(spark, hist_path)
        .filter(F.col("__valid_to").isNull())
        .collect()
    }
    assert open_rows == model


def test_concurrent_threaded_merges_disjoint_keys(spark, table):
    """Two writers merging DISJOINT key sets from real threads: both
    commits must land (one rebases past the other) and the final state
    holds both writers' rows. Same-key interleavings are covered by the
    protocol-level conflict test above."""
    import threading

    table.append(_df(spark, [(1, "seed", 1)]))
    errs = []

    def writer(lo: int):
        try:
            rows = [(lo + j, f"w{lo}", 2) for j in range(3)]
            table.merge(_df(spark, rows), ["version"])
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    t1 = threading.Thread(target=writer, args=(100,))
    t2 = threading.Thread(target=writer, args=(200,))
    t1.start(), t2.start()
    t1.join(60), t2.join(60)
    # disjoint KEYS can still hash to overlapping buckets; allow at most
    # one ConcurrentWriteError, but whatever committed must be consistent
    got = {r.id for r in table.snapshot().collect()}
    assert 1 in got
    committed = [lo for lo in (100, 200) if lo in got]
    assert len(committed) + len(errs) == 2
    for lo in committed:
        assert {lo, lo + 1, lo + 2} <= got
    assert table.version() >= 2


def test_streaming_writer_replay_is_idempotent(spark, table):
    from knightshift_spark.sources.txntable import txn_upsert_writer

    write = txn_upsert_writer(table, order_by=["version"])
    batch = _df(spark, [(1, "a", 1), (2, "b", 1)])
    write(batch, 0)
    state1 = _rows(table.snapshot())
    write(batch, 0)  # crash-replay of the same micro-batch
    assert _rows(table.snapshot()) == state1 == {(1, "a", 1), (2, "b", 1)}


def test_streaming_writer_app_id_is_exactly_once(spark, table):
    """With app_id, a replayed batch is SKIPPED by the log's high-water
    mark (no merge commit at all), and the watermark is scoped per app."""
    from knightshift_spark.sources.txntable import txn_upsert_writer

    write = txn_upsert_writer(table, order_by=["version"], app_id="stream-A")
    write(_df(spark, [(1, "a", 1)]), 0)
    write(_df(spark, [(2, "b", 1)]), 1)
    v = table.version()
    assert table.streaming_watermark("stream-A") == 1
    # replay both batches after a "restart": nothing commits
    write(_df(spark, [(1, "a", 1)]), 0)
    write(_df(spark, [(2, "b", 1)]), 1)
    assert table.version() == v  # skipped outright, not re-merged
    # a different app's stream is independent
    assert table.streaming_watermark("stream-B") == -1
    other = txn_upsert_writer(table, order_by=["version"], app_id="stream-B")
    other(_df(spark, [(3, "c", 1)]), 0)
    assert table.version() == v + 1
    assert _rows(table.snapshot()) == {(1, "a", 1), (2, "b", 1), (3, "c", 1)}


def test_streaming_writer_empty_batch_commits_and_stamps_nothing(spark, table):
    """An empty micro-batch is a merge of no rows: no commit, no
    (app_id, batch_id) stamp, no staging left behind — the writer needs
    no emptiness probe of its own."""
    from knightshift_spark.sources.txntable import txn_upsert_writer

    write = txn_upsert_writer(table, order_by=["version"], app_id="stream-A")
    write(_df(spark, [(1, "a", 1)]), 0)
    v = table.version()
    write(_df(spark, []), 1)
    assert table.version() == v
    assert table.streaming_watermark("stream-A") == 0
    staging = os.path.join(table.path, "_staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []
    write(_df(spark, [(2, "b", 1)]), 1)  # batch 1 was never recorded
    assert table.streaming_watermark("stream-A") == 1
    assert _rows(table.snapshot()) == {(1, "a", 1), (2, "b", 1)}


def test_vacuum_retention_protects_young_and_inflight_dirs(spark, table):
    """ADVICE r8 (medium): data is staged BEFORE its commit publishes,
    so vacuum must not sweep young directories — they may belong to an
    in-flight writer. Default retention keeps them; retention_s=0 (a
    stop-the-world maintenance window) reclaims them."""
    table.append(_df(spark, [(1, "a", 1)]))              # v1
    table.merge(_df(spark, [(1, "b", 2)]), ["version"])  # v2 (v1 file dead)
    dead = [p for p in table._state(1)[1] if p not in table._state()[1]]
    assert dead
    # an in-flight writer's staged-but-uncommitted directory
    meta, _, _ = table._state()
    staged = table._write_data(_df(spark, [(7, "inflight", 1)]), meta)
    table.vacuum()  # default retention: everything is younger than 1h
    for p in dead + [a["path"] for a in staged]:
        assert os.path.isdir(os.path.join(table.path, p))
    # the in-flight writer can still commit (its files survived)
    table._commit("merge", staged, [], [a["bucket"] for a in staged],
                  table.version())
    assert (7, "inflight", 1) in _rows(table.snapshot())
    # stop-the-world pass reclaims the genuinely dead files only
    table.vacuum(retention_s=0)
    for p in dead:
        assert not os.path.isdir(os.path.join(table.path, p))
    assert (7, "inflight", 1) in _rows(table.snapshot())


def test_vacuum_commit_never_rebases_past_concurrent_commits(spark, table):
    """The vacuum commit re-reads state when it loses the version race,
    so the live set it certifies is the one its commit follows — a merge
    landing between vacuum's read and publish is honored, not swept."""
    table.append(_df(spark, [(1, "a", 1)]))
    real_state = table._state

    def racing_state(version=None):
        out = real_state(version)
        # after vacuum's first read, land a merge (new files) once
        if version is None and not getattr(racing_state, "_fired", False):
            racing_state._fired = True
            table.merge(_df(spark, [(1, "raced", 2)]), ["version"])
        return out

    table._state = racing_state
    try:
        v = table.vacuum(retention_s=0)
    finally:
        table._state = real_state
    hist = table.history()
    assert hist[-1]["op"] == "vacuum" and hist[-1]["version"] == v
    # the raced merge's read_version precedes the vacuum commit, and its
    # data survived retention_s=0 because vacuum RE-READ the live set
    assert _rows(table.snapshot()) == {(1, "raced", 2)}


def test_write_type_mismatch_fails_loudly(spark, table):
    """ADVICE r8: a physically-mistyped column (int written into a long
    column, string into int) must fail AT THE WRITE, not poison every
    later snapshot() with a vectorized-reader error."""
    from knightshift_spark.sources.txntable import SchemaMismatchError

    bad = spark.createDataFrame([(1, "a", 1)], "id int, val string, version int")
    with pytest.raises(SchemaMismatchError, match="id: wrote int"):
        table.append(bad)
    with pytest.raises(SchemaMismatchError, match="types"):
        table.merge(
            spark.createDataFrame([(1, 5, 1)], "id long, val int, version int"),
            ["version"],
        )
    assert table.version() == 0  # nothing committed


def test_restore_conflicts_with_any_concurrent_writer(spark, table):
    """ADVICE r8: restore resets the WHOLE table, so its commit declares
    every bucket touched — a concurrent commit on any bucket makes it
    raise instead of rebasing into a mixed state."""
    table.append(_df(spark, [(1, "good", 1)]))                        # v1
    table.merge(_df(spark, [(1, "bad", 2)]), ["version"])             # v2
    meta, old_active, _ = table._state(1)
    _, cur_active, read_v = table._state()
    # another writer lands a commit on SOME bucket after restore's read
    table.merge(_df(spark, [(9, "other", 1)]), ["version"])           # v3
    adds = [a for p, a in old_active.items() if p not in cur_active]
    removes = [p for p in cur_active if p not in old_active]
    with pytest.raises(ConcurrentWriteError):
        table._commit(
            "restore", adds, removes, list(range(meta["n_buckets"])), read_v
        )
    # the real entry point agrees with itself end-to-end
    v = table.restore(1)
    assert _rows(table.snapshot(v)) == {(1, "good", 1)}


class _FakeConditionalPutStore(txntable.LinkCommitBackend):
    """An object-store double: put-if-absent through a single lock (the
    semantics S3 If-None-Match / GCS generation-match give), with an
    injectable pre-commit delay to force real thread interleavings. Also
    materializes the object as a local file, so the read half of the
    backend interface (get/list_dir/exists) is inherited filesystem
    reads."""

    def __init__(self, delay_s=0.0):
        import threading

        self._lock = threading.Lock()
        self._keys = set()
        self.delay_s = delay_s
        self.puts = 0
        self.losses = 0

    def put_if_absent(self, dst: str, data: bytes) -> bool:
        import time

        time.sleep(self.delay_s)
        with self._lock:
            self.puts += 1
            if dst in self._keys or os.path.exists(dst):
                self.losses += 1
                return False
            self._keys.add(dst)
            tmp = dst + ".staged"
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, dst)
            return True


def test_conditional_put_backend_contention(spark, tmp_path):
    """The durability seam (VERDICT r8 #5): with a conditional-PUT
    backend injected, N threads merging concurrently race versions
    through put_if_absent — every version is won exactly once, losers
    rebase or raise, and the final state is consistent."""
    import threading

    store = _FakeConditionalPutStore(delay_s=0.01)
    t = TxnTable.create(
        spark, str(tmp_path / "os"), keys=["id"], schema=SCHEMA,
        n_buckets=8, backend=store,
    )
    t.append(_df(spark, [(0, "seed", 1)]))
    errs, ok = [], []

    def writer(lo):
        try:
            t.merge(_df(spark, [(lo + j, f"w{lo}", 2) for j in range(3)]),
                    ["version"])
            ok.append(lo)
        except ConcurrentWriteError:
            errs.append(lo)

    threads = [threading.Thread(target=writer, args=(100 * (i + 1),))
               for i in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(120)
    assert len(ok) + len(errs) == 3 and ok
    got = {r.id for r in t.snapshot().collect()}
    for lo in ok:
        assert {lo, lo + 1, lo + 2} <= got
    for lo in errs:  # losers rolled back completely
        assert not ({lo, lo + 1, lo + 2} & got)
    # the race actually exercised the conditional PUT path
    assert store.puts >= t.version() + 1
    # and every commit object in the log was created exactly once
    vs = [h["version"] for h in t.history()]
    assert vs == sorted(set(vs))


def test_zorder_buckets_prune_files_on_second_column(spark, tmp_path):
    """VERDICT r8 #8: zorder_cols clusters WITHIN buckets — a bucket's
    write splits into curve-segment files whose per-file footer stats
    are tight in every z column, so snapshot_where on the SECOND column
    opens a fraction of the files (the test_zorder.py skip-count
    pattern, applied through the TxnTable seam)."""
    t = TxnTable.create(
        spark, str(tmp_path / "z"), keys=["id"],
        schema="id long, x long, y long",
        n_buckets=2, zorder_cols=["x", "y"],
        zorder_bounds={"x": (0, 1023), "y": (0, 1023)},
        target_file_rows=64,
    )
    rows = [(i, (i * 7) % 1024, (i * 13) % 1024) for i in range(1024)]
    t.append(spark.createDataFrame(rows, "id long, x long, y long"))
    _, active, _ = t._state()
    n_files = sum(len(a.get("files") or [{}]) for a in active.values())
    assert n_files > 4  # multi-file buckets with per-file stats
    opened = t._paths_for_range("y", 100, 160)
    assert 0 < len(opened) < n_files / 2  # second column prunes files
    got = {r.id for r in t.snapshot_where("y", 100, 160).collect()}
    expect = {i for i, _, y in rows if 100 <= y <= 160}
    assert got == expect
    # first z column prunes too, and results stay exact
    assert len(t._paths_for_range("x", 0, 50)) < n_files
    got_x = {r.id for r in t.snapshot_where("x", 0, 50).collect()}
    assert got_x == {i for i, x, _ in rows if x <= 50}


def test_vacuum_respects_restore_landing_after_its_commit(spark, table):
    """r9 (review finding): a restore that commits AFTER the vacuum
    commit reactivates historical files whose mtimes are old — the
    retention window alone doesn't shield them. Vacuum re-resolves
    liveness at the LATEST version right before deleting (and restore
    freshens the reactivated dirs), so the restored head stays readable."""
    table.append(_df(spark, [(1, "a", 1)]))              # v1
    table.merge(_df(spark, [(1, "b", 2)]), ["version"])  # v2 (v1 file dead)
    # make the historical files look old (beyond any retention window)
    for p in table._state(1)[1]:
        os.utime(os.path.join(table.path, p), (0, 0))
    # land the restore in the window BETWEEN the vacuum commit and its
    # delete loop (hooked via _maybe_checkpoint, which runs right after
    # the commit publishes): the restore reads state AFTER the vacuum
    # commit, so no conflict rule fires on either side
    real_ckpt = table._maybe_checkpoint

    def racing_ckpt(v):
        real_ckpt(v)
        if not getattr(racing_ckpt, "_fired", False):
            racing_ckpt._fired = True
            table.restore(1)

    table._maybe_checkpoint = racing_ckpt
    try:
        table.vacuum(retention_s=0)
    finally:
        table._maybe_checkpoint = real_ckpt
    # the restored head must still read (v1's files survived deletion)
    assert _rows(table.snapshot()) == {(1, "a", 1)}


def test_vacuum_with_retention_keeps_time_travel_readable(spark, table):
    """ADVICE r9: a vacuum whose retention window deleted nothing must
    not poison time travel — the horizon is diagnostic; readability is
    decided by physical file availability."""
    table.append(_df(spark, [(1, "a", 1)]))              # v1
    table.merge(_df(spark, [(1, "b", 2)]), ["version"])  # v2
    table.vacuum(retention_s=3600)                       # deletes nothing
    assert _rows(table.snapshot(1)) == {(1, "a", 1)}     # still readable
    assert _rows(table.snapshot()) == {(1, "b", 2)}
    v = table.restore(1)                                 # still restorable
    assert _rows(table.snapshot()) == {(1, "a", 1)}
    # once the files are actually gone, the same reads refuse loudly
    table.merge(_df(spark, [(1, "c", 3)]), ["version"])
    table.vacuum(retention_s=0)
    with pytest.raises(VacuumedVersionError):
        table.snapshot(2).collect()
    assert v >= 3


def test_delete_where_single_pass_matches_two_phase(spark, tmp_path):
    """rewrite_all=True (one scan, observe-discovered touched buckets)
    must produce the same state AND the same untouched-bucket physical
    carry-over as the default two-phase plan."""
    rows = [(i, f"v{i}", 1) for i in range(40)]
    tables = {}
    for mode in ("two", "one"):
        t = TxnTable.create(
            spark, str(tmp_path / mode), keys=["id"], schema=SCHEMA, n_buckets=4
        )
        t.append(_df(spark, rows))
        tables[mode] = t
    # id==5 hits exactly one bucket: single-pass must still commit ONLY
    # that bucket (untouched buckets keep their physical paths)
    before = {m: dict(t._state()[1]) for m, t in tables.items()}
    tables["two"].delete_where(F.col("id") == 5)
    tables["one"].delete_where(F.col("id") == 5, rewrite_all=True)
    assert _rows(tables["one"].snapshot()) == _rows(tables["two"].snapshot())
    for m, t in tables.items():
        after = set(t._state()[1])
        carried = set(before[m]) & after
        assert carried, f"{m}: untouched buckets should carry over"
    # broad predicate: parity again
    tables["two"].delete_where(F.col("id") % 2 == 0)
    tables["one"].delete_where(F.col("id") % 2 == 0, rewrite_all=True)
    assert _rows(tables["one"].snapshot()) == _rows(tables["two"].snapshot())
    # no-match predicate: no commit, no leftover data dirs
    v_before = tables["one"].version()
    n_dirs = len(os.listdir(os.path.join(tables["one"].path, "data")))
    assert tables["one"].delete_where(F.col("id") == 10**9, rewrite_all=True) == v_before
    assert len(os.listdir(os.path.join(tables["one"].path, "data"))) == n_dirs


def test_merge_cleans_staging_and_vacuum_sweeps_leftovers(spark, table):
    table.append(_df(spark, [(1, "a", 1)]))
    table.merge(_df(spark, [(1, "b", 2)]), ["version"])
    staging = os.path.join(table.path, "_staging")
    assert os.listdir(staging) == []  # normal exit deletes its tree
    # a crash leftover is swept by vacuum once past the retention window
    leftover = os.path.join(staging, "deadbeef")
    os.makedirs(leftover)
    table.vacuum(retention_s=3600)
    assert os.path.isdir(leftover)  # young: protected
    os.utime(leftover, (0, 0))
    table.vacuum(retention_s=3600)
    assert not os.path.isdir(leftover)


def test_merge_in_batch_duplicate_keys_keep_highest_order(spark, table):
    """The bucket-aligned single-shuffle merge keeps exactly one row per
    key with the highest order_by (updates beating stored ties)."""
    table.append(_df(spark, [(1, "old", 5)]))
    table.merge(
        _df(spark, [(1, "low", 3), (1, "high", 9), (2, "x", 1), (2, "y", 2)]),
        ["version"],
    )
    assert _rows(table.snapshot()) == {(1, "high", 9), (2, "y", 2)}


# -- multi-statement transactions (VERDICT r10 #1) --------------------------


def test_transaction_merge_delete_lands_one_commit(spark, table):
    """The reference commits its whole cleaning batch (updates + the
    validation deletes) once (validate_tv_channel_games.py:189): a
    merge+delete transaction must land as ONE log entry, with the delete
    applied to the post-merge state and deleted rows never visible at
    any version."""
    table.append(_df(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]))
    v0 = table.version()
    with table.transaction() as txn:
        table.merge(_df(spark, [(2, "B", 2), (4, "d", 1)]), ["version"])
        table.delete_where(F.col("val") == "B", rewrite_all=True)
        # invisible until commit: ad-hoc reads see the pre-txn state
        assert _rows(table.snapshot()) == {(1, "a", 1), (2, "b", 1), (3, "c", 1)}
    assert table.version() == v0 + 1
    assert txn.version == v0 + 1
    assert table.history()[-1]["op"] == "txn"
    assert _rows(table.snapshot()) == {(1, "a", 1), (3, "c", 1), (4, "d", 1)}
    # time travel: the pre-txn version still replays; NO intermediate
    # merged-but-not-deleted state exists at any version
    assert _rows(table.snapshot(v0)) == {(1, "a", 1), (2, "b", 1), (3, "c", 1)}
    for v in range(table.version() + 1):
        assert (2, "B", 2) not in _rows(table.snapshot(v))


def test_transaction_cdc_shows_one_version(spark, table):
    table.append(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    v0 = table.version()
    with table.transaction() as txn:
        table.merge(_df(spark, [(1, "A", 2), (3, "c", 1)]), ["version"])
        table.delete_where(F.col("id") == 2, rewrite_all=True)
    feed = table.table_changes(v0)
    assert set(r["_commit_version"] for r in feed.collect()) == {txn.version}
    cdc = {
        (r.id, r.val, r._change_type)
        for r in table.row_changes(txn.version).collect()
    }
    assert cdc == {
        (1, "a", "update_preimage"),
        (1, "A", "update_postimage"),
        (3, "c", "insert"),
        (2, "b", "delete"),
    }


def test_transaction_statements_compose_in_order(spark, table):
    """delete-then-merge resurrects the key; merge-then-delete removes
    it — statement order is the fused plan's order."""
    table.append(_df(spark, [(1, "a", 1)]))
    with table.transaction():
        table.delete_keys(spark.createDataFrame([(1,)], "id long"))
        table.merge(_df(spark, [(1, "back", 2)]), ["version"])
    assert _rows(table.snapshot()) == {(1, "back", 2)}
    with table.transaction():
        table.merge(_df(spark, [(1, "gone", 3)]), ["version"])
        table.delete_keys(spark.createDataFrame([(1,)], "id long"))
    assert _rows(table.snapshot()) == set()


def test_transaction_conflict_covers_whole_read_set(spark, table):
    """A rewrite_all delete READS every bucket, so the transaction's
    conflict set is the whole table: a concurrent commit on ANY bucket
    — even one the transaction did not rewrite — raises, and the staged
    data rolls back."""
    table.append(_df(spark, [(i, "x", 1) for i in range(8)]))
    with pytest.raises(ConcurrentWriteError):
        with table.transaction():
            table.merge(_df(spark, [(0, "y", 2)]), ["version"])
            table.delete_where(F.col("val") == "never-matches", rewrite_all=True)
            # concurrent writer lands between our read and our commit
            other = TxnTable(spark, table.path)
            other.merge(_df(spark, [(7, "z", 2)]), ["version"])
    # the interloper's commit survives; our statements left no trace
    assert (7, "z", 2) in _rows(table.snapshot())
    assert (0, "y", 2) not in _rows(table.snapshot())
    assert os.listdir(os.path.join(table.path, "_staging")) == []


def test_transaction_abort_rolls_back_staging(spark, table):
    table.append(_df(spark, [(1, "a", 1)]))
    v0 = table.version()
    with pytest.raises(RuntimeError, match="boom"):
        with table.transaction():
            table.merge(_df(spark, [(1, "A", 2)]), ["version"])
            raise RuntimeError("boom")
    assert table.version() == v0
    assert _rows(table.snapshot()) == {(1, "a", 1)}
    assert os.listdir(os.path.join(table.path, "_staging")) == []
    # the table is usable again (txn state fully cleared)
    table.merge(_df(spark, [(1, "A2", 3)]), ["version"])
    assert _rows(table.snapshot()) == {(1, "A2", 3)}


def test_transaction_guards_non_statements(spark, table):
    table.append(_df(spark, [(1, "a", 1)]))
    with table.transaction():
        with pytest.raises(RuntimeError, match="append"):
            table.append(_df(spark, [(9, "z", 1)]))
        with pytest.raises(RuntimeError, match="compact"):
            table.compact()
        with pytest.raises(RuntimeError, match="restore"):
            table.restore(1)
        with pytest.raises(RuntimeError, match="vacuum"):
            table.vacuum()
        with pytest.raises(RuntimeError, match="nested"):
            with table.transaction():
                pass
    assert table.version() == 1  # empty txn: no commit


def test_transaction_block_is_per_thread(spark, table):
    """A transaction() block belongs to the thread that opened it: a
    standalone merge another thread runs on the SAME handle while the
    block is open commits on its own, instead of being recorded into
    the block (and committed or rolled back with it)."""
    import threading

    table.append(_df(spark, [(1, "a", 1)]))
    v0 = table.version()
    opened = threading.Barrier(2, timeout=120)
    b_done = threading.Event()
    got: dict = {}
    errs: list = []

    def thread_a():
        try:
            with table.transaction() as txn:
                table.merge(_df(spark, [(1, "A", 2)]), ["version"])
                opened.wait()
                assert b_done.wait(120)
            got["a"] = txn.version
        except ConcurrentWriteError:
            got["a"] = None  # B's commit hit A's read set: A rolls back
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    def thread_b():
        try:
            opened.wait()
            got["b"] = table.merge(_df(spark, [(2, "B", 1)]), ["version"])
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)
        finally:
            b_done.set()

    threads = [threading.Thread(target=f) for f in (thread_a, thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(180)
        assert not t.is_alive()
    assert not errs, errs
    assert got["b"] == v0 + 1  # B committed a new version of its own
    ops = [(h["version"], h["op"]) for h in table.history() if h["version"] > v0]
    final = _rows(table.snapshot())
    assert (2, "B", 1) in final
    if got["a"] is None:
        assert ops == [(v0 + 1, "merge")]
        assert (1, "a", 1) in final
    else:
        assert ops == [(v0 + 1, "merge"), (v0 + 2, "txn")] and got["a"] == v0 + 2
        assert (1, "A", 2) in final


def test_transaction_schema_evolution_rides_single_commit(spark, table):
    table.append(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    v0 = table.version()
    upd = spark.createDataFrame(
        [(1, "A", 2, "extra")], "id long, val string, version int, note string"
    )
    with table.transaction() as txn:
        table.merge(upd, ["version"], evolve=True)
        table.delete_where(F.col("id") == 2, rewrite_all=True)
    assert txn.version == v0 + 1
    got = {(r.id, r.val, r.version, r.note) for r in table.snapshot().collect()}
    assert got == {(1, "A", 2, "extra")}


def test_transaction_two_phase_delete_discovers_buckets(spark, table):
    """Without rewrite_all, the transaction runs ONE discovery job over
    the pre-txn state and rewrites only merge-touched ∪ hit buckets."""
    table.append(_df(spark, [(i, "keep" if i % 2 else "drop", 1) for i in range(12)]))
    with table.transaction() as txn:
        table.merge(_df(spark, [(100, "new", 1)]), ["version"])
        table.delete_where(F.col("val") == "drop")
    got = _rows(table.snapshot())
    assert got == {(i, "keep", 1) for i in range(12) if i % 2} | {(100, "new", 1)}
    assert table.history()[-1]["op"] == "txn"
    assert txn.version == table.version()


def test_delete_where_auto_picks_plan_by_stats(spark, tmp_path):
    """rewrite_all=None + range_hint: the footer stats (already in the
    commit log) decide the plan at the documented r≈0.75 crossover —
    and either plan deletes exactly the matching rows."""
    t = TxnTable.create(
        spark, str(tmp_path / "auto"), keys=["id"],
        schema="id long, ts long, val string", n_buckets=8,
        stats_cols=["ts"],
    )
    # write-clustered ts: each append covers a narrow ts range
    for batch in range(4):
        rows = [(batch * 100 + i, batch * 1000 + i, "x") for i in range(25)]
        t.append(spark.createDataFrame(rows, "id long, ts long, val string"))
    _, active, _ = t._state()
    # narrow range: candidate buckets are a sparse subset → two-phase
    assert t._resolve_rewrite_all(None, ("ts", 0, 10), active) is False
    # full range: every bucket is a candidate → single-pass
    assert t._resolve_rewrite_all(None, ("ts", 0, 10**9), active) is True
    # explicit override always wins
    assert t._resolve_rewrite_all(False, ("ts", 0, 10**9), active) is False
    assert t._resolve_rewrite_all(True, ("ts", 0, 10), active) is True
    # end-to-end: auto modes both delete exactly the matching rows
    t.delete_where(F.col("ts") <= 10, range_hint=("ts", 0, 10))
    assert t.snapshot().filter(F.col("ts") <= 10).count() == 0
    n_before = t.snapshot().count()
    t.delete_where(F.col("ts") % 2 == 0, range_hint=("ts", 0, 10**9))
    got = t.snapshot()
    assert got.filter(F.col("ts") % 2 == 0).count() == 0
    assert got.count() < n_before


def test_concurrent_writer_stress_matches_serial_replay(spark, tmp_path):
    """Randomized N-writer stress (VERDICT r10 #7): threads fire merges
    and key-deletes over overlapping key ranges with bounded retries on
    conflict. Afterwards the final state must equal a serial replay of
    the commit log's recorded statement order — linearizability at the
    commit granularity — and every retry must have been bounded."""
    import random
    import threading

    t = TxnTable.create(
        spark, str(tmp_path / "stress"), keys=["id"],
        schema="id long, val string, version int", n_buckets=4,
    )
    t.append(spark.createDataFrame(
        [(i, "seed", 0) for i in range(16)], "id long, val string, version int"
    ))
    rng = random.Random(42)
    plans = []  # (writer, [(op, rows)])
    for w in range(4):
        ops = []
        for s in range(3):
            if rng.random() < 0.7:
                rows = [
                    (rng.randrange(24), f"w{w}s{s}", rng.randrange(1, 9))
                    for _ in range(rng.randrange(1, 4))
                ]
                ops.append(("merge", rows))
            else:
                ops.append(("delete", [rng.randrange(24) for _ in range(2)]))
        plans.append(ops)
    # one writer interleaves a PARTITION RESPEC mid-plan: it conflicts
    # with every concurrent writer in both directions, so everyone's
    # retry loop (and rebucket's own) must converge around it
    plans[0].insert(1, ("rebucket", 8))
    errors, max_retries = [], 20

    def run(w, ops):
        import time as _time

        backoff = random.Random(1000 + w)
        handle = TxnTable(spark, t.path)
        try:
            for op, rows in ops:
                for attempt in range(max_retries):
                    try:
                        if op == "merge":
                            batch = {}
                            for i, v, ver in rows:
                                if i not in batch or ver >= batch[i][1]:
                                    batch[i] = (v, ver)
                            handle.merge(
                                spark.createDataFrame(
                                    [(i, v, ver) for i, (v, ver) in batch.items()],
                                    "id long, val string, version int",
                                ),
                                ["version"],
                            )
                        elif op == "rebucket":
                            handle.rebucket(rows)
                        else:
                            handle.delete_keys(spark.createDataFrame(
                                [(i,) for i in rows], "id long"
                            ))
                        break
                    except ConcurrentWriteError:
                        if attempt == max_retries - 1:
                            raise
                        # jittered backoff: 4 writers over 4 buckets
                        # conflict on nearly every overlap — without it
                        # a loaded machine can starve one writer
                        _time.sleep(backoff.uniform(0.05, 0.3) * (attempt + 1))
        except Exception as e:  # pragma: no cover - surfaced by assert
            errors.append(e)

    threads = [
        threading.Thread(target=run, args=(w, ops))
        for w, ops in enumerate(plans)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    # serial replay of the COMMITTED order (adds/removes in the log are
    # the ground truth; we reconstruct the model from row_changes)
    model: dict[int, tuple[str, int]] = {}
    for c in t._commits():
        v = c["version"]
        if c["op"] not in ("append", "merge", "delete"):
            continue
        for r in t.row_changes(v).collect():
            if r["_change_type"] in ("insert", "update_postimage"):
                model[r.id] = (r.val, r.version)
            elif r["_change_type"] == "delete":
                model.pop(r.id, None)
    got = {r.id: (r.val, r.version) for r in t.snapshot().collect()}
    assert got == model


def test_transaction_delete_only_and_exactly_once_stamp(spark, table):
    """A transaction with only delete statements still lands one commit
    (no merge shuffle in the fused plan); a merge carrying an
    (app_id, batch_id) stamp inside a transaction advances the
    exactly-once watermark through the txn commit."""
    table.append(_df(spark, [(i, "x" if i % 3 else "bad", 1) for i in range(9)]))
    v0 = table.version()
    with table.transaction() as txn:
        table.delete_where(F.col("val") == "bad")
        table.delete_keys(spark.createDataFrame([(4,)], "id long"))
    assert txn.version == v0 + 1
    assert _rows(table.snapshot()) == {
        (i, "x", 1) for i in range(9) if i % 3 and i != 4
    }
    assert table.streaming_watermark("appA") == -1
    with table.transaction():
        table.merge(_df(spark, [(1, "y", 2)]), ["version"], txn=("appA", 7))
    assert table.streaming_watermark("appA") == 7


def test_transaction_two_phase_delete_conflicts_on_read_set(spark, table):
    """r11 review: a PREDICATE delete's discovery scan reads every
    bucket, so even the two-phase (non-rewrite_all) transaction must
    conflict with a concurrent commit on a bucket it did not rewrite."""
    table.append(_df(spark, [(i, "x", 1) for i in range(8)]))
    with pytest.raises(ConcurrentWriteError):
        with table.transaction():
            table.delete_where(F.col("id") == 0)  # two-phase, hits ≤1 bucket
            TxnTable(spark, table.path).merge(
                _df(spark, [(7, "z", 2)]), ["version"]
            )
    assert (7, "z", 2) in _rows(table.snapshot())
    assert os.listdir(os.path.join(table.path, "_staging")) == []


def test_standalone_two_phase_delete_conflicts_on_read_set(spark, table, monkeypatch):
    """Standalone twin of the transaction rule above: a standalone
    predicate delete is a one-statement transaction, so its discovery
    scan's read set (every bucket) is its conflict set — a concurrent
    merge into a bucket it did not hit must not be rebased past. The
    commit's ``rewritten`` field still scopes CDC to the hit bucket."""
    table.append(_df(spark, [(i, "x", 1) for i in range(8)]))
    bucket = {
        r.id: r.b
        for r in spark.range(8)
        .select("id", F.pmod(F.xxhash64("id"), F.lit(4)).alias("b"))
        .collect()
    }
    other = next(i for i in range(1, 8) if bucket[i] != bucket[0])
    commit = table._commit

    def racing_commit(*args, **kwargs):
        TxnTable(spark, table.path).merge(_df(spark, [(other, "z", 2)]), ["version"])
        return commit(*args, **kwargs)

    monkeypatch.setattr(table, "_commit", racing_commit)
    with pytest.raises(ConcurrentWriteError):
        table.delete_where(F.col("id") == 0)  # two-phase, hits one bucket
    monkeypatch.undo()
    assert (other, "z", 2) in _rows(table.snapshot())
    assert (0, "x", 1) in _rows(table.snapshot())  # the delete rolled back
    assert os.listdir(os.path.join(table.path, "_staging")) == []
    v = table.delete_where(F.col("id") == 0)
    c = table._commits()[-1]
    assert c["op"] == "delete"
    assert c["buckets"] == sorted(set(bucket.values()))
    assert c["rewritten"] == [bucket[0]]
    assert [(r.id, r._change_type) for r in table.row_changes(v).collect()] == [
        (0, "delete")
    ]


def test_standalone_dv_delete_conflicts_on_read_set(spark, table, monkeypatch):
    """Deletion-vector twin of the rule above: the mask scan reads every
    bucket too, so a concurrent merge that writes a MATCHING row into a
    bucket the delete did not mask must raise, not be rebased past (the
    row would survive a delete that claims to have removed it)."""
    table.append(_df(spark, [(i, "bad" if i == 0 else "x", 1) for i in range(8)]))
    bucket = {
        r.id: r.b
        for r in spark.range(100)
        .select("id", F.pmod(F.xxhash64("id"), F.lit(4)).alias("b"))
        .collect()
    }
    other = next(i for i in range(50, 100) if bucket[i] != bucket[0])
    before = set(os.listdir(os.path.join(table.path, "data")))
    commit = table._commit

    def racing_commit(*args, **kwargs):
        TxnTable(spark, table.path).merge(_df(spark, [(other, "bad", 2)]), ["version"])
        return commit(*args, **kwargs)

    monkeypatch.setattr(table, "_commit", racing_commit)
    with pytest.raises(ConcurrentWriteError):
        table.delete_where(F.col("val") == "bad", deletion_vectors=True)
    monkeypatch.undo()
    assert {(0, "bad", 1), (other, "bad", 2)} <= _rows(table.snapshot())
    # the lost race left only the racing merge's root: no position dir
    assert len(set(os.listdir(os.path.join(table.path, "data"))) - before) == 1
    everywhere = sorted({a["bucket"] for a in table._state()[1].values()})
    v = table.delete_where(F.col("val") == "bad", deletion_vectors=True)
    c = table._commits()[-1]
    assert (c["op"], c["mode"], c["removes"]) == ("delete", "dv", [])
    assert c["buckets"] == everywhere
    assert {(r.id, r._change_type) for r in table.row_changes(v).collect()} == {
        (0, "delete"),
        (other, "delete"),
    }


def test_vacuum_skips_inflight_staging_registry(spark, table):
    """r11 review: delete_keys (and merge/txn) register their staging
    dirs in the process-local in-flight registry; vacuum must skip a
    registered dir even past the retention window."""
    table.append(_df(spark, [(1, "a", 1)]))
    staging_root = os.path.join(table.path, "_staging")
    os.makedirs(staging_root, exist_ok=True)
    live = os.path.join(staging_root, "live-rewrite")
    os.makedirs(live)
    os.utime(live, (0, 0))  # ancient mtime: only the registry saves it
    txntable._INFLIGHT_STAGING.add(live)
    try:
        table.vacuum(retention_s=3600)
        assert os.path.isdir(live)
    finally:
        txntable._INFLIGHT_STAGING.discard(live)
    table.vacuum(retention_s=3600)
    assert not os.path.isdir(live)  # deregistered + old: swept


def test_delete_keys_clears_inflight_registry(spark, table):
    table.append(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    table.delete_keys(spark.createDataFrame([(1,)], "id long"))
    assert not txntable._INFLIGHT_STAGING
    assert _rows(table.snapshot()) == {(2, "b", 1)}


def test_transaction_job_count_is_stage_plus_one_rewrite(spark, table):
    """The fused-commit cost claim (SCALE.md r11): a merge + rewrite_all
    delete transaction runs exactly TWO actions — the update staging
    write and the single fused rewrite (the delete adds no scan of its
    own); the two-phase predicate delete adds exactly one discovery
    job. AQE is disabled for the count (it materializes each query
    stage as its own job id, which is sub-action scheduling, not an
    extra pass over the data)."""
    table.append(_df(spark, [(i, "x", 1) for i in range(12)]))
    sc = spark.sparkContext

    def jobs_in(group, fn):
        prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
            spark.conf.set("spark.sql.adaptive.enabled", prev)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def ra_txn():
        with table.transaction():
            table.merge(_df(spark, [(1, "y", 2)]), ["version"])
            table.delete_where(F.col("id") == 5, rewrite_all=True)

    def two_phase_txn():
        with table.transaction():
            table.merge(_df(spark, [(2, "z", 2)]), ["version"])
            table.delete_where(F.col("id") == 6)

    assert jobs_in("txn-ra", ra_txn) == 2
    assert jobs_in("txn-2p", two_phase_txn) == 3


def test_transaction_fuses_consecutive_merges(spark, table):
    """Consecutive same-order_by merges in one transaction fuse into ONE
    window/shuffle and must equal sequential standalone merges: later
    statements beat earlier ones on order_by ties ((order_by, src) max
    is associative). Jobs = one staging write per merge + one rewrite."""
    table.append(_df(spark, [(1, "base", 5), (2, "b", 1)]))
    # sequential reference on a second table
    import tempfile

    ref = TxnTable.create(
        spark, tempfile.mkdtemp() + "/ref", keys=["id"], schema=SCHEMA, n_buckets=4
    )
    ref.append(_df(spark, [(1, "base", 5), (2, "b", 1)]))
    b1 = [(1, "m1", 5), (2, "m1", 2), (3, "m1", 1)]   # ties base on id=1
    b2 = [(1, "m2", 5), (3, "m2", 1), (4, "m2", 1)]   # ties m1 on id=1,3
    b3 = [(2, "m3", 1)]                                # loses to m1 (2<2? no: 1<2)
    ref.merge(_df(spark, b1), ["version"])
    ref.merge(_df(spark, b2), ["version"])
    ref.merge(_df(spark, b3), ["version"])
    sc = spark.sparkContext
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("fused-merges", "fused-merges")
    try:
        with table.transaction() as txn:
            table.merge(_df(spark, b1), ["version"])
            table.merge(_df(spark, b2), ["version"])
            table.merge(_df(spark, b3), ["version"])
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert _rows(table.snapshot()) == _rows(ref.snapshot())
    assert table.version() == 2 and txn.version == 2
    # 3 staging writes + ONE fused rewrite
    assert len(sc.statusTracker().getJobIdsForGroup("fused-merges")) == 4


def test_transaction_merge_runs_split_by_order_by_and_deletes(spark, table):
    """A delete between merges (or a different order_by) breaks the
    fusion run — statements still apply strictly in order."""
    table.append(_df(spark, [(1, "a", 1)]))
    with table.transaction():
        table.merge(_df(spark, [(1, "m1", 9)]), ["version"])
        table.delete_keys(spark.createDataFrame([(1,)], "id long"))
        # resurrect AFTER the delete — must not fuse past it (a fused
        # window would let version 9 beat this row before the delete)
        table.merge(_df(spark, [(1, "m2", 2)]), ["version"])
    assert _rows(table.snapshot()) == {(1, "m2", 2)}
    with table.transaction():
        table.merge(_df(spark, [(1, "x", 3)]), ["version"])
        table.merge(_df(spark, [(1, "y", 3)]), ["id"])  # different order_by
    assert _rows(table.snapshot()) == {(1, "y", 3)}


def test_run_transaction_retries_past_conflicts(spark, table):
    """run_transaction: the optimistic-concurrency retry loop — a body
    that loses its first commit race re-runs against the new head and
    lands; retries are bounded."""
    from knightshift_spark.sources.txntable import run_transaction

    table.append(_df(spark, [(i, "x", 1) for i in range(8)]))
    fired = {"n": 0}

    def body(t):
        fired["n"] += 1
        if fired["n"] == 1:  # interloper lands between our read & commit
            TxnTable(spark, t.path).merge(
                _df(spark, [(3, "thief", 2)]), ["version"]
            )
        t.merge(_df(spark, [(1, "mine", 3)]), ["version"])
        t.delete_where(F.col("id") == 7, rewrite_all=True)

    v = run_transaction(table, body, max_retries=3, backoff_s=0.01)
    assert fired["n"] == 2 and v == table.version()
    got = _rows(table.snapshot())
    assert (1, "mine", 3) in got and (3, "thief", 2) in got
    assert not any(r[0] == 7 for r in got)

    def always_loses(t):
        TxnTable(spark, t.path).merge(_df(spark, [(2, "z", 9)]), ["version"])
        t.merge(_df(spark, [(2, "never", 1)]), ["version"])
        t.delete_where(F.lit(False), rewrite_all=True)

    with pytest.raises(ConcurrentWriteError):
        run_transaction(table, always_loses, max_retries=2, backoff_s=0.01)


# -- rebucket: online partition evolution (round 11) -----------------------


def test_rebucket_preserves_rows_and_remaps_buckets(spark, table):
    rows = [(i, f"v{i}", 1) for i in range(40)]
    table.append(_df(spark, rows))                       # v1
    table.merge(_df(spark, [(3, "V3", 2)]), ["version"])  # v2
    before = _rows(table.snapshot())
    v = table.rebucket(8)                                 # v3: ONE commit
    assert v == 3 == table.version()
    assert _rows(table.snapshot()) == before
    # meta follows the commit; every active file is bucketed mod 8
    meta, active, _ = table._state()
    assert meta["n_buckets"] == 8
    assert {a["bucket"] for a in active.values()} <= set(range(8))
    assert len({a["bucket"] for a in active.values()}) > 4  # really remapped
    # point lookups prune with the NEW modulus and still hit
    assert _rows(table.lookup([3])) == {(3, "V3", 2)}
    # history records the respec; a fresh handle replays it identically
    assert [h["op"] for h in table.history()] == [
        "create", "append", "merge", "rebucket",
    ]
    reopened = TxnTable(spark, table.path)
    assert reopened._state()[0]["n_buckets"] == 8
    # later writes bucket under the new modulus
    reopened.merge(_df(spark, [(100, "new", 1)]), ["version"])
    assert _rows(reopened.lookup([100])) == {(100, "new", 1)}
    # no-op respec commits nothing
    assert reopened.rebucket(8) == reopened.version()


def test_rebucket_time_travel_and_change_feeds(spark, table):
    table.append(_df(spark, [(1, "a", 1), (2, "b", 1)]))  # v1
    v_before = table.version()
    table.rebucket(16)                                    # v2
    # old snapshots read through their own per-version meta
    assert _rows(table.snapshot(v_before)) == {(1, "a", 1), (2, "b", 1)}
    assert _rows(table.lookup([1], version=v_before)) == {(1, "a", 1)}
    # rebucket moves bytes, not rows: row-level CDC refuses it and the
    # file-granular feed skips it (same class as compact)
    with pytest.raises(ValueError, match="no row-diffable data commit"):
        table.row_changes(2)
    assert table.table_changes(since_version=v_before).count() == 0


def test_rebucket_conflicts_with_concurrent_writers_both_directions(
    spark, table, monkeypatch
):
    from knightshift_spark.sources.txntable import _atomic_publish, _log_path

    table.append(_df(spark, [(i, "x", 1) for i in range(8)]))
    # direction 1: a writer whose read preceded a rebucket must NOT
    # rebase past it — its staged bucket ids use the old modulus.
    # (appends skip the bucket-set check, so they are the sharp case)
    meta, _, read_v = table._state()
    adds = table._write_data(_df(spark, [(50, "stale", 1)]), meta)
    _atomic_publish(
        {
            "version": read_v + 1, "op": "rebucket", "n_buckets": 8,
            "adds": [], "removes": [], "buckets": list(range(8)),
            "read_version": read_v,
        },
        _log_path(table.path, read_v + 1),
    )
    with pytest.raises(ConcurrentWriteError):
        table._commit("append", adds, [], [a["bucket"] for a in adds], read_v)
    # rollback removed the WHOLE write root, not just its bucket subdirs
    # (a childless data/<uuid>/ would dodge vacuum's sweep forever)
    assert not os.path.isdir(
        os.path.join(table.path, os.path.dirname(adds[0]["path"]))
    )
    os.remove(_log_path(table.path, read_v + 1))  # undo the fake commit

    # direction 2: a rebucket that lost the version race to ANY data
    # commit re-reads — never rebases (the snapshot it rewrote is stale)
    real_write = table._write_data

    def write_and_interlope(df, meta, shuffle=True, validate=True):
        out = real_write(df, meta)
        TxnTable(spark, table.path).merge(
            _df(spark, [(2, "interloper", 9)]), ["version"]
        )
        return out

    monkeypatch.setattr(table, "_write_data", write_and_interlope)
    with pytest.raises(ConcurrentWriteError):
        table.rebucket(8)
    monkeypatch.undo()
    # the failed rebucket rolled back its staged files and left state sane
    assert table._state()[0]["n_buckets"] == 4
    assert (2, "interloper", 9) in _rows(table.snapshot())


def test_restore_across_rebucket_reverts_modulus(spark, table):
    table.append(_df(spark, [(i, "a", 1) for i in range(20)]))  # v1
    v_target = table.version()
    table.rebucket(8)                                            # v2
    table.merge(_df(spark, [(0, "post", 2)]), ["version"])       # v3
    v = table.restore(v_target)                                  # v4
    meta, active, _ = table._state()
    # meta followed the reactivated files back to the old modulus —
    # without this, lookup() would hash mod 8 against files bucketed
    # mod 4 and silently miss keys
    assert meta["n_buckets"] == 4
    assert {a["bucket"] for a in active.values()} <= set(range(4))
    assert _rows(table.snapshot()) == _rows(table.snapshot(v_target))
    for k in (0, 7, 19):
        assert _rows(table.lookup([k])) == {(k, "a", 1)}
    # row-level CDC diffs the restore exactly: the post-rebucket merge
    # row reads as an update back to its old image
    changes = table.row_changes(v)
    kinds = {
        (r.id, r._change_type) for r in changes.collect() if r.id == 0
    }
    assert kinds == {(0, "update_preimage"), (0, "update_postimage")}
    # and the table keeps working under the reverted modulus
    table.merge(_df(spark, [(5, "after", 3)]), ["version"])
    assert _rows(table.lookup([5])) == {(5, "after", 3)}


def test_rebucket_survives_checkpoint_replay(spark, tmp_path):
    t = TxnTable.create(
        spark, str(tmp_path / "ck"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    t.append(_df(spark, [(i, "x", 1) for i in range(10)]))
    t.rebucket(4)
    # drive past the checkpoint cadence so a reopen replays FROM the
    # checkpoint (meta must carry the respec through it)
    while t.version() % txntable._CHECKPOINT_EVERY != 0:
        t.merge(_df(spark, [(1, "y", t.version())]), ["version"])
    names = os.listdir(os.path.join(t.path, txntable._LOG_DIR))
    assert any(n.endswith(".checkpoint.json") for n in names)
    reopened = TxnTable(spark, t.path)
    assert reopened._state()[0]["n_buckets"] == 4
    assert len(_rows(reopened.snapshot())) == 10


def test_suggest_n_buckets_sizes_to_live_bytes(spark, table):
    with pytest.raises(ValueError):
        table.suggest_n_buckets(0)
    assert table.suggest_n_buckets() == 1  # empty table
    table.append(_df(spark, [(i, "v" * 50, 1) for i in range(2000)]))
    lb = table.live_bytes()
    assert lb > 0
    # huge target: everything fits one bucket
    assert table.suggest_n_buckets(target_bucket_mb=10_000) == 1
    # force a split: target of ~1/5th the live bytes → power of two,
    # each bucket under target, and the next size down would overflow
    target_mb = lb / (1024 * 1024) / 5
    n = table.suggest_n_buckets(target_bucket_mb=target_mb)
    assert n & (n - 1) == 0  # power of two
    assert lb / n <= target_mb * 1024 * 1024
    assert n == 1 or lb / (n // 2) > target_mb * 1024 * 1024
    # rebucket to the suggestion round-trips the data
    before = _rows(table.snapshot())
    table.rebucket(n)
    assert _rows(table.snapshot()) == before


# -- object-store commit backend (round 11) ---------------------------------


def test_memory_backend_full_lifecycle_keeps_log_off_disk(spark, tmp_path):
    """The whole ACID protocol — create, append, merge, transaction,
    delete, compact, rebucket, time travel, restore, checkpoint replay,
    vacuum — against MemoryCommitBackend: every log read and write goes
    through the object-store interface (conditional PUT / GET / LIST),
    and NOT ONE commit object lands on the filesystem. Data parquet
    stays on disk (Spark reads it natively); only the log is remote."""
    from knightshift_spark.sources.txntable import MemoryCommitBackend

    store = MemoryCommitBackend()
    path = str(tmp_path / "obj")
    t = TxnTable.create(
        spark, path, keys=["id"], schema=SCHEMA, n_buckets=4, backend=store
    )
    t.append(_df(spark, [(i, f"v{i}", 1) for i in range(12)]))      # v1
    t.merge(_df(spark, [(3, "V3", 2), (99, "new", 1)]), ["version"])  # v2
    v_mid = t.version()
    with t.transaction():                                            # v3
        t.merge(_df(spark, [(4, "txn", 3)]), ["version"])
        t.delete_keys(spark.createDataFrame([(5,)], "id long"))
    t.rebucket(8)                                                    # v4
    t.compact()
    expected = {(i, f"v{i}", 1) for i in range(12) if i not in (3, 4, 5)} | {
        (3, "V3", 2), (99, "new", 1), (4, "txn", 3),
    }
    assert _rows(t.snapshot()) == expected
    # time travel + restore ride the remote log
    assert _rows(t.snapshot(v_mid)) == (
        {(i, f"v{i}", 1) for i in range(12) if i != 3}
        | {(3, "V3", 2), (99, "new", 1)}
    )
    t.restore(v_mid)
    assert _rows(t.snapshot()) == _rows(t.snapshot(v_mid))
    # drive past the checkpoint cadence: checkpoints are store objects too
    while t.version() % txntable._CHECKPOINT_EVERY != 0:
        t.merge(_df(spark, [(1, "y", t.version())]), ["version"])
    t.vacuum(retention_s=0.0)
    # a reopened handle on the SAME store replays everything
    again = TxnTable(spark, path, backend=store)
    assert _rows(again.snapshot()) == _rows(t.snapshot())
    assert again.version() == t.version()
    # the log directory on disk holds NO commit/checkpoint objects
    disk = os.listdir(os.path.join(path, txntable._LOG_DIR))
    assert [n for n in disk if n.endswith(".json")] == []
    # ...and the store holds them all (commits + >=1 checkpoint)
    names = store.list_dir(os.path.join(path, txntable._LOG_DIR))
    assert sum(n.endswith(".checkpoint.json") for n in names) >= 1
    assert len([n for n in names if not n.endswith(".checkpoint.json")]) == (
        t.version() + 1
    )
    # opening without the store fails loudly: the table IS the log
    with pytest.raises(FileNotFoundError):
        TxnTable(spark, path)


def test_memory_backend_conditional_put_decides_races(spark, tmp_path):
    """Two handles on ONE shared store: the conditional PUT picks
    exactly one winner per version and the loser's conflict rules are
    the same as on the filesystem backend."""
    from knightshift_spark.sources.txntable import MemoryCommitBackend

    store = MemoryCommitBackend()
    path = str(tmp_path / "race")
    a = TxnTable.create(
        spark, path, keys=["id"], schema=SCHEMA, n_buckets=4, backend=store
    )
    b = TxnTable(spark, path, backend=store)
    a.append(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    # b merges key 1 first; a's overlapping-bucket merge staged at the
    # same read version must conflict, not silently rebase
    meta, _, read_v = a._state()
    adds = a._write_data(_df(spark, [(1, "stale", 9)]), meta)
    b.merge(_df(spark, [(1, "winner", 2)]), ["version"])
    with pytest.raises(ConcurrentWriteError):
        a._commit("merge", adds, [], [x["bucket"] for x in adds], read_v)
    # disjoint buckets rebase fine across handles
    a.merge(_df(spark, [(2, "fine", 2)]), ["version"])
    assert _rows(b.snapshot()) == {(1, "winner", 2), (2, "fine", 2)}


def test_memory_backend_orphan_data_invisible(spark, tmp_path):
    """Crash-safety holds with a remote log: a data directory whose
    commit object never reached the store is invisible to snapshots."""
    from knightshift_spark.sources.txntable import MemoryCommitBackend

    store = MemoryCommitBackend()
    path = str(tmp_path / "orph")
    t = TxnTable.create(
        spark, path, keys=["id"], schema=SCHEMA, n_buckets=2, backend=store
    )
    t.append(_df(spark, [(1, "a", 1)]))
    orphan = os.path.join(path, "data", "deadbeef", "__bucket=0")
    os.makedirs(orphan)
    _df(spark, [(9, "ghost", 9)]).write.mode("overwrite").parquet(orphan)
    assert _rows(t.snapshot()) == {(1, "a", 1)}


# -- timestamp time travel (round 11) ---------------------------------------


def test_timestamp_time_travel(spark, table):
    import time

    table.append(_df(spark, [(1, "a", 1)]))          # v1
    time.sleep(0.02)
    t_mid = time.time()
    time.sleep(0.02)
    table.merge(_df(spark, [(1, "A", 2)]), ["version"])  # v2
    assert table.version_as_of(t_mid) == 1
    assert _rows(table.snapshot_as_of(t_mid)) == {(1, "a", 1)}
    assert table.version_as_of(time.time()) == 2
    # before the table existed
    with pytest.raises(ValueError, match="created later"):
        table.version_as_of(0.0)
    # history exposes the stamps, monotone within one writer
    ts = [h["ts"] for h in table.history()]
    assert all(t is not None for t in ts) and ts == sorted(ts)


def test_version_as_of_monotonizes_skewed_clocks(spark, table, monkeypatch):
    """Two writers with skewed clocks can record out-of-order raw ts;
    the resolver must never map a later version to an earlier moment."""
    import json as _json

    from knightshift_spark.sources.txntable import (
        MemoryCommitBackend,
        _log_path,
    )

    def store_with(commits):
        s = MemoryCommitBackend()
        for c in commits:
            s.put_if_absent(
                _log_path(table.path, c["version"]),
                _json.dumps(c).encode(),
            )
        return s

    monkeypatch.setattr(table, "_backend", store_with([
        {"version": 0, "ts": 100.0},
        {"version": 1, "ts": 50.0},    # skewed writer: raw ts went BACK
        {"version": 2, "ts": 100.5},
    ]))
    assert table.version_as_of(100.0) == 0     # v1's effective = 100.001
    assert table.version_as_of(100.0015) == 1
    assert table.version_as_of(200.0) == 2


def test_log_without_current_fields_fails_loudly(spark, table, monkeypatch):
    """Every commit records ``ts`` and every checkpoint carries
    ``eff_ts`` and ``txn_watermarks``; a log missing them is not a
    layout this build writes, so the readers raise instead of guessing
    (an epoch-0 stamp or a full-history rescan)."""
    import json as _json

    from knightshift_spark.sources.txntable import (
        MemoryCommitBackend,
        _ckpt_path,
        _log_path,
    )

    def store_with(objs):
        s = MemoryCommitBackend()
        for path, obj in objs:
            s.put_if_absent(path, _json.dumps(obj).encode())
        return s

    # a commit without ts
    monkeypatch.setattr(table, "_backend", store_with([
        (_log_path(table.path, 0), {"version": 0}),
    ]))
    with pytest.raises(KeyError, match="ts"):
        table.version_as_of(1.0)
    # a checkpoint without eff_ts / txn_watermarks
    ck = {"meta": {}, "active": []}
    monkeypatch.setattr(table, "_backend", store_with([
        (_ckpt_path(table.path, 0), ck),
    ]))
    table._ckpt_cache = None
    with pytest.raises(KeyError, match="eff_ts"):
        table.version_as_of(1.0)
    with pytest.raises(KeyError, match="txn_watermarks"):
        table.streaming_watermark("app")


def test_maintenance_report_flags_frag_and_growth(spark, tmp_path):
    t = TxnTable.create(
        spark, str(tmp_path / "mr"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    r0 = t.maintenance_report()
    assert r0["live_bytes"] == 0 and not r0["wants_compact"]
    # three appends fragment both buckets across three dirs each
    for i in range(3):
        t.append(_df(spark, [(10 * i + j, "x" * 40, 1) for j in range(8)]))
    r = t.maintenance_report()
    assert r["version"] == 3 and r["n_buckets"] == 2
    assert r["wants_compact"] and r["max_dirs_per_bucket"] == 3
    assert r["live_bytes"] > 0
    assert r["log_tail_commits"] == 4  # no checkpoint yet: v0..v3 replay
    t.compact()
    r2 = t.maintenance_report()
    assert not r2["wants_compact"] and r2["max_dirs_per_bucket"] == 1
    # growth: a tiny target makes every bucket oversized -> rebucket
    tiny_mb = r2["live_bytes"] / (1024 * 1024) / 16
    r3 = t.maintenance_report(target_bucket_mb=tiny_mb)
    assert r3["wants_rebucket"] and r3["suggested_n_buckets"] >= 16
    t.rebucket(r3["suggested_n_buckets"])
    r4 = t.maintenance_report(target_bucket_mb=tiny_mb)
    assert r4["n_buckets"] == r3["suggested_n_buckets"]


# -- commit-log retention: expire_log (round 11) -----------------------------


def test_expire_log_bounds_history_loudly(spark, tmp_path):
    """expire_log drops commits replaced by a checkpoint: the live view
    and everything at/after the base checkpoint keep working, while any
    read that NEEDS an expired commit fails loudly — snapshot, change
    feed, and row CDC all raise VacuumedVersionError, never return a
    silently partial answer."""
    t = TxnTable.create(
        spark, str(tmp_path / "exp"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    t.append(_df(spark, [(i, "seed", 0) for i in range(6)]))  # v1
    while t.version() < txntable._CHECKPOINT_EVERY + 3:
        t.merge(_df(spark, [(1, "m", t.version())]), ["version"])
    live_before = _rows(t.snapshot())
    v_latest = t.version()
    base = txntable._CHECKPOINT_EVERY  # the one checkpoint so far

    n = t.expire_log(retention_s=0.0)  # everything is "old"
    assert n == base + 1  # commits v0..v20 replaced by the checkpoint
    # live view and post-base history are untouched
    assert _rows(t.snapshot()) == live_before
    assert t.version() == v_latest
    assert _rows(t.snapshot(base)) is not None  # ckpt alone serves base
    assert _rows(t.snapshot(base + 1)) is not None
    # below the base: loud, never wrong
    with pytest.raises(VacuumedVersionError, match="expired"):
        t.snapshot(base - 1)
    with pytest.raises(VacuumedVersionError, match="expired"):
        t.table_changes(since_version=0)
    with pytest.raises(VacuumedVersionError, match="expired"):
        t.row_changes(3)
    # the feed still works entirely within retained history
    assert t.table_changes(since_version=base).count() >= 0
    # a fresh handle opens fine without commit 0 and replays identically
    again = TxnTable(spark, t.path)
    assert _rows(again.snapshot()) == live_before
    # idempotent: nothing left to expire at the same horizon
    assert t.expire_log(retention_s=0.0) == 0


def test_expire_log_respects_retention_and_watermarks(spark, tmp_path):
    """Young commits survive any checkpoint; a stamped commit becomes
    expirable once a checkpoint carries its exactly-once watermark, and
    streaming_watermark never regresses across the expiry."""
    t = TxnTable.create(
        spark, str(tmp_path / "wm"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    t.append(_df(spark, [(1, "a", 1)]))
    # retention longer than the table's age: nothing is expirable even
    # after a checkpoint exists
    while t.version() < txntable._CHECKPOINT_EVERY:
        t.merge(_df(spark, [(1, "m", t.version())]), ["version"])
    assert t.expire_log(retention_s=3600.0) == 0

    # stamped merge BELOW the next checkpoint: once that checkpoint
    # carries the stamp, the commit is expirable and the watermark
    # STILL holds (carried forward)
    t.merge(_df(spark, [(2, "s", 1)]), ["version"], txn=("appX", 7))
    v_stamp = t.version()
    while t.version() < 2 * txntable._CHECKPOINT_EVERY:
        t.merge(_df(spark, [(1, "m", t.version())]), ["version"])
    assert t.expire_log(retention_s=0.0) > 0
    assert all(c["version"] > v_stamp for c in t._commits())
    assert t.streaming_watermark("appX") == 7
    assert _rows(t.lookup([2])) == {(2, "s", 1)}
    # version NEVER regresses across expiry (latest folds checkpoint
    # versions): a regressed head would reuse expired version numbers
    # and land commits below the replay start — silent write loss
    assert t.version() == 2 * txntable._CHECKPOINT_EVERY
    # ...and a post-expiry merge is immediately visible
    t.merge(_df(spark, [(3, "post-expiry", 1)]), ["version"])
    assert t.version() == 2 * txntable._CHECKPOINT_EVERY + 1
    assert _rows(t.lookup([3])) == {(3, "post-expiry", 1)}


def test_expire_log_at_checkpoint_tip_preserves_version(spark, tmp_path):
    """The sharp edge: tip exactly at a checkpoint, everything expired.
    The newest COMMIT OBJECT is deleted (the checkpoint replaces it),
    so version() must fold checkpoint versions — a head regressing to
    -1 would hand out version 0 again and the 'successful' write would
    land below the replay start, silently invisible."""
    t = TxnTable.create(
        spark, str(tmp_path / "tip"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    t.append(_df(spark, [(1, "a", 1)]))
    while t.version() < txntable._CHECKPOINT_EVERY:
        t.merge(_df(spark, [(1, "m", t.version())]), ["version"])
    tip = t.version()
    assert tip == txntable._CHECKPOINT_EVERY
    live = _rows(t.snapshot())
    assert t.expire_log(retention_s=0.0) == tip + 1  # v0..v20 all gone
    # the log is checkpoint-only now; the head held and reads work
    assert t.version() == tip
    assert _rows(t.snapshot()) == live
    assert t.maintenance_report()["log_tail_commits"] == 0
    # the next write takes version tip+1 and is VISIBLE
    t.append(_df(spark, [(99, "after", 1)]))
    assert t.version() == tip + 1
    assert (99, "after", 1) in _rows(t.snapshot())
    assert _rows(TxnTable(spark, t.path).snapshot()) == _rows(t.snapshot())


def test_version_as_of_resolves_from_carried_checkpoint(spark, tmp_path):
    """Checkpoints carry the monotonized effective time (eff_ts), so a
    recent timestamp resolves checkpoint+tail — and keeps resolving
    after expire_log removed the early commits the full-history walk
    would have needed."""
    import time

    t = TxnTable.create(
        spark, str(tmp_path / "eff"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    t.append(_df(spark, [(1, "a", 1)]))
    while t.version() < txntable._CHECKPOINT_EVERY:
        t.merge(_df(spark, [(1, "m", t.version())]), ["version"])
    ck = txntable._ckpt_path(t.path, txntable._CHECKPOINT_EVERY)
    assert json.loads(t._backend.get(ck)).get("eff_ts") is not None
    t_mid = time.time()
    t.merge(_df(spark, [(2, "late", 1)]), ["version"])  # v21
    # recent ts: anchored on the checkpoint, scans only the tail
    assert t.version_as_of(t_mid) == txntable._CHECKPOINT_EVERY
    assert t.version_as_of(time.time()) == t.version()
    t.expire_log(retention_s=0.0)  # drops v0..v20
    # still resolves (the carried anchor replaces the expired prefix)
    assert t.version_as_of(time.time()) == t.version()
    # below the first retained commit: loud, the stamps are gone
    with pytest.raises(ValueError, match="expired"):
        t.version_as_of(t_mid - 10_000)


def test_version_as_of_raises_on_ambiguous_expired_gap(spark, tmp_path):
    """ADVICE r11: a ts that falls inside EXPIRED history must raise
    VacuumedVersionError, not silently resolve across the gap to an
    older retained (txn-stamped) commit whose snapshot the continuity
    guard would reject anyway."""
    import time

    t = TxnTable.create(
        spark, str(tmp_path / "gap"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    t.append(_df(spark, [(1, "a", 1)]))
    while t.version() < txntable._CHECKPOINT_EVERY:
        t.merge(_df(spark, [(1, "m", t.version())]), ["version"])
    t.merge(_df(spark, [(2, "s", 1)]), ["version"], txn=("appG", 1))
    v_stamp = t.version()
    while t.version() < v_stamp + 5:
        t.merge(_df(spark, [(1, "m", t.version())]), ["version"])
    t_mid = time.time()  # covered by versions that WILL be expired
    while t.version() < 2 * txntable._CHECKPOINT_EVERY:
        t.merge(_df(spark, [(1, "m", t.version())]), ["version"])
    tip = t.version()
    assert t.version_as_of(t_mid) > v_stamp  # pre-expiry: a real answer
    # expire the commits between the stamped commit and the tip
    for v in range(v_stamp + 1, tip):
        t._backend.delete(txntable._log_path(t.path, v))
    # a recent ts still anchors on the tip checkpoint:
    assert t.version_as_of(time.time()) == tip
    # ...but t_mid's true answer was expired — loud, not v_stamp:
    with pytest.raises(VacuumedVersionError, match="expired"):
        t.version_as_of(t_mid)
    # before the first commit: still the created-later error
    with pytest.raises(ValueError, match="expired"):
        t.version_as_of(1.0)


def test_get_ckpt_missing_raises_vacuumed_not_filenotfound(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11: a checkpoint deleted between LIST and GET (racing
    expire_log) surfaces as VacuumedVersionError (typed, loud), never a
    raw FileNotFoundError."""
    t = TxnTable.create(
        spark, str(tmp_path / "ck"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    t.append(_df(spark, [(1, "a", 1)]))
    while t.version() < txntable._CHECKPOINT_EVERY:
        t.merge(_df(spark, [(1, "m", t.version())]), ["version"])
    t.expire_log(retention_s=0.0)  # checkpoint-only log
    ckp = txntable._ckpt_path(t.path, txntable._CHECKPOINT_EVERY)
    real_get = t._backend.get

    def fake_get(path):
        if path == ckp:
            raise FileNotFoundError(path)  # deleted between LIST and GET
        return real_get(path)

    monkeypatch.setattr(t._backend, "get", fake_get)
    t._ckpt_cache = None
    with pytest.raises(VacuumedVersionError):
        t.snapshot()


def test_commit_loser_with_expired_winner_is_retryable_conflict(
    spark, table, monkeypatch
):
    """ADVICE r11: losing the version race to a commit that a racing
    expire_log already deleted must roll back staged data and raise the
    RETRYABLE ConcurrentWriteError (run_transaction recovers), never a
    raw FileNotFoundError."""
    table.append(_df(spark, [(1, "a", 1)]))
    v = table.version()
    real_pub = txntable._atomic_publish
    state = {"lost": False}

    def fake_pub(payload, dst, backend):
        if payload.get("op") == "append" and not state["lost"]:
            state["lost"] = True
            return False  # the race was lost...
        return real_pub(payload, dst, backend)

    real_get = table._backend.get
    gone = txntable._log_path(table.path, v + 1)

    def fake_get(path):
        if path == gone:
            raise FileNotFoundError(path)  # ...and the winner expired
        return real_get(path)

    monkeypatch.setattr(txntable, "_atomic_publish", fake_pub)
    monkeypatch.setattr(table._backend, "get", fake_get)
    data_dir = os.path.join(table.path, "data")
    before = set(os.listdir(data_dir))
    with pytest.raises(ConcurrentWriteError, match="expire"):
        table.append(_df(spark, [(2, "b", 1)]))
    assert set(os.listdir(data_dir)) == before  # staged write rolled back


def test_maintenance_report_flags_shrinkage(spark, tmp_path):
    """ADVICE r11: rebucket staleness is flagged in BOTH directions — a
    table far below its bucket count (small-file scatter) wants a
    shrinking rebucket even though no bucket is oversized."""
    t = TxnTable.create(
        spark, str(tmp_path / "shrink"), keys=["id"], schema=SCHEMA,
        n_buckets=16,
    )
    t.append(_df(spark, [(i, "x", 1) for i in range(8)]))
    r = t.maintenance_report()  # tiny table: suggested collapses to 1
    assert r["suggested_n_buckets"] * 4 <= r["n_buckets"]
    assert r["wants_rebucket"]
    t.rebucket(r["suggested_n_buckets"])
    r2 = t.maintenance_report()
    assert not r2["wants_rebucket"]
    assert _rows(t.snapshot()) == {(i, "x", 1) for i in range(8)}


def test_compact_zorder_adopts_clustering_and_restores_skipping(spark, tmp_path):
    """r12 (judge item 1): compact(zorder_by=...) is the engine's
    OPTIMIZE ZORDER BY — an UNclustered, append-churned table adopts
    Morton clustering online, measured as actual file-skipping
    improvement; the spec persists (later writes keep the layout),
    maintenance_report's overlap metric drives the recommendation, and
    snapshot/time-travel/CDC equivalence is pinned across the rewrite."""
    sch = "id long, a long, b long"
    t = TxnTable.create(
        spark, str(tmp_path / "zc"), keys=["id"], schema=sch, n_buckets=2
    )
    rows = [(i, (i * 37) % 1000, (i * 91) % 1000) for i in range(400)]
    for k in range(4):  # interleaved ids: every append spans the full a-range
        batch = [r for r in rows if r[0] % 4 == k]
        t.append(spark.createDataFrame(batch, sch))
    pre_v = t.version()
    expect = {tuple(r) for r in rows}
    assert {(r.id, r.a, r.b) for r in t.snapshot().collect()} == expect
    # unclustered: no stats on `a`, a range scan opens every data dir
    before = len(t._paths_for_range("a", 100, 150))
    assert before == 8  # 4 appends x 2 buckets, nothing prunable
    r0 = t.maintenance_report()
    assert not r0["wants_cluster"]  # no clustering declared yet

    t.compact(zorder_by=["a", "b"], target_file_rows=50)
    cv = t.version()
    # the spec persisted via the commit and replays from the log
    meta = TxnTable(spark, t.path)._state()[0]
    assert meta["zorder_cols"] == ["a", "b"]
    assert "a" in meta["stats_cols"] and "b" in meta["stats_cols"]
    # measured skipping: per-file z-segment stats prune inside buckets
    after = len(t._paths_for_range("a", 100, 150))
    assert after < before
    # correctness pinned: same rows, and the range scan matches a filter
    assert {(r.id, r.a, r.b) for r in t.snapshot().collect()} == expect
    got = {
        (r.id, r.a, r.b)
        for r in t.snapshot_where("a", 100, 150).collect()
    }
    assert got == {r for r in expect if 100 <= r[1] <= 150}
    # fresh clustering reads as ~1 file per point read; churn degrades it
    r1 = t.maintenance_report()
    assert r1["clustering_amplification"] <= 2.5 and not r1["wants_cluster"]
    for k in range(3):
        t.append(
            spark.createDataFrame(
                [(1000 + 400 * k + i, (i * 53) % 1000, (i * 7) % 1000)
                 for i in range(400)],
                sch,
            )
        )
    r2 = t.maintenance_report()
    assert r2["clustering_amplification"] > 2.5 and r2["wants_cluster"]
    n_all = t.snapshot().count()
    t.compact(zorder_by=["a", "b"], target_file_rows=50)
    r3 = t.maintenance_report()
    assert r3["clustering_amplification"] <= 2.5 and not r3["wants_cluster"]
    assert t.snapshot().count() == n_all
    # time travel: the pre-compact snapshot replays its own meta (no
    # clustering) and still returns the pre-churn rows exactly
    assert {
        (r.id, r.a, r.b) for r in t.snapshot(pre_v).collect()
    } == expect
    # CDC: a clustering compact moves bytes, not rows
    with pytest.raises(ValueError, match="no row-diffable"):
        t.row_changes(cv)
    # unknown z column is rejected loudly
    with pytest.raises(ValueError, match="not in schema"):
        t.compact(zorder_by=["nope"])


def test_vacuum_skips_cross_process_marked_staging(spark, tmp_path):
    """r12 (judge item 5): the persisted _INFLIGHT marker protects a
    stalled writer's staging dir from a vacuum run by a DIFFERENT
    TxnTable instance whose process-local set knows nothing about it —
    and stops protecting the moment the recorded pid is dead."""
    import subprocess
    import time as _time

    t1 = TxnTable.create(
        spark, str(tmp_path / "xp"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    t1.append(_df(spark, [(1, "a", 1)]))
    # a writer stages its merge input (as merge() would) and then stalls
    rel, _ = t1._stage(
        t1._bucketed(
            _df(spark, [(1, "u", 2)]).withColumn(
                "__src", F.lit(1).cast("int")
            ).drop("__src"),
            t1._state()[0],
        )
    )
    full = os.path.join(t1.path, rel)
    marker = os.path.join(full, txntable._INFLIGHT_MARKER)
    assert os.path.isfile(marker)
    # age the dir far past retention and clear the in-process set: only
    # the persisted marker can save it now (models a second process)
    txntable._INFLIGHT_STAGING.clear()
    old = __import__("time").time() - 10_000
    os.utime(full, (old, old))
    t2 = TxnTable(spark, t1.path)
    t2.vacuum(retention_s=3600.0)
    assert os.path.isdir(full)  # marked by a LIVE pid: skipped
    # rewrite the marker as a CRASHED writer (dead pid): swept
    p = subprocess.Popen(["true"])
    p.wait()
    with open(marker, "w") as f:
        json.dump(
            {"pid": p.pid, "host": __import__("socket").gethostname(),
             "ts": _time.time()},
            f,
        )
    os.utime(full, (old, old))
    t2.vacuum(retention_s=3600.0)
    assert not os.path.isdir(full)  # dead writer: crash leftover swept


def test_maintain_runs_exactly_what_the_report_wants(spark, tmp_path):
    """r12: maintain() is the one-call scheduled-maintenance driver —
    dry_run plans without touching the table, the real run executes the
    recommended ops in order, preserves every row, and converges to a
    report that wants nothing."""
    sch = "id long, a long, b long"
    t = TxnTable.create(
        spark, str(tmp_path / "mx"), keys=["id"], schema=sch, n_buckets=2,
        zorder_cols=["a", "b"], target_file_rows=50,
    )
    rows = [(i, (i * 37) % 1000, (i * 91) % 1000) for i in range(400)]
    for k in range(4):  # churn: fragments every bucket, degrades clustering
        t.append(
            spark.createDataFrame([r for r in rows if r[0] % 4 == k], sch)
        )
    plan = t.maintain(dry_run=True)
    ops = [op for op, _ in plan["actions"]]
    assert plan["dry_run"] and plan["wants_compact"]
    # dry run touched nothing
    assert t.version() == 4 and ("compact_zorder" in ops or "compact" in ops)

    done = t.maintain(log_retention_s=0.0, vacuum_retention_s=0.0)
    assert not done["dry_run"]
    assert {(r.id, r.a, r.b) for r in t.snapshot().collect()} == {
        tuple(r) for r in rows
    }
    after = t.maintenance_report()
    assert not after["wants_compact"] and not after["wants_cluster"]
    assert not after["wants_rebucket"]
    # a second pass is a no-op plan (just the retention sweeps)
    again = t.maintain(dry_run=True)
    assert [op for op, _ in again["actions"]] == ["expire_log", "vacuum"]


def test_maintain_prefers_rebucket_over_compact(spark, tmp_path):
    """A wanted rebucket subsumes compaction (it rewrites every row
    under the final modulus), so maintain() runs it alone."""
    t = TxnTable.create(
        spark, str(tmp_path / "mr"), keys=["id"], schema=SCHEMA, n_buckets=16
    )
    for k in range(2):
        t.append(_df(spark, [(10 * k + j, "x", 1) for j in range(8)]))
    plan = t.maintain(dry_run=True)
    ops = [op for op, _ in plan["actions"]]
    assert ops[0] == "rebucket" and "compact" not in ops
    t.maintain(log_retention_s=0.0, vacuum_retention_s=0.0)
    assert t._state()[0]["n_buckets"] == plan["suggested_n_buckets"]
    assert len(_rows(t.snapshot())) == 16


def test_zorder_cols_must_rank_numerically(spark, tmp_path):
    """r12 review: a string z-order column casts to NULL and ranks
    every row 0 — a silent clustering no-op — so both create() and
    compact(zorder_by=...) reject it loudly."""
    with pytest.raises(ValueError, match="numeric"):
        TxnTable.create(
            spark, str(tmp_path / "bad"), keys=["id"], schema=SCHEMA,
            n_buckets=2, zorder_cols=["val"],
        )
    t = TxnTable.create(
        spark, str(tmp_path / "ok"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    t.append(_df(spark, [(1, "a", 1)]))
    with pytest.raises(ValueError, match="numeric"):
        t.compact(zorder_by=["val"])
    t.compact(zorder_by=["version"])  # int column: fine
    assert _rows(t.snapshot()) == {(1, "a", 1)}


def test_scd2_history_reproduces_every_snapshot(spark, tmp_path):
    """r12: the SCD2 relation's validity windows reproduce snapshot(v)
    for EVERY retained version — inserts, updates, deletes, a
    multi-statement transaction, and a restore all fold in — and open
    rows (valid_to NULL) are exactly the current snapshot."""
    t = TxnTable.create(
        spark, str(tmp_path / "scd"), keys=["id"], schema=SCHEMA, n_buckets=3
    )
    t.append(_df(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]))   # v1
    t.merge(_df(spark, [(2, "b2", 2), (4, "d", 1)]), ["version"])   # v2
    t.delete_keys(spark.createDataFrame([(1,)], "id long"))          # v3
    with t.transaction():                                            # v4
        t.merge(_df(spark, [(3, "c2", 3)]), ["version"])
        t.delete_where(F.col("id") == 4, rewrite_all=True)
    restore_to = 2
    t.restore(restore_to)                                            # v5
    t.merge(_df(spark, [(5, "e", 1)]), ["version"])                  # v6
    t.compact()                                                      # v7 (no rows move)

    hist = t.scd2_history().collect()
    # every (key, image) interval is half-open and non-degenerate
    for r in hist:
        assert r["__valid_to"] is None or r["__valid_to"] > r["__valid_from"]
    for v in range(t.version() + 1):
        want = _rows(t.snapshot(v))
        got = {
            (r.id, r.val, r.version)
            for r in hist
            if r["__valid_from"] <= v
            and (r["__valid_to"] is None or r["__valid_to"] > v)
        }
        assert got == want, f"version {v}: {got} != {want}"
    # open rows == current snapshot
    open_rows = {
        (r.id, r.val, r.version) for r in hist if r["__valid_to"] is None
    }
    assert open_rows == _rows(t.snapshot())
    # expired history refuses loudly rather than building a holed SCD2
    while t.version() < txntable._CHECKPOINT_EVERY:
        t.merge(_df(spark, [(5, "m", t.version())]), ["version"])
    t.expire_log(retention_s=0.0)
    with pytest.raises(VacuumedVersionError, match="SCD2"):
        t.scd2_history()


def test_scd2_history_evolution_and_duplicate_guard(spark, tmp_path):
    """r12 review: SCD2 survives a schema evolution in range (older
    images read NULL for the new column), and a blind duplicate append
    — two live rows for one key, which no interval history can
    represent — raises loudly instead of silently dropping a row."""
    t = TxnTable.create(
        spark, str(tmp_path / "scde"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    t.append(_df(spark, [(1, "a", 1)]))                                   # v1
    t.merge(
        spark.createDataFrame(
            [(1, "a2", 2, "x")], "id long, val string, version int, extra string"
        ),
        ["version"],
        evolve=True,
    )                                                                     # v2
    hist = t.scd2_history().collect()
    imgs = {(r.id, r.val, r["extra"], r["__valid_from"], r["__valid_to"])
            for r in hist}
    assert (1, "a", None, 1, 2) in imgs   # pre-evolution image: NULL extra
    assert (1, "a2", "x", 2, None) in imgs
    # duplicate blind append: detected at action time
    t2 = TxnTable.create(
        spark, str(tmp_path / "scdd"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    t2.append(_df(spark, [(7, "first", 1)]))
    t2.append(_df(spark, [(7, "second", 2)]))  # legal append, 2 live rows
    with pytest.raises(Exception, match="unique live keys"):
        t2.scd2_history().collect()


def test_check_constraints_guard_every_write_path(spark, tmp_path):
    """r12: Delta-shape CHECK constraints — declared at create, enforced
    in-plan on every write path; a violating batch fails BEFORE the
    commit, leaving table state untouched, and valid writes proceed."""
    t = TxnTable.create(
        spark, str(tmp_path / "chk"), keys=["id"], schema=SCHEMA, n_buckets=2,
        constraints={
            "version_pos": "version > 0",
            "val_set": "val IS NOT NULL",
        },
    )
    t.append(_df(spark, [(1, "a", 1)]))
    v = t.version()
    # append violating version_pos: fails, no commit, state unchanged
    with pytest.raises(Exception, match="version_pos"):
        t.append(_df(spark, [(2, "b", 0)]))
    assert t.version() == v and _rows(t.snapshot()) == {(1, "a", 1)}
    # NULL in a guarded column counts as a violation
    with pytest.raises(Exception, match="val_set"):
        t.merge(_df(spark, [(1, None, 2)]), ["version"])
    assert t.version() == v and _rows(t.snapshot()) == {(1, "a", 1)}
    # valid writes proceed, including through a transaction
    with t.transaction():
        t.merge(_df(spark, [(1, "a2", 2), (3, "c", 1)]), ["version"])
    assert _rows(t.snapshot()) == {(1, "a2", 2), (3, "c", 1)}
    # unresolvable constraint expression rejected at create()
    with pytest.raises(ValueError, match="does not resolve"):
        TxnTable.create(
            spark, str(tmp_path / "bad"), keys=["id"], schema=SCHEMA,
            constraints={"ghost": "no_such_col > 0"},
        )
    # r12 review: an AGGREGATE passes a bare select but would brick
    # every later write — rejected at create in the enforcement shape
    with pytest.raises(ValueError, match="per-row boolean"):
        TxnTable.create(
            spark, str(tmp_path / "agg"), keys=["id"], schema=SCHEMA,
            constraints={"agg": "max(version) > 0"},
        )
    # r12 review: a violating write removes its own partial output —
    # no unbounded _data/<uuid>/_temporary litter on constrained tables
    data_root = os.path.join(t.path, "data")
    before_dirs = set(os.listdir(data_root))
    with pytest.raises(Exception, match="version_pos"):
        t.append(_df(spark, [(9, "z", -1)]))
    assert set(os.listdir(data_root)) == before_dirs
    # maintenance rewrites do NOT re-validate committed rows: weaken
    # the constraint's world by hand and compact/delete still work
    t.compact()
    t.delete_keys(spark.createDataFrame([(3,)], "id long"))
    assert _rows(t.snapshot()) == {(1, "a2", 2)}


def test_merge_delete_where_clause_equals_two_statement_txn(spark, tmp_path):
    """r13 (VERDICT r12 item 7): ``merge(..., delete_where=cond)`` is ONE
    statement / one staged plan / one commit, pinned exactly equivalent
    to the two-statement transaction it replaces — same final state,
    and exactly one commit landed."""
    rows = [(i, f"v{i}", 1) for i in range(20)]
    upd = [(i, f"u{i}", 2) for i in range(0, 20, 2)] + [(30, "new", 2)]

    ta = TxnTable.create(
        spark, str(tmp_path / "a"), keys=["id"], schema=SCHEMA, n_buckets=4
    )
    ta.append(_df(spark, rows))
    v0 = ta.version()
    ta.merge(_df(spark, upd), ["version"], delete_where=F.col("id") % 3 == 0)
    assert ta.version() == v0 + 1  # one commit

    tb = TxnTable.create(
        spark, str(tmp_path / "b"), keys=["id"], schema=SCHEMA, n_buckets=4
    )
    tb.append(_df(spark, rows))
    with tb.transaction():
        tb.merge(_df(spark, upd), ["version"])
        tb.delete_where(F.col("id") % 3 == 0, rewrite_all=True)
    assert _rows(ta.snapshot()) == _rows(tb.snapshot())
    # the delete applies POST-merge: an updated row caught by the
    # predicate is gone, an inserted row caught by it never lands
    assert all(r[0] % 3 != 0 for r in _rows(ta.snapshot()))


def test_merge_when_matched_delete_clause(spark, tmp_path):
    """Delta's WHEN MATCHED AND cond THEN DELETE shape: only rows whose
    key the update batch MATCHES are eligible — an unmatched stored row
    satisfying the condition survives untouched (the distinction vs the
    global delete_where clause); matched rows failing the condition
    update normally; unmatched update keys insert."""
    t = TxnTable.create(
        spark, str(tmp_path / "t"), keys=["id"], schema=SCHEMA, n_buckets=4
    )
    t.append(_df(spark, [(1, "keep", 7), (2, "upd", 1), (3, "del", 1)]))
    v0 = t.version()
    t.merge(
        _df(spark, [(2, "u2", 2), (3, "u3", 7), (4, "new", 7)]),
        ["version"],
        # post-image condition: version == 7 on the winning row
        when_matched_delete=F.col("version") == 7,
    )
    assert t.version() == v0 + 1
    assert _rows(t.snapshot()) == {
        (1, "keep", 7),  # unmatched: survives though cond holds
        (2, "u2", 2),    # matched, cond false: updated
        # (3, ...) matched, post-image version 7: DELETED
        (4, "new", 7),   # not matched: inserted (cond does not gate inserts)
    }
    # inside an explicit transaction the clauses COMPOSE as ordered
    # statements (r13 follow-up — they used to raise): the insert rides
    # the merge and the fused delete_where removes it in the same commit
    v1 = t.version()
    with t.transaction():
        t.merge(
            _df(spark, [(9, "x", 1)]), ["version"],
            delete_where=F.col("id") == 9,
        )
    assert t.version() == v1 + 1
    assert not any(r[0] == 9 for r in _rows(t.snapshot()))


def test_constraint_lifecycle(spark, tmp_path):
    """r13 (VERDICT r12 item 5): add_constraint validates EXISTING data
    in one scan before publishing (violating table -> raise, no
    commit); drop_constraint re-opens the gate; time travel replays the
    per-version constraint set."""
    t = TxnTable.create(
        spark, str(tmp_path / "c"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    t.append(_df(spark, [(1, "a", 1), (2, "b", -5)]))  # v1
    v_before = t.version()
    # existing row (2, b, -5) violates: raise, and NO commit lands
    with pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("version_pos", "version > 0")
    assert t.version() == v_before
    assert t.constraints() == {}
    # cure the data, then the add succeeds and rides the log
    t.delete_keys(spark.createDataFrame([(2,)], "id long"))       # v2
    v_add = t.add_constraint("version_pos", "version > 0")        # v3
    assert t.constraints() == {"version_pos": "version > 0"}
    # later writes validate against it (NULL deviation named in msg)
    with pytest.raises(Exception, match="version_pos"):
        t.append(_df(spark, [(3, "bad", 0)]))
    assert _rows(t.snapshot()) == {(1, "a", 1)}
    # duplicate add and unknown drop refuse loudly
    with pytest.raises(ValueError, match="already exists"):
        t.add_constraint("version_pos", "version > 10")
    with pytest.raises(ValueError, match="no constraint named"):
        t.drop_constraint("nope")
    # unresolvable / aggregate expressions refuse like create() does
    with pytest.raises(ValueError, match="per-row boolean"):
        t.add_constraint("agg", "max(version) > 0")
    # drop re-opens the gate: previously-violating rows now write
    t.drop_constraint("version_pos")                              # v4
    assert t.constraints() == {}
    t.append(_df(spark, [(3, "ok-now", 0)]))                      # v5
    assert (3, "ok-now", 0) in _rows(t.snapshot())
    # time travel replays the per-version set
    assert t.constraints(v_add) == {"version_pos": "version > 0"}
    assert t.constraints(v_add - 1) == {}
    assert t.constraints(t.version()) == {}
    # maintenance ops reject constraint DDL inside a transaction
    with pytest.raises(RuntimeError, match="not a transaction statement"):
        with t.transaction():
            t.add_constraint("x", "version >= 0")


def test_shrink_gate_spares_pre_provisioned_empty_table(spark, tmp_path):
    """ADVICE r12: a freshly pre-provisioned table (n_buckets=64
    awaiting backfill) reads suggested=1 from live_bytes=0 — the shrink
    rule must NOT flag it, or a cron-wired maintain() collapses the
    deliberate pre-sizing before the data arrives."""
    t = TxnTable.create(
        spark, str(tmp_path / "pre"), keys=["id"], schema=SCHEMA, n_buckets=64
    )
    r = t.maintenance_report()
    assert r["live_bytes"] == 0 and r["suggested_n_buckets"] == 1
    assert not r["wants_rebucket"]
    plan = t.maintain(dry_run=True)
    assert "rebucket" not in [op for op, _ in plan["actions"]]
    assert t._state()[0]["n_buckets"] == 64
    # ...while a table that actually SHRANK >=4x below its buckets
    # still flags (the r11 rule, unchanged for tables with data)
    t.append(_df(spark, [(1, "tiny", 1)]))
    r2 = t.maintenance_report()
    assert r2["live_bytes"] > 0 and r2["wants_rebucket"]


def test_inflight_marker_defeats_pid_reuse(spark, tmp_path):
    """ADVICE r12: a marker whose pid was recycled (the named process
    started AFTER the marker was written) must not protect a crash
    leftover — start-time comparison unmasks it. The REAL writer (this
    process, started long before its marker) stays protected."""
    import json as _json
    import time as _time

    from knightshift_spark.sources.txntable import (
        _inflight_writer_alive,
        _pid_start_epoch,
        _write_inflight_marker,
    )

    d = tmp_path / "stage"
    d.mkdir()
    # genuine marker from this live process: protected
    _write_inflight_marker(str(d))
    assert _inflight_writer_alive(str(d))
    # recycled pid: same live pid, but the marker predates its birth
    start = _pid_start_epoch(os.getpid())
    assert start is not None
    with open(d / "_INFLIGHT", "w") as f:
        _json.dump(
            {"pid": os.getpid(), "host": __import__("socket").gethostname(),
             "ts": start - 3600.0},
            f,
        )
    assert not _inflight_writer_alive(str(d))
    # dead pid still sweepable, other-host markers still ignored
    with open(d / "_INFLIGHT", "w") as f:
        _json.dump({"pid": 2**22 + 12345, "host":
                    __import__("socket").gethostname(), "ts": _time.time()}, f)
    assert not _inflight_writer_alive(str(d))


def test_merge_with_both_clauses_in_one_statement(spark, tmp_path):
    """when_matched_delete AND delete_where compose in one statement:
    matched-delete applies to the post-merge image of MATCHED keys
    first, the predicate delete sweeps the whole post-merge table
    second (statement-order semantics, same as the transaction form)."""
    t = TxnTable.create(
        spark, str(tmp_path / "t"), keys=["id"], schema=SCHEMA, n_buckets=4
    )
    t.append(_df(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 9), (4, "d", 1)]))
    v0 = t.version()
    t.merge(
        _df(spark, [(1, "u1", 9), (2, "u2", 2), (5, "new", 9)]),
        ["version"],
        when_matched_delete=F.col("version") == 9,  # kills post-image (1,u1,9)
        delete_where=F.col("id") % 2 == 0,          # sweeps 2 and 4
    )
    assert t.version() == v0 + 1  # ONE commit
    assert _rows(t.snapshot()) == {
        # 1: matched, post-image version 9 -> matched-delete
        # 2: matched, updated to u2, then swept by id%2
        (3, "c", 9),    # unmatched: version 9 survives (not a global rule)
        # 4: unmatched, swept by id%2
        (5, "new", 9),  # inserted (insert is not gated by matched-delete)
    }


def test_update_where_plans_and_preimage_semantics(spark, tmp_path):
    """r13: conditional UPDATE. Both plans (two-phase / single-pass)
    and the auto choice produce identical states; all SET expressions
    evaluate over the PRE-image simultaneously (Delta's rule), and the
    commit reads as update pre/post image pairs in CDC."""
    rows = [(i, f"v{i}", i % 4) for i in range(16)]

    def fresh(name):
        t = TxnTable.create(
            spark, str(tmp_path / name), keys=["id"], schema=SCHEMA,
            n_buckets=4,
        )
        t.append(_df(spark, rows))
        return t

    # simultaneity: val reads pre-image version, version reads pre-image
    sets = {
        "val": F.concat(F.lit("u"), F.col("version").cast("string")),
        "version": F.col("version") + 10,
    }
    cond = F.col("id") % 3 == 0
    expected = {
        (i, f"u{i % 4}" if i % 3 == 0 else f"v{i}",
         i % 4 + (10 if i % 3 == 0 else 0))
        for i in range(16)
    }
    states = []
    for name, ra in (("tp", False), ("sp", True), ("auto", None)):
        t = fresh(name)
        v0 = t.version()
        t.update_where(cond, sets, rewrite_all=ra)
        assert t.version() == v0 + 1
        states.append(_rows(t.snapshot()))
        assert states[-1] == expected, name
        # time travel still sees the pre-update state
        assert _rows(t.snapshot(v0)) == set(rows)
    # CDC: pre/post image pairs for exactly the hit rows
    t = fresh("cdc")
    v = t.update_where(cond, sets)
    ch = {(r["_change_type"], r.id, r.val, r.version)
          for r in t.row_changes(v).collect()}
    assert ("update_preimage", 0, "v0", 0) in ch
    assert ("update_postimage", 0, "u0", 10) in ch
    assert not any(c[1] % 3 != 0 for c in ch)  # only hit rows appear
    # SQL-string SET expressions work too
    t.update_where(F.col("id") == 1, {"val": "upper(val)"})
    assert (1, "V1", 1) in _rows(t.snapshot())


def test_update_where_validation_and_constraints(spark, tmp_path):
    """SET validation refuses keys / unknown columns / non-resolving
    expressions; CHECK constraints re-validate UPDATED rows' new images
    in-plan (no commit on violation) while carried rows are never
    re-validated — an existing bad row cannot brick an unrelated
    update."""
    t = TxnTable.create(
        spark, str(tmp_path / "t"), keys=["id"], schema=SCHEMA, n_buckets=2,
        constraints={"version_pos": "version > 0"},
    )
    t.append(_df(spark, [(1, "a", 1), (2, "b", 2)]))
    with pytest.raises(ValueError, match="is a table key"):
        t.update_where(F.col("id") == 1, {"id": F.lit(9)})
    with pytest.raises(ValueError, match="not in the table schema"):
        t.update_where(F.col("id") == 1, {"nope": F.lit(9)})
    with pytest.raises(ValueError, match="does not resolve"):
        t.update_where(F.col("id") == 1, {"val": "no_such_col || 'x'"})
    with pytest.raises(ValueError, match="at least one SET"):
        t.update_where(F.col("id") == 1, {})
    # constraint-violating new image: raises at action time, no commit
    v0 = t.version()
    with pytest.raises(Exception, match="version_pos"):
        t.update_where(F.col("id") == 1, {"version": F.lit(0)})
    assert t.version() == v0
    assert _rows(t.snapshot()) == {(1, "a", 1), (2, "b", 2)}
    # carried rows are NOT re-validated: sneak a bad row in by weakening
    # the constraint world, then update the OTHER row — must succeed
    t.drop_constraint("version_pos")
    t.merge(_df(spark, [(3, "bad", 0)]), ["version"])
    t.add_constraint("version_pos2", "version >= 0")  # passes existing
    t.update_where(F.col("id") == 2, {"val": F.lit("b2")})
    assert (2, "b2", 2) in _rows(t.snapshot())


def test_update_where_in_transaction_fuses(spark, tmp_path):
    """update_where inside transaction(): records like any statement,
    applies in order within the single fused rewrite, equals the
    standalone statement sequence."""
    rows = [(i, f"v{i}", 1) for i in range(12)]
    ta = TxnTable.create(
        spark, str(tmp_path / "a"), keys=["id"], schema=SCHEMA, n_buckets=3
    )
    ta.append(_df(spark, rows))
    v0 = ta.version()
    with ta.transaction():
        ta.merge(_df(spark, [(0, "m0", 5), (20, "new", 5)]), ["version"])
        ta.update_where(
            F.col("version") >= 5, {"val": F.concat(F.col("val"), F.lit("!"))}
        )
        ta.delete_where(F.col("id") % 5 == 1, rewrite_all=True)
    assert ta.version() == v0 + 1  # one fused commit

    tb = TxnTable.create(
        spark, str(tmp_path / "b"), keys=["id"], schema=SCHEMA, n_buckets=3
    )
    tb.append(_df(spark, rows))
    tb.merge(_df(spark, [(0, "m0", 5), (20, "new", 5)]), ["version"])
    tb.update_where(
        F.col("version") >= 5, {"val": F.concat(F.col("val"), F.lit("!"))}
    )
    tb.delete_where(F.col("id") % 5 == 1, rewrite_all=True)
    assert _rows(ta.snapshot()) == _rows(tb.snapshot())
    assert (0, "m0!", 5) in _rows(ta.snapshot())


def test_update_where_folds_into_scd2_sync(spark, tmp_path):
    """An update commit reads as value versions in the SCD2 history,
    and the incremental materializer folds it exactly."""
    from knightshift_spark.sources.txntable import (
        read_scd2,
        sync_scd2_from_table,
    )

    t = TxnTable.create(
        spark, str(tmp_path / "t"), keys=["id"], schema=SCHEMA, n_buckets=2
    )
    path = str(tmp_path / "hist")
    t.append(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    sync_scd2_from_table(t, path, n_buckets=4)
    t.update_where(F.col("id") == 1, {"val": F.lit("a2"), "version": F.lit(2)})
    sync_scd2_from_table(t, path, n_buckets=4)
    from collections import Counter

    def canon(df):
        cols = sorted(df.columns)
        return Counter(
            tuple(r[c] for c in cols) for r in df.select(*cols).collect()
        )

    assert canon(read_scd2(spark, path)) == canon(t.scd2_history())
    imgs = {
        (r.id, r.val, r["__valid_from"], r["__valid_to"])
        for r in read_scd2(spark, path).collect()
    }
    assert (1, "a", 1, 2) in imgs and (1, "a2", 2, None) in imgs


def test_constraint_ops_never_rebase_past_each_other(spark, tmp_path):
    """r13 review: a constraint commit publishes the FULL map computed
    at its read version — rebasing past another add/drop would
    republish a stale map (silently resurrecting a dropped constraint).
    Protocol-level: a loser constraint commit whose race winner was
    also a constraint op must raise, never rebase."""
    t = TxnTable.create(
        spark, str(tmp_path / "t"), keys=["id"], schema=SCHEMA, n_buckets=2,
        constraints={"A": "version > 0", "B": "val IS NOT NULL"},
    )
    stale_read_v = t.version()  # 0
    t.drop_constraint("B")      # v1 wins; live map {A}
    # the loser: a drop_constraint('A') computed at read_v=0 — its map
    # still contains B. Rebasing would resurrect B and erase A.
    with pytest.raises(ConcurrentWriteError):
        t._commit(
            "drop_constraint", [], [], [], stale_read_v,
            extra={"constraints": {"B": "val IS NOT NULL"}},
        )
    assert t.constraints() == {"A": "version > 0"}
    # same in the add direction: an add computed before the drop landed
    with pytest.raises(ConcurrentWriteError):
        t._commit(
            "add_constraint", [], [], [], stale_read_v,
            extra={"constraints": {
                "A": "version > 0", "B": "val IS NOT NULL", "C": "id >= 0",
            }},
        )
    assert t.constraints() == {"A": "version > 0"}
    # retry from fresh state lands cleanly
    t.add_constraint("C", "id >= 0")
    assert t.constraints() == {"A": "version > 0", "C": "id >= 0"}


def test_merge_clauses_inside_transaction(spark, tmp_path):
    """r13 follow-up: merge clauses compose inside an explicit
    transaction() as ordered statements, equal to the standalone
    sequence — including the tricky shape where a PLAIN merge with the
    same order_by precedes the clause merge (the clause merge must not
    fuse into it: matched-ness binds to ONE batch)."""
    rows = [(i, f"v{i}", 1) for i in range(10)]
    # batch1 inserts key 20 and updates key 0; batch2 (clause) matches
    # keys {0 (already updated), 20 (inserted by batch1), 21 (new)}.
    b1 = [(0, "b1-0", 5), (20, "b1-20", 5)]
    b2 = [(0, "b2-0", 9), (20, "b2-20", 9), (21, "b2-21", 9)]
    clause = F.col("version") == 9  # post-image of every b2 match

    ta = TxnTable.create(
        spark, str(tmp_path / "a"), keys=["id"], schema=SCHEMA, n_buckets=4
    )
    ta.append(_df(spark, rows))
    v0 = ta.version()
    with ta.transaction():
        ta.merge(_df(spark, b1), ["version"])
        ta.merge(
            _df(spark, b2), ["version"],
            when_matched_delete=clause,
            delete_where=F.col("id") % 7 == 3,
        )
    assert ta.version() == v0 + 1  # ONE fused commit

    tb = TxnTable.create(
        spark, str(tmp_path / "b"), keys=["id"], schema=SCHEMA, n_buckets=4
    )
    tb.append(_df(spark, rows))
    tb.merge(_df(spark, b1), ["version"])
    tb.merge(
        _df(spark, b2), ["version"],
        when_matched_delete=clause,
        delete_where=F.col("id") % 7 == 3,
    )
    got = _rows(ta.snapshot())
    assert got == _rows(tb.snapshot())
    # matched-ness bound to batch2 against the post-batch1 state:
    # 0 matched (updated by b1 earlier, then by b2) -> deleted
    # 20 matched (INSERTED by b1, so live when b2 ran) -> deleted
    # 21 not matched -> inserted and survives
    assert (21, "b2-21", 9) in got
    assert not any(r[0] in (0, 20) for r in got)
    assert not any(r[0] % 7 == 3 for r in got)  # the fused delete_where
    # an EMPTY clause batch is a no-op (its matched_delete must not
    # bind to an unrelated earlier merge)
    with ta.transaction():
        ta.merge(_df(spark, [(1, "u1", 9)]), ["version"])
        ta.merge(
            _df(spark, []), ["version"],
            when_matched_delete=F.col("version") == 9,
        )
    assert (1, "u1", 9) in _rows(ta.snapshot())


def test_update_from_joined_source(spark, table):
    """r13: UPDATE with a JOINED source (Delta's MERGE WHEN MATCHED
    UPDATE shape) — SET expressions see pre-image AND source columns,
    unmatched rows on either side are untouched, CDC reads exact
    update pairs, and the misuse surfaces raise before any write."""
    table.append(_df(spark, [(i, f"v{i}", 1) for i in range(8)]))
    dim = spark.createDataFrame(
        [(2, "NEW2"), (5, "NEW5"), (99, "ghost")], "id long, label string"
    )
    v = table.update_from(
        dim,
        {"val": F.concat(F.col("label"), F.lit("-"), F.col("val")),
         "version": F.lit(7)},
    )
    got = {r.id: (r.val, r.version) for r in table.snapshot().collect()}
    assert got[2] == ("NEW2-v2", 7) and got[5] == ("NEW5-v5", 7)
    assert got[1] == ("v1", 1) and 99 not in got and len(got) == 8
    rc = table.row_changes(v)
    assert rc.filter(F.col("_change_type") == "update_preimage").count() == 2
    assert rc.count() == 4
    # cond gates matched rows, evaluated over the joined row
    table.update_from(dim, {"version": F.lit(8)}, cond=F.col("label") == "NEW2")
    got = {r.id: r.version for r in table.snapshot().collect()}
    assert got[2] == 8 and got[5] == 7
    # misuse: colliding source column / missing key / SET on a key
    with pytest.raises(ValueError, match="collide"):
        table.update_from(
            dim.withColumnRenamed("label", "val"), {"version": F.lit(9)}
        )
    with pytest.raises(ValueError, match="key columns"):
        table.update_from(dim.select("label"), {"version": F.lit(9)})
    with pytest.raises(ValueError, match="is a table key"):
        table.update_from(dim, {"id": F.lit(0)})
    with pytest.raises(RuntimeError, match="not a transaction statement"):
        with table.transaction():
            table.update_from(dim, {"version": F.lit(9)})


def test_consume_table_changes_checkpointed_loop(spark, table, tmp_path):
    """late r13: the generic change-feed consumer — durable sidecar,
    replay-on-crash delivery, exact row-level mode across DV commits,
    restore refusal."""
    from knightshift_spark.sources.txntable import (
        RestoreInRangeError,
        consume_table_changes,
    )

    state = str(tmp_path / "consumer")
    table.append(_df(spark, [(i, f"v{i}", 1) for i in range(6)]))
    seen: list[tuple] = []

    def sink(df, lo, hi):
        seen.append((lo, hi, df.count()))

    v1 = consume_table_changes(table, state, sink)
    assert v1 == table.version() and seen == [(-1, v1, 6)]
    # nothing new: no delivery, same stamp
    assert consume_table_changes(table, state, sink) == v1
    assert len(seen) == 1
    # a crash between fn and the stamp replays the SAME range
    table.merge(_df(spark, [(0, "m", 2)]), ["version"])

    def boom(df, lo, hi):
        raise RuntimeError("sink crashed")

    with pytest.raises(RuntimeError, match="sink crashed"):
        consume_table_changes(table, state, boom)
    v2 = consume_table_changes(table, state, sink)
    assert seen[-1][0] == v1 and seen[-1][1] == v2  # replayed range
    # row-level mode is exact across a deletion-vector delete
    table.delete_where(F.col("id") == 3, deletion_vectors=True)
    rows: list = []
    consume_table_changes(
        table, state, lambda df, lo, hi: rows.extend(df.collect()),
        row_level=True,
    )
    assert {(r.id, r._change_type) for r in rows} == {(3, "delete")}
    # a restore in the range refuses — the consumer must resync
    table.merge(_df(spark, [(1, "x", 3)]), ["version"])
    table.restore(v2)
    with pytest.raises(RestoreInRangeError):
        consume_table_changes(table, state, sink, row_level=True)


def test_consume_row_level_refuses_expired_gap(spark, table, tmp_path):
    """Review fix: a commit missing from the log inside the unconsumed
    range must raise, never deliver a silently incomplete row-level
    feed and stamp past the hole."""
    from knightshift_spark.sources.txntable import (
        VacuumedVersionError,
        consume_table_changes,
    )

    state = str(tmp_path / "c2")
    table.append(_df(spark, [(1, "a", 1)]))
    consume_table_changes(table, state, lambda df, lo, hi: None)
    table.merge(_df(spark, [(1, "b", 2)]), ["version"])  # v2
    table.merge(_df(spark, [(1, "c", 3)]), ["version"])  # v3
    os.remove(os.path.join(table.path, "_txnlog", f"{2:020d}.json"))
    with pytest.raises(VacuumedVersionError, match="expired"):
        consume_table_changes(
            table, state, lambda df, lo, hi: None, row_level=True
        )


def test_dv_merge_losing_batch_still_stamps_txn(spark, tmp_path):
    """Review fix: a DV merge whose batch wholly loses the rank must
    still advance the exactly-once watermark (the CoW path commits an
    equivalent-state rewrite and stamps) — otherwise a crash-replay of
    the batch runs against different table state and can decide
    differently than the no-crash run."""
    t = TxnTable.create(
        spark, str(tmp_path / "w"), keys=["id"], schema=SCHEMA,
        n_buckets=2, deletion_vectors=True,
    )
    t.append(_df(spark, [(1, "a", 9)]))
    v0 = t.version()
    v1 = t.merge(_df(spark, [(1, "stale", 1)]), ["version"], txn=("app", 3))
    assert v1 == v0 + 1  # empty DV commit carries the stamp
    assert t.streaming_watermark("app") == 3
    assert _rows(t.snapshot()) == {(1, "a", 9)}  # state untouched
    # the empty commit diffs to nothing
    assert t.row_changes(v1).count() == 0


def test_merge_state_hint_pins_occ_baseline(spark, table):
    """Review fix (update_from's lost-update window): a merge whose
    update plan was built against an earlier state passes that state as
    its OCC baseline — a commit landing in between must conflict, not
    be silently overwritten by stale post-images."""
    table.append(_df(spark, [(1, "a", 1)]))
    stale = table._state()
    table.update_where(F.col("id") == 1, {"val": F.lit("fresh")})
    with pytest.raises(ConcurrentWriteError):
        table.merge(
            _df(spark, [(1, "stale-post", 1)]), [], _state_hint=stale
        )
    assert {r.val for r in table.snapshot().collect()} == {"fresh"}


def test_txn_query_tables_removed_at_exit(tmp_path):
    """q72/q74 build a TxnTable per plan build and their DataFrames read
    it lazily; every such directory sits under one per-process parent
    that is gone once the interpreter exits."""
    import subprocess
    import sys

    code = (
        "from knightshift_spark.queries.txn import _table_dir\n"
        "import os\n"
        "a, b = _table_dir('q72_txn_'), _table_dir('q74_scd2_')\n"
        "for d in (a, b): os.makedirs(d)\n"
        "print(a); print(b)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True
    ).stdout.split()
    roots = {os.path.dirname(os.path.dirname(d)) for d in out}
    assert len(out) == 2 and len(roots) == 1
    assert os.path.dirname(roots.pop()) == str(tmp_path)
    assert not any(os.path.exists(d) for d in out)
    assert os.listdir(tmp_path) == []
