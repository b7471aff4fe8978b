"""Merge/upsert operator tests (reference db/game_upsert.py semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from knightshift_spark.operators.merge import (
    delete_where,
    insert_if_absent,
    last_writer_wins,
    upsert,
)


def test_last_writer_wins(spark):
    df = spark.createDataFrame(
        [("a", 1, "old"), ("a", 2, "new"), ("b", 1, "only")],
        "k string, ver int, v string",
    )
    out = {r["k"]: r["v"] for r in last_writer_wins(df, ["k"], ["ver"]).collect()}
    assert out == {"a": "new", "b": "only"}


def test_upsert_updates_and_inserts(spark):
    cur = spark.createDataFrame([("a", 1, "stored"), ("b", 1, "keep")], "k string, ver int, v string")
    upd = spark.createDataFrame([("a", 1, "updated"), ("c", 1, "fresh")], "k string, ver int, v string")
    out = {r["k"]: r["v"] for r in upsert(cur, upd, ["k"], ["ver"]).collect()}
    # equal version → update wins (reference UPDATEs unconditionally on key hit)
    assert out == {"a": "updated", "b": "keep", "c": "fresh"}


def test_insert_if_absent(spark):
    existing = spark.createDataFrame(
        [("u1", "x"), ("u1", "x-dup")], "id_user string, v string"
    )
    new = spark.createDataFrame(
        [("u1", "dup"), ("u2", "n2"), ("u2", "n2-again"), ("u3", "n3")],
        "id_user string, v string",
    )
    out = insert_if_absent(existing, new, ["id_user"])
    ids = sorted(r["id_user"] for r in out.collect())
    assert ids == ["u2", "u3"]


def test_delete_where(spark):
    df = spark.createDataFrame([(1, "ok"), (2, None), (3, "bad")], "id int, v string")
    kept, deleted = delete_where(df, (F.col("v") == "bad") | F.col("v").isNull())
    assert sorted(r["id"] for r in kept.collect()) == [1]
    assert sorted(r["id"] for r in deleted.collect()) == [2, 3]
