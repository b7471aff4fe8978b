"""q72/q74: the TxnTable commit log under the oracle gate — transactional
MERGE/DELETE final state (q72) and the derived SCD2 history relation (q74).

End-to-end ACID parity with the reference's upsert+validate loop
(``knightshift/db/game_upsert.py:84-110`` key-hit UPDATE / miss INSERT;
``validate_tv_channel_games.py:113`` conditional DELETE): seed the table
from ``customer``, MERGE an update batch derived from ``orders`` (fresh
versions win, stale versions lose, unknown keys insert), DELETE a
predicate slice, and aggregate the final snapshot. The oracle replays
the same last-writer-wins algebra in pure SQL, so the driver hash
checks the TABLE'S FINAL STATE — commits, bucket rewrites, carried-
forward files and all — not just a computed expression.

Money is handled in exact e2 integer units (``round(x*100)`` BIGINT)
end to end, and every oracle aggregate is CAST back to BIGINT (DuckDB
integer SUM yields HUGEINT → pandas float64 — the q70 lesson)."""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knightshift_spark.queries import query
from knightshift_spark.sources.txntable import TxnTable
from knightshift_spark.tables import load_table as t


@functools.cache
def _table_root() -> str:
    """One per-process parent for the query tables, removed at
    interpreter exit."""
    root = tempfile.mkdtemp(prefix="knightshift_txn_queries_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _table_dir(prefix: str) -> str:
    """A fresh directory for the TxnTable one plan build creates, under
    ``_table_root()``. The returned DataFrame reads the table's files
    lazily, so the build itself cannot remove them."""
    return os.path.join(tempfile.mkdtemp(prefix=prefix, dir=_table_root()), "t")


_SCHEMA = "c_custkey long, c_nationkey int, bal_e2 long, version int"

_ORACLE = """
WITH cur AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_e2,
         1 AS version
  FROM customer
), agg AS (
  SELECT o_custkey AS c_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS tot_e2
  FROM orders GROUP BY o_custkey
), upd AS (
  SELECT a.c_custkey, c.c_nationkey,
         CAST(a.tot_e2 % 1000000 AS BIGINT) AS bal_e2,
         CASE WHEN a.c_custkey % 3 <> 0 THEN 2 ELSE 0 END AS version
  FROM agg a JOIN customer c ON a.c_custkey = c.c_custkey
  UNION ALL
  SELECT c_custkey + 1000000 AS c_custkey,
         CAST(c_custkey % 25 AS INT) AS c_nationkey,
         c_custkey AS bal_e2, 2 AS version
  FROM customer WHERE c_custkey % 10 = 0
), merged AS (
  SELECT c_custkey, c_nationkey, bal_e2, version FROM (
    SELECT *, row_number() OVER (
      PARTITION BY c_custkey ORDER BY version DESC, src DESC
    ) AS rn
    FROM (
      SELECT *, 0 AS src FROM cur
      UNION ALL
      SELECT *, 1 AS src FROM upd
    )
  ) WHERE rn = 1
), kept AS (
  SELECT * FROM merged WHERE bal_e2 % 7 <> 0
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(bal_e2) AS BIGINT) AS sum_bal_e2,
       CAST(MAX(c_custkey) AS BIGINT) AS max_custkey
FROM kept
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def _e2(col) -> F.Column:
    return F.round(col * F.lit(100)).cast("bigint")


@query(
    "q72_txn_merge",
    oracle=_ORACLE,
    doc="ACID MERGE INTO + conditional DELETE landed as ONE "
    "multi-statement transaction (OP-06/07/08 with snapshot isolation; "
    "the reference commits its whole cleaning batch once) — the two "
    "statements fuse into a single rewrite job and a single commit; "
    "oracle replays the last-writer-wins algebra in SQL and checks the "
    "final table state.",
)
def q72(spark: SparkSession, sf: str) -> DataFrame:
    cust = t(spark, sf, "customer")
    orders = t(spark, sf, "orders")

    cur = cust.select(
        "c_custkey",
        "c_nationkey",
        _e2(F.col("c_acctbal")).alias("bal_e2"),
        F.lit(1).cast("int").alias("version"),
    )
    agg = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum(_e2(F.col("o_totalprice"))).alias("tot_e2")
    )
    upd_existing = agg.join(
        F.broadcast(cust.select("c_custkey", "c_nationkey")), "c_custkey"
    ).select(
        "c_custkey",
        "c_nationkey",
        (F.col("tot_e2") % F.lit(1000000)).cast("bigint").alias("bal_e2"),
        F.when(F.col("c_custkey") % 3 != 0, F.lit(2))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("version"),
    )
    upd_new = cust.filter(F.col("c_custkey") % 10 == 0).select(
        (F.col("c_custkey") + F.lit(1000000)).alias("c_custkey"),
        (F.col("c_custkey") % 25).cast("int").alias("c_nationkey"),
        F.col("c_custkey").alias("bal_e2"),
        F.lit(2).cast("int").alias("version"),
    )

    table = TxnTable.create(
        spark,
        _table_dir("q72_txn_"),
        keys=["c_custkey"],
        schema=_SCHEMA,
        n_buckets=8,  # 8 buckets = merge/delete sort-and-write tasks;
        # re-swept r11 under the fused-txn shape (2/4/8/16 at sf0.1,
        # local[32], best-of-3): 1.16/1.05/0.94/1.08 s — still 8
    )
    table.append(cur)  # v1
    # ONE statement = ONE commit (r13): the conditional-MERGE clause
    # fuses the update window and the predicate delete into a single
    # staged plan — deleted rows are never written — like the
    # reference's cleaning pass landing its whole update+delete batch
    # under a single session commit (validate_tv_channel_games.py:189).
    # Pinned equivalent to the two-statement transaction it replaces
    # (tests/test_txntable.py::test_merge_delete_where_clause...).
    table.merge(  # v2
        upd_existing.unionByName(upd_new),
        ["version"],
        delete_where=F.col("bal_e2") % 7 == 0,
    )

    return (
        table.snapshot()
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("bal_e2").alias("sum_bal_e2"),
            F.max("c_custkey").alias("max_custkey"),
        )
        .orderBy("c_nationkey")
    )


_SCD2_SCHEMA = "c_custkey long, bal_e2 long, version int"

_SCD2_ORACLE = """
WITH cur AS (
  SELECT c_custkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_e2,
         1 AS version
  FROM customer
), img1 AS (
  SELECT c_custkey, bal_e2, version,
         CAST(1 AS BIGINT) AS valid_from,
         CAST(CASE WHEN c_custkey % 3 = 1 THEN 2
                   WHEN c_custkey % 5 = 0 THEN 3 END AS BIGINT) AS valid_to
  FROM cur
), img2 AS (
  SELECT c_custkey, bal_e2 + 11 AS bal_e2, 2 AS version,
         CAST(2 AS BIGINT) AS valid_from,
         CAST(CASE WHEN c_custkey % 5 = 0 THEN 3 END AS BIGINT) AS valid_to
  FROM cur WHERE c_custkey % 3 = 1
)
SELECT * FROM img1 UNION ALL SELECT * FROM img2
ORDER BY c_custkey, valid_from
"""


@query(
    "q74_scd2_history",
    oracle=_SCD2_ORACLE,
    doc="Type-2 dimension history straight from the ACID commit log "
    "(r12): seed from customer, update a third of the keys, delete a "
    "fifth, then scd2_history() — one row per (key, image) with "
    "half-open commit-version validity bounds. The oracle replays the "
    "mutation algebra declaratively, so the driver hash checks the "
    "derived HISTORY RELATION (row_changes diffs folded through the "
    "per-key lead window), not just a final state.",
)
def q74(spark: SparkSession, sf: str) -> DataFrame:
    cust = t(spark, sf, "customer")
    cur = cust.select(
        "c_custkey",
        _e2(F.col("c_acctbal")).alias("bal_e2"),
        F.lit(1).cast("int").alias("version"),
    )
    table = TxnTable.create(
        spark,
        _table_dir("q74_scd2_"),
        keys=["c_custkey"],
        schema=_SCD2_SCHEMA,
        n_buckets=4,
    )
    table.append(cur)  # v1: every key opens at 1
    table.merge(  # v2: a third of the keys get a new image
        cur.filter(F.col("c_custkey") % 3 == 1).select(
            "c_custkey",
            (F.col("bal_e2") + F.lit(11)).alias("bal_e2"),
            F.lit(2).cast("int").alias("version"),
        ),
        ["version"],
    )
    table.delete_where(F.col("c_custkey") % 5 == 0, rewrite_all=True)  # v3
    return table.scd2_history().select(
        "c_custkey",
        "bal_e2",
        "version",
        F.col("__valid_from").alias("valid_from"),
        F.col("__valid_to").alias("valid_to"),
    ).orderBy("c_custkey", "valid_from")
