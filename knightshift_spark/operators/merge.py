"""Keyed merge / upsert / dedup operators.

The reference upserts one row per transaction into Postgres
(``db/game_upsert.py:84-110``: if ``id_game`` exists → UPDATE, else INSERT).
In Spark the same end-state is an algebraic *last-writer-wins* merge over
the union of current data and updates — a single shuffle on the key,
no point lookups, scales linearly with data.

Scale notes (100 TB): all three operators shuffle exactly once on the key
column(s). For a hot key-space, AQE skew-join handles stragglers; for
repeated merges into a large table, partition the stored table by a stable
key prefix (e.g. ``substr(id_game, 1, 2)``) so the merge only rewrites
touched partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_ORD = "__ord"
_RN = "__rn"


def last_writer_wins(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[str]
) -> DataFrame:
    """Keep exactly one row per key: the one ranked last by ``order_by``.

    Equivalent of the reference's repeated upsert on the same key
    (``game_upsert.py:84-110`` — later data overwrites earlier).
    Implemented as ``row_number`` over a key-partitioned window, which
    Catalyst plans as one shuffle + in-partition sort (OP-31).
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc_nulls_last() for c in order_by])
    return (
        df.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )


def upsert(
    current: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """Batch merge: rows in ``updates`` replace same-key rows in ``current``;
    unmatched update rows are inserted (reference OP-06).

    ``updates`` wins ties on ``order_by`` (a later micro-batch beats the
    stored row with an equal timestamp, matching the reference's
    unconditional UPDATE on key-hit).
    """
    cur = current.select(*updates.columns).withColumn(_ORD, F.lit(0))
    upd = updates.withColumn(_ORD, F.lit(1))
    merged = last_writer_wins(cur.unionByName(upd), keys, [*order_by, _ORD])
    return merged.drop(_ORD)


def insert_if_absent(
    existing: DataFrame, new: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Rows of ``new`` whose key is not in ``existing`` (first-writer-wins),
    deduped within the batch — reference OP-08
    (``backfill_user_profiles.py:169-175,216-218``).

    The anti-join broadcasts automatically when the key set is small; at
    scale it is a shuffled left-anti on the key — one shuffle. A left
    anti join ignores duplicates on its right side, so ``existing`` is
    not deduplicated first.
    """
    batch_first = new.dropDuplicates(list(keys))
    return batch_first.join(existing.select(*keys), on=list(keys), how="left_anti")


def delete_where(df: DataFrame, cond) -> tuple[DataFrame, DataFrame]:
    """Split into (kept, deleted) — the reference's conditional DELETE
    (OP-07, ``validate_tv_channel_games.py:113``) as a filter pair.

    Both sides derive from one scan; Catalyst reuses the exchange when both
    are consumed in the same job.
    """
    return df.filter(~F.coalesce(cond, F.lit(False))), df.filter(F.coalesce(cond, F.lit(False)))
