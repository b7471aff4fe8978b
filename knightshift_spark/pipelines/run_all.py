"""Full-pipeline orchestrator — the engine twin of the reference's
``main.py`` / Airflow DAG (SURVEY.md §3.1):

    health gate → ingest TV games → clean invalid games → enrich.

Reference stages hand off through Postgres tables with a process boundary
between each (``knightshift_dag.py:98-112``); here stages hand off through
parquet table directories (bronze = raw game rows, silver = validated,
gold = enriched) and share one SparkSession. Orchestration stays external
(any scheduler can call ``run_pipeline`` on a cadence — the reference's
``0 */2 * * *``); the engine is library-shaped.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knightshift_spark.operators.merge import upsert
from knightshift_spark.pipelines.clean import clean_games
from knightshift_spark.pipelines.enrich import distinct_players, enrich_users
from knightshift_spark.pipelines.ingest import ingest_games
from knightshift_spark.schemas import LICHESS_USERS
from knightshift_spark.sources import pgn
from knightshift_spark.sources.rest import profile_bodies_source


class PipelineReport(NamedTuple):
    """Batch counters (OP-33) — the reference logs added/updated per batch
    (``get_games_from_tv.py:127-147``) and updated/deleted per cleaning run
    (``validate_tv_channel_games.py:172-190``)."""

    ingested: int
    valid: int
    deleted: int
    users_added: int


def check_health(spark: SparkSession, games_dir: str) -> bool:
    """DB health gate equivalent (``knightshift_dag.py:34-40``): target
    table exists and has rows. A fresh warehouse passes (nothing to gate)."""
    if not os.path.isdir(games_dir):
        return True
    try:
        return spark.read.parquet(games_dir).limit(1).count() >= 0
    except Exception:
        return False


def run_pipeline(
    spark: SparkSession,
    pgn_source_dir: str,
    warehouse_dir: str,
    fetch_profile: Callable[[str], str | None] | None = None,
    transactional: bool = False,
) -> PipelineReport:
    """Ingest PGN dumps → merge into games table → clean → enrich users.

    ``fetch_profile``: REST transport for the profile source (None skips
    enrichment — offline mode). Writes:
    ``{warehouse}/games`` (validated table), ``{warehouse}/games_rejected``
    (cleaning deletions, kept for audit), ``{warehouse}/users``.

    ``transactional=True`` keeps the games table in a commit-log
    ``TxnTable`` at ``{warehouse}/games_txn`` instead of stage-and-swap
    parquet: the ingest merge is one ACID commit and the whole cleaning
    batch (validation deletes + normalize-merge) is ONE more — a
    multi-statement ``transaction()`` matching the reference's session
    commit boundary (``validate_tv_channel_games.py:189``). Bucket-
    pruned rewrites, snapshot-isolated readers, history/time travel.
    Same end state as the default path (tested), different durability
    contract.
    """
    if transactional:
        return _run_pipeline_txn(spark, pgn_source_dir, warehouse_dir, fetch_profile)
    games_dir = f"{warehouse_dir}/games"
    rejected_dir = f"{warehouse_dir}/games_rejected"
    users_dir = f"{warehouse_dir}/users"
    if not check_health(spark, games_dir):
        raise RuntimeError(f"health gate failed: unreadable table at {games_dir}")

    # --- stage 1: ingestion (entry point B) ---
    lines = pgn.read_pgn_lines(spark, pgn_source_dir)
    blocks = pgn.assemble_games(pgn.sessionize(lines))
    fresh = ingest_games(blocks)
    if os.path.isdir(games_dir):
        current = spark.read.parquet(games_dir)
        merged = upsert(current, fresh, ["id_game"], ["tm_ingested"])
    else:
        merged = fresh
    ingested = fresh.count()

    # --- stage 2: cleaning (entry point C) ---
    result = clean_games(merged)
    valid, deleted = result.valid, result.deleted
    valid.write.mode("overwrite").parquet(f"{games_dir}.next")
    deleted.write.mode("append" if os.path.isdir(rejected_dir) else "overwrite").parquet(
        rejected_dir
    )
    # materialize counters BEFORE the swap: these plans read the pre-swap
    # directory and must not be re-executed after its files are replaced
    deleted_count = deleted.count()
    _swap(games_dir)
    valid = spark.read.parquet(games_dir)

    # --- stage 3: enrichment (entry point D) ---
    users_added = 0
    if fetch_profile is not None:
        existing = (
            spark.read.parquet(users_dir)
            if os.path.isdir(users_dir)
            else spark.createDataFrame([], LICHESS_USERS)
        )
        existing_count = existing.count()  # before the swap removes old files
        bodies = profile_bodies_source(distinct_players(valid), fetch_profile)
        enriched = enrich_users(valid, existing, bodies)
        enriched.users.write.mode("overwrite").parquet(f"{users_dir}.next")
        enriched.games.write.mode("overwrite").parquet(f"{games_dir}.next")
        _swap(users_dir)
        _swap(games_dir)
        users_added = spark.read.parquet(users_dir).count() - existing_count

    return PipelineReport(
        ingested=ingested,
        valid=spark.read.parquet(games_dir).count(),
        deleted=deleted_count,
        users_added=users_added,
    )


def _run_pipeline_txn(
    spark: SparkSession,
    pgn_source_dir: str,
    warehouse_dir: str,
    fetch_profile: Callable[[str], str | None] | None,
) -> PipelineReport:
    """The ``transactional=True`` body of ``run_pipeline`` — games live
    in a TxnTable; cleaning deletions are `delete_keys` commits. The
    enrichment flag-update merges back through the same table."""
    from knightshift_spark.sources.txntable import TxnTable

    tbl_dir = f"{warehouse_dir}/games_txn"
    rejected_dir = f"{warehouse_dir}/games_rejected"
    users_dir = f"{warehouse_dir}/users"

    lines = pgn.read_pgn_lines(spark, pgn_source_dir)
    fresh = ingest_games(pgn.assemble_games(pgn.sessionize(lines)))
    try:
        table = TxnTable(spark, tbl_dir)
    except FileNotFoundError:
        table = TxnTable.create(
            spark, tbl_dir, keys=["id_game"], schema=fresh.schema, n_buckets=16
        )
    table.merge(fresh, ["tm_ingested"])                      # commit: ingest
    ingested = fresh.count()

    result = clean_games(table.snapshot())
    # both halves read the PRE-clean snapshot; checkpoint before the
    # table moves on. Cleaning is delete + normalize: the invalid keys
    # leave, and the validators' transformed columns (title/termination
    # normalization, sentinel→NULL, validation notes/flags) merge back.
    deleted = result.deleted.localCheckpoint()
    cleaned = result.valid.localCheckpoint()
    deleted.write.mode(
        "append" if os.path.isdir(rejected_dir) else "overwrite"
    ).parquet(rejected_dir)
    deleted_count = deleted.count()
    # ONE commit for the whole cleaning batch (delete + normalize-merge),
    # exactly the reference's session-commit boundary
    # (validate_tv_channel_games.py:189) — readers never see the deletes
    # without the normalizations; the statements fuse into one rewrite
    with table.transaction():                                # commit: clean
        table.delete_keys(deleted.select("id_game"))
        table.merge(cleaned, ["tm_ingested"])
    valid = table.snapshot()

    users_added = 0
    if fetch_profile is not None:
        existing = (
            spark.read.parquet(users_dir)
            if os.path.isdir(users_dir)
            else spark.createDataFrame([], LICHESS_USERS)
        )
        existing_count = existing.count()
        bodies = profile_bodies_source(distinct_players(valid), fetch_profile)
        enriched = enrich_users(valid, existing, bodies)
        enriched.users.write.mode("overwrite").parquet(f"{users_dir}.next")
        games_flagged = enriched.games.localCheckpoint()  # pre-commit snapshot read
        _swap(users_dir)
        table.merge(games_flagged, ["tm_ingested"])          # commit: enrich flags
        users_added = spark.read.parquet(users_dir).count() - existing_count

    return PipelineReport(
        ingested=ingested,
        valid=table.snapshot().count(),
        deleted=deleted_count,
        users_added=users_added,
    )


def main(argv: list[str] | None = None) -> int:
    """CLI twin of the reference's ``python main.py``:

        python -m knightshift_spark.pipelines.run_all <pgn_dir> <warehouse_dir>

    Runs ingest → clean (enrichment needs a REST transport, so the CLI
    runs offline-mode) and prints the batch counters.
    """
    import argparse

    from knightshift_spark.logging_utils import log_counts, stage
    from knightshift_spark.session import get_spark

    p = argparse.ArgumentParser(description=main.__doc__)
    p.add_argument("pgn_dir")
    p.add_argument("warehouse_dir")
    args = p.parse_args(argv)
    spark = get_spark("knightshift-pipeline")
    with stage("Full pipeline"):
        report = run_pipeline(spark, args.pgn_dir, args.warehouse_dir)
    log_counts(**report._asdict())
    print(report)
    return 0


def _swap(table_dir: str) -> None:
    """Atomically replace ``table_dir`` with ``table_dir.next`` (the
    plain-parquet stand-in for a transactional table commit; the batch
    pipeline and the streaming parquet sink both commit through it)."""
    import shutil
    import uuid

    old = f"{table_dir}.old-{uuid.uuid4().hex[:6]}"
    if os.path.isdir(table_dir):
        os.rename(table_dir, old)
    os.rename(f"{table_dir}.next", table_dir)
    if os.path.isdir(old):
        shutil.rmtree(old)
if __name__ == "__main__":
    raise SystemExit(main())
