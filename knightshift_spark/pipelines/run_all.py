"""Full-pipeline orchestrator — the engine twin of the reference's
``main.py`` / Airflow DAG (SURVEY.md §3.1):

    health gate → ingest TV games → clean invalid games → enrich.

Reference stages hand off through Postgres tables with a process boundary
between each (``knightshift_dag.py:98-112``); here stages hand off through
parquet table directories (bronze = raw game rows, silver = validated,
gold = enriched) and share one SparkSession. Orchestration stays external
(any scheduler can call ``run_pipeline`` on a cadence — the reference's
``0 */2 * * *``); the engine is library-shaped.

Each stage runs once per run, like the reference's DAG: one parse per
poll, one upsert per game, one paced GET per user profile
(``backfill_user_profiles.py:144-153``). A stage output that more than
one later action reads is an eager ``localCheckpoint``, so the actions
read that one result instead of replaying the lineage:

- ``fresh``, the ingested rows: the PGN parse runs once, and every row
  of a run carries the one ``tm_ingested`` that evaluation stamped;
- ``merged``, the upserted table before cleaning: the profile fetch, the
  games write and the ``deleted`` append read it (the stage-and-swap
  path; the transactional path merges inside its ``TxnTable`` and
  checkpoints the two cleaning halves instead);
- ``profiles``, the fetched profiles already flattened to users rows:
  the users write and the games flags read them, so each profile key is
  fetched once and each body parsed once.

On the stage-and-swap path the profile keys come from cleaning's
``valid`` rows (a projection over ``merged``), so enrichment runs before
the games write and each table is written once, the games flags set. The
commits keep their order: ``games.next`` is written, ``games_rejected``
appended, then ``users`` and ``games`` are swapped in. Enrichment writes
only ``users.next``, so a run that fails in it — in the fetch, say —
leaves every table as it was.

The report's counters are observed on the actions that materialize or
write their rows, so counting runs no extra jobs (``run_pipeline``).
The checkpoints are released when the run ends (``_checkpoints``), so a
long-lived scheduler process holds none of them between runs.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import NamedTuple

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from knightshift_spark.operators.merge import upsert
from knightshift_spark.pipelines.clean import clean_games
from knightshift_spark.pipelines.enrich import apply_profiles, distinct_players, flatten_profiles
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


def check_health(spark: SparkSession, games_dir: str) -> DataFrame | None:
    """DB health gate equivalent (``knightshift_dag.py:34-40``): the
    target table, if it exists, must open. Opening infers the schema from
    a parquet footer; the merge that reads the table next reads every
    file, and fails the run before anything is written. An empty table
    passes (a run may reject every game). Returns the opened table, or
    None for a fresh warehouse (nothing to gate).

    An unreadable table raises ``RuntimeError`` from the read error:
    ``AnalysisException`` when no schema can be inferred (e.g. an empty
    directory), ``Py4JJavaError`` when a footer cannot be read (e.g. a
    file that is not parquet)."""
    if not os.path.isdir(games_dir):
        return None
    try:
        return spark.read.parquet(games_dir)
    except (AnalysisException, Py4JJavaError) as e:
        raise RuntimeError(f"health gate failed: unreadable table at {games_dir}") from e


@contextmanager
def _checkpoints() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Yields ``materialize(df)``, an eager ``localCheckpoint`` of ``df``;
    every checkpoint it made is released when the block exits.

    ``DataFrame.unpersist()`` cannot reach a local checkpoint's blocks
    (there is no cache entry): they belong to the checkpointed RDD behind
    the ``LogicalRDD`` leaf, which is unpersisted here. Dropping the
    reference alone would leave them until a JVM GC lets the
    ContextCleaner find them."""
    held: list[DataFrame] = []

    def materialize(df: DataFrame) -> DataFrame:
        cp = df.localCheckpoint(eager=True)
        held.append(cp)
        return cp

    try:
        yield materialize
    finally:
        for cp in held:
            cp._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _with_row_count(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter that the one action evaluating it fills
    in (``obs.get["rows"]``), so a report counter runs no job of its own.
    Read it only after that action."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _ingest(
    spark: SparkSession, pgn_source_dir: str, materialize: Callable[[DataFrame], DataFrame]
) -> tuple[DataFrame, int]:
    """Stage 1 (entry point B): PGN dumps → deduplicated game rows,
    parsed once and stamped with one ``tm_ingested``; returns them
    materialized, with their row count."""
    lines = pgn.read_pgn_lines(spark, pgn_source_dir)
    fresh, rows = _with_row_count(ingest_games(pgn.assemble_games(pgn.sessionize(lines))))
    fresh = materialize(fresh)
    return fresh, rows.get["rows"]


def _write_rejected(deleted: DataFrame, rejected_dir: str) -> int:
    """Append cleaning's deletions to the audit table; returns how many."""
    deleted, rows = _with_row_count(deleted)
    deleted.write.mode("append" if os.path.isdir(rejected_dir) else "overwrite").parquet(
        rejected_dir
    )
    return rows.get["rows"]


def _enrich(
    spark: SparkSession,
    valid: DataFrame,
    users_dir: str,
    fetch_profile: Callable[[str], str | None],
    materialize: Callable[[DataFrame], DataFrame],
) -> tuple[DataFrame, int]:
    """Stage 3 (entry point D): fetch each profile key of ``valid`` once
    and flatten the bodies into one materialized relation, then write the
    users table to ``{users_dir}.next``. Returns ``valid`` with its
    profile flags set (lazy, reading that relation) and the number of
    users added, counted on the rows the write inserted."""
    existing = (
        # the table's own schema: no footer-reading job to infer it
        spark.read.schema(LICHESS_USERS).parquet(users_dir)
        if os.path.isdir(users_dir)
        else spark.createDataFrame([], LICHESS_USERS)
    )
    # the bodies were fetched for exactly the wanted keys: no join back
    profiles = materialize(
        flatten_profiles(
            profile_bodies_source(distinct_players(valid), fetch_profile), keep_fetch_key=True
        )
    )
    enriched = apply_profiles(valid, existing, profiles)
    added, rows = _with_row_count(enriched.added)
    existing.unionByName(added).write.mode("overwrite").parquet(f"{users_dir}.next")
    return enriched.games, rows.get["rows"]


def run_pipeline(
    spark: SparkSession,
    pgn_source_dir: str,
    warehouse_dir: str,
    fetch_profile: Callable[[str], str | None] | None = None,
    transactional: bool = False,
) -> PipelineReport:
    """Ingest PGN dumps → merge into games table → clean → enrich users.

    ``fetch_profile``: REST transport for the profile source (None skips
    enrichment — offline mode). It is called once per distinct profile
    key of the run. Writes:
    ``{warehouse}/games`` (validated table), ``{warehouse}/games_rejected``
    (cleaning deletions, kept for audit), ``{warehouse}/users``.

    Materialized per run and released when it ends: the ingested rows
    ``fresh``, the upserted table ``merged`` and the flattened
    ``profiles`` (see the module docstring). The games table is written
    once, with its profile flags set; then ``games_rejected`` is
    appended, and ``users`` and ``games`` are swapped in, in that order.
    Enrichment runs before the games write and stages only
    ``users.next``, so a failed fetch leaves every table as it was. Each
    report counter is read off the one action that produced its rows,
    with no job of its own:

    - ``ingested``: rows of ``fresh``, counted as it is checkpointed;
    - ``valid``: rows cleaning kept, counted as they are written (or
      checkpointed, transactional); enrichment only flags them, so this
      is the games table's size as the run leaves it;
    - ``deleted``: rows cleaning removed, counted as they are appended
      to ``games_rejected``;
    - ``users_added``: rows the users write inserted.

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
    with _checkpoints() as materialize:
        if transactional:
            return _run_pipeline_txn(
                spark, pgn_source_dir, warehouse_dir, fetch_profile, materialize
            )
        return _run_pipeline_swap(
            spark, pgn_source_dir, warehouse_dir, fetch_profile, materialize
        )


def _run_pipeline_swap(
    spark: SparkSession,
    pgn_source_dir: str,
    warehouse_dir: str,
    fetch_profile: Callable[[str], str | None] | None,
    materialize: Callable[[DataFrame], DataFrame],
) -> PipelineReport:
    """The default body of ``run_pipeline``: parquet tables committed by
    stage-and-swap (``_swap``)."""
    games_dir = f"{warehouse_dir}/games"
    rejected_dir = f"{warehouse_dir}/games_rejected"
    users_dir = f"{warehouse_dir}/users"
    current = check_health(spark, games_dir)

    # --- stage 1: ingestion (entry point B) ---
    fresh, ingested = _ingest(spark, pgn_source_dir, materialize)
    if current is None:
        merged = fresh
    else:
        # read the pre-swap files now: the swap below replaces them
        merged = materialize(upsert(current, fresh, ["id_game"], ["tm_ingested"]))

    # --- stage 2: cleaning (entry point C) ---
    result = clean_games(merged)
    games = result.valid

    # --- stage 3: enrichment (entry point D), before the games write ---
    users_added = 0
    if fetch_profile is not None:
        games, users_added = _enrich(spark, games, users_dir, fetch_profile, materialize)

    games, valid_rows = _with_row_count(games)
    games.write.mode("overwrite").parquet(f"{games_dir}.next")
    deleted_count = _write_rejected(result.deleted, rejected_dir)
    if fetch_profile is not None:
        _swap(users_dir)
    _swap(games_dir)

    return PipelineReport(
        ingested=ingested,
        valid=valid_rows.get["rows"],
        deleted=deleted_count,
        users_added=users_added,
    )


def _run_pipeline_txn(
    spark: SparkSession,
    pgn_source_dir: str,
    warehouse_dir: str,
    fetch_profile: Callable[[str], str | None] | None,
    materialize: Callable[[DataFrame], DataFrame],
) -> PipelineReport:
    """The ``transactional=True`` body of ``run_pipeline`` — games live
    in a TxnTable; cleaning deletions are `delete_keys` commits. The
    enrichment flag-update merges back through the same table."""
    from knightshift_spark.sources.txntable import TxnTable

    tbl_dir = f"{warehouse_dir}/games_txn"
    rejected_dir = f"{warehouse_dir}/games_rejected"
    users_dir = f"{warehouse_dir}/users"

    fresh, ingested = _ingest(spark, pgn_source_dir, materialize)
    try:
        table = TxnTable(spark, tbl_dir)
    except FileNotFoundError:
        table = TxnTable.create(
            spark, tbl_dir, keys=["id_game"], schema=fresh.schema, n_buckets=16
        )
    table.merge(fresh, ["tm_ingested"])                      # commit: ingest

    result = clean_games(table.snapshot())
    # both halves read the PRE-clean snapshot; checkpoint before the
    # table moves on. Cleaning is delete + normalize: the invalid keys
    # leave, and the validators' transformed columns (title/termination
    # normalization, sentinel→NULL, validation notes/flags) merge back.
    deleted = materialize(result.deleted)
    cleaned, valid_rows = _with_row_count(result.valid)
    cleaned = materialize(cleaned)
    deleted_count = _write_rejected(deleted, rejected_dir)
    # ONE commit for the whole cleaning batch (delete + normalize-merge),
    # exactly the reference's session-commit boundary
    # (validate_tv_channel_games.py:189) — readers never see the deletes
    # without the normalizations; the statements fuse into one rewrite
    with table.transaction():                                # commit: clean
        table.delete_keys(deleted.select("id_game"))
        table.merge(cleaned, ["tm_ingested"])

    users_added = 0
    if fetch_profile is not None:
        games_flagged, users_added = _enrich(
            spark, table.snapshot(), users_dir, fetch_profile, materialize
        )
        games_flagged = materialize(games_flagged)  # pre-commit snapshot read
        _swap(users_dir)
        table.merge(games_flagged, ["tm_ingested"])          # commit: enrich flags

    return PipelineReport(
        ingested=ingested,
        valid=valid_rows.get["rows"],
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
