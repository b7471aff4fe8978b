"""Streaming PGN ingestion: file-spool source → micro-batch upsert-merge.

Mirrors the reference's poll-loop micro-batching (SURVEY.md §2.5:
``get_games_from_tv.py:122-147`` — fetch, upsert, sleep, repeat) with
Structured Streaming semantics:

- source: ``readStream.format("text")`` over a spool directory an HTTP
  tailer drops PGN files into (the network fetch itself stays outside the
  engine, as in the reference where Airflow owns scheduling);
- rate limiting: ``maxFilesPerTrigger`` ≈ MAX_GAMES batching
  (``get_games_from_tv.py:60-61``), trigger interval ≈ SLEEP_INTERVAL
  (``:59``);
- sink: ``foreachBatch`` running the *same batch transforms*
  (sessionize → assemble → project → merge) — one code path for batch
  and streaming;
- exactly-once-ish: idempotent last-writer-wins merge absorbs replayed
  batches exactly like the reference's upsert absorbs re-seen games
  (``docs/assumptions.md:28-37`` behavior).

At cluster scale the merge target would be a transactional table format
(Delta/Iceberg ``MERGE INTO``); on plain parquet we stage-and-swap the
table directory per micro-batch, which is single-writer safe — the
documented deviation, same end state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from knightshift_spark.pipelines.ingest import ingest_games
from knightshift_spark.pipelines.run_all import _swap
from knightshift_spark.operators.merge import upsert
from knightshift_spark.sources.pgn import assemble_games, lines_from_blobs, sessionize


def stream_pgn_lines(
    spark: SparkSession, spool_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming whole-file source over a PGN spool directory.

    ``wholetext`` keeps each spool file atomic — one record per file —
    so line order inside a file is derived from the file bytes (see
    ``sources.pgn.lines_from_blobs``), never from task ordering. Spool
    files are bounded by the writer (one poll's worth of games), so the
    per-file record is small by contract.
    """
    reader = spark.readStream.format("text").option("wholetext", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(spool_dir).select(
        F.input_file_name().alias("src"), F.col("value").alias("blob")
    )


def _merge_batch_into_parquet(
    spark: SparkSession, updates: DataFrame, target_dir: str
) -> None:
    """Stage-and-swap merge of a micro-batch into a parquet table dir."""
    if os.path.isdir(target_dir) and any(
        f.endswith(".parquet") for f in os.listdir(target_dir)
    ):
        current = spark.read.parquet(target_dir)
        merged = upsert(current, updates, ["id_game"], ["tm_ingested"])
    else:
        merged = updates
    merged.write.mode("overwrite").parquet(f"{target_dir}.next")
    _swap(target_dir)


def _txn_table_writer(txn_table_dir: str, txn_buckets: int):
    """Micro-batch writer into a ``TxnTable``: the first batch opens the
    table, or creates it from the ingested schema; later batches reuse
    that handle and its exactly-once writer, so the handle's checkpoint
    cache serves the per-batch ``streaming_watermark`` read."""
    from knightshift_spark.sources.txntable import TxnTable, txn_upsert_writer

    writer = None

    def write(rows: DataFrame, batch_id: int) -> None:
        nonlocal writer
        if writer is None:
            spark = rows.sparkSession
            try:
                table = TxnTable(spark, txn_table_dir)
            except FileNotFoundError:
                # a concurrent creator winning the race is fine — commit
                # 0 is exclusive-create, so reopen on FileExistsError
                try:
                    table = TxnTable.create(
                        spark, txn_table_dir, keys=["id_game"],
                        schema=rows.schema, n_buckets=txn_buckets,
                    )
                except FileExistsError:
                    table = TxnTable(spark, txn_table_dir)
            writer = txn_upsert_writer(table, ["tm_ingested"], app_id="pgn-ingest")
        writer(rows, batch_id)

    return write


def ingest_pgn_batch(batch_blobs: DataFrame) -> DataFrame:
    """Batch transform shared by streaming and batch paths:
    ``(src, blob)`` whole files → cleaned rows.

    Line numbers come from the file content (``lines_from_blobs``), so
    ordering is split-proof; the move-line boundary rule then yields
    ``game_seq`` (reference ``get_games_from_tv.py:196-199``).
    """
    lines = lines_from_blobs(batch_blobs)
    games = assemble_games(sessionize(lines))
    return ingest_games(games)


def run_pgn_stream(
    spark: SparkSession,
    spool_dir: str,
    target_dir: str | None,
    checkpoint_dir: str,
    trigger: dict | None = None,
    max_files_per_trigger: int | None = 1,
    jdbc_url: str | None = None,
    jdbc_table: str = "tv_channel_games",
    jdbc_options: dict[str, str] | None = None,
    on_batch=None,
    txn_table_dir: str | None = None,
    txn_buckets: int = 16,
) -> StreamingQuery:
    """Start the streaming ingestion query.

    ``trigger``: e.g. ``{"processingTime": "5 seconds"}`` (reference
    SLEEP_INTERVAL) or ``{"availableNow": True}`` for drain-and-stop
    (tests, backfills).

    Sink selection: with ``jdbc_url`` the micro-batch merges into the
    database through ``sources.jdbc.upsert_writer`` (staged batch + one
    set-based MERGE — the streaming twin of the reference's per-row
    upsert loop, ``get_games_from_tv.py:122-147`` + ``game_upsert.py:
    84-110``); with ``txn_table_dir`` it MERGEs into a commit-log
    ``TxnTable`` (bucket-pruned rewrite + the exactly-once app-id
    protocol: a replayed micro-batch is skipped by the table's own
    high-water mark, not re-merged); otherwise it stage-and-swaps the
    parquet ``target_dir``.

    ``on_batch(batch_id, n_rows)`` is the observability hook — the
    per-poll processed-count the reference logs each cycle
    (``get_games_from_tv.py`` logging). When set, the micro-batch rows
    are checkpointed once so the count does not recompute the parse; the
    callback runs on the driver after the batch's merge commits. For
    engine-side metrics with NO extra jobs, the spool-file count (the
    source is one record per wholetext file) rides the batch as an
    observed metric (``ingest_files`` in each progress event — collect
    with ``streaming.metrics.MergeMetricsListener``).
    """
    from knightshift_spark.streaming.metrics import observe_rows

    lines = observe_rows(
        stream_pgn_lines(spark, spool_dir, max_files_per_trigger), "ingest_files"
    )

    if jdbc_url is not None:
        from knightshift_spark.sources.jdbc import upsert_writer

        write = upsert_writer(jdbc_table, ["id_game"], jdbc_url, **(jdbc_options or {}))
    elif txn_table_dir is not None:
        write = _txn_table_writer(txn_table_dir, txn_buckets)
    else:

        def write(rows: DataFrame, batch_id: int) -> None:
            _merge_batch_into_parquet(rows.sparkSession, rows, target_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        rows = ingest_pgn_batch(batch_df)
        if on_batch is not None:
            rows = rows.localCheckpoint()
        write(rows, batch_id)
        if on_batch is not None:
            on_batch(batch_id, rows.count())

    writer = lines.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming source over events parquet files.

    ``ts`` arrives either as TIMESTAMP(MICROS) (a native timestamp — the
    driver's testdata layout) or as TIMESTAMP(NANOS), which the session-wide
    ``nanosAsLong`` pin (session.RUNTIME_CONFS) surfaces as bigint.
    Structured Streaming needs the schema up front, so probe the directory
    with a batch read — footer-only, no data scan — and convert exactly the
    way the batch loader does (``tables.load_table``), keeping the streaming
    and batch views of the same files byte-identical. An empty (or absent)
    directory falls back to the canonical events schema so the stream can
    be DEFINED before the first file arrives — the spool-dir contract.
    """
    from pyspark.sql.utils import AnalysisException

    try:
        probe_schema = spark.read.parquet(events_dir).schema
    except AnalysisException:
        from knightshift_spark.schemas import EVENTS

        probe_schema = EVENTS
    raw = spark.readStream.schema(probe_schema).format("parquet").load(events_dir)
    ts_type = {f.name: f.dataType.simpleString() for f in probe_schema.fields}.get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / F.lit(1000)).cast("long"))
        )
    elif ts_type == "timestamp_ntz":
        # watermarks require TIMESTAMP (LTZ); session tz is pinned UTC
        # (session.RUNTIME_CONFS) so this cast is instant-preserving.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def hourly_event_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Event-time tumbling-window rollup with late-data watermark — the
    streaming twin of q22 (same grouping semantics on the closed stream).

    Works on both batch and streaming inputs: watermarking is a no-op in
    batch mode, so one function serves both (tested for equality)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("h"), "event_type", "n")
    )
