"""Streaming tests: spool ingestion with cross-batch upsert, watermarked
rollup equivalence with the batch query, stateful dedup."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from knightshift_spark.streaming.pgn_stream import (
    hourly_event_counts,
    run_pgn_stream,
    stream_events,
)

GAME_V1 = """\
[Event "V1"]
[Site "https://lichess.org/streamG1"]
[White "u1"]
[Black "u2"]
[Result "1-0"]
1. e4 e5 1-0
[Event "Only In Batch One"]
[Site "https://lichess.org/streamG2"]
[White "u3"]
[Black "u4"]
[Result "0-1"]
1. d4 d5 0-1
"""

GAME_V2 = """\
[Event "V2 updated"]
[Site "https://lichess.org/streamG1"]
[White "u1"]
[Black "u2"]
[Result "1/2-1/2"]
1. e4 e5 2. Nf3 1/2-1/2
"""


def test_pgn_stream_merges_across_batches(spark, tmp_path):
    spool = tmp_path / "spool"
    spool.mkdir()
    target = str(tmp_path / "games")
    ckpt = str(tmp_path / "ckpt")
    # two files, maxFilesPerTrigger=1 → two micro-batches in one drain.
    # The file source orders batches by modification time; a real spool
    # has monotone mtimes (files arrive over time) — pin them here.
    f1, f2 = spool / "a_batch1.pgn", spool / "b_batch2.pgn"
    f1.write_text(GAME_V1)
    f2.write_text(GAME_V2)
    now = os.stat(f1).st_mtime
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now + 60, now + 60))

    q = run_pgn_stream(
        spark, str(spool), target, ckpt,
        trigger={"availableNow": True}, max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    out = {r["id_game"]: r for r in spark.read.parquet(target).collect()}
    assert sorted(out) == ["streamG1", "streamG2"]
    # the later batch's version of streamG1 won the merge
    assert out["streamG1"]["val_event_name"] == "V2 updated"
    assert out["streamG1"]["val_result"] == "1/2-1/2"
    assert out["streamG2"]["val_result"] == "0-1"


def test_pgn_stream_txn_table_sink_exactly_once(spark, tmp_path):
    """The TxnTable sink: same merged end state as the parquet sink,
    with commit-log history (one merge commit per micro-batch) and the
    exactly-once app-id watermark set; a fresh query re-draining the
    same spool from a NEW checkpoint replays batch ids the table has
    seen — the sink skips them, the version doesn't move."""
    from knightshift_spark.sources.txntable import TxnTable

    spool = tmp_path / "spool"
    spool.mkdir()
    tbl = str(tmp_path / "games_txn")
    f1, f2 = spool / "a_batch1.pgn", spool / "b_batch2.pgn"
    f1.write_text(GAME_V1)
    f2.write_text(GAME_V2)
    now = os.stat(f1).st_mtime
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now + 60, now + 60))

    q = run_pgn_stream(
        spark, str(spool), None, str(tmp_path / "ckpt"),
        trigger={"availableNow": True}, max_files_per_trigger=1,
        txn_table_dir=tbl, txn_buckets=4,
    )
    q.awaitTermination(120)

    table = TxnTable(spark, tbl)
    out = {r["id_game"]: r for r in table.snapshot().collect()}
    assert sorted(out) == ["streamG1", "streamG2"]
    assert out["streamG1"]["val_event_name"] == "V2 updated"  # batch 2 won
    ops = [h["op"] for h in table.history()]
    assert ops == ["create", "merge", "merge"]  # one commit per batch
    assert table.streaming_watermark("pgn-ingest") == 1
    v = table.version()

    # restart with a FRESH checkpoint: the source replays both files as
    # batches 0 and 1 again; the table's own watermark must skip them
    q = run_pgn_stream(
        spark, str(spool), None, str(tmp_path / "ckpt2"),
        trigger={"availableNow": True}, max_files_per_trigger=1,
        txn_table_dir=tbl, txn_buckets=4,
    )
    q.awaitTermination(120)
    assert table.version() == v  # no new commits — skipped, not re-merged


def test_streaming_rollup_matches_batch(spark, tmp_path):
    from tests.conftest import SF_SMOKE
    from knightshift_spark.tables import load_table

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", events_dir / "events.parquet")

    stream = stream_events(spark, str(events_dir))
    assert stream.isStreaming
    q = (
        hourly_event_counts(stream)
        .writeStream.format("memory")
        .queryName("hourly_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["h"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM hourly_counts").collect()
    }
    want = {
        (r["h"], r["event_type"]): r["n"]
        for r in hourly_event_counts(load_table(spark, SF_SMOKE, "events")).collect()
    }
    assert got == want and len(want) > 100


def test_stateful_dedup(spark, tmp_path):
    from knightshift_spark.streaming.stateful import streaming_dedup_by_key

    src = tmp_path / "dupsrc"
    src.mkdir()
    spark.createDataFrame([("k1", "first"), ("k2", "first")], "id_game string, v string") \
        .coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    spark.createDataFrame([("k1", "dup"), ("k3", "first")], "id_game string, v string") \
        .coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema("id_game string, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        streaming_dedup_by_key(stream, "id_game")
        .writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["id_game"]: r["v"] for r in spark.sql("SELECT * FROM deduped").collect()}
    assert sorted(rows) == ["k1", "k2", "k3"]
    assert rows["k1"] == "first"  # duplicate in a later batch dropped


def test_checkpoint_restart_no_reprocessing(spark, tmp_path):
    """Restarting with the same checkpoint must not re-ingest consumed
    files, and new files must still merge (exactly-once effect via
    checkpoint + idempotent merge)."""
    spool = tmp_path / "spool2"
    spool.mkdir()
    target, ckpt = str(tmp_path / "t2"), str(tmp_path / "c2")
    (spool / "f1.pgn").write_text(GAME_V1)

    q = run_pgn_stream(spark, str(spool), target, ckpt, trigger={"availableNow": True})
    q.awaitTermination(120)
    first = spark.read.parquet(target).collect()
    assert sorted(r["id_game"] for r in first) == ["streamG1", "streamG2"]
    ts1 = {r["id_game"]: r["tm_ingested"] for r in first}

    # restart: same checkpoint, one new file
    (spool / "f2.pgn").write_text(GAME_V2)
    q2 = run_pgn_stream(spark, str(spool), target, ckpt, trigger={"availableNow": True})
    q2.awaitTermination(120)
    rows = {r["id_game"]: r for r in spark.read.parquet(target).collect()}
    assert rows["streamG1"]["val_event_name"] == "V2 updated"  # new file applied
    # f1 was NOT reprocessed: streamG2's ingest timestamp is unchanged
    assert rows["streamG2"]["tm_ingested"] == ts1["streamG2"]


def test_processing_time_trigger_live(spark, tmp_path):
    """The reference's 5s poll cadence as a live processingTime trigger;
    processAllAvailable() makes the assertions deterministic."""
    spool = tmp_path / "spool3"
    spool.mkdir()
    target, ckpt = str(tmp_path / "t3"), str(tmp_path / "c3")
    (spool / "f1.pgn").write_text(GAME_V1)
    q = run_pgn_stream(
        spark, str(spool), target, ckpt,
        trigger={"processingTime": "1 second"}, max_files_per_trigger=None,
    )
    try:
        q.processAllAvailable()
        assert spark.read.parquet(target).count() == 2
        (spool / "f2.pgn").write_text(GAME_V2)
        q.processAllAvailable()
        rows = {r["id_game"]: r for r in spark.read.parquet(target).collect()}
        assert rows["streamG1"]["val_event_name"] == "V2 updated"
    finally:
        q.stop()


def test_dedup_within_watermark(spark, tmp_path):
    from knightshift_spark.streaming.stateful import dedup_within_watermark

    src = tmp_path / "wmsrc"
    src.mkdir()
    spark.createDataFrame(
        [("k1", "2025-05-01 10:00:00", "a"), ("k1", "2025-05-01 10:10:00", "dup"),
         ("k2", "2025-05-01 10:05:00", "b")],
        "k string, ts_s string, v string",
    ).selectExpr("k", "CAST(ts_s AS TIMESTAMP) ts", "v").coalesce(1) \
        .write.mode("overwrite").parquet(str(src / "f1"))

    stream = spark.readStream.schema("k string, ts timestamp, v string").parquet(
        str(src / "*")
    )
    out = dedup_within_watermark(stream, ["k"], "ts", "1 hour")
    q = (
        out.writeStream.format("memory").queryName("wmdedup")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = {r["k"]: r["v"] for r in spark.sql("SELECT * FROM wmdedup").collect()}
    assert sorted(rows) == ["k1", "k2"]


def test_pgn_stream_jdbc_sink_merges(spark, tmp_path):
    """End-to-end streaming ingestion into a real database: spool files →
    micro-batches → staged JDBC batch + one set-based MERGE per batch
    (embedded Derby). The streaming twin of the reference's poll-loop
    upsert (get_games_from_tv.py:122-147 feeding game_upsert.py:84-110)."""
    from knightshift_spark.schemas import TV_CHANNEL_GAMES
    from knightshift_spark.sources.jdbc import execute_jdbc, read_jdbc_table

    url = f"jdbc:derby:{tmp_path / 'streamdb'};create=true"
    derby = {"string": "VARCHAR(4000)", "date": "DATE", "int": "INT",
             "timestamp": "TIMESTAMP", "boolean": "BOOLEAN"}
    ddl_cols = ", ".join(
        "id_game VARCHAR(100) PRIMARY KEY" if f.name == "id_game"
        else f"{f.name} {derby[f.dataType.simpleString()]}"
        for f in TV_CHANNEL_GAMES.fields
    )
    execute_jdbc(spark, url, f"CREATE TABLE tv_channel_games ({ddl_cols})")

    spool = tmp_path / "spool"
    spool.mkdir()
    f1, f2 = spool / "a_batch1.pgn", spool / "b_batch2.pgn"
    f1.write_text(GAME_V1)
    f2.write_text(GAME_V2)
    now = os.stat(f1).st_mtime
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now + 60, now + 60))

    q = run_pgn_stream(
        spark, str(spool), None, str(tmp_path / "ckpt_jdbc"),
        trigger={"availableNow": True}, max_files_per_trigger=1,
        jdbc_url=url,
    )
    q.awaitTermination(120)

    out = {
        r["ID_GAME"]: r
        for r in read_jdbc_table(spark, url, "tv_channel_games").load().collect()
    }
    assert sorted(out) == ["streamG1", "streamG2"]
    # the later micro-batch's version of streamG1 won the merge
    assert out["streamG1"]["VAL_EVENT_NAME"] == "V2 updated"
    assert out["streamG1"]["VAL_RESULT"] == "1/2-1/2"
    assert out["streamG2"]["VAL_RESULT"] == "0-1"


def test_on_batch_observability_hook(spark, tmp_path):
    """run_pgn_stream reports per-micro-batch merged-row counts through
    on_batch — the reference's per-poll processed-count logging."""
    spool = tmp_path / "spool_obs"
    spool.mkdir()
    f1, f2 = spool / "a.pgn", spool / "b.pgn"
    f1.write_text(GAME_V1)   # two games
    f2.write_text(GAME_V2)   # one game
    now = os.stat(f1).st_mtime
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now + 60, now + 60))

    seen: list[tuple[int, int]] = []
    q = run_pgn_stream(
        spark, str(spool), str(tmp_path / "t_obs"), str(tmp_path / "c_obs"),
        trigger={"availableNow": True}, max_files_per_trigger=1,
        on_batch=lambda bid, n: seen.append((bid, n)),
    )
    q.awaitTermination(120)
    assert [n for _, n in sorted(seen)] == [2, 1]


def test_streaming_metrics_listener(spark, tmp_path):
    """Engine-side observability: the observed ingest_raw metric and
    per-batch progress arrive through MergeMetricsListener, and the sink
    hook's merged counts land in the same StreamMetrics record."""
    from knightshift_spark.streaming.metrics import MergeMetricsListener, StreamMetrics

    spool = tmp_path / "spool"
    spool.mkdir()
    f1, f2 = spool / "a.pgn", spool / "b.pgn"
    f1.write_text(GAME_V1)
    f2.write_text(GAME_V2)
    now = os.stat(f1).st_mtime
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now + 60, now + 60))

    metrics = StreamMetrics()
    listener = MergeMetricsListener(metrics)
    spark.streams.addListener(listener)
    try:
        q = run_pgn_stream(
            spark, str(spool), str(tmp_path / "games"), str(tmp_path / "ckpt"),
            trigger={"availableNow": True}, max_files_per_trigger=1,
            on_batch=metrics.on_batch(),
        )
        q.awaitTermination(120)
        assert metrics.wait_for_batches(2, timeout_s=30.0)
    finally:
        spark.streams.removeListener(listener)

    recs = [r for r in metrics.batches() if r.duration_ms is not None]
    assert len(recs) == 2
    # observed metric counted the spool files JVM-side (wholetext source:
    # one record per file), one per micro-batch here
    assert [r.observed["ingest_files"]["n_rows"] for r in recs] == [1, 1]
    assert [r.num_input_rows for r in recs] == [1, 1]
    # the sink hook's merged-game counts joined the same records
    assert [r.sink_rows for r in recs] == [2, 1]
    t = metrics.totals()
    assert t["n_batches"] == 2 and t["sink_rows"] == 3 and t["wall_ms"] > 0


def test_persistent_metrics_log_survives_restart(spark, tmp_path):
    """Durable observability: per-batch metrics land in a parquet log
    through the SAME listener, accumulate across two separate stream
    runs (a restart), and a replayed (query_id, batch_id) attempt
    dedupes last-wins at read time."""
    from knightshift_spark.streaming.metrics import (
        MergeMetricsListener,
        PersistentMetricsLog,
        load_metrics_log,
        metrics_log_totals,
    )

    spool = tmp_path / "spool"
    spool.mkdir()
    f1, f2 = spool / "a.pgn", spool / "b.pgn"
    f1.write_text(GAME_V1)
    now = os.stat(f1).st_mtime
    os.utime(f1, (now - 60, now - 60))

    log_path = str(tmp_path / "metrics_log")
    log = PersistentMetricsLog(spark, log_path)
    listener = MergeMetricsListener(log)
    spark.streams.addListener(listener)
    try:
        # run 1: one file, one batch
        q = run_pgn_stream(
            spark, str(spool), str(tmp_path / "games"), str(tmp_path / "ckpt"),
            trigger={"availableNow": True}, max_files_per_trigger=1,
        )
        q.awaitTermination(120)
        # run 2 ("after restart", same checkpoint): a new file arrives
        f2.write_text(GAME_V2)
        os.utime(f2, (now + 60, now + 60))
        q = run_pgn_stream(
            spark, str(spool), str(tmp_path / "games"), str(tmp_path / "ckpt"),
            trigger={"availableNow": True}, max_files_per_trigger=1,
        )
        q.awaitTermination(120)
        # listener delivery is async — poll the log until both batches land
        import time as _t

        deadline = _t.monotonic() + 30
        while _t.monotonic() < deadline:
            try:
                if load_metrics_log(spark, log_path).count() >= 2:
                    break
            except Exception:
                pass  # log dir not created yet
            _t.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)

    deduped = load_metrics_log(spark, log_path)
    rows = deduped.collect()
    assert len(rows) >= 2  # history spans both runs — in-memory can't
    t = metrics_log_totals(spark, log_path)
    assert t["n_batches"] == len(rows) and t["input_rows"] >= 2
    # replay dedup: re-append a stale attempt for an existing batch id
    stale = deduped.limit(1).withColumn("ts", F.lit("1970-01-01T00:00:00Z"))
    stale.write.mode("append").parquet(log_path)
    assert load_metrics_log(spark, log_path).count() == len(rows)  # last-wins


def test_metrics_log_buffering_and_compaction(spark, tmp_path):
    """ADVICE r7: ``flush_every`` buffers progress events (fewer tiny
    files), ``flush()`` drains the tail, and ``compact_metrics_log``
    rewrites the whole log as one deduped file without changing what
    ``load_metrics_log`` returns."""
    import glob
    from types import SimpleNamespace

    from knightshift_spark.streaming.metrics import (
        PersistentMetricsLog,
        compact_metrics_log,
        load_metrics_log,
    )

    def progress(batch_id, ts, rows):
        return SimpleNamespace(
            id="q-1",
            batchId=batch_id,
            timestamp=ts,
            numInputRows=rows,
            durationMs={"triggerExecution": 10},
            processedRowsPerSecond=float(rows),
            observedMetrics={},
        )

    log_path = str(tmp_path / "mlog")
    log = PersistentMetricsLog(spark, log_path, flush_every=3)
    log.record_progress(progress(0, "2026-01-01T00:00:00Z", 5))
    log.record_progress(progress(1, "2026-01-01T00:01:00Z", 7))
    assert not os.path.isdir(log_path)  # buffered, nothing written yet
    log.record_progress(progress(2, "2026-01-01T00:02:00Z", 9))  # flush 3
    # a replayed attempt of batch 1 (restart) plus a tail row
    log.record_progress(progress(1, "2026-01-01T00:03:00Z", 8))
    log.flush()  # drain the 1-row tail explicitly
    files_before = glob.glob(f"{log_path}/*.parquet")
    assert len(files_before) >= 2  # two flushes -> at least two files

    deduped_before = {
        (r.batch_id, r.input_rows)
        for r in load_metrics_log(spark, log_path).collect()
    }
    assert deduped_before == {(0, 5), (1, 8), (2, 9)}  # last attempt wins

    n = compact_metrics_log(spark, log_path)
    assert n == 3
    files_after = glob.glob(f"{log_path}/*.parquet")
    assert len(files_after) == 1  # one file, losers physically gone
    deduped_after = {
        (r.batch_id, r.input_rows)
        for r in load_metrics_log(spark, log_path).collect()
    }
    assert deduped_after == deduped_before


def test_document_stream_incremental_dedup(spark, tmp_path):
    """Incremental corpus ingestion: quality/lang/repetition screens per
    batch, exact dedup ACROSS micro-batches via the state store, append
    sink. Batch 2 re-sends batch 1's doc (different doc_id, same text) —
    it must not survive."""
    import json

    from knightshift_spark.streaming.corpus_stream import run_document_stream

    good = (
        "the quick brown fox jumps over the lazy dog and it is a good day "
        "for the hounds to be out in the field"
    )
    other = (
        "a completely different document about the weather and the sea "
        "with the right amount of words in it"
    )
    spam = ("buy cheap pills now " * 10).strip()
    spool = tmp_path / "docs"
    spool.mkdir()
    f1, f2 = spool / "a.jsonl", spool / "b.jsonl"
    f1.write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 1, "text": good, "source": "web"},
                {"doc_id": 2, "text": "short", "source": "web"},       # quality gate
                {"doc_id": 3, "text": spam, "source": "web"},          # repetition cap
            ]
        )
    )
    f2.write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 10, "text": "  " + good + "  ", "source": "crawl"},  # dup of 1 (normalized)
                {"doc_id": 11, "text": other, "source": "crawl"},
            ]
        )
    )
    now = os.stat(f1).st_mtime
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now + 60, now + 60))

    q = run_document_stream(
        spark, str(spool), str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
        trigger={"availableNow": True}, max_files_per_trigger=1,
        min_tokens=5, langs=("en",), max_bigram_repetition=0.5,
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "corpus"))
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 11]
    assert set(out.columns) == {"doc_id", "text", "source", "n_tokens", "lang_pred"}
    # restart with a replayed spool: no new rows (checkpoint + state store)
    q2 = run_document_stream(
        spark, str(spool), str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
        min_tokens=5, langs=("en",), max_bigram_repetition=0.5,
    )
    q2.awaitTermination(120)
    assert sorted(r["doc_id"] for r in spark.read.parquet(str(tmp_path / "corpus")).collect()) == [1, 11]


def test_corpus_stream_state_growth_tracks_distinct_fingerprints(spark, tmp_path):
    """VERDICT r5 #6: the state-store growth claim, exercised. Three
    micro-batches with overlapping duplicate texts — after each batch the
    dedup operator's state row count must equal the number of DISTINCT
    fingerprints ingested so far (duplicates add nothing), which is the
    'state = one row per distinct fingerprint' contract the 100 TB sizing
    rests on."""
    import json as _json

    from knightshift_spark.streaming.corpus_stream import run_document_stream

    def doc(i, text):
        return _json.dumps({"doc_id": i, "text": text, "source": "web"})

    texts = [
        f"document number {i} with enough words to pass the token gate ok"
        for i in range(5)
    ]
    spool = tmp_path / "docs"
    spool.mkdir()
    batches = [
        [doc(1, texts[0]), doc(2, texts[1]), doc(3, texts[2])],   # 3 new
        [doc(10, texts[0]), doc(11, texts[3]), doc(12, texts[4])], # 2 new, 1 dup
        [doc(20, texts[1]), doc(21, texts[2])],                    # all dups
    ]
    files = []
    for i, lines in enumerate(batches):
        f = spool / f"b{i}.jsonl"
        f.write_text("\n".join(lines))
        files.append(f)
    now = os.stat(files[0]).st_mtime
    for i, f in enumerate(files):
        os.utime(f, (now + 60 * i, now + 60 * i))

    q = run_document_stream(
        spark, str(spool), str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
        trigger={"availableNow": True}, max_files_per_trigger=1,
        min_tokens=1, langs=("en", "und"),
    )
    q.awaitTermination(120)
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in progress]
    assert state_rows == [3, 5, 5]  # cumulative DISTINCT texts, not rows
    out = spark.read.parquet(str(tmp_path / "corpus"))
    assert out.count() == 5
    # survivors are the first-seen ids
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 3, 11, 12]


def test_watermark_dedup_evicts_state_and_readmits_old_keys(spark, tmp_path):
    """The bounded-state half of the corpus-stream story: with
    dropDuplicatesWithinWatermark, keys older than the watermark leave
    the state store (numRowsTotal shrinks) and a RE-arrival of an evicted
    key is admitted again — the documented completeness-for-boundedness
    trade of dedup_within_watermark."""
    from knightshift_spark.streaming.stateful import dedup_within_watermark

    src = tmp_path / "wmsrc"
    src.mkdir()

    def write_batch(name, rows):
        spark.createDataFrame(rows, "k string, ts_s string, v string").selectExpr(
            "k", "CAST(ts_s AS TIMESTAMP) ts", "v"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    # day 1: five keys; day 2 (far past the 1h delay): a new key, which
    # advances the watermark at its batch END; one more batch so the
    # eviction actually runs; THEN evicted k1 re-arrives (watermark and
    # eviction both lag one batch behind the data that advances them)
    write_batch("f1", [(f"k{i}", "2025-05-01 10:00:00", "d1") for i in range(5)])
    write_batch("f2", [("k9", "2025-05-02 10:00:00", "d2")])
    write_batch("f3", [("k8", "2025-05-02 10:01:00", "d2")])
    write_batch("f4", [("k1", "2025-05-02 10:02:00", "d2-again")])
    paths = sorted(src.iterdir())
    now = os.stat(paths[0]).st_mtime
    for i, p in enumerate(paths):
        os.utime(p, (now + 60 * i, now + 60 * i))

    stream = spark.readStream.schema("k string, ts timestamp, v string").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src / "*"))
    out = dedup_within_watermark(stream, ["k"], "ts", "1 hour")
    q = (
        out.writeStream.format("memory").queryName("wmevict")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in progress]
    # day-1 keys present after batch 1; gone after the day-2 watermark
    # passes them (bounded state), never 6 rows at once
    assert state_rows[0] == 5
    assert state_rows[-1] < 5
    rows = spark.sql("SELECT k, v FROM wmevict").collect()
    ks = sorted((r["k"], r["v"]) for r in rows)
    # k1 was emitted for day 1 AND re-admitted on day 2 after eviction
    assert ("k1", "d1") in ks and ("k1", "d2-again") in ks


def test_document_stream_with_neardup_index(spark, tmp_path):
    """Round-6 lambda collapse: the streaming job drops NEAR-duplicates
    (not just exact) against the persisted LSH index — a batch-2
    paraphrase of a batch-1 doc never reaches the corpus, survivors
    join the index and block batch-3 copies too."""
    import json as _json

    from knightshift_spark.operators.dedup import write_lsh_index
    from knightshift_spark.streaming.corpus_stream import (
        run_document_stream_with_neardup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the keeper "
        "watches from the old wooden bridge near the river"
    )
    paraphrase = (
        "the quick brown fox jumps over the lazy dog while the keeper "
        "watches from the old wooden bridge near the water"
    )  # one word changed: high bigram Jaccard, different fingerprint
    other = (
        "a completely different report about storage engines and the "
        "way compaction schedules interact with read amplification"
    )
    # appended word: bigram Jaccard 0.94 — verified to share an LSH band
    # (a mid-sentence word swap at J=0.76 deterministically misses the
    # 16/4 banding; banded recall is probabilistic by design)
    other_tweaked = other + " today"

    spool = tmp_path / "docs"
    spool.mkdir()
    batches = [
        [{"doc_id": 1, "text": base, "source": "web"}],
        [{"doc_id": 10, "text": paraphrase, "source": "crawl"},   # near-dup of 1
         {"doc_id": 11, "text": other, "source": "crawl"}],
        [{"doc_id": 20, "text": other_tweaked, "source": "web"}],  # near-dup of 11
    ]
    files = []
    for i, rows in enumerate(batches):
        f = spool / f"b{i}.jsonl"
        f.write_text("\n".join(_json.dumps(r) for r in rows))
        files.append(f)
    now = os.stat(files[0]).st_mtime
    for i, f in enumerate(files):
        os.utime(f, (now + 60 * i, now + 60 * i))

    target = tmp_path / "corpus"
    index = str(tmp_path / "lsh_index")
    # index starts over the empty corpus (schema-only write)
    empty = spark.createDataFrame([], "doc_id long, text string")
    write_lsh_index(empty, index, num_hashes=16, bands=4)

    q = run_document_stream_with_neardup(
        spark, str(spool), str(target), str(tmp_path / "ckpt"), index,
        neardup_threshold=0.6, trigger={"availableNow": True},
        max_files_per_trigger=1, min_tokens=1, langs=("en", "und"),
    )
    q.awaitTermination(180)
    out = sorted(r["doc_id"] for r in spark.read.parquet(str(target)).collect())
    assert out == [1, 11]  # paraphrases 10 and 20 never landed
    # and the survivors are in the index (block future copies)
    idx_ids = {
        r["doc_id"] for r in spark.read.parquet(index).select("doc_id").collect()
    }
    assert idx_ids == {1, 11}


def test_document_stream_neardup_batch_id_below_corpus_id(spark, tmp_path):
    """Regression (ADVICE r6): a new-batch doc whose id is LOWER than the
    matched corpus doc's id must still be dropped. Cross pairs from
    query_lsh_index are oriented (corpus, batch) but the exact-Jaccard
    rescore emits (lo, hi); before orientation normalization the confirm
    semi-join silently admitted such duplicates. The loser is chosen by
    batch MEMBERSHIP (corpus copy wins), never by id order."""
    import json as _json

    from knightshift_spark.operators.dedup import write_lsh_index
    from knightshift_spark.streaming.corpus_stream import (
        run_document_stream_with_neardup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the keeper "
        "watches from the old wooden bridge near the river"
    )
    paraphrase = base.replace("river", "water")  # near-dup, new fingerprint

    spool = tmp_path / "docs"
    spool.mkdir()
    batches = [
        [{"doc_id": 100, "text": base, "source": "web"}],
        # batch-2 id 5 < corpus id 100: the pre-fix semi-join missed this
        [{"doc_id": 5, "text": paraphrase, "source": "backfill"}],
    ]
    files = []
    for i, rows in enumerate(batches):
        f = spool / f"b{i}.jsonl"
        f.write_text("\n".join(_json.dumps(r) for r in rows))
        files.append(f)
    now = os.stat(files[0]).st_mtime
    for i, f in enumerate(files):
        os.utime(f, (now + 60 * i, now + 60 * i))

    target = tmp_path / "corpus"
    index = str(tmp_path / "lsh_index")
    empty = spark.createDataFrame([], "doc_id long, text string")
    write_lsh_index(empty, index, num_hashes=16, bands=4)

    q = run_document_stream_with_neardup(
        spark, str(spool), str(target), str(tmp_path / "ckpt"), index,
        neardup_threshold=0.6, trigger={"availableNow": True},
        max_files_per_trigger=1, min_tokens=1, langs=("en", "und"),
    )
    q.awaitTermination(180)
    out = sorted(r["doc_id"] for r in spark.read.parquet(str(target)).collect())
    assert out == [100]  # the low-id backfill duplicate never landed
    idx_ids = {
        r["doc_id"] for r in spark.read.parquet(index).select("doc_id").collect()
    }
    assert idx_ids == {100}


def test_document_stream_with_substring_strip(spark, tmp_path):
    """Round-7 streaming ExactSubstr: a batch-2 document embedding a
    region first seen in batch 1 lands with that region CUT (stripped
    against the persisted anchor index), and the stream's cumulative
    output equals the one-shot strip of the concatenated batches — the
    incremental ≡ one-shot property, now at the stream boundary."""
    import json as _json

    from knightshift_spark.operators.substring import (
        strip_duplicated_spans,
        write_anchor_index,
    )
    from knightshift_spark.streaming.corpus_stream import (
        run_document_stream_with_substring_strip,
    )

    boiler = "SHARED LICENSE HEADER do not remove this exact boilerplate text"
    rows = [
        (1, f"first unique document body with {boiler} inside the middle part"),
        (2, f"second document totally different start {boiler} and another tail"),
        (3, "third document with no shared region at all in any position"),
    ]
    spool = tmp_path / "docs"
    spool.mkdir()
    batches = [[rows[0]], [rows[1], rows[2]]]
    files = []
    for i, batch in enumerate(batches):
        f = spool / f"b{i}.jsonl"
        f.write_text(
            "\n".join(
                _json.dumps({"doc_id": d, "text": t, "source": "web"})
                for d, t in batch
            )
        )
        files.append(f)
    now = os.stat(files[0]).st_mtime
    for i, f in enumerate(files):
        os.utime(f, (now + 60 * i, now + 60 * i))

    target = tmp_path / "corpus"
    index = str(tmp_path / "anchor_index")
    empty = spark.createDataFrame([], "doc_id long, text string")
    write_anchor_index(empty, index, k=16, density=1)

    q = run_document_stream_with_substring_strip(
        spark, str(spool), str(target), str(tmp_path / "ckpt"), index,
        trigger={"availableNow": True}, max_files_per_trigger=1,
        min_tokens=1, langs=("en", "und"),
    )
    q.awaitTermination(180)
    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(str(target)).collect()
    }
    # one-shot reference over the full corpus in id order
    want = {
        r["doc_id"]: r["text"]
        for r in strip_duplicated_spans(
            spark.createDataFrame(rows, "doc_id long, text string"),
            k=16, density=1,
        ).collect()
    }
    assert got == want
    assert got[1] == rows[0][1]          # first occurrence keeps its text
    assert boiler not in got[2]          # batch-2 copy was cut
    assert got[3] == rows[2][1]          # untouched doc passes through


def test_sessionize_stream_gap_and_timeout_close(spark, tmp_path):
    """Custom stateful sessionizer: a gap witnessed inside a batch closes
    a session immediately; a session that merely goes quiet closes when
    the WATERMARK passes last+gap (event-time timeout); the still-active
    session stays open in state."""
    from knightshift_spark.streaming.stateful import sessionize_stream

    src = tmp_path / "sess"
    src.mkdir()

    def drop(name, rows):
        spark.createDataFrame(rows, "k string, ts_s string").selectExpr(
            "k", "CAST(ts_s AS TIMESTAMP) ts"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    drop(
        "f1",
        [
            ("A", "2025-05-01 10:00:00"),
            ("A", "2025-05-01 10:00:30"),
            ("A", "2025-05-01 10:05:00"),  # 4.5 min gap > 1 min → split in-batch
            ("B", "2025-05-01 10:04:00"),
            ("A", None),  # null event time (NaT) must be ignored, not
            # seed an int64-min session start
        ],
    )
    stream = spark.readStream.schema("k string, ts timestamp").parquet(
        str(src / "*")
    )
    out = sessionize_stream(stream, "k", "ts", gap="1 minute", watermark_delay="10 minutes")
    q = (
        out.writeStream.format("memory").queryName("sessions")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got1 = {
            (r["k"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
            for r in spark.sql("SELECT * FROM sessions").collect()
        }
        assert ("A", "2025-05-01 10:00:00", "2025-05-01 10:00:30", 2) in got1

        # batch 2: B returns after a >gap silence (closes B's first
        # session by data) and pushes the watermark to 10:50 — past A's
        # open-session timeout mark of 10:06 → A's tail closes by silence
        drop("f2", [("B", "2025-05-01 11:00:00")])
        q.processAllAvailable()
        # one more empty-ish batch lets pending event-time timeouts fire
        drop("f3", [("C", "2025-05-01 11:01:00")])
        q.processAllAvailable()
        got = {
            (r["k"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
            for r in spark.sql("SELECT * FROM sessions").collect()
        }
    finally:
        q.stop()
    assert ("A", "2025-05-01 10:05:00", "2025-05-01 10:05:00", 1) in got
    assert ("B", "2025-05-01 10:04:00", "2025-05-01 10:04:00", 1) in got
    # B's 11:00 run and C are still open — nothing emitted for them
    assert not any(r[0] == "C" for r in got)
    assert not any(r[0] == "B" and r[1].startswith("2025-05-01 11:") for r in got)


def _fake_progress(batch_id, ts, rows, qid="q-1"):
    from types import SimpleNamespace

    return SimpleNamespace(
        id=qid,
        batchId=batch_id,
        timestamp=ts,
        numInputRows=rows,
        durationMs={"triggerExecution": 10},
        processedRowsPerSecond=float(rows),
        observedMetrics={},
    )


def test_metrics_log_auto_compaction_bounds_files(spark, tmp_path):
    """VERDICT r8 #6: with compact_every set, a long-running stream's
    metrics log compacts itself every N flushes — file count stays
    bounded with no caller-scheduled maintenance, and the in-place
    compaction never loses rows or breaks readers mid-rewrite."""
    import glob

    from knightshift_spark.streaming.metrics import (
        PersistentMetricsLog,
        load_metrics_log,
    )

    log_path = str(tmp_path / "autolog")
    log = PersistentMetricsLog(spark, log_path, compact_every=3)
    for i in range(7):  # 7 flushes -> compactions after 3 and 6
        log.record_progress(_fake_progress(i, f"2026-01-01T00:0{i}:00Z", i + 1))
        if log.last_compaction is not None:
            log.last_compaction.join(60)
    if log.last_compaction is not None:
        log.last_compaction.join(60)
    files = glob.glob(f"{log_path}/*.parquet")
    # compacted at flush 6 -> 1 file, plus the single post-compaction
    # flush (7th); without auto-compaction there would be 7
    assert len(files) <= 3
    got = {
        (r.batch_id, r.input_rows)
        for r in load_metrics_log(spark, log_path).collect()
    }
    assert got == {(i, i + 1) for i in range(7)}  # nothing lost


def test_metrics_totals_view_incremental_across_restart(spark, tmp_path):
    """VERDICT r8 #7: totals_view maintains a matview of algebraic
    partials per (query, batch, metric). Across a restart (a second
    log instance), the view's totals equal the one-shot recompute over
    the whole log, and the second flush rewrites ONLY the buckets its
    keys hash to."""
    import os

    from pyspark.sql import functions as F

    from knightshift_spark.streaming.metrics import (
        PersistentMetricsLog,
        metrics_log_totals,
    )

    log_path = str(tmp_path / "tlog")
    view_path = str(tmp_path / "tview")

    log = PersistentMetricsLog(spark, log_path, totals_view=view_path)
    log.record_progress(_fake_progress(0, "2026-01-01T00:00:00Z", 5))
    log.record_progress(_fake_progress(1, "2026-01-01T00:01:00Z", 7))
    # "restart": a fresh instance over the same paths
    log2 = PersistentMetricsLog(spark, log_path, totals_view=view_path)

    before = {
        d: sorted(os.listdir(os.path.join(view_path, d)))
        for d in os.listdir(view_path)
        if d.startswith("__bucket=")
    }
    log2.record_progress(_fake_progress(2, "2026-01-01T00:02:00Z", 11))

    # multi-measure layout (late r13): the view keys on (query, batch)
    # alone — both measures live in one row's partial structs
    expected_touched = {
        r.b
        for r in spark.createDataFrame(
            [("q-1", 2)],
            "query_id string, batch_id long",
        )
        .select(
            F.pmod(
                F.xxhash64("query_id", "batch_id"), F.lit(16)
            ).cast("int").alias("b")
        )
        .collect()
    }
    after = {
        d: sorted(os.listdir(os.path.join(view_path, d)))
        for d in os.listdir(view_path)
        if d.startswith("__bucket=")
    }
    changed = {
        d for d in before if after.get(d) != before[d]
    } | (set(after) - set(before))
    assert changed == {f"__bucket={b}" for b in expected_touched}

    # view totals == one-shot recompute over the full log
    one_shot = metrics_log_totals(spark, log_path)
    via_view = metrics_log_totals(spark, log_path, view_path=view_path)
    assert via_view == one_shot
    assert via_view["n_batches"] == 3 and via_view["input_rows"] == 23


def test_metrics_totals_view_rebuild_heals_divergence(spark, tmp_path):
    """r9 (review finding): flush() appends the log row THEN merges the
    view — a crash between the two leaves the view behind forever (no
    replay watermark covers it). rebuild() recomputes the view from the
    log and must equal both the log-side totals and what uninterrupted
    incremental merges would have produced."""
    from knightshift_spark.streaming.metrics import (
        MetricsTotalsView,
        PersistentMetricsLog,
        metrics_log_totals,
    )

    log_path = str(tmp_path / "rlog")
    view_path = str(tmp_path / "rview")
    log = PersistentMetricsLog(spark, log_path, totals_view=view_path)
    log.record_progress(_fake_progress(0, "2026-01-01T00:00:00Z", 5))
    # simulate the crash window: a flush whose view merge never ran
    broken = PersistentMetricsLog(spark, log_path)  # no totals_view wired
    broken.record_progress(_fake_progress(1, "2026-01-01T00:01:00Z", 7))
    view = MetricsTotalsView(spark, view_path)
    assert view.totals()["n_batches"] == 1  # diverged: log has 2 batches
    rebuilt = view.rebuild(log_path)
    assert rebuilt == metrics_log_totals(spark, log_path)
    assert rebuilt["n_batches"] == 2 and rebuilt["input_rows"] == 12


def test_document_stream_lm_gate_with_textnorm_replay(spark, tmp_path):
    """VERDICT r9 #6: the incremental crawl path runs the round-9 batch
    stages — textnorm stage 0a + CCNet ppl bucketing against FROZEN
    reference cuts — per micro-batch. Reference-like docs land with
    their bucket; gibberish (unseen tokens → low avg logprob) buckets
    tail and is dropped; a replayed spool adds nothing (state-store
    dedup + checkpoint), and textnorm's idempotence means the replayed
    bytes renormalize identically."""
    import json

    from knightshift_spark.operators.lmscore import (
        ppl_cuts,
        unigram_logprob_table,
    )
    from knightshift_spark.streaming.corpus_stream import (
        run_document_stream_with_lm_gate,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and it is a fine day "
        "for the hounds to run far in the open field"
    )
    # reference corpus: the distribution the cuts are trained on — a
    # family of base-like docs plus a few junk docs so the lower-third
    # cut separates them
    # the low tier is HALF junk (scores between pure gibberish and the
    # good family), so the lower-third cut lands strictly above the
    # all-unseen score and a pure-gibberish batch doc buckets tail
    ref_rows = [(i, base + f" extra word number {i}") for i in range(8)] + [
        (100 + i, "zxqv gblorp wug fneep quux " + base) for i in range(4)
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    lm = unigram_logprob_table(ref.filter(F.col("doc_id") < 100))
    cuts = ppl_cuts(ref, lm)
    assert cuts is not None and cuts[0] < cuts[1]

    spool = tmp_path / "docs"
    spool.mkdir()
    f1, f2 = spool / "a.jsonl", spool / "b.jsonl"
    gibberish = "zxqv gblorp wug fneep quux snarf blivet " * 3
    f1.write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                # \x00 + double spaces: textnorm must scrub before the
                # fingerprint (stage 0a ordering, same as batch)
                {"doc_id": 1, "text": base.replace(" ", "  ") + "\x00", "source": "web"},
                {"doc_id": 2, "text": gibberish, "source": "web"},
            ]
        )
    )
    f2.write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"doc_id": 10, "text": base, "source": "crawl"},  # dup of 1 after textnorm
                {"doc_id": 11, "text": base + " but about the sea", "source": "crawl"},
            ]
        )
    )
    now = os.stat(f1).st_mtime
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now + 60, now + 60))

    kw = dict(
        lm_table=lm, cuts=cuts, keep_buckets=("head", "middle"),
        normalize=True, trigger={"availableNow": True},
        min_tokens=5, langs=("en", "und"),
    )
    q = run_document_stream_with_lm_gate(
        spark, str(spool), str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, **kw,
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "corpus"))
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 1 survives (normalized, reference-like); doc 2 = tail (gone);
    # doc 10 = exact dup of 1 after textnorm (state store); 11 survives
    assert sorted(rows) == [1, 11]
    assert "\x00" not in rows[1]["text"] and "  " not in rows[1]["text"]
    assert {rows[i]["ppl_bucket"] for i in rows} <= {"head", "middle"}
    assert all(rows[i]["avg_logprob"] is not None for i in rows)

    # replayed spool: checkpoint + fingerprint store emit nothing new
    q2 = run_document_stream_with_lm_gate(
        spark, str(spool), str(tmp_path / "corpus"), str(tmp_path / "ckpt"), **kw,
    )
    q2.awaitTermination(120)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    ) == [1, 11]


def test_metrics_totals_view_legacy_long_form_kept(spark, tmp_path):
    """Totals views store one row per (query, batch) with per-measure
    partial structs, and a fresh view takes that layout. A view in the
    long form (one row per metric) is not a layout this build reads:
    totals() and merge raise, and the failed merge leaves the stored
    view as it was (no rows of the other layout mixed in, which would
    double count). rebuild() from the log replaces it with the wide
    layout."""
    from pyspark.errors import AnalysisException

    from knightshift_spark.streaming.matview import merge_view_batch
    from knightshift_spark.streaming.metrics import MetricsTotalsView

    flushed = spark.createDataFrame(
        [("q", 1, 7, 50)],
        "query_id string, batch_id long, input_rows long, duration_ms long",
    )
    fresh_path = str(tmp_path / "fresh")
    fresh = MetricsTotalsView(spark, fresh_path, n_buckets=4)
    fresh.merge(flushed)
    raw = spark.read.parquet(fresh_path)
    assert "__m_input_rows" in raw.columns and "metric" not in raw.columns
    assert fresh.totals() == {"n_batches": 1, "input_rows": 7, "wall_ms": 50}

    view_path = str(tmp_path / "legacy")
    long = spark.createDataFrame(
        [("q", 0, "input_rows", 5.0), ("q", 0, "duration_ms", 100.0)],
        "query_id string, batch_id long, metric string, value double",
    )
    merge_view_batch(
        long, view_path, keys=["query_id", "batch_id", "metric"],
        value_col="value", n_buckets=4,
    )

    def stored():
        df = spark.read.parquet(view_path)
        return df.columns, sorted(
            (r["batch_id"], r["metric"]) for r in df.collect()
        )

    before = stored()
    view = MetricsTotalsView(spark, view_path, n_buckets=4)
    with pytest.raises(AnalysisException):
        view.totals()
    with pytest.raises(AnalysisException):
        view.merge(flushed)
    assert stored() == before  # long form kept, nothing mixed in

    log_path = str(tmp_path / "log")
    flushed.write.parquet(log_path)
    assert view.rebuild(log_path) == {
        "n_batches": 1, "input_rows": 7, "wall_ms": 50,
    }
    assert "metric" not in spark.read.parquet(view_path).columns


def test_totals_view_redetects_layout_when_view_appears_late(spark, tmp_path):
    """A totals view instance holds no layout state of its own: one
    made before its directory exists reads zeros, a flush into an
    existing but empty directory does not crash, and a view another
    writer materializes between calls is read and merged into by the
    same instance."""
    import os
    import shutil

    from knightshift_spark.streaming.metrics import MetricsTotalsView

    def batch(batch_id, rows, ms):
        return spark.createDataFrame(
            [("q", batch_id, rows, ms)],
            "query_id string, batch_id long, input_rows long, "
            "duration_ms long",
        )

    view_path = str(tmp_path / "late")
    view = MetricsTotalsView(spark, view_path, n_buckets=4)
    assert view.totals() == {"n_batches": 0, "input_rows": 0, "wall_ms": 0}
    os.makedirs(view_path)  # exists-but-empty
    view.merge(batch(1, 7, 50))
    assert view.totals() == {"n_batches": 1, "input_rows": 7, "wall_ms": 50}

    shutil.rmtree(view_path)
    assert view.totals() == {"n_batches": 0, "input_rows": 0, "wall_ms": 0}
    # another writer materializes the view after those calls
    MetricsTotalsView(spark, view_path, n_buckets=4).merge(batch(0, 5, 100))
    view.merge(batch(1, 7, 50))  # same instance merges into it
    assert view.totals() == {
        "n_batches": 2, "input_rows": 12, "wall_ms": 150,
    }
