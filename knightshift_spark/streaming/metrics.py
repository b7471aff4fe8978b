"""Streaming observability: per-batch metrics without extra actions.

Observability parity with the reference's per-poll logging
(``get_games_from_tv.py`` logs processed/updated counts each cycle) —
but through Spark's own channels instead of driver-side recounts:

- ``observe_rows(df, name)`` attaches an OBSERVED METRIC to the
  streaming DataFrame: the row count is accumulated JVM-side while the
  batch runs (zero extra jobs, unlike a ``.count()`` re-execution) and
  surfaces in each progress event's ``observedMetrics``.
- ``StreamMetrics`` + ``MergeMetricsListener`` collect those progress
  events (batch id, input rows, duration, rates, observed metrics)
  driver-side with a bounded history, merged with whatever the sink's
  ``on_batch`` hook reports (e.g. upserted-row counts).

Listener callbacks are delivered asynchronously after each batch; use
``StreamMetrics.wait_for_batches`` in tests/drains rather than assuming
delivery at ``awaitTermination`` return.
"""

from __future__ import annotations

import threading
import time
from collections import deque
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryListener


def observe_rows(df: DataFrame, name: str = "ingest") -> DataFrame:
    """Attach a JVM-side row counter to a (streaming) DataFrame: the
    count rides the existing batch execution and lands in
    ``progress.observedMetrics[name]`` — no second action, no
    localCheckpoint, no recompute."""
    return df.observe(name, F.count(F.lit(1)).alias("n_rows"))


@dataclass
class BatchRecord:
    batch_id: int
    num_input_rows: int
    duration_ms: int | None
    rows_per_sec: float | None
    observed: dict[str, dict]
    sink_rows: int | None = None  # filled by the sink's on_batch hook


@dataclass
class StreamMetrics:
    """Bounded per-batch history shared by the listener (engine progress)
    and the sink hook (merge counts). Thread-safe: listener callbacks
    arrive on a listener-bus thread while the sink hook runs on the
    micro-batch thread."""

    max_batches: int = 256
    _records: dict[int, BatchRecord] = field(default_factory=dict)
    _order: deque = field(default_factory=deque)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _get(self, batch_id: int) -> BatchRecord:
        rec = self._records.get(batch_id)
        if rec is None:
            rec = BatchRecord(batch_id, 0, None, None, {})
            self._records[batch_id] = rec
            self._order.append(batch_id)
            while len(self._order) > self.max_batches:
                self._records.pop(self._order.popleft(), None)
        return rec

    def record_progress(self, progress) -> None:
        with self._lock:
            rec = self._get(progress.batchId)
            rec.num_input_rows = progress.numInputRows
            rec.duration_ms = (progress.durationMs or {}).get("triggerExecution")
            rec.rows_per_sec = progress.processedRowsPerSecond
            rec.observed = {
                k: dict(v.asDict()) if hasattr(v, "asDict") else dict(v)
                for k, v in (progress.observedMetrics or {}).items()
            }

    def record_sink(self, batch_id: int, n_rows: int) -> None:
        with self._lock:
            self._get(batch_id).sink_rows = n_rows

    def on_batch(self):
        """An ``on_batch(batch_id, n_rows)`` callable for
        ``run_pgn_stream`` that routes the sink's merged-row count here."""
        return self.record_sink

    def batches(self) -> list[BatchRecord]:
        with self._lock:
            return [self._records[b] for b in self._order]

    def totals(self) -> dict:
        with self._lock:
            recs = [self._records[b] for b in self._order]
            return {
                "n_batches": len(recs),
                "input_rows": sum(r.num_input_rows for r in recs),
                "sink_rows": sum(r.sink_rows or 0 for r in recs),
                "wall_ms": sum(r.duration_ms or 0 for r in recs),
            }

    def wait_for_batches(self, n: int, timeout_s: float = 10.0) -> bool:
        """Block until ≥ ``n`` batches carry engine progress (listener
        delivery is async) or the timeout elapses."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                done = sum(
                    1 for b in self._order if self._records[b].duration_ms is not None
                )
            if done >= n:
                return True
            time.sleep(0.05)
        return False


class MergeMetricsListener(StreamingQueryListener):
    """Feeds a ``StreamMetrics`` from the streaming listener bus,
    optionally filtered to one query id (several streams can share a
    session). Register with ``spark.streams.addListener``; remove with
    ``spark.streams.removeListener`` when done."""

    def __init__(self, metrics: StreamMetrics, query_id: str | None = None):
        self.metrics = metrics
        self.query_id = query_id

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        if self.query_id is None or str(p.id) == str(self.query_id):
            self.metrics.record_progress(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


class PersistentMetricsLog:
    """Durable per-batch metrics (ROADMAP r6 item 5): each progress
    event appends ONE parquet row, so restarts keep history — the
    durable twin of ``StreamMetrics``'s bounded in-memory deque, and
    the engine-side analog of the reference's per-poll log lines
    (``get_games_from_tv.py`` counters), surviving as a queryable table
    instead of a log file.

    Duck-typed to ``StreamMetrics.record_progress``, so it plugs into
    the SAME ``MergeMetricsListener``. Appends are tiny single-row
    jobs on the listener thread — metrics cadence, not data cadence.
    Restarted queries may REPLAY a batch id; the log keeps every
    attempt and ``load_metrics_log`` dedupes last-attempt-wins at read
    time (append stays blind, reads stay correct — the same
    at-least-once + reconciling-read contract as the corpus sinks).

    File growth (ADVICE r7): each flush appends one small parquet file,
    so a long-running stream accumulates files at metrics cadence /
    ``flush_every``. ``flush_every > 1`` buffers that many progress
    events per write (a crash loses at most the buffered tail — metrics
    only, never data), and ``compact_metrics_log`` rewrites the whole
    log as one deduped file. ``compact_every=N`` schedules that
    compaction automatically every N flushes on a daemon thread (the
    listener thread never blocks on the rewrite; in-place compaction is
    safe under concurrent flushes) — without it a long stream grows
    unbounded tiny files until someone compacts (ADVICE r8). Reads
    window over the full log, so compaction also bounds
    ``load_metrics_log`` cost.

    ``totals_view`` additionally maintains a matview-backed running
    totals table (``MetricsTotalsView``): each flush merges its rows
    into bucketed algebraic partials, so cross-restart totals are an
    O(view) scan instead of a re-window over the whole log."""

    _SCHEMA = (
        "query_id string, batch_id bigint, ts string, input_rows bigint, "
        "duration_ms bigint, rows_per_sec double, observed string"
    )

    def __init__(
        self,
        spark,
        path: str,
        flush_every: int = 1,
        compact_every: int | None = None,
        totals_view: str | None = None,
        totals_buckets: int = 16,
    ):
        self._spark = spark
        self._path = path
        self._flush_every = max(int(flush_every), 1)
        self._buf: list[tuple] = []
        self._compact_every = compact_every
        self._n_flushes = 0
        self._compacting = threading.Lock()  # at most one compactor
        self.last_compaction: threading.Thread | None = None
        self._totals = (
            MetricsTotalsView(spark, totals_view, n_buckets=totals_buckets)
            if totals_view
            else None
        )

    def record_progress(self, progress) -> None:
        import json as _json

        self._buf.append(
            (
                str(progress.id),
                int(progress.batchId),
                str(progress.timestamp),
                int(progress.numInputRows),
                (progress.durationMs or {}).get("triggerExecution"),
                float(progress.processedRowsPerSecond)
                if progress.processedRowsPerSecond is not None
                else None,
                _json.dumps(
                    {
                        k: dict(v.asDict()) if hasattr(v, "asDict") else dict(v)
                        for k, v in (progress.observedMetrics or {}).items()
                    },
                    sort_keys=True,
                ),
            )
        )
        if len(self._buf) >= self._flush_every:
            self.flush()

    def flush(self) -> None:
        """Write any buffered progress rows. Call on query stop when
        ``flush_every > 1`` so the tail isn't lost with the process."""
        if not self._buf:
            return
        rows, self._buf = self._buf, []
        from knightshift_spark.plans.localrel import local_relation

        df = local_relation(self._spark, rows, self._SCHEMA)
        df.write.mode("append").parquet(self._path)
        if self._totals is not None:
            self._totals.merge(df)
        self._n_flushes += 1
        if self._compact_every and self._n_flushes % self._compact_every == 0:
            self._schedule_compaction()

    def _schedule_compaction(self) -> None:
        """Compact on a daemon thread; skip if a compaction is already
        running (the next eligible flush reschedules). Tests join
        ``last_compaction`` for determinism."""
        if not self._compacting.acquire(blocking=False):
            return

        def run() -> None:
            try:
                compact_metrics_log(self._spark, self._path)
            finally:
                self._compacting.release()

        t = threading.Thread(target=run, name="metrics-log-compact", daemon=True)
        self.last_compaction = t
        t.start()


def compact_metrics_log(spark, path: str) -> int:
    """Rewrite the metrics log as ONE deduped parquet file and return
    the surviving row count. Bounds the append-only file growth (one
    tiny file per flush — ADVICE r7) and the read-side window cost:
    compaction applies the same last-attempt-wins rule as
    ``load_metrics_log``, so replayed-batch losers are dropped for good.

    Atomicity is IN-PLACE, not stage-and-swap (ADVICE r8 — the old
    two-rename dance left a window with no ``path`` at all, and
    destroyed files appended between the snapshot and the swap):

    1. snapshot the file list — concurrent flushes append NEW files
       that are never part of the snapshot, so they are never deleted;
    2. write the compacted file into the SAME directory under a fresh
       name — ``path`` always exists and is always complete;
    3. delete exactly the snapshot files. Between 2 and 3 a reader
       sees every row twice, which ``load_metrics_log``'s
       per-(query_id, batch_id) dedup collapses to identical output.

    Safe to run concurrently with flushes (the auto-compaction hook
    relies on this); two concurrent COMPACTIONS would duplicate work
    but not lose rows — ``PersistentMetricsLog`` serializes its own."""
    import glob as _glob
    import os
    import shutil
    import uuid

    if not os.path.isdir(path):
        return 0
    snapshot = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    if not snapshot:
        return 0
    deduped = _dedupe_attempts(spark.read.parquet(*snapshot)).coalesce(1)
    tmp = f"{path}.compact-{uuid.uuid4().hex[:6]}"
    deduped.write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    for i, part in enumerate(
        p for p in sorted(os.listdir(tmp)) if p.endswith(".parquet")
    ):
        os.replace(
            os.path.join(tmp, part),
            os.path.join(path, f"compacted-{uuid.uuid4().hex[:8]}-{i}.parquet"),
        )
    for p in snapshot:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass  # a concurrent compactor got it first
    shutil.rmtree(tmp, ignore_errors=True)
    return n


def _dedupe_attempts(raw: DataFrame) -> DataFrame:
    """One row per (query_id, batch_id) — the LATEST attempt wins (max
    engine timestamp; replays of a batch after restart supersede the
    partial first attempt). Shared by reads and compaction so both
    apply the identical rule."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id", "batch_id").orderBy(
        F.col("ts").desc(), F.col("input_rows").desc()
    )
    return (
        raw.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def load_metrics_log(spark, path: str) -> DataFrame:
    """The metrics log deduped to one row per (query_id, batch_id) —
    the LATEST attempt wins (``_dedupe_attempts``).

    Concurrency (ADVICE r9): an in-place compaction deletes its
    snapshot files AFTER their rows land in a compacted file in the
    same directory, so a reader that listed the directory just before
    the deletes can hit ``FileNotFoundException`` mid-scan. The
    returned DataFrame is lazy, so the retry has to wrap the ACTION:
    use ``collect_metrics_log_rows`` / ``metrics_log_totals`` (which
    retry with a fresh listing — the fresh list always contains the
    compacted file, making the second attempt complete and exact), or
    re-call this function on that error. ``ignoreMissingFiles`` is
    deliberately NOT used: it would silently drop the deleted file's
    rows from a read whose listing predates the compacted file."""
    return _dedupe_attempts(spark.read.parquet(path))


def collect_metrics_log_rows(spark, path: str) -> list:
    """``load_metrics_log(...).collect()`` with the compaction-race
    retry: on a missing-file failure, re-list and re-run once — the
    second listing includes the compacted replacement file, so the
    retry is complete and exact (see ``load_metrics_log``)."""
    try:
        return load_metrics_log(spark, path).collect()
    except Exception as e:  # Py4J wraps java.io.FileNotFoundException
        if "FileNotFoundException" not in str(e):
            raise
        return load_metrics_log(spark, path).collect()


def metrics_log_totals(spark, path: str, view_path: str | None = None) -> dict:
    """Cross-restart totals — what the in-memory
    ``StreamMetrics.totals()`` cannot give after a process bounce.

    Without ``view_path`` this re-windows and re-aggregates the WHOLE
    deduped log — O(history) per call. With ``view_path`` (a
    ``MetricsTotalsView`` maintained by ``PersistentMetricsLog``'s
    ``totals_view=``) it reads the incrementally-merged partials view
    instead: O(view) — the matview path (VERDICT r8 #7)."""
    if view_path is not None:
        return MetricsTotalsView(spark, view_path).totals()

    def _agg_once():
        return (
            load_metrics_log(spark, path)
            .agg(
                F.count(F.lit(1)).alias("n_batches"),
                F.coalesce(F.sum("input_rows"), F.lit(0)).alias("input_rows"),
                F.coalesce(F.sum("duration_ms"), F.lit(0)).alias("wall_ms"),
            )
            .collect()[0]
        )

    try:
        row = _agg_once()
    except Exception as e:  # compaction race: see load_metrics_log
        if "FileNotFoundException" not in str(e):
            raise
        row = _agg_once()
    return {
        "n_batches": row["n_batches"],
        "input_rows": row["input_rows"],
        "wall_ms": row["wall_ms"],
    }


class MetricsTotalsView:
    """Matview-backed running totals for the metrics log (ROADMAP r8 /
    VERDICT r8 #7): each flush merges its rows into the bucketed
    algebraic-partials view of ``streaming/matview.py``, keyed by
    (query_id, batch_id) — so after any number of restarts, totals are
    one scan of the view, never a re-window over the whole log, and
    each merge rewrites only the buckets its keys hash to.

    Attempt semantics: a replayed (query_id, batch_id) merges into the
    SAME group, and ``totals()`` reads each group's ``max`` partial —
    one value per batch, deterministically, without storing attempt
    order. That differs from ``load_metrics_log``'s latest-attempt rule
    only when two attempts of one batch report different numbers (a
    replay of a completed batch normally reports identical ones).

    Layout: ONE row per (query_id, batch_id) with per-measure
    ``__m_<col>`` partial structs (the multi-measure matview). A view
    in any other layout fails the merge and ``totals()`` with Spark's
    ``AnalysisException``."""

    _METRICS = ("input_rows", "duration_ms")

    def __init__(self, spark, view_path: str, n_buckets: int = 16):
        self._spark = spark
        self.view_path = view_path
        self.n_buckets = n_buckets

    def merge(self, flushed: DataFrame) -> None:
        """Fold one flush's rows (``PersistentMetricsLog._SCHEMA``)
        into the view."""
        from knightshift_spark.streaming.matview import merge_view_batch

        wide = flushed.select(
            "query_id",
            "batch_id",
            *[F.col(m).cast("double").alias(m) for m in self._METRICS],
        )
        merge_view_batch(
            wide,
            self.view_path,
            keys=["query_id", "batch_id"],
            value_col=list(self._METRICS),
            n_buckets=self.n_buckets,
        )

    def totals(self) -> dict:
        import os

        if not os.path.isdir(self.view_path):
            return {"n_batches": 0, "input_rows": 0, "wall_ms": 0}
        row = (
            self._spark.read.parquet(self.view_path)
            .agg(
                F.count("*").alias("n_batches"),
                F.coalesce(
                    F.sum(F.col("__m_input_rows.max")), F.lit(0.0)
                ).alias("input_rows"),
                F.coalesce(
                    F.sum(F.col("__m_duration_ms.max")), F.lit(0.0)
                ).alias("wall_ms"),
            )
            .collect()[0]
        )
        return {
            "n_batches": int(row["n_batches"]),
            "input_rows": int(row["input_rows"]),
            "wall_ms": int(row["wall_ms"]),
        }

    def rebuild(self, log_path: str) -> dict:
        """Recompute the view FROM the log — the repair path for the
        non-atomic append+merge seam: ``flush()`` writes the log row
        first and merges the view second, so a crash between the two
        (or a failed merge) leaves the view permanently behind with no
        replay watermark to heal it. One full-log merge replaces the
        view; the max-partial attempt semantics make it exactly what
        incremental merges of every flush would have produced, so
        ``rebuild`` is also the cheap way to adopt a view for a
        pre-existing log. Returns the rebuilt ``totals()``."""
        import os
        import shutil

        shutil.rmtree(self.view_path, ignore_errors=True)
        if os.path.isdir(log_path):
            raw = self._spark.read.parquet(log_path)
            if raw.take(1):
                self.merge(raw)
        return self.totals()
