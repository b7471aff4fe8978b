"""The benchmark's workloads. Each one builds its seeded inputs, warms
up, times its ops with tracing off, checks every output, and in a
traced run adds the per-layer numbers.

Only public functions of ``knightshift_spark`` are called; the spans
that make up the per-layer numbers are recorded here, around those
calls.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

import measure
import pgngen


# --- shared run state -------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str


@dataclass
class Tracer:
    """In-memory spans around the program's public calls; per-layer
    numbers are derived from them when the run ends."""

    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, trace_id: str, parent: int | None = None) -> Iterator[int]:
        """Record a span around the block; yields its index for use as
        the ``parent`` of spans inside it."""
        s = Span(name, time.perf_counter(), 0.0, parent, trace_id)
        self.spans.append(s)
        try:
            yield len(self.spans) - 1
        finally:
            s.end = time.perf_counter()

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {"name": s.name, "trace_id": s.trace_id, "parent": s.parent,
             "start_s": round(s.start - t0, 4), "dur_s": round(s.end - s.start, 4)}
            for s in self.spans
        ]

    def self_times(self, name: str) -> list[float]:
        """Self time of every span called ``name``: its duration less
        the part of it its child spans cover."""
        out = []
        for i, s in enumerate(self.spans):
            if s.name != name:
                continue
            covered = sum(c.end - c.start for c in self.spans if c.parent == i)
            out.append(s.end - s.start - covered)
        return out


@dataclass
class Ctx:
    spark: object
    root: str  # private scratch directory of this run
    seed: int
    seconds: float
    trace: bool
    jvm: measure.Jvm
    cpu: measure.TreeCpu
    jobs: measure.JobCounter
    tracer: Tracer = field(default_factory=Tracer)


@dataclass
class Result:
    """What a workload hands back to ``run.py``. ``attempted`` and
    ``failed`` count the ops after warm-up (timed, then traced);
    ``problems`` names every failed check, warm-up and final ones too."""

    setup_s: float
    items: int
    op_times: list[float]
    timed_failed: int
    attempted: int
    failed: int
    problems: list[str]
    phase: dict  # timed phase: Snapshot.minus, plus the CPU inside call()
    peak_rss_mb: float
    warmup: dict
    per_layer: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)


class Workload:
    """Op bookkeeping shared by the workloads: ``op()`` runs one op and
    returns its wall time, recording failed checks in ``failures`` under
    the op's index. ``call()`` wraps the program call inside an op, so
    wall time and CPU cover the program and not the benchmark's own
    input building and checks."""

    items_per_op: int
    warmup_ops: int  # untimed ops before the timed phase
    # The timed phase runs at least this many ops, then on until
    # --seconds have passed; a traced run times exactly this many, so
    # each count the trace reports depends on the seed alone.
    min_timed_ops: int

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.n_op = 0
        self.failures: list[tuple[int, str]] = []
        self.cpu: dict[str, float] = {}  # CPU seconds inside call()

    def call(self, fn, *args, **kwargs) -> tuple[object, float]:
        """Run one program call; returns its result and wall seconds and
        adds the process tree's CPU over it to ``self.cpu``."""
        c0 = self.ctx.cpu.read()
        t = time.perf_counter()
        out = fn(*args, **kwargs)
        dt = time.perf_counter() - t
        c1 = self.ctx.cpu.read()
        for k, v in c1.items():
            self.cpu[k] = self.cpu.get(k, 0.0) + v - c0[k]
        return out, dt

    def op(self) -> float:
        raise NotImplementedError

    def traced(self, untraced: list[float]) -> tuple[dict, dict]:
        raise NotImplementedError

    def final_check(self) -> list[str]:
        raise NotImplementedError

    def run(self, setup_t0: float) -> Result:
        ctx = self.ctx
        warm: dict = {"ops": self.warmup_ops, "op_s": [], "jit_ms": []}
        for _ in range(self.warmup_ops):
            j0 = ctx.jvm.jit_ms()
            warm["op_s"].append(round(self.op(), 3))
            warm["jit_ms"].append(ctx.jvm.jit_ms() - j0)
        setup_s = time.perf_counter() - setup_t0
        first = self.n_op
        self.cpu = {}
        times, s0, s1 = timed_loop(ctx, self.op, self.min_timed_ops, exact=ctx.trace)
        phase = s1.minus(s0)
        phase.update({f"cpu.{k}_s": v for k, v in self.cpu.items()})
        rss = measure.tree_peak_rss_mb(os.getpid())
        n_timed = self.n_op - first
        per_layer, info = self.traced(times) if ctx.trace else ({}, {})
        problems = [m for _, m in self.failures] + self.final_check()
        failed = {i for i, _ in self.failures if i >= first}
        return Result(
            setup_s=setup_s,
            items=n_timed * self.items_per_op,
            op_times=times,
            timed_failed=len({i for i in failed if i < first + n_timed}),
            attempted=self.n_op - first,
            failed=len(failed),
            problems=problems,
            phase=phase,
            peak_rss_mb=rss,
            warmup=warm,
            per_layer=per_layer,
            info=info,
        )


def timed_loop(
    ctx: Ctx, op, min_ops: int, exact: bool = False
) -> tuple[list[float], measure.Snapshot, measure.Snapshot]:
    """Ops back to back: at least ``min_ops``, then on until
    ``ctx.seconds`` have passed (the op in flight at the deadline
    completes); with ``exact``, ``min_ops`` and no more. ``op`` returns
    its own wall time."""
    times: list[float] = []
    t0 = measure.Snapshot.take(ctx.jvm)
    while len(times) < min_ops or (
        not exact and time.perf_counter() - t0.wall < ctx.seconds
    ):
        times.append(op())
    t1 = measure.Snapshot.take(ctx.jvm)
    return times, t0, t1


# --- pgn_etl ----------------------------------------------------------------

# One op is one scheduled DAG run (BASELINE.md:24). The reference caps
# an ingest run at 5,000 games (BASELINE.md:18); 1,500 is an assumed
# batch below that cap. Op time barely depends on it (a 1,000-game op
# took as long): the fixed cost of the ~43 jobs per op dominates.
ETL_GAMES_PER_OP = 1500
ETL_FILES_PER_OP = 4
# Two warm-up ops are all the per-run time allows: op 3 still runs ~15%
# under op 2 (JIT compile per op keeps falling until op ~5). The report
# keeps the JIT milliseconds of each warm-up op. Two timed ops outlast an
# 8 s --seconds, so every run times the same ops.
ETL_WARMUP_OPS = 2
ETL_MIN_TIMED_OPS = 2
ETL_TRACED_OPS = 1
# staged span -> per-layer metric of its self time
STAGED_LAYERS = {
    "pgn.parse": "pgn.parse_s",
    "ingest.project": "ingest.project_s",
    "merge.upsert": "merge.upsert_s",
    "clean": "clean.s",
    "enrich": "enrich.s",
}
ETL_LAYER_METRICS = (
    *STAGED_LAYERS.values(),
    "ingest.dedup_ratio",
    "merge.rows_written_per_new_row",
    "clean.deleted_frac",
    "rest.keys_requested",
    "rest.hit_ratio",
    "run_all.jobs_per_op",
    "run_all.stages_per_op",
    "run_all.tasks_per_op",
    "run_all.residual_s",
    "run_all.bytes_written_per_game",
    "trace.overhead_s",
)


class PgnEtl(Workload):
    """Scheduled DAG run: one ``run_pipeline`` per op over a fresh spool
    batch, merged into a parquet warehouse that grows op by op."""

    items_per_op = ETL_GAMES_PER_OP
    warmup_ops = ETL_WARMUP_OPS
    min_timed_ops = ETL_MIN_TIMED_OPS

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.gen = pgngen.PgnGenerator(ctx.seed, ETL_GAMES_PER_OP)
        self.oracle = pgngen.Oracle()
        self.wh = os.path.join(ctx.root, "warehouse-etl")

    def _next_batch(self) -> tuple[str, pgngen.ExpectedReport]:
        batch = self.gen.batch()
        expected = self.oracle.apply(batch)
        d = os.path.join(self.ctx.root, "spool", f"op-{self.n_op:04d}")
        pgngen.write_batch_dir(d, batch, ETL_FILES_PER_OP)
        return d, expected

    def _run(self, spool: str, expected: pgngen.ExpectedReport) -> float:
        from knightshift_spark.pipelines.run_all import run_pipeline

        rep, dt = self.call(run_pipeline, self.ctx.spark, spool, self.wh, fetch_profile=pgngen.fetch_profile)
        got = tuple(rep)
        want = (expected.ingested, expected.valid, expected.deleted, expected.users_added)
        if got != want:
            self.failures.append((self.n_op, f"pgn_etl op {self.n_op}: report {got} != expected {want}"))
        shutil.rmtree(spool)
        self.n_op += 1
        return dt

    def op(self) -> float:
        return self._run(*self._next_batch())

    def final_check(self) -> list[str]:
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        problems = []
        ids = {r.id_game for r in spark.read.parquet(f"{self.wh}/games").select("id_game").collect()}
        if ids != set(self.oracle.games):
            problems.append(
                f"pgn_etl: {len(ids ^ set(self.oracle.games))} game ids differ from the oracle's"
            )
        users = spark.read.parquet(f"{self.wh}/users")
        n_users = users.count()
        if n_users != len(self.oracle.users) or users.filter(
            ~F.col("id_user").isin(list(self.oracle.users))
        ).count():
            problems.append(f"pgn_etl: users table differs from the oracle's ({n_users} rows)")
        return problems

    # -- traced run ----------------------------------------------------------

    def _staged(self, spool: str, trace_id: str) -> dict:
        """Each layer run alone on the materialized output of the layer
        before it, against the same warehouse state the whole op sees.
        Writes only under a scratch directory."""
        from knightshift_spark.operators.merge import upsert
        from knightshift_spark.pipelines.clean import clean_games
        from knightshift_spark.pipelines.enrich import distinct_players, enrich_users
        from knightshift_spark.pipelines.ingest import ingest_games
        from knightshift_spark.sources import pgn
        from knightshift_spark.sources.rest import profile_bodies_source

        spark, tr = self.ctx.spark, self.ctx.tracer
        d = os.path.join(self.ctx.root, "staged", trace_id)
        read = spark.read.parquet

        def write(df, name: str) -> str:
            df.write.mode("overwrite").parquet(f"{d}/{name}")
            return f"{d}/{name}"

        with tr.span("staged", trace_id) as top:
            with tr.span("pgn.parse", trace_id, top):
                blocks = write(pgn.assemble_games(pgn.sessionize(pgn.read_pgn_lines(spark, spool))), "blocks")
            with tr.span("ingest.project", trace_id, top):
                fresh = write(ingest_games(read(blocks)), "fresh")
            with tr.span("merge.upsert", trace_id, top):
                merged = write(upsert(read(f"{self.wh}/games"), read(fresh), ["id_game"], ["tm_ingested"]), "merged")
            with tr.span("clean", trace_id, top):
                res = clean_games(read(merged))
                valid = write(res.valid, "valid")
                deleted = write(res.deleted, "deleted")
            with tr.span("enrich", trace_id, top):
                bodies = profile_bodies_source(distinct_players(read(valid)), pgngen.fetch_profile)
                enriched = enrich_users(read(valid), read(f"{self.wh}/users"), bodies)
                write(enriched.users, "users")
                write(enriched.games, "games")
        n_blocks, n_fresh, n_merged = read(blocks).count(), read(fresh).count(), read(merged).count()
        n_deleted = read(deleted).count()
        keys = distinct_players(read(valid)).count()
        hits = profile_bodies_source(distinct_players(read(valid)), pgngen.fetch_profile).count()
        shutil.rmtree(d)
        return {
            "ingest.dedup_ratio": n_fresh / n_blocks,
            "merge.rows_written_per_new_row": n_merged / n_fresh,
            "clean.deleted_frac": n_deleted / n_merged,
            "rest.keys_requested": keys,
            "rest.hit_ratio": hits / keys,
        }

    def traced(self, untraced: list[float]) -> tuple[dict, dict]:
        ctx = self.ctx
        ratios: list[dict] = []
        counts: list[tuple[int, int, int]] = []
        written: list[float] = []
        whole: list[float] = []
        residual: list[float] = []
        for k in range(ETL_TRACED_OPS):
            spool, expected = self._next_batch()
            trace_id = f"etl-op-{k}"
            ratios.append(self._staged(spool, trace_id))
            staged_self = sum(ctx.tracer.self_times(span)[-1] for span in STAGED_LAYERS)
            before = set(ctx.jobs.job_ids(trace_id))
            ctx.jobs.set_group(trace_id)
            try:
                with ctx.tracer.span("run_all.op", trace_id):
                    dt = self._run(spool, expected)
            finally:
                ctx.jobs.clear_group()
            counts.append(ctx.jobs.counts(trace_id, before))
            written.append(ctx.jobs.output_bytes(trace_id, before) / ETL_GAMES_PER_OP)
            whole.append(dt)
            residual.append(dt - staged_self)
        layer = {
            metric: statistics.median(ctx.tracer.self_times(span))
            for span, metric in STAGED_LAYERS.items()
        }
        for key in ratios[0]:
            layer[key] = statistics.median([r[key] for r in ratios])
        layer.update(
            {
                "run_all.jobs_per_op": statistics.median([c[0] for c in counts]),
                "run_all.stages_per_op": statistics.median([c[1] for c in counts]),
                "run_all.tasks_per_op": statistics.median([c[2] for c in counts]),
                "run_all.residual_s": statistics.median(residual),
                "run_all.bytes_written_per_game": statistics.median(written),
                "trace.overhead_s": statistics.median(whole) - statistics.median(untraced),
            }
        )
        layer.update(fixture_queries(self))
        info = {"traced_ops": len(whole), "traced_op_s": [round(t, 3) for t in whole],
                "jobs_stages_tasks": counts}
        return layer, info


# --- declared fixture queries ------------------------------------------------

FIXTURE_QUERIES = {  # name -> registry module
    "q28_pgn_pipeline": "pgn_e2e",
    "q42_profile_flatten": "profiles",
    "q63_opening_backfill": "profiles",
}
QUERY_LAYER_METRICS = (
    *(f"query.{q}_s" for q in FIXTURE_QUERIES),
    *sorted({f"queries.{m}.jobs" for m in FIXTURE_QUERIES.values()}),
)


def fixture_queries(w: Workload) -> dict:
    """The declared queries whose inputs ship inside the package. Each
    is one more op of ``w``: it runs once untimed and is checked against
    its DuckDB oracle with the repository's parity comparator, then
    runs once timed to the ``noop`` sink under a job group."""
    import duckdb

    from knightshift_spark.queries import load_all
    from tools.check_parity import compare

    ctx = w.ctx
    specs = load_all()
    out: dict = {}
    con = duckdb.connect()
    try:
        for name in FIXTURE_QUERIES:
            spec = specs[name]
            got = spec.spark_fn(ctx.spark, "").toPandas()
            want = con.execute(spec.oracle).fetch_arrow_table().to_pandas(date_as_object=True)
            w.failures += [(w.n_op, f"{name}: {p}") for p in compare(name, got, want)]
            group = f"query-{name}"
            ctx.jobs.set_group(group)
            try:
                t = time.perf_counter()
                spec.spark_fn(ctx.spark, "").write.format("noop").mode("overwrite").save()
                out[f"query.{name}_s"] = time.perf_counter() - t
            finally:
                ctx.jobs.clear_group()
            key = f"queries.{FIXTURE_QUERIES[name]}.jobs"
            out[key] = out.get(key, 0) + ctx.jobs.counts(group)[0]
            w.n_op += 1
    finally:
        con.close()
    return out


# --- pgn_stream_txn ---------------------------------------------------------

# One op is one poll of the reference's loop, which polls 5 TV channels
# and sleeps 5 s between polls (BASELINE.md:16-17). The repo records no
# games-per-poll figure; 200 per file is an assumed size. The stream runs
# with a 0 s trigger: the 5 s sleep is idle time, not work, so the op
# times only file landed to batch committed.
STREAM_GAMES_PER_FILE = 200
# Batch time levels off after about five batches, while JIT compile
# per batch falls from ~20 s to ~5 s, so five warm-up batches. Five
# timed batches outlast an 8 s --seconds, so every run times the same
# batches.
STREAM_WARMUP_OPS = 5
STREAM_MIN_TIMED_OPS = 5
STREAM_TRACED_OPS = 5
STREAM_COMPONENTS = (  # StreamingQueryProgress.durationMs keys
    "addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning", "triggerExecution",
)
STREAM_LAYER_METRICS = (
    *(f"stream.{k}_ms" for k in STREAM_COMPONENTS),
    "stream.wait_ms",
    "stream.jobs_per_batch",
    "txn.rows_written_per_row",
    "txn.files_added_per_commit",
    "txn.live_files",
    "txn.log_replay_s",
    "trace.overhead_s",
)


class PgnStreamTxn(Workload):
    """Poll, upsert, repeat: one long-lived streaming query merging each
    landed spool file into a ``TxnTable``. An op lands one file with an
    atomic rename and returns when ``processAllAvailable`` does, so the
    op time runs from file landed to batch committed."""

    items_per_op = STREAM_GAMES_PER_FILE
    warmup_ops = STREAM_WARMUP_OPS
    min_timed_ops = STREAM_MIN_TIMED_OPS

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.gen = pgngen.PgnGenerator(ctx.seed, STREAM_GAMES_PER_FILE)
        self.spool = os.path.join(ctx.root, "spool")
        self.staging = os.path.join(ctx.root, "staging")
        self.table_dir = os.path.join(ctx.root, "games_txn")
        self.ids: set[str] = set()
        self.version = 0  # TxnTable.create commits version 0
        self.query = None

    def op(self) -> float:
        from knightshift_spark.sources.txntable import TxnTable

        batch = self.gen.batch()
        self.ids |= {g.id_game for g in batch}
        name = f"batch-{self.n_op:05d}.pgn"
        staged = os.path.join(self.staging, name)
        pgngen.write_pgn(staged, batch)

        def land() -> None:
            os.rename(staged, os.path.join(self.spool, name))
            self.query.processAllAvailable()

        _, dt = self.call(land)
        table = TxnTable(self.ctx.spark, self.table_dir)
        version, count = table.version(), table.count()
        if version != self.version + 1:
            self.failures.append(
                (self.n_op, f"pgn_stream_txn batch {self.n_op}: version {self.version} -> {version}, not +1")
            )
        if count != len(self.ids):
            self.failures.append(
                (self.n_op, f"pgn_stream_txn batch {self.n_op}: {count} rows, expected {len(self.ids)}")
            )
        self.version = version
        self.n_op += 1
        return dt

    def final_check(self) -> list[str]:
        from knightshift_spark.sources.txntable import TxnTable

        table = TxnTable(self.ctx.spark, self.table_dir)
        problems = []
        ids = {r.id_game for r in table.snapshot().select("id_game").collect()}
        if ids != self.ids or table.count() != len(self.ids):
            problems.append(f"pgn_stream_txn: final table holds {len(ids)} ids, expected {len(self.ids)}")
        if table.version() != self.n_op:
            problems.append(f"pgn_stream_txn: final version {table.version()} != {self.n_op} batches")
        exc = self.query.exception()
        if exc is not None:
            problems.append(f"pgn_stream_txn: stream failed: {exc}")
        return problems

    def run(self, setup_t0: float) -> Result:
        from knightshift_spark.streaming.pgn_stream import run_pgn_stream

        os.makedirs(self.spool)
        os.makedirs(self.staging)
        self.query = run_pgn_stream(
            self.ctx.spark,
            self.spool,
            None,
            os.path.join(self.ctx.root, "checkpoint"),
            trigger={"processingTime": "0 seconds"},
            txn_table_dir=self.table_dir,
        )
        try:
            return super().run(setup_t0)
        finally:
            self.query.stop()

    def traced(self, untraced: list[float]) -> tuple[dict, dict]:
        """Per-batch duration components from ``StreamingQueryProgress``,
        jobs per batch from the stream's job group (its run id), and
        the TxnTable's own write accounting over the traced batches."""
        from knightshift_spark.sources.txntable import TxnTable

        ctx = self.ctx
        group = str(self.query.runId)
        v0 = self.version
        rows: list[dict] = []
        for _ in range(STREAM_TRACED_OPS):
            before = ctx.jobs.job_ids(group)
            with ctx.tracer.span("stream.op", f"stream-op-{self.n_op}"):
                dt = self.op()
            prog = self.query.lastProgress
            rows.append({"wall_ms": dt * 1000.0, "jobs": ctx.jobs.counts(group, before)[0],
                         **prog["durationMs"]})
        table = TxnTable(ctx.spark, self.table_dir)
        commits = [h for h in table.history(detailed=True) if h["version"] > v0]
        replay = []
        for _ in range(5):
            t = time.perf_counter()
            TxnTable(ctx.spark, self.table_dir).count()
            replay.append(time.perf_counter() - t)
        med = lambda k: statistics.median([r[k] for r in rows])  # noqa: E731
        traced = [r["wall_ms"] / 1000.0 for r in rows]
        layer = {f"stream.{k}_ms": med(k) for k in STREAM_COMPONENTS}
        layer.update(
            {
                "stream.wait_ms": statistics.median([r["wall_ms"] - r["triggerExecution"] for r in rows]),
                "stream.jobs_per_batch": med("jobs"),
                "txn.rows_written_per_row": sum(c["rows_in_adds"] for c in commits)
                / (len(commits) * STREAM_GAMES_PER_FILE),
                "txn.files_added_per_commit": statistics.median([c["n_adds"] for c in commits]),
                "txn.live_files": table.detail()["num_files_dirs"],
                "txn.log_replay_s": statistics.median(replay),
                "trace.overhead_s": statistics.median(traced) - statistics.median(untraced),
            }
        )
        info = {"traced_ops": len(rows), "traced_op_s": [round(t, 3) for t in traced],
                "jobs_per_batch": [r["jobs"] for r in rows]}
        return layer, info


WORKLOADS = {"pgn_etl": PgnEtl, "pgn_stream_txn": PgnStreamTxn}
