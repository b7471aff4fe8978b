"""Orchestrator test: two pipeline runs over a growing PGN spool —
ingest merges, cleaning deletes, enrichment inserts and flags."""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest

from knightshift_spark.pipelines.run_all import run_pipeline
from knightshift_spark.queries.pgn_e2e import PGN_FIXTURE

RUN2_PGN = """\
[Event "Second Run Update"]
[Site "https://lichess.org/abc123XY"]
[White "user1"]
[Black "user2"]
[Result "1-0"]
[ECO "C33"]
[Termination "Normal"]
1. e4 e5 2. f4 1-0
[Event "Brand New"]
[Site "https://lichess.org/new999ZZ"]
[White "user10"]
[Black "user11"]
[Result "0-1"]
[Termination "Normal"]
1. Nf3 d5 0-1
"""


def _fetch(k: str):
    known = {"user1", "user2", "user5"}
    if k in known:
        return json.dumps({"id": k, "username": k.title(), "perfs": {"blitz": {"rating": 2000}}})
    return None


def test_two_run_pipeline(spark, tmp_path):
    src1 = tmp_path / "dump1"
    src1.mkdir()
    (src1 / "games.pgn").write_text(PGN_FIXTURE)
    wh = str(tmp_path / "warehouse")

    r1 = run_pipeline(spark, str(src1), wh, fetch_profile=_fetch)
    assert r1.ingested == 5  # abc(x2 deduped to 1 at merge... distinct ids)
    assert r1.valid == 3 and r1.deleted == 2
    assert r1.users_added == 3  # user1, user2, user5 resolve; others miss

    games = {r["id_game"]: r for r in spark.read.parquet(f"{wh}/games").collect()}
    assert games["abc123XY"]["ind_profile_updated"] is True  # user1 fetched
    assert games["def456ZW"]["ind_profile_updated"] is False  # user3/4 missed
    # the run ingested once: kept and rejected rows carry one stamp
    rejected = spark.read.parquet(f"{wh}/games_rejected").collect()
    assert len({r["tm_ingested"] for r in [*games.values(), *rejected]}) == 1

    # --- run 2: an update for abc123XY + one new game ---
    src2 = tmp_path / "dump2"
    src2.mkdir()
    (src2 / "more.pgn").write_text(RUN2_PGN)
    r2 = run_pipeline(spark, str(src2), wh, fetch_profile=_fetch)
    assert r2.ingested == 2
    assert r2.valid == 4  # 3 prior + new999ZZ; abc merged not duplicated

    games = {r["id_game"]: r for r in spark.read.parquet(f"{wh}/games").collect()}
    assert games["abc123XY"]["val_opening_eco_code"] == "C33"  # update won
    assert games["abc123XY"]["val_result"] == "1-0"
    assert "new999ZZ" in games
    users = {r["id_user"] for r in spark.read.parquet(f"{wh}/users").collect()}
    assert users == {"user1", "user2", "user5"}  # insert-if-absent: no dups


def test_transactional_pipeline_matches_swap_pipeline(spark, tmp_path):
    """transactional=True produces the SAME games end state and report as
    the stage-and-swap path across two runs — plus a commit history
    (ingest merge, validation delete, enrichment flag merge per run) and
    time travel back to the pre-clean state."""
    from knightshift_spark.sources.txntable import TxnTable

    src1, src2 = tmp_path / "d1", tmp_path / "d2"
    src1.mkdir(), src2.mkdir()
    (src1 / "games.pgn").write_text(PGN_FIXTURE)
    (src2 / "more.pgn").write_text(RUN2_PGN)

    wh_swap, wh_txn = str(tmp_path / "wh_swap"), str(tmp_path / "wh_txn")
    reports = {}
    for wh, txn in ((wh_swap, False), (wh_txn, True)):
        reports[txn] = [
            run_pipeline(spark, str(src1), wh, fetch_profile=_fetch, transactional=txn),
            run_pipeline(spark, str(src2), wh, fetch_profile=_fetch, transactional=txn),
        ]
    assert reports[False] == reports[True]

    def rows(df):
        # tm_validated is a current_timestamp — wall-clock, not comparable
        return {tuple(r) for r in df.drop("tm_ingested", "tm_validated").collect()}

    table = TxnTable(spark, f"{wh_txn}/games_txn")
    assert rows(table.snapshot()) == rows(spark.read.parquet(f"{wh_swap}/games"))
    ops = [h["op"] for h in table.history()]
    # run 1: ingest merge, then the WHOLE cleaning batch (validation
    # delete of 2 invalid + clean-update merge) as ONE txn commit —
    # the reference's session-commit boundary — then the flag merge;
    # run 2: same shape (its txn carries only the clean-update; nothing
    # is invalid so delete_keys records no statement)
    assert ops == ["create", "merge", "txn", "merge",
                   "merge", "txn", "merge"]
    # time travel: before run 1's validation delete, the invalid rows exist
    assert table.snapshot(1).count() == 5  # all ingested rows, pre-clean


def test_pipeline_empty_source_dir(spark, tmp_path):
    src = tmp_path / "emptydump"
    src.mkdir()
    r = run_pipeline(spark, str(src), str(tmp_path / "wh0"))
    assert r.ingested == 0 and r.valid == 0 and r.deleted == 0


class _CountingFetch:
    """``_fetch`` that appends each requested key to a file. Fetches run
    in Python workers, so an in-process counter would see none of them."""

    def __init__(self, path):
        self.path = str(path)

    def __call__(self, k: str):
        with open(self.path, "a") as f:
            f.write(k + "\n")
        return _fetch(k)

    def counts(self) -> Counter:
        with open(self.path) as f:
            return Counter(f.read().split())


@pytest.mark.parametrize("transactional", [False, True])
def test_each_profile_key_fetched_once_per_run(spark, tmp_path, transactional):
    """One paced GET per profile key per run, as in the reference
    (``backfill_user_profiles.py:144-153``): the users write and the
    games flag write read one fetched result. A scheduler process that
    calls ``run_pipeline`` every run must not accumulate checkpointed
    tables either: no RDD a run persisted outlives it."""
    src1, src2 = tmp_path / "d1", tmp_path / "d2"
    src1.mkdir(), src2.mkdir()
    (src1 / "games.pgn").write_text(PGN_FIXTURE)
    (src2 / "more.pgn").write_text(RUN2_PGN)
    wh = str(tmp_path / "wh")

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    fetched = []
    for src in (src1, src2):  # the second run merges into an existing table
        fetch = _CountingFetch(tmp_path / f"fetched-{src.name}.txt")
        run_pipeline(spark, str(src), wh, fetch_profile=fetch, transactional=transactional)
        fetched.append(fetch.counts())
    assert {"user1", "user2", "user5"} <= set(fetched[0])
    assert {"user10", "user11"} <= set(fetched[1])
    for counts in fetched:
        assert set(counts.values()) == {1}, counts
    assert persisted() - before == set()


def _parquet_bytes(table_dir, skip=frozenset()) -> int:
    return sum(
        os.path.getsize(os.path.join(table_dir, f))
        for f in os.listdir(table_dir)
        if f.endswith(".parquet") and f not in skip
    )


def test_each_table_written_once_per_run(spark, tmp_path):
    """With a transport, a run writes the games table once, flags set,
    with no first write to read back and rewrite: the bytes the run's
    jobs wrote (the status store's per-stage output bytes, read as the
    benchmark reads them) are the bytes of the files it left in
    ``games``, in ``users`` and among its new ``games_rejected`` files."""
    from perfbench.measure import JobCounter

    src1, src2 = tmp_path / "d1", tmp_path / "d2"
    src1.mkdir(), src2.mkdir()
    (src1 / "games.pgn").write_text(PGN_FIXTURE)
    (src2 / "more.pgn").write_text(RUN2_PGN)
    wh = tmp_path / "wh"
    jobs = JobCounter(spark)
    for k, src in enumerate((src1, src2)):  # the second run has tables to read
        rejected = wh / "games_rejected"
        before = set(os.listdir(rejected)) if rejected.is_dir() else set()
        group = f"{tmp_path.name}-run-{k}"
        jobs.set_group(group)
        try:
            run_pipeline(spark, str(src), str(wh), fetch_profile=_fetch)
        finally:
            jobs.clear_group()
        jobs.counts(group)  # waits until the group's jobs have settled
        left = (
            _parquet_bytes(wh / "games")
            + _parquet_bytes(wh / "users")
            + _parquet_bytes(rejected, skip=before)
        )
        assert jobs.output_bytes(group) == left


def test_health_gate_raises_from_the_read_error(spark, tmp_path):
    """An unreadable games table fails the gate, and the error says why:
    a file that is not parquet fails its footer read."""
    from py4j.protocol import Py4JJavaError

    src = tmp_path / "dump"
    src.mkdir()
    (src / "games.pgn").write_text(PGN_FIXTURE)
    wh = tmp_path / "wh"
    (wh / "games").mkdir(parents=True)
    (wh / "games" / "part-00000.parquet").write_text("not a parquet file")
    with pytest.raises(RuntimeError, match="health gate failed") as exc:
        run_pipeline(spark, str(src), str(wh))
    assert isinstance(exc.value.__cause__, Py4JJavaError)
    assert "is not a Parquet file" in str(exc.value.__cause__)
