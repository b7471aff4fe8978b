"""Self-tests for the benchmark's own helpers; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import textwrap
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import measure  # noqa: E402
import pgngen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _batches(seed: int, n: int = 3) -> list[list[str]]:
    gen = pgngen.PgnGenerator(seed, 120)
    return [[g.text for g in gen.batch()] for _ in range(n)]


def test_generator_is_deterministic_per_seed():
    assert _batches(7) == _batches(7)
    assert _batches(7) != _batches(8)


def test_generator_mix_and_oracle():
    gen, oracle = pgngen.PgnGenerator(3, 200), pgngen.Oracle()
    first = gen.batch()
    second = gen.batch()
    assert len({g.id_game for g in second}) == 200
    seen_before = {g.id_game for g in first}
    assert sum(g.id_game in seen_before for g in second) == 20  # 10% re-seen
    assert sum(g.dirty for g in second) == 10  # 5% dirty
    r1, r2 = oracle.apply(first), oracle.apply(second)
    assert (r1.ingested, r1.deleted, r1.valid) == (200, 10, 190)
    # re-seen ids replace stored rows; only the new clean ids add
    assert (r2.ingested, r2.deleted, r2.valid) == (200, 10, 190 + 170)
    assert 0.7 < r1.keys_hit / r1.keys_requested < 0.9  # ~20% profile misses
    assert r1.users_added == r1.keys_hit


def test_profile_stub_is_pure():
    names = [f"s1p{i:05d}" for i in range(50)]
    assert [pgngen.fetch_profile(n) for n in names] == [pgngen.fetch_profile(n) for n in names]
    for n in names:
        body = pgngen.fetch_profile(n)
        assert (body is None) == (not pgngen.has_profile(n))
        if body is not None:
            assert json.loads(body)["id"] == n


def test_tail_percentile_rule():
    for n in range(0, 21):
        assert measure.tail_percentile(n) is None
    assert measure.tail_percentile(100) == 90
    assert measure.tail_percentile(1000) == 99
    for n in range(21, 2000):
        p = measure.tail_percentile(n)
        assert p is not None and p > 50
        assert n - math.ceil(p * n / 100) >= 10  # at least ten beyond it
        assert p == 99 or n - math.ceil((p + 1) * n / 100) < 10  # and it is the highest
    vals = [float(i) for i in range(1, 101)]
    assert measure.tail(vals) == {"percentile": 90, "value": 90.0, "n": 100}
    assert measure.tail(vals[:20]) is None


_DAEMON = textwrap.dedent(
    """
    import os, signal, sys, time
    signal.signal(signal.SIGCHLD, signal.SIG_IGN)  # kernel reaps children
    if os.fork() == 0:
        end = time.process_time() + 0.6
        while time.process_time() < end:
            pass
        os._exit(0)
    sys.stdout.write("forked\\n"); sys.stdout.flush()
    time.sleep(float(sys.argv[1]))
    """
)


def _children(pid: int) -> list[int]:
    return [p for p in measure.descendants(pid, measure._all_stats()) if p != pid]


def test_tree_cpu_survives_child_exit():
    """A worker reaped by the kernel (its parent ignores SIGCHLD, as
    Spark's Python daemon does) must not take its CPU out of the count."""
    daemon = subprocess.Popen(
        [sys.executable, "-c", _DAEMON, "5"], stdout=subprocess.PIPE, text=True
    )
    try:
        daemon.stdout.readline()
        cpu = measure.TreeCpu(daemon.pid)
        time.sleep(0.3)
        during = cpu.read()["total"]
        assert _children(daemon.pid), "worker exited before the first read"
        deadline = time.monotonic() + 10
        while len(_children(daemon.pid)) > 0 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert _children(daemon.pid) == [], "worker did not exit"
        assert cpu.read()["total"] >= during >= 0.2
    finally:
        daemon.kill()
        daemon.wait(timeout=10)


def test_tree_cpu_counts_waited_child_once():
    """A child its parent waits for moves into the parent's cutime; the
    counter must not add it a second time."""
    cpu = measure.TreeCpu(os.getpid())
    burner = subprocess.Popen(
        [sys.executable, "-c",
         "import time\nend=time.process_time()+0.6\nwhile time.process_time()<end: pass\ntime.sleep(0.5)"]
    )
    time.sleep(0.8)
    before = cpu.read()["total"]
    burner.wait(timeout=10)
    after = cpu.read()["total"]
    assert after >= before
    assert after - before < 0.4  # not counted twice


class _FakeJvm:
    def jit_ms(self) -> int:
        return 0

    gc_ms = codegen_compiles = jit_ms


def test_timed_loop_floor_deadline_and_exact():
    ctx = types.SimpleNamespace(jvm=_FakeJvm(), seconds=0.0)
    times, _, _ = workloads.timed_loop(ctx, lambda: 0.01, 2)
    assert len(times) == 2  # the floor holds even when --seconds is used up

    def op() -> float:
        time.sleep(0.05)
        return 0.05

    ctx.seconds = 0.3
    times, t0, t1 = workloads.timed_loop(ctx, op, 1)
    assert len(times) >= 5 and t1.minus(t0)["wall_s"] >= 0.3
    times, _, _ = workloads.timed_loop(ctx, op, 2, exact=True)
    assert len(times) == 2


def _burn(seconds: float) -> str:
    end = time.process_time() + seconds
    while time.process_time() < end:
        pass
    return "done"


def test_call_counts_only_the_program_call():
    w = workloads.Workload(types.SimpleNamespace(cpu=measure.TreeCpu(os.getpid())))
    out, dt = w.call(_burn, 0.3)
    _burn(0.3)  # benchmark work between calls
    assert out == "done" and dt >= 0.3
    assert 0.25 <= w.cpu["total"] < 0.5


def test_end_to_end_names_match_benchmark_json():
    result = workloads.Result(
        setup_s=1.0, items=10, op_times=[1.0, 2.0], timed_failed=0, attempted=2,
        failed=0, problems=[], phase={"cpu.total_s": 3.0}, peak_rss_mb=5.0, warmup={},
    )
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert set(run.end_to_end(result, units)) == set(units)


def test_per_layer_names_match_benchmark_json():
    produced = {
        *workloads.ETL_LAYER_METRICS,
        *workloads.QUERY_LAYER_METRICS,
        *workloads.STREAM_LAYER_METRICS,
        *run.JVM_LAYER_METRICS,
    }
    units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert set(units) == produced
    fake = types.SimpleNamespace(
        per_layer={"stream.wait_ms": 1.0},
        phase={"jit_ms": 1, "gc_ms": 1, "codegen_compiles": 1, "cpu.jvm_s": 1.0, "cpu.pyworker_s": 1.0},
    )
    metrics, idle = run.per_layer(fake, units)
    assert set(metrics) == produced
    assert "stream.wait_ms" not in idle and "pgn.parse_s" in idle
