"""Benchmark entry point.

    python3 perfbench/run.py --workload pgn_etl --seed 1 --seconds 8 --trace 0

Run from the repository root. Builds the workload's seeded inputs,
starts one Spark session of a fixed shape, warms up, times ops for
``--seconds`` with tracing off (``--trace 0``) or adds the traced
per-layer pass (``--trace 1``), checks every output, and prints two
JSON lines: a report with every setting and sample count, then the
result line ``{"correct", "attempted", "failed", "metrics"}``.

Each run works in a private directory under ``.perfbench_run/`` that it
removes on exit, and it stops the JVM and every Python worker it
started before printing the result.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

# Session shape: two task slots leave two of four cores to JVM GC/JIT,
# the Python driver and the Python workers.
MASTER = "local[2]"
ENV = {
    "SPARK_GRAFT_SHUFFLE": "4",
    "SPARK_GRAFT_DRIVER_MEM": "1g",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(root: str) -> dict[str, str]:
    """Point every temp, warehouse and spill location at ``root`` and let
    Spark's Python workers import the package and the stub transport."""
    dirs = {k: os.path.join(root, k) for k in ("tmp", "warehouse", "spark-local")}
    for d in dirs.values():
        os.makedirs(d)
    env = dict(ENV)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (REPO, HERE, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        TMPDIR=dirs["tmp"],
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    )
    os.environ.update(env)
    return env


def git_sha() -> str | None:
    """HEAD's commit, or None outside a git checkout. ``GIT_DIR`` keeps
    git from looking above the checkout."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=30,
            env={**os.environ, "GIT_DIR": os.path.join(REPO, ".git")},
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until every process
    below this one has ended."""
    from pyspark import SparkContext

    import measure

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    me = os.getpid()
    deadline = time.monotonic() + 30
    while True:
        left = [p for p in measure.descendants(me, measure._all_stats()) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def end_to_end(result, units: dict) -> dict:
    n_timed = len(result.op_times)
    values = {
        "setup_s": result.setup_s,
        "items_per_s": result.items / sum(result.op_times),
        "op_p50_s": statistics.median(result.op_times),
        "cpu_ms_per_item": 1000.0 * result.phase["cpu.total_s"] / result.items,
        "peak_rss_mb": result.peak_rss_mb,
        "ok_frac": (n_timed - result.timed_failed) / n_timed,
    }
    return {k: {"value": values[k], "unit": units[k]} for k in units}


# session/JVM counters over the timed phase -> key in Result.phase
JVM_LAYER_METRICS = {
    "jvm.jit_ms": "jit_ms",
    "jvm.gc_ms": "gc_ms",
    "jvm.codegen_compiles": "codegen_compiles",
    "cpu.jvm_s": "cpu.jvm_s",
    "cpu.pyworker_s": "cpu.pyworker_s",
}


def per_layer(result, units: dict) -> tuple[dict, list[str]]:
    values = dict(result.per_layer)
    values.update({k: result.phase[v] for k, v in JVM_LAYER_METRICS.items()})
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a layer this workload never calls did no work here
    idle = sorted(k for k in units if k not in values)
    return {k: {"value": float(values.get(k, 0.0)), "unit": units[k]} for k in units}, idle


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    t0 = time.perf_counter()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; expected one of {names}", file=sys.stderr)
        return 2
    spec = importlib.util.find_spec("knightshift_spark")
    if spec is None or not (spec.origin or "").startswith(REPO + os.sep):
        print("knightshift_spark is not importable from the checkout", file=sys.stderr)
        return 2

    import measure
    import workloads

    root = os.path.join(REPO, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = isolate(root)
    spark = None
    try:
        from knightshift_spark.session import RUNTIME_CONFS, get_spark

        spark = get_spark("perfbench", master=MASTER)
        jvm = measure.Jvm(spark)
        ctx = workloads.Ctx(
            spark=spark,
            root=root,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            jvm=jvm,
            cpu=measure.TreeCpu(os.getpid(), jvm.pid),
            jobs=measure.JobCounter(spark),
        )
        result = workloads.WORKLOADS[args.workload](ctx).run(t0)
        confs = {k: spark.conf.get(k) for k in sorted(RUNTIME_CONFS)}
        confs["spark.master"] = spark.sparkContext.master
        confs["spark.driver.memory"] = spark.sparkContext.getConf().get("spark.driver.memory")
        confs["defaultParallelism"] = spark.sparkContext.defaultParallelism
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass

    if args.trace:
        metrics, idle = per_layer(result, {m["name"]: m["unit"] for m in bench["per_layer"]})
    else:
        metrics, idle = end_to_end(result, {m["name"]: m["unit"] for m in bench["end_to_end"]}), []
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_sha": git_sha(),
        "nproc": os.cpu_count(),
        "env": env,
        "confs": confs,
        "warmup": result.warmup,
        "timed_ops": len(result.op_times),
        "op_s": [round(t, 4) for t in result.op_times],
        "op_tail_s": measure.tail(result.op_times),
        "phase": {k: round(v, 4) for k, v in result.phase.items()},
        "layers_not_exercised": idle,
        "info": result.info,
        "spans": ctx.tracer.dump(),
        "problems": result.problems,
    }
    print(json.dumps(report, default=str), flush=True)
    print(
        json.dumps(
            {
                "correct": not result.problems,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
