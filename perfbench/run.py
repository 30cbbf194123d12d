#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds its seeded inputs (cached
under ``.perfbench/``), starts a warmed session on ``local[<cores>]`` and
times the session's first operation, as the CLI and the job each run one
per process. If that took less than ``--seconds``, further operations run
until ``--seconds`` have passed. Every output is checked. The last stdout
line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``records_per_s``
from the first operation's wall time, ``setup_s``). With ``--trace 1`` the
first operation is traced and the metrics are the per-layer ones; the
spans go to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
MIN_OPS = 3
# a traced run starts no further local[1] operation after this many seconds,
# so it ends well inside the 180 s a run may take
SINGLE_CORE_BUDGET_S = 120
END_TO_END = {"records_per_s": "1/s", "setup_s": "s"}
# the driver JVM holds every executor thread in local mode; this is far
# above what the inputs need and far below the box's memory
DRIVER_MEM = "3g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_environment() -> None:
    """Keep every file the run writes, including the JVM's and the Python
    workers' temporary files, inside the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))


def start_session(master: str):
    from nginx_log_spark.session import get_spark

    return get_spark(
        app="perfbench",
        master=master,
        extra={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait until the JVM and every
    process under it (the Python worker daemon and its workers) have exited."""
    from pyspark import SparkContext

    from spans import process_tree

    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while (alive := [p for p in started if _running(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive:
        os.kill(pid, signal.SIGKILL)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Runner:
    """Runs and checks operations, counting attempts and failures."""

    def __init__(self, bench, tracer):
        self.bench = bench
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.traced: list[dict[str, float]] = []

    def one(self, reader=None) -> float:
        i = self.attempted
        self.attempted += 1
        self.tracer.run = f"op{i}"
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{self.bench.name}") as op:
                out = self.bench.op(self.tracer, i)
            wall = time.perf_counter() - t0
            problems = self.bench.check(out)
        except Exception:
            wall = time.perf_counter() - t0
            problems = [traceback.format_exc()]
        if problems:
            self.failed += 1
            log(f"op {i} FAILED: " + "; ".join(problems))
        else:
            log(f"op {i} ok in {wall:.3f} s")
            if reader is not None:
                from workloads import spark_figures

                op.counts = (
                    self.bench.layer_figures(reader, self.tracer, op, out)
                    | spark_figures(reader, self.tracer, op)
                )
                self.traced.append(op.counts)
        self.bench.cleanup(i)
        return wall

    def loop(self, seconds: float) -> list[float]:
        """At least one operation, then more until ``seconds`` have passed."""
        walls: list[float] = []
        end = time.perf_counter() + seconds
        while not walls or time.perf_counter() < end:
            walls.append(self.one())
        return walls


def session_figures(reader, setup_s: float) -> dict[str, float]:
    """Split set-up into JVM/context start and the session warm-up jobs
    (the only jobs that ran before the benchmark's first call)."""
    jobs = reader.job_ids(None)
    spans = [reader.job_interval(j) for j in jobs]
    warm = max(e for _, e in spans) - min(s for s, _ in spans) if spans else 0.0
    return {"session.start_s": setup_s - warm, "session.warm_s": warm}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "nginx_log_spark").is_dir():
        log(f"no nginx_log_spark package under {ROOT}: run from a checkout of the repository")
        return 2
    prepare_environment()
    from workloads import LAYER_METRICS, WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    bench = WORKLOADS[args.workload](WORK, args.seed)
    metrics, runner = run(bench, args.seconds, bool(args.trace), args.seed)
    units = LAYER_METRICS if args.trace else END_TO_END
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        # a layer the workload does not run reports 0
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def run(bench, seconds: float, trace: bool, seed: int) -> tuple[dict[str, float], Runner]:
    from spans import RssSampler, StatusReader, Tracer

    with RssSampler() if trace else contextlib.nullcontext() as sampler:
        t0 = time.perf_counter()
        spark = start_session(f"local[{len(os.sched_getaffinity(0))}]")
        setup_s = time.perf_counter() - t0
        log(f"session ready in {setup_s:.3f} s")
        try:
            if trace:
                reader = StatusReader(spark)
                out = session_figures(reader, setup_s)
            tracer = Tracer(spark.sparkContext, enabled=trace)
            runner = Runner(bench, tracer)
            bench.prepare(spark)
            if not trace:
                # the measured operation is the session's first, as the CLI
                # and the job each run one per process
                walls = runner.loop(seconds)
                return {"records_per_s": bench.records / walls[0], "setup_s": setup_s}, runner

            runner.one(reader)  # the measured operation, traced
            out |= runner.traced[0] if runner.traced else {}
            # tracing overhead, on warm operations: untraced, traced, untraced
            walls: dict[bool, list[float]] = {False: [], True: []}
            for enabled in (False, True, False):
                tracer.enabled = enabled
                walls[enabled].append(runner.one(reader if enabled else None))
            tracer.enabled = False
            warm = statistics.mean(walls[False])
            out["trace.overhead_s"] = walls[True][0] - warm

            # the single-core baseline: the same operation on local[1], in
            # the JVM the local[N] operations already warmed
            spark.stop()
            spark = start_session("local[1]")
            bench.prepare(spark)
            single = [runner.one()]
            while len(single) < MIN_OPS and time.perf_counter() - t0 < SINGLE_CORE_BUDGET_S:
                single.append(runner.one())
            out["spark.scaling_1toN"] = statistics.median(single) / warm

            out["session.peak_rss_mb"] = sampler.peak / 2**20
            tracer.write(
                WORK / "traces" / f"{bench.name}-seed{seed}.json",
                {"workload": bench.name, "seed": seed, "setup_s": setup_s, "metrics": out},
            )
            return out, runner
        finally:
            stop_session(spark)


if __name__ == "__main__":
    sys.exit(main())
