#!/usr/bin/env python
"""Where one benchmark operation's seconds go: span -> job -> stage.

Runs the benchmark's first operation cold, exactly as
``perfbench/run.py --trace 0`` times it (same fixtures, same warmed
``local[<cores>]`` session, built with perfbench's own helpers), with its
spans tagging their Spark jobs. It then prints, for every span, each job
it ran and each stage of that job: tasks, wall, executor run, CPU and GC
seconds, input bytes and shuffle read/write bytes.

Usage (from the repository root):

    python tools/stage_breakdown.py --workload ingest --seed 1
    python tools/stage_breakdown.py --workload near_dup --seed 3
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "perfbench"))

import run as perfbench  # noqa: E402  (perfbench/run.py)


def _stage_rows(reader, job_id: int) -> list[dict]:
    """Completed stages of one job, from the app status store."""
    from spans import _ms, _seq

    ids = {int(s) for s in _seq(reader.app.job(job_id).stageIds())}
    gw = reader.gateway
    listed = reader.app.stageList(gw.jvm.java.util.ArrayList(), False, False,
                                  gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList())
    rows = []
    for st in _seq(listed):
        if st.stageId() not in ids or str(st.status()) != "COMPLETE":
            continue
        rows.append({
            "stage": st.stageId(),
            "tasks": st.numTasks(),
            "wall_s": _ms(st.completionTime()) - _ms(st.submissionTime()),
            "run_s": st.executorRunTime() / 1e3,
            "cpu_s": st.executorCpuTime() / 1e9,
            "gc_s": st.jvmGcTime() / 1e3,
            "input_b": st.inputBytes(),
            "shuffle_read_b": st.shuffleReadBytes(),
            "shuffle_write_b": st.shuffleWriteBytes(),
        })
    return sorted(rows, key=lambda r: r["stage"])


def _mb(n: int) -> str:
    return f"{n / 2**20:8.2f}"


def report(reader, tracer) -> list[str]:
    out = [
        f"{'':6}{'stage':>6} {'tasks':>6} {'wall s':>7} {'run s':>7} {'cpu s':>7} "
        f"{'gc s':>6} {'in MB':>8} {'shr MB':>8} {'shw MB':>8}"
    ]
    depth = {}
    jobs_total = 0
    for s in tracer.spans:
        depth[s.id] = depth[s.parent] + 1 if s.parent is not None else 0
        jobs = reader.job_ids(s.group)
        jobs_total += len(jobs)
        out.append(f"{'  ' * depth[s.id]}{s.name}: {s.wall:.3f} s wall, {len(jobs)} jobs")
        for j in jobs:
            start, end = reader.job_interval(j)
            out.append(f"{'  ' * depth[s.id]}  job {j}: {end - start:.3f} s")
            for r in _stage_rows(reader, j):
                out.append(
                    f"{'':6}{r['stage']:>6} {r['tasks']:>6} {r['wall_s']:>7.3f} {r['run_s']:>7.3f} "
                    f"{r['cpu_s']:>7.3f} {r['gc_s']:>6.3f} {_mb(r['input_b'])} "
                    f"{_mb(r['shuffle_read_b'])} {_mb(r['shuffle_write_b'])}"
                )
    out.append(f"{jobs_total} jobs")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "near_dup"))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)

    perfbench.prepare_environment()
    from spans import StatusReader, Tracer
    from workloads import WORKLOADS

    bench = WORKLOADS[args.workload](perfbench.WORK, args.seed)
    spark = perfbench.start_session(f"local[{len(os.sched_getaffinity(0))}]")
    try:
        reader = StatusReader(spark)
        tracer = Tracer(spark.sparkContext, enabled=True)
        bench.prepare(spark)
        runner = perfbench.Runner(bench, tracer)
        wall = runner.one()
        lines = report(reader, tracer)
    finally:
        perfbench.stop_session(spark)
    print("\n".join(lines))
    print(f"first operation: {wall:.3f} s, {'FAILED' if runner.failed else 'checked ok'}")
    return 1 if runner.failed else 0


if __name__ == "__main__":
    sys.exit(main())
