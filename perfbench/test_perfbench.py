"""The benchmark's own tests.

    python -m pytest perfbench -q -p no:cacheprovider

Every workload passes its output checks at a tiny size, and a corrupted
expected output counts as a failed operation, so the checks can fail.
"""

from __future__ import annotations

import dataclasses
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import run  # noqa: E402  (importing the entry module starts nothing)

TINY = {"ingest": {"rows": 3000}, "near_dup": {"docs": 400}}


@pytest.fixture(scope="module")
def spark():
    run.prepare_environment()
    s = run.start_session("local[2]")
    yield s
    run.stop_session(s)


def _bench(name: str, work: Path, spark):
    from workloads import WORKLOADS

    bench = WORKLOADS[name](work, 3, **TINY[name])
    bench.prepare(spark)
    return bench


@pytest.mark.parametrize("name", sorted(TINY))
def test_tiny_workload_passes_every_check(spark, tmp_path, name):
    from spans import StatusReader, Tracer
    from workloads import LAYER_METRICS

    bench = _bench(name, tmp_path, spark)
    tracer = Tracer(spark.sparkContext, enabled=True)
    runner = run.Runner(bench, tracer)
    runner.one(StatusReader(spark))
    assert (runner.attempted, runner.failed) == (1, 0)
    figures = runner.traced[0]
    assert set(figures) <= set(LAYER_METRICS)
    assert figures["spark.jobs"] > 0 and figures["spark.executor_run_s"] > 0
    if name == "ingest":
        assert figures["route.rows_routed"] + figures["route.rows_rejected"] == TINY[name]["rows"]
        assert figures["parse.python_s"] > 0 and figures["route.files"] > 0
    else:
        assert figures["dedup.pairs"] == len(bench.fx.pairs) > 0
        assert figures["dedup.candidate_rows"] >= figures["dedup.pairs"]
    op = next(s for s in tracer.spans if s.parent is None)
    assert tracer.children(op) and 0 <= tracer.self_time(op) <= op.wall


@pytest.mark.parametrize("name", sorted(TINY))
def test_corrupted_expected_output_is_a_failed_op(spark, tmp_path, name):
    from spans import Tracer

    bench = _bench(name, tmp_path, spark)
    if name == "ingest":
        bench.fx = dataclasses.replace(bench.fx, report=bench.fx.report.replace("%", "!", 1))
    else:
        bench.fx = dataclasses.replace(bench.fx, pairs=frozenset(sorted(bench.fx.pairs)[1:]))
    runner = run.Runner(bench, Tracer(spark.sparkContext, enabled=False))
    runner.one()
    assert (runner.attempted, runner.failed) == (1, 1)


def test_exact_pairs_match_the_jaccard_definition():
    from fixtures import THRESHOLD, exact_pairs, make_texts, shingles

    texts = make_texts(120, 9)
    want = set()
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            a, b = shingles(texts[i]), shingles(texts[j])
            if len(a & b) / len(a | b) >= THRESHOLD:
                want.add((i, j))
    assert want and exact_pairs(texts) == want


def test_document_model_matches_the_measured_table():
    """At the table's size the generator reproduces what was measured on
    the test data's `documents` table (README.md)."""
    from fixtures import doc_stats, make_texts

    got = doc_stats(make_texts(5000, 1))
    assert (got["base_words_min"], got["base_words_max"]) == (10, 99)
    assert (got["vocabulary"], got["copies"]) == (30, 250)
    assert 240 <= got["pairs"] <= 270  # the table has 256
    assert got["word_freq_max_over_min"] < 1.1
    assert got["docs_per_shingle_p50"] == pytest.approx(291, rel=0.05)
    assert got["docs_per_shingle_p90"] == pytest.approx(809, rel=0.05)
    assert got["shingles_per_doc"] == pytest.approx(204.3, rel=0.03)


def test_metric_text_parsing():
    from spans import covered, metric_stage, metric_total

    per_task = "total (min, med, max (stageId: taskId))\n6.1 s (1.5 s, 1.6 s, 1.6 s (stage 13.0: task 30))"
    assert metric_total(per_task) == pytest.approx(6.1)
    assert metric_stage(per_task) == 13
    assert metric_total("20,000") == 20000
    assert metric_total("2.5 KiB") == 2560
    assert metric_total("378 ms") == pytest.approx(0.378)
    assert covered([(0, 2), (1, 3), (5, 9)], 0, 6) == 4


def test_benchmark_json_lists_the_printed_metrics():
    from workloads import LAYER_METRICS, WORKLOADS

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_METRICS
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    command = json.loads((tmp_path / "BENCHMARK.json").read_text())["command"]
    proc = subprocess.run(
        command + ["--workload", "ingest", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""
