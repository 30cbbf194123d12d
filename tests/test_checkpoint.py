"""Resumable runs: crash -> restart skips completed units, output intact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nginx_log_spark.checkpoint import read_manifest, run_resumable
from nginx_log_spark.datagen import loggen

N = 2000


def test_resume_after_injected_failure(spark, tmp_path):
    base = str(tmp_path / "ckpt")
    seq = loggen.sequences_df(spark, N, partitions=4).cache()
    units = sorted(r[0] for r in seq.select("source").distinct().collect())
    assert units == ["cdn", "edge", "web-01", "web-02"]

    # crash before the third unit
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, seq, base, fail_on_unit=units[2])
    done = read_manifest(spark, f"{base}/_manifest")
    assert done == set(units[:2])

    # restart: completes the rest without reprocessing finished units
    manifest = run_resumable(spark, seq, base)
    rows = {r["unit"]: r for r in manifest.collect()}
    assert set(rows) == set(units)
    first_run_ids = {rows[u]["run_id"] for u in units[:2]}
    second_run_ids = {rows[u]["run_id"] for u in units[2:]}
    assert first_run_ids.isdisjoint(second_run_ids)  # units 0-1 not redone

    # output complete and exactly-once
    routed = spark.read.parquet(f"{base}/routed")
    rejects = spark.read.parquet(f"{base}/rejects")
    assert routed.count() + rejects.count() == N
    assert routed.select("doc_id").distinct().count() == routed.count()

    # metrics carried per unit
    total = sum(r["rows"] for r in rows.values())
    assert total == N

    # idempotent rerun: everything already done -> no new work, same counts
    manifest2 = run_resumable(spark, seq, base)
    assert manifest2.count() == manifest.count()
    assert spark.read.parquet(f"{base}/routed").count() == routed.count()
    seq.unpersist()


def test_lineage_columns(spark, tmp_path):
    base = str(tmp_path / "ckpt2")
    seq = loggen.sequences_df(spark, 500, partitions=2)
    run_resumable(spark, seq, base)
    routed = spark.read.parquet(f"{base}/routed")
    assert {"run_id", "lineage_unit", "lineage_part"} <= set(routed.columns)
    assert routed.filter(F.col("lineage_unit") != F.col("source")).count() == 0


def test_corrupt_manifest_fails_loudly(spark, tmp_path):
    """An unreadable manifest must raise before any unit runs: reading it
    as "no units done" would re-run every unit and append duplicate
    manifest rows."""
    base = tmp_path / "ckpt3"
    (base / "_manifest").mkdir(parents=True)
    (base / "_manifest" / "part-00000-corrupt.parquet").write_bytes(b"not parquet")
    seq = loggen.sequences_df(spark, 200, partitions=2)
    with pytest.raises(Exception, match="not a Parquet file"):
        run_resumable(spark, seq, str(base))
    assert not (base / "routed").exists()
