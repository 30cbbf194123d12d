"""run_pipeline's contract with its callers."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from nginx_log_spark.datagen import loggen
from nginx_log_spark.pipeline import run_pipeline


def test_run_pipeline_without_sinks_starts_no_job(spark):
    """Without out_base every result frame is lazy: the caller decides
    which of parsed, accepted, rejects and metrics to run."""
    sc = spark.sparkContext
    seq = loggen.sequences_df(spark, 500, partitions=2)
    group = "test_run_pipeline_without_sinks_starts_no_job"
    sc.setJobGroup(group, "run_pipeline laziness probe")
    try:
        before = len(sc.statusTracker().getJobIdsForGroup(group))
        res = run_pipeline(spark, seq)
        after = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    res.parsed.unpersist()
    assert after - before == 0


def test_run_pipeline_frames_read_the_committed_sinks(spark, tmp_path):
    """With out_base the result frames read the written sinks: the lazy
    parse's columns, order and types (a numeric-looking source stays a
    string), the same rows with their tokens, and metrics that add up."""
    seq = loggen.sequences_df(spark, 500, partitions=2).withColumn("source", F.lit("2024"))
    lazy = run_pipeline(spark, seq).parsed
    res = run_pipeline(spark, seq, str(tmp_path / "out"))

    def types(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    def rows(df):
        return Counter(
            tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()
        )

    assert types(res.parsed) == types(lazy)
    want = rows(lazy)
    assert rows(res.parsed) == want
    assert {r["source"] for r in res.parsed.select("source").collect()} == {"2024"}

    n_valid = lazy.filter(F.col("valid")).count()
    assert n_valid and n_valid < 500  # both sinks are written
    m = res.metrics.collect()
    got = tuple(sum(r[c] for r in m) for c in ("rows", "accepted", "rejected"))
    assert got == (500, n_valid, 500 - n_valid)
