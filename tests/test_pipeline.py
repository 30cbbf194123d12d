"""run_pipeline's contract with its callers."""

from __future__ import annotations

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
