"""Per-partition lineage, metrics, and resumable runs (north-rule).

The unit of resume is a LOGICAL partition of the input (here: ``source``;
at 10^12 rows it would be (source, dt-hour) Iceberg partitions). For each
unit we:

1. process it with a lineage id stamped on every row,
2. write its sinks idempotently (dynamic partition overwrite — rerunning a
   unit replaces exactly its own output),
3. append a manifest row carrying parse/route counts (the metrics), and
4. on restart, skip units already in the manifest.

This is checkpointing at the data layer, not Spark's RDD checkpoint: it
survives driver loss, works across cluster sizes, and the manifest doubles
as the per-partition metrics table the north-star asks for.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nginx_log_spark.fsutil import read_parquet_or_empty


def with_lineage(df: DataFrame, run_id: str, unit: str) -> DataFrame:
    """Stamp rows with (run_id, lineage unit, physical partition id)."""
    return (
        df.withColumn("run_id", F.lit(run_id))
        .withColumn("lineage_unit", F.lit(unit))
        .withColumn("lineage_part", F.spark_partition_id())
    )


def _metric_aggs() -> list[Column]:
    """The parse metrics (rows, accepted, rejected, bytes_sent) of a parsed
    frame, shared by the per-partition table and the per-unit manifest."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("valid").cast("long")).alias("accepted"),
        F.sum((~F.col("valid")).cast("long")).alias("rejected"),
        F.sum(F.coalesce(F.col("body_bytes_sent"), F.lit(0))).alias("bytes_sent"),
    ]


def partition_metrics(parsed: DataFrame) -> DataFrame:
    """Per physical-partition parse metrics (rows, accepted, rejected, bytes)
    — computed as a plain aggregation, no driver collection of row data."""
    return parsed.groupBy(F.spark_partition_id().alias("part_id")).agg(*_metric_aggs())


def read_manifest(spark: SparkSession, manifest_path: str) -> set[str]:
    """Units already completed. No manifest yet (first run) is the empty
    set; an unreadable one raises — treating it as empty would re-run every
    unit and append duplicate manifest rows."""
    manifest = read_parquet_or_empty(spark, manifest_path, "unit string")
    return {r["unit"] for r in manifest.select("unit").collect()}


def run_resumable(
    spark: SparkSession,
    seq: DataFrame,
    base_path: str,
    units: list[str] | None = None,
    unit_col: str = "source",
    fail_on_unit: str | None = None,
) -> DataFrame:
    """Parse+route every pending unit; returns the manifest DataFrame.

    ``fail_on_unit`` injects a mid-run failure (tests). Rerunning after a
    crash reprocesses only pending units; completed output is untouched
    (idempotent via per-unit dynamic partition overwrite).
    """
    from nginx_log_spark.parse import parse_sequences
    from nginx_log_spark.route import split_rejects, with_status_class

    manifest_path = f"{base_path}/_manifest"
    done = read_manifest(spark, manifest_path)
    if units is None:
        units = [r[0] for r in seq.select(unit_col).distinct().collect()]
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    run_id = uuid.uuid4().hex[:12]
    for unit in sorted(units):
        if unit in done:
            continue
        if fail_on_unit is not None and unit == fail_on_unit:
            raise RuntimeError(f"injected failure before unit {unit}")
        part = seq.filter(F.col(unit_col) == unit)
        parsed = with_lineage(
            with_status_class(parse_sequences(part)), run_id, unit
        ).cache()
        try:
            accepted, rejects = split_rejects(parsed)
            # partitioned by unit value => overwrite replaces only this unit
            accepted.withColumn("_unit", F.lit(unit)).write.mode("overwrite").partitionBy(
                "_unit", "status_class"
            ).parquet(f"{base_path}/routed")
            rejects.withColumn("_unit", F.lit(unit)).write.mode("overwrite").partitionBy(
                "_unit"
            ).parquet(f"{base_path}/rejects")
            m = (
                parsed.agg(*_metric_aggs())
                .withColumn("unit", F.lit(unit))
                .withColumn("run_id", F.lit(run_id))
                .withColumn("completed_at", F.lit(time.time()))
            )
            m.write.mode("append").parquet(manifest_path)
        finally:
            parsed.unpersist()
    return spark.read.parquet(manifest_path)
