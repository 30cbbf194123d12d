"""End-to-end pipeline: read -> parse -> enrich -> route -> aggregate.

The Spark restatement of the reference's single fused pass (c/main.c:407-478):
one scan feeds parse and the fan-out write. The sinks are the
materialization: every result frame — the parsed rows, accepted, rejects,
the metrics and the report (``render_full_report`` over ``parsed``, one
fused query) — reads the committed output directory, so later scans read
pruned parquet columns instead of re-running the parse or holding a
second in-memory copy of it.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from nginx_log_spark.checkpoint import partition_metrics
from nginx_log_spark.enrich import default_cidr_table, enrich_geoip, enrich_ua
from nginx_log_spark.parse import parse_sequences
from nginx_log_spark.route import fan_out_write, read_sinks, split_rejects, with_status_class


@dataclass
class PipelineResult:
    parsed: DataFrame
    accepted: DataFrame
    rejects: DataFrame
    metrics: DataFrame
    sinks: dict[str, str] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession, seq: DataFrame, out_base: str | None = None
) -> PipelineResult:
    """seq: (doc_id, tokens, n_tok, source).

    With ``out_base`` the parse runs once, in the sink write, and every
    result frame reads the written sinks (same columns, order and types as
    the lazy parse). Without it no Spark job runs: every result frame is
    the lazy parse."""
    parsed = with_status_class(parse_sequences(seq))
    sinks: dict[str, str] = {}
    if out_base:
        sinks = fan_out_write(parsed, out_base)
        parsed = read_sinks(spark, out_base, parsed.schema)
    accepted, rejects = split_rejects(parsed)
    accepted = enrich_ua(enrich_geoip(accepted, default_cidr_table(), spark=spark))
    return PipelineResult(
        parsed=parsed, accepted=accepted, rejects=rejects,
        metrics=partition_metrics(parsed), sinks=sinks,
    )
