"""End-to-end pipeline: read -> parse -> enrich -> route -> aggregate.

The Spark restatement of the reference's single fused pass (c/main.c:407-478):
one scan feeds parse; the parsed intermediate is persisted once and fans out
to the routed sinks, the metrics and the report (``render_full_report``
over ``parsed``, one fused job) — the multi-aggregate sharing the C code
gets from hand fusion, we get from ``persist``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from nginx_log_spark.checkpoint import partition_metrics
from nginx_log_spark.enrich import default_cidr_table, enrich_geoip, enrich_ua
from nginx_log_spark.parse import parse_sequences
from nginx_log_spark.route import fan_out_write, split_rejects, with_status_class


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
    """seq: (doc_id, tokens, n_tok, source). Writes sinks iff out_base given;
    otherwise runs no Spark job (every result frame is lazy)."""
    parsed = with_status_class(parse_sequences(seq)).persist()
    accepted, rejects = split_rejects(parsed)
    accepted = enrich_ua(enrich_geoip(accepted, default_cidr_table(), spark=spark))
    res = PipelineResult(
        parsed=parsed, accepted=accepted, rejects=rejects,
        metrics=partition_metrics(parsed),
    )
    if out_base:
        res.sinks = fan_out_write(parsed, out_base)
    return res
