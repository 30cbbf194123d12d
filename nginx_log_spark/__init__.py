"""nginx_log_spark — a PySpark-native log/telemetry analytics engine.

A from-scratch rebuild of the query surface of ``suconghou/nginx_log``
(single-pass nginx access-log analyzer, reference at /root/reference) as an
idiomatic Spark pipeline:

    tokenized sequences (doc_id, tokens:array<int32>, n_tok, source)
        -> vectorized parse (Arrow mapInArrow, byte-exact C parity)
        -> enrich (broadcast GeoIP/CIDR range join, UA classification)
        -> route (status-class x source fan-out sinks, rejects sink)
        -> aggregate reports (groupBy / window top-K, the reference's 11 reports)

plus the training-data operators a 100 TB pipeline needs (dedup, similarity
search, text stats, multimodal plumbing) under ``nginx_log_spark.functions``.

Everything is DataFrame-first: Catalyst plans the physical execution; Python
only runs inside Arrow-batched UDFs (never per-row).
"""

__version__ = "0.1.0"
