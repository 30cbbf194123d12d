from nginx_log_spark.reports.reports import (  # noqa: F401
    REPORT_KEYS,
    bad_code_breakdown,
    bytes_by_request,
    hourly_traffic,
    time_local_to_ts,
    top_counts,
    totals,
)
