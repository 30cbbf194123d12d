from nginx_log_spark.route.bucketed import (  # noqa: F401
    bucketed_join,
    write_bucketed,
)
from nginx_log_spark.route.compact import (  # noqa: F401
    compact_sink,
    partition_file_stats,
)
from nginx_log_spark.route.router import (  # noqa: F401
    detect_hot_keys,
    fan_out_write,
    iceberg_catalog_available,
    iceberg_fan_out,
    read_sinks,
    salted_count,
    salted_join,
    split_rejects,
    with_status_class,
)
