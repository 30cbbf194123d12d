from nginx_log_spark.parse.arrow_parser import (  # noqa: F401
    STRICT_PATTERN,
    parse_lines_arrow,
    parse_sequences_arrow,
    parse_tier_stats,
    token_histogram,
)
# parser.py is the spec + codecs; the engine is arrow_parser (RE2 strict
# tier + the spec's exact-atomic-regex fallback)
from nginx_log_spark.parse.parser import (  # noqa: F401
    CORE_PATTERN,
    PARSED_FIELDS,
    decode_tokens,
)
from nginx_log_spark.parse.text_source import (  # noqa: F401
    codec_splittable,
    read_log_lines,
)

parse_sequences = parse_sequences_arrow
parse_lines = parse_lines_arrow
