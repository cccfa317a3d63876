from .cleaning import (
    REF_TIMESTAMP_FORMAT,
    clean_numeric_de,
    clean_numeric_ref,
    parse_timestamp_ref,
)
from .timefeat import TIME_FEATURES, add_time_features
from .text import (
    punct_ratio,
    sha_fingerprint,
    token_count_regex,
    tokenize,
)
from .vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "REF_TIMESTAMP_FORMAT",
    "clean_numeric_de",
    "clean_numeric_ref",
    "parse_timestamp_ref",
    "TIME_FEATURES",
    "add_time_features",
    "tokenize",
    "token_count_regex",
    "punct_ratio",
    "sha_fingerprint",
    "cosine_similarity",
    "dot",
    "l2_norm",
]
