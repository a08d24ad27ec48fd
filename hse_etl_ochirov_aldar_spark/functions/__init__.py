from .cleaning import (
    coalesce_multi_format_timestamp,
    decimal_comma_to_double,
    epoch_diff_hours,
    epoch_diff_minutes,
    month_of,
    safe_array_size,
)
from .url import canonicalize_url, registrable_domain, url_host
from .text import (
    bpe_token_count,
    char_fingerprint,
    predicted_lang,
    token_count,
    word_shingles,
)

__all__ = [
    "canonicalize_url",
    "registrable_domain",
    "url_host",
    "coalesce_multi_format_timestamp",
    "decimal_comma_to_double",
    "epoch_diff_hours",
    "epoch_diff_minutes",
    "month_of",
    "safe_array_size",
    "bpe_token_count",
    "char_fingerprint",
    "predicted_lang",
    "token_count",
    "word_shingles",
]
