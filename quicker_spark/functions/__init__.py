from quicker_spark.functions.codec import (
    varbyte_encode,
    varbyte_decode,
    delta_encode,
    delta_decode,
)
from quicker_spark.functions.tokenize import TOKEN_RE, tokenize_col

__all__ = [
    "varbyte_encode",
    "varbyte_decode",
    "delta_encode",
    "delta_decode",
    "TOKEN_RE",
    "tokenize_col",
]
