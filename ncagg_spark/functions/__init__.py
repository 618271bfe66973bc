from ncagg_spark.functions.hashing import hash64
from ncagg_spark.functions.time import (
    cf_to_timestamp,
    parse_partial_datetime,
    timestamp_to_cf,
)
from ncagg_spark.functions.vectors import dot, l2_norm

__all__ = [
    "hash64",
    "cf_to_timestamp",
    "timestamp_to_cf",
    "parse_partial_datetime",
    "dot",
    "l2_norm",
]
