from insurance_helper_spark.operators import (
    corpus,
    dedup,
    incremental,
    scd,
    similarity,
    skew,
    state,
)

__all__ = [
    "corpus", "dedup", "incremental", "scd", "similarity",
    "skew", "state",
]
