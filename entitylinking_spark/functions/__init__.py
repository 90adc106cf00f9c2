"""Scalar/vector kernels. Everything JVM-native where Spark has the
expression; Arrow-batched pandas UDFs otherwise (never per-row Python UDFs).
"""

from entitylinking_spark.functions.hashing import (  # noqa: F401
    band_keys,
    minhash_similarity,
)
from entitylinking_spark.functions.strings import (  # noqa: F401
    jaro_winkler_udf,
    normalize_ws,
    tokenize,
    levenshtein_sim,
    name_match_score,
)
