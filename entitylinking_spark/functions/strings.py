"""String kernels.

JVM-native where Spark has the expression (levenshtein, regexp, split);
Arrow-batched pandas UDF for Jaro-Winkler (no native Spark expression).

Reference analogues (SURVEY.md §2.7):
  X2 whitespace normalize  /root/reference/OneNet/prompt.py:20-22
  X6 lowercase tokenize    /root/reference/e2e/entity_database.py:262
  X7 name match score      /root/reference/Sparkle/database.py:185-197
  U4 word-set Jaccard      /root/reference/e2e/systems/graph_system.py:754-763
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_ws(col: str | Column) -> Column:
    """`' '.join(s.split())` equivalent (X2)."""
    return F.regexp_replace(F.trim(_c(col)), r"\s+", " ")


def tokenize(col: str | Column, lower: bool = True) -> Column:
    """Lowercased word tokens (X6). Drops empty tokens.

    Perf note (measured on 20k x ~2KB strings, local[32]): Java regex is
    pathologically slow on the explicit class `[^A-Za-z0-9_]+` (~14s) but
    fast on the equivalent `[^\\w]+` (~0.3s); and the higher-order
    F.filter lambda costs ~10s where native array_remove is free. ~40x.
    """
    c = F.lower(_c(col)) if lower else _c(col)
    return F.array_remove(F.split(c, r"[^\w]+"), "")


def name_match_score(a: str | Column, b: str | Column) -> Column:
    """Bidirectional substring score: 1.0 exact, 0.7 partial, 0.0 else (X7)."""
    ca, cb = F.lower(_c(a)), F.lower(_c(b))
    return (
        F.when(ca == cb, F.lit(1.0))
        .when(ca.contains(cb) | cb.contains(ca), F.lit(0.7))
        .otherwise(F.lit(0.0))
    )


def levenshtein_sim(a: str | Column, b: str | Column) -> Column:
    """Normalized Levenshtein similarity in [0,1] (JVM-native edit distance)."""
    ca, cb = _c(a), _c(b)
    max_len = F.greatest(F.length(ca), F.length(cb))
    return F.when(max_len == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.levenshtein(ca, cb).cast("double") / max_len.cast("double")
    )


def ngram_set(text_col: str | Column, n: int) -> Column:
    """Distinct token n-gram set of a string (JVM-native). n<=1 -> distinct
    tokens. The exact-verification space for MinHash candidates (shingle_k
    in functions/hashing.py plays the approximate role of the same grams).

    The token array is bound ONCE as a lambda variable through a
    single-element outer transform. Referencing the tokenize expression
    directly inside the per-position lambda re-evaluates the full regex
    split of the document for EVERY n-gram position — O(len^2) per row,
    interpreted (round-3 thread-dump finding: one verify_ngram=3 task
    burned 19 CPU-minutes in UTF8String.split). The lambda-variable form
    is collapse-proof: Catalyst cannot inline into a lambda binding."""
    toks_expr = tokenize(text_col)
    if n <= 1:
        return F.array_distinct(toks_expr)

    def build(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.array_distinct(F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )),
        ).otherwise(F.array_distinct(toks))

    return F.element_at(F.transform(F.array(toks_expr), build), 1)


def ngram_hash_set(text_col: str | Column, n: int) -> Column:
    """Distinct token n-gram set hashed to int64 (xxhash64 per gram).

    The shuffle-narrow twin of ngram_set for verify joins: distinct grams
    map to distinct hashes up to 2^-64 collisions, so intersection/union
    CARDINALITIES — and therefore exact Jaccard — are unchanged, while the
    shuffled payload drops from ~15-25 B per trigram string to 8 B per
    long (round-3 NOTES: the trigram verify config is shuffle-bound; same
    64-bit-key trick as block keys, blocking.py). Hashing happens BEFORE
    the pair join, once per row."""
    return F.transform(ngram_set(text_col, n), lambda g: F.xxhash64(g))


def token_jaccard(a: str | Column, b: str | Column) -> Column:
    """Exact Jaccard over distinct word tokens of two strings (JVM-native, U4)."""
    ta = F.array_distinct(tokenize(a))
    tb = F.array_distinct(tokenize(b))
    inter = F.size(F.array_intersect(ta, tb)).cast("double")
    union = F.size(F.array_union(ta, tb)).cast("double")
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, ch in enumerate(s1):
        lo = max(0, i - window)
        hi = min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == ch:
                m1[i] = True
                m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    k = 0
    transpositions = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                transpositions += 1
            k += 1
    t = transpositions / 2
    return (matches / l1 + matches / l2 + (matches - t) / matches) / 3


def jaro_winkler(s1: str, s2: str, p: float = 0.1, max_prefix: int = 4) -> float:
    """Plain-Python Jaro-Winkler (the oracle; also used inside the UDF)."""
    j = _jaro(s1, s2)
    prefix = 0
    for a, b in zip(s1[:max_prefix], s2[:max_prefix]):
        if a == b:
            prefix += 1
        else:
            break
    return j + prefix * p * (1.0 - j)


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched Jaro-Winkler. Pair results are memoized per batch —
    file-name pairs repeat heavily inside blocks, so the cache hit rate is
    high and the Python cost stays well below the Arrow transfer cost.
    """
    cache: dict[tuple[str, str], float] = {}
    out = []
    for s1, s2 in zip(a.fillna("").tolist(), b.fillna("").tolist()):
        key = (s1, s2) if s1 <= s2 else (s2, s1)
        v = cache.get(key)
        if v is None:
            v = jaro_winkler(key[0], key[1])
            cache[key] = v
        out.append(v)
    return pd.Series(out, dtype="float64")
