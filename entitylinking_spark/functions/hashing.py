"""Hash-sketch kernels: MinHash and LSH band keys.

These replace the reference's embedding-based approximate nearest-neighbour
candidate generation (SentenceTransformer encode + np.dot top-k —
/root/reference/Sparkle/database.py:150-183) with deterministic,
model-free sketches that serve the same role: cheap candidate generation
over a huge corpus (SURVEY.md §1.3).

Implementation notes (scale):
  * The signature UDF is an Arrow-batched pandas UDF. Per batch, all
    shingles of all rows are flattened into ONE object ndarray and hashed
    with pandas' vectorized 64-bit siphash (`pd.util.hash_array`, fixed
    key => deterministic across processes/executors). Per-permutation
    minima are then `np.minimum.reduceat` over row offsets — no Python
    work proportional to shingle count.
  * Permutations are h_i(x) = a_i*x + b_i on uint64 (wrapping multiply;
    the standard cheap family). Seeds are fixed constants => the same
    signature on every executor, every run.
  * Band keys are computed JVM-side (xxhash64 over signature slices), so
    the blocking join key never leaves Tungsten.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fixed permutation parameters (seeded, module-level so executors rebuild
# them identically from the pickled closure without shipping arrays).
_MAX_PERMS = 256
_rng = np.random.RandomState(42)
_PERM_A = (_rng.randint(1, 2**62, size=_MAX_PERMS).astype(np.uint64) | np.uint64(1))
_PERM_B = _rng.randint(0, 2**62, size=_MAX_PERMS).astype(np.uint64)

_TOKEN_RE = r"[A-Za-z0-9_]+"


# odd multipliers for the numeric k-gram combine (any fixed odd constants)
_COMBINE = np.array(
    [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
     0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63], dtype=np.uint64,
)


def _shingle_hashes(
    token_lists: list[list[str]], raw: list[str], k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized shingle hashing for a whole Arrow batch.

    Token strings are hashed ONCE (pandas' C siphash over one flat object
    array); k-gram shingle hashes are a numeric rolling combine of k
    consecutive token hashes (shifted-view multiply-xor on uint64) — no
    Python-level string building, which measured ~40s/task on 2 KB docs.

    Returns (flat_shingle_hashes, row_offsets). Rows with fewer than k
    tokens fall back to their token hashes; rows with NO tokens contribute
    one sentinel hash derived from the raw string, so identical contents
    always get identical signatures (determinism / resume) and different
    token-less contents stay distinct.
    """
    n_rows = len(token_lists)
    counts = np.empty(n_rows, dtype=np.int64)
    flat_tokens: list[str] = []
    for i, toks in enumerate(token_lists):
        if toks:
            counts[i] = len(toks)
            flat_tokens.extend(toks)
        else:
            counts[i] = 1
            flat_tokens.append(f"\x00raw:{raw[i]}")
    th = pd.util.hash_array(np.array(flat_tokens, dtype=object))
    tok_offsets = np.zeros(n_rows, dtype=np.int64)
    np.cumsum(counts[:-1], out=tok_offsets[1:])
    total = int(counts.sum())

    # global rolling combine; windows crossing row boundaries are never
    # selected by the index construction below
    if total >= k:
        sh = th[: total - k + 1] * _COMBINE[0]
        for j in range(1, k):
            sh = sh ^ (th[j : total - k + 1 + j] * _COMBINE[j % len(_COMBINE)])
    else:
        sh = np.zeros(0, dtype=np.uint64)

    valid_cnt = np.maximum(counts - k + 1, 0)
    use_tokens = counts < k
    src_cnt = np.where(use_tokens, counts, valid_cnt)
    out_offsets = np.zeros(n_rows, dtype=np.int64)
    np.cumsum(src_cnt[:-1], out=out_offsets[1:])
    total_out = int(src_cnt.sum())

    row_of = np.repeat(np.arange(n_rows), src_cnt)
    pos_in_row = np.arange(total_out) - np.repeat(out_offsets, src_cnt)
    src_idx = tok_offsets[row_of] + pos_in_row
    from_tokens = use_tokens[row_of]
    vals = np.empty(total_out, dtype=np.uint64)
    if sh.size:
        vals[~from_tokens] = sh[src_idx[~from_tokens]]
    vals[from_tokens] = th[src_idx[from_tokens]]
    return vals, out_offsets


def row_gram_segments(text: pd.Series, k: int):
    """Batch helper for per-row gram statistics: tokenize (the shared
    lower+`[A-Za-z0-9_]+` convention), hash all grams in one rolling
    combine, and return (token_lists, flat_hashes, row_bounds) where row
    i's gram hashes are flat_hashes[bounds[i]:bounds[i+1]] — VALID ONLY
    when len(token_lists[i]) >= k (below that _shingle_hashes substitutes
    token/sentinel hashes; callers must treat those rows as gram-less)."""
    filled = text.fillna("")
    tok_lists = filled.str.lower().str.findall(_TOKEN_RE).tolist()
    base, offsets = _shingle_hashes(tok_lists, filled.tolist(), k)
    bounds = np.append(offsets, base.size)
    return tok_lists, base, bounds


def make_minhash_udf(num_perm: int = 64, shingle_k: int = 3,
                     blacklist: np.ndarray | None = None):
    """Build a pandas UDF: content string -> array<long> MinHash signature.

    blacklist: optional sorted uint64 array of SUPPRESSED shingle hashes
    (corpus-frequency suppression — boilerplate like license headers that
    would otherwise put a large slice of the corpus into the same LSH
    bands; see blocking.shingle_blacklist). Suppressed shingles never enter
    the signature, so boilerplate-only band collisions disappear at the
    source instead of being stop-banded after the fact. A row whose
    shingles are ALL suppressed keeps its original shingles (it *is*
    boilerplate; leaving it empty would collide every such row into one
    sentinel signature).
    """
    if num_perm > _MAX_PERMS:
        raise ValueError(f"num_perm must be <= {_MAX_PERMS}")
    a = _PERM_A[:num_perm]
    b = _PERM_B[:num_perm]
    bl = None
    if blacklist is not None and len(blacklist):
        bl = np.sort(np.asarray(blacklist, dtype=np.uint64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash(content: pd.Series) -> pd.Series:
        filled = content.fillna("")
        toks = filled.str.lower().str.findall(_TOKEN_RE)
        base, offsets = _shingle_hashes(toks.tolist(), filled.tolist(), shingle_k)
        n_rows = len(offsets)
        if n_rows == 0:
            return pd.Series([], dtype=object)
        mask = None
        if bl is not None and base.size:
            pos = np.searchsorted(bl, base)
            pos_c = np.minimum(pos, bl.size - 1)
            suppressed = bl[pos_c] == base
            counts = np.diff(np.append(offsets, base.size))
            kept = counts - np.add.reduceat(suppressed.astype(np.int64), offsets)
            # rows losing every shingle keep their originals (see docstring)
            all_gone = np.repeat(kept == 0, counts)
            mask = ~suppressed | all_gone
        sig = np.empty((n_rows, num_perm), dtype=np.uint64)
        for p in range(num_perm):
            hashed = base * a[p] + b[p]  # wrapping uint64
            if mask is not None:
                hashed = np.where(mask, hashed, np.uint64(0xFFFFFFFFFFFFFFFF))
            sig[:, p] = np.minimum.reduceat(hashed, offsets)
        # store as int64 (same bits) for Spark LongType
        out = sig.view(np.int64)
        return pd.Series(list(out))

    return minhash


def make_shingle_set_udf(shingle_k: int = 3):
    """Pandas UDF: content -> array<long> of DISTINCT shingle hashes.

    The census side of corpus-frequency suppression: exploded + counted to
    get per-shingle document frequency (each doc contributes each shingle
    once)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def shingles(content: pd.Series) -> pd.Series:
        filled = content.fillna("")
        toks = filled.str.lower().str.findall(_TOKEN_RE)
        base, offsets = _shingle_hashes(toks.tolist(), filled.tolist(), shingle_k)
        bounds = np.append(offsets, base.size)
        out = [
            np.unique(base[bounds[i]:bounds[i + 1]]).view(np.int64)
            for i in range(len(offsets))
        ]
        return pd.Series(out)

    return shingles


def band_keys(sig_col: str | Column, num_bands: int, rows_per_band: int) -> Column:
    """JVM-side LSH band keys from a MinHash signature column.

    Returns array<struct<band:int, key:long>>: one entry per band; `key` is
    xxhash64 over that band's signature slice (salted by band index so the
    same values in different bands never collide into one block). One lambda
    over num_bands copies of `sig` (band = index) keeps a UDF `sig` legal.
    """
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    return F.transform(
        F.array_repeat(sig, num_bands),
        lambda s, i: F.struct(
            i.alias("band"),
            F.xxhash64(F.slice(s, i * rows_per_band + 1, rows_per_band), i).alias("key"),
        ),
    )


def bbit_sketch(sig_col: str | Column) -> Column:
    """8-bit minwise sketch: low byte of each signature position (Li &
    König, 'b-bit minwise hashing'). 64 tinyints (~72 B in Tungsten) vs 64
    longs (~520 B) — built for the pair-join shuffle, where attaching full
    signatures to every candidate pair dominated the stage (~10 GB at 9M
    pairs)."""
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    # shift into signed-tinyint range (ANSI cast would overflow above 127);
    # equality of sketch bytes is all the estimator uses
    return F.transform(
        sig, lambda x: (x.bitwiseAND(F.lit(255)) - F.lit(128)).cast("tinyint")
    )


def bbit_similarity(sk_l: str | Column, sk_r: str | Column, b_bits: int = 8) -> Column:
    """Bias-corrected Jaccard estimate from b-bit sketches:
    E[match] = J + (1-J)/2^b  =>  J_hat = (m - r)/(1 - r), r = 2^-b."""
    l = F.col(sk_l) if isinstance(sk_l, str) else sk_l
    r = F.col(sk_r) if isinstance(sk_r, str) else sk_r
    matches = F.aggregate(
        F.zip_with(l, r, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    m = matches.cast("double") / F.size(l).cast("double")
    rr = 1.0 / (1 << b_bits)
    return F.greatest(F.lit(0.0), (m - F.lit(rr)) / F.lit(1.0 - rr))


def minhash_similarity(sig_l: str | Column, sig_r: str | Column) -> Column:
    """Estimated Jaccard = fraction of equal signature positions (JVM-side).

    Plays the role of the reference's dot-product similarity
    (/root/reference/Sparkle/database.py:170-171) on sketch space.
    """
    l = F.col(sig_l) if isinstance(sig_l, str) else sig_l
    r = F.col(sig_r) if isinstance(sig_r, str) else sig_r
    matches = F.aggregate(
        F.zip_with(l, r, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return matches.cast("double") / F.size(l).cast("double")
