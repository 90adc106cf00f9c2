"""Corpus vocabulary & co-occurrence analytics.

The corpus-wide text statistics a training-data pipeline derives once and
reuses everywhere: the token dictionary with document frequencies and
smoothed IDF (the BM25/TF-IDF input), adjacent-bigram PMI (collocation
mining / tokenizer-merge candidates), and per-group length profiles
(exact percentiles for corpus QA dashboards).

Reference analogue: the reference builds per-corpus frequency tables
inline while scoring (/root/reference/Sparkle/database.py:104-163 term
frequencies; /root/reference/OneNet/data_process.py:239-268 corpus
statistics); these operators materialize the same quantities as
reusable corpus-level tables.

Scale design:
  * vocabulary — one explode + one map-side-combined groupBy on the
    token; the output is vocab-sized (<< corpus). The optional top-K cut
    sorts the VOCAB frame, never the corpus. The corpus doc count is the
    one scalar action (bounded collect of a single value).
  * bigram_pmi — bigram and unigram counts are two independent
    aggregations over the same scan; the PMI join joins the BIGRAM table
    (already >= min_count-pruned) against the unigram table twice on the
    token — both sides are vocabulary-sized after aggregation.
  * length_profile — percentile aggregation groups by the profile key;
    exact percentiles need the per-group sort Spark's percentile()
    performs, which is bounded by the largest group, not the corpus.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from entitylinking_spark.functions.strings import tokenize


def vocabulary(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", min_df: int = 1,
               max_vocab: int | None = None,
               n_docs: int | None = None) -> DataFrame:
    """Token dictionary: (token, tf, df, idf).

    tf = total occurrences, df = documents containing the token, idf =
    ln((N+1)/(df+1)) + 1 (the smoothed TF-IDF form — never negative,
    defined for df=N). `min_df` prunes the long tail (hapaxes are
    typically ~half the raw vocab); `max_vocab` keeps the top-K by tf
    with (tf desc, token asc) deterministic tie-break. Pass `n_docs`
    when the caller already knows the corpus size to skip the count job.
    """
    if min_df < 1:
        raise ValueError("min_df must be >= 1")
    n = docs.count() if n_docs is None else int(n_docs)
    toks = docs.select(
        F.col(id_col).alias("_id"), F.explode(tokenize(text_col)).alias("token")
    )
    out = (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("tf"),
            F.count_distinct("_id").alias("df"),
        )
        .filter(F.col("df") >= min_df)
        .withColumn(
            "idf", F.log((F.lit(float(n + 1))) / (F.col("df") + 1)) + 1.0
        )
    )
    if max_vocab is not None:
        out = out.orderBy(F.desc("tf"), F.asc("token")).limit(int(max_vocab))
    return out


def bigram_pmi(docs: DataFrame, text_col: str = "text",
               min_count: int = 5) -> DataFrame:
    """Adjacent-bigram pointwise mutual information:
    (w1, w2, n_pair, pmi) for every bigram seen >= min_count times.

    pmi = ln( p(w1,w2) / (p(w1) p(w2)) ) with p(w1,w2) = n_pair / total
    bigrams and p(w) = n_w / total tokens — the standard collocation
    score (positive = the pair co-occurs more than independence
    predicts). Counts are occurrence counts, not document counts.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    # each count table is extracted from the corpus exactly ONCE:
    # localCheckpoint(eager=True) materializes the vocabulary-sized
    # aggregates, the totals are two bounded scalars summed from them,
    # and every later consumer (the pruned bigrams, both unigram join
    # sides) reads the checkpointed blocks instead of re-exploding the
    # corpus. Unlike persist(), localCheckpoint storage is released by
    # the ContextCleaner when the returned plan is garbage-collected —
    # no cache outlives its consumers (the cc.py/incremental discipline)
    uni = (
        docs.select(F.explode(tokenize(text_col)).alias("token"))
        .groupBy("token").agg(F.count("*").alias("n_tok"))
        .localCheckpoint(eager=True)
    )
    # adjacent pairs via arrays_zip of two shifted slices — whole-stage
    # codegen end to end, vs ngram_tokens' transform(sequence) lambda
    # which Spark interprets per element (NOTES round-1 finding; measured
    # 6x at sf0.1). Same pair set as ngram_tokens(text, 2), parity-tested.
    toks = tokenize(text_col)
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bi_all = (
        docs.select(
            F.explode(F.arrays_zip(F.slice(toks, 1, n1),
                                   F.slice(toks, 2, n1))).alias("p")
        )
        .groupBy(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .agg(F.count("*").alias("n_pair"))
        .localCheckpoint(eager=True)
    )
    t_uni, t_bi = (
        uni.agg(F.sum("n_tok").alias("t_uni"))
        .crossJoin(bi_all.agg(F.sum("n_pair").alias("t_bi")))
        .first()
    )
    if not t_uni or not t_bi:  # empty corpus / no bigrams: nothing to score
        return docs.sparkSession.createDataFrame(
            [], "w1 string, w2 string, n_pair long, pmi double"
        )
    bi = bi_all.filter(F.col("n_pair") >= min_count)
    u1 = uni.select(F.col("token").alias("w1"), F.col("n_tok").alias("n_w1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("n_tok").alias("n_w2"))
    return bi.join(u1, "w1").join(u2, "w2").select(
        "w1", "w2", "n_pair",
        F.log(
            (F.col("n_pair") / F.lit(float(t_bi)))
            / ((F.col("n_w1") / F.lit(float(t_uni)))
               * (F.col("n_w2") / F.lit(float(t_uni))))
        ).alias("pmi"),
    )


def length_profile(docs: DataFrame, group_col: str = "lang",
                   length_col: str = "n_chars",
                   percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
                   exact: bool = True,
                   approx_accuracy: int = 10_000) -> DataFrame:
    """Per-group length percentiles + count/mean:
    (group, n_docs, mean_len, p<50>, p<90>, ...).

    exact=True uses percentile() — linear interpolation between order
    statistics, the same definition as DuckDB's quantile_cont, fully
    reproducible — but it BUFFERS each group's values in executor memory
    (fine for QA-sized groups, not for a billion-row language group).
    exact=False is the corpus-scale path: approx_percentile's
    Greenwald-Khanna sketch, constant memory per group, deterministic
    for a fixed accuracy but a rank-error approximation (±1/accuracy)."""
    aggs = [
        F.count("*").alias("n_docs"),
        F.avg(length_col).alias("mean_len"),
    ]
    for p in percentiles:
        name = f"p{int(round(p * 100))}"
        expr = (
            f"percentile({length_col}, {p!r})" if exact
            else f"approx_percentile({length_col}, {p!r}, {approx_accuracy})"
        )
        aggs.append(F.expr(expr).alias(name))
    return docs.groupBy(F.col(group_col).alias("group")).agg(*aggs)


def oov_rate(docs: DataFrame, vocab: DataFrame, id_col: str = "doc_id",
             text_col: str = "text", token_col: str = "token") -> DataFrame:
    """Per-document out-of-vocabulary token share against a vocabulary
    frame — the coverage check run after vocabulary/tokenizer training
    (a doc whose tokens the vocab cannot express inflates UNK rates in
    training). Returns (id, n_tokens, n_oov, oov_rate) with oov_rate
    NULL for token-less docs.

    Plan: one explode + a BROADCAST left join against the vocab (vocabs
    are dimension-sized by construction — `vocabulary(top_k=...)`), one
    map-side-combined per-doc agg. oov_rate is a single division of two
    exact longs, so it compares bit-equal across engines."""
    toks = docs.select(
        F.col(id_col), F.explode_outer(tokenize(text_col)).alias("tok")
    )
    iv = vocab.select(F.col(token_col).alias("tok"),
                      F.lit(True).alias("_iv"))
    j = toks.join(F.broadcast(iv), "tok", "left")
    return (
        j.groupBy(id_col)
        .agg(
            F.sum(F.col("tok").isNotNull().cast("long")).alias("n_tokens"),
            F.sum((F.col("tok").isNotNull() & F.col("_iv").isNull())
                  .cast("long")).alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.when(F.col("n_tokens") > 0,
                   F.col("n_oov") / F.col("n_tokens")),
        )
    )


def _cms_hash(tokens, depth: int, width: int):
    """Deterministic per-row CMS bucket indices: zlib.crc32 with a per-row
    salt prefix — C-speed per token (the per-byte-python discipline), and
    since the operator contract is exact output, the hash never needs an
    engine twin."""
    import zlib

    import numpy as np

    out = np.empty((depth, len(tokens)), dtype=np.int64)
    enc = [t.encode() for t in tokens]
    for r in range(depth):
        salt = b"cms%d:" % r
        out[r] = [zlib.crc32(salt + t) % width for t in enc]
    return out


def heavy_hitters(docs: DataFrame, min_count: int,
                  text_col: str = "text",
                  width: int = 1 << 18, depth: int = 4) -> DataFrame:
    """All tokens occurring >= min_count times, with EXACT counts — via a
    count-min sketch prefilter (Cormode & Muthukrishnan 2005) so the
    final shuffle carries only CANDIDATE occurrences, never the full
    vocabulary.

    Three passes, two corpus scans:
      1. per-partition CMS partial sums (mapInPandas, np.add.at), merged
         by summation on the driver — depth x width int64 (4x256k = 8 MB
         default);
      2. map-side candidate filter: the merged sketch broadcasts and a
         token survives only if min(row estimates) >= min_count;
      3. exact groupBy COUNT of the survivors (the only shuffle) and the
         exact >= min_count cut.

    CMS never underestimates, so step 2 has NO false negatives and the
    output EQUALS the exact answer (the DuckDB oracle recomputes it with
    a plain GROUP BY) — the sketch only changes how much shuffles: false
    positives cost extra rows in pass 3, bounded by the classic eps =
    e/width overestimate. Use when min_count-frequent tokens are rare
    next to the vocabulary (the 10^12-row case: a full-vocab shuffle
    dwarfs two map passes).
    """
    import numpy as np

    if min_count < 1 or depth < 1 or width < 8:
        raise ValueError("need min_count >= 1, depth >= 1, width >= 8")

    def partials(batches):
        sk = np.zeros((depth, width), dtype=np.int64)
        seen = False
        for pdf in batches:
            toks = [t for s in pdf[text_col].fillna("")
                    for t in _py_tokens(s)]
            if toks:
                seen = True
                idx = _cms_hash(toks, depth, width)
                for r in range(depth):
                    np.add.at(sk[r], idx[r], 1)
        if seen:
            r_ix, p_ix = np.nonzero(sk)
            yield pd.DataFrame({"r": r_ix.astype("int32"),
                                "pos": p_ix.astype("int64"),
                                "v": sk[r_ix, p_ix]})

    # merge the per-partition partials IN SPARK (slim nonzero cells,
    # one map-side-combined sum) and collect only the MERGED sketch:
    # driver memory is O(depth*width), independent of the partition
    # count — collecting raw per-partition sketches would be
    # O(partitions*width) (10k partitions x 2 MB = 20 GB)
    merged = (
        docs.mapInPandas(partials, "r int, pos long, v long")
        .groupBy("r", "pos").agg(F.sum("v").alias("v"))
        .toPandas()
    )
    sketch = np.zeros((depth, width), dtype=np.int64)
    if len(merged):
        sketch[merged["r"].to_numpy(), merged["pos"].to_numpy()] = \
            merged["v"].to_numpy()

    @F.pandas_udf("array<string>")
    def survivors(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            toks = _py_tokens(s or "")
            if not toks:
                out.append([])
                continue
            uniq = sorted(set(toks))
            idx = _cms_hash(uniq, depth, width)
            est = sketch[np.arange(depth)[:, None], idx].min(axis=0)
            keep = {u for u, e in zip(uniq, est) if e >= min_count}
            out.append([t for t in toks if t in keep])
        return pd.Series(out)

    return (
        docs.select(F.explode(survivors(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )


def _py_tokens(text: str) -> list[str]:
    """Python twin of strings.tokenize (see bpe._py_tokenize: re.ASCII
    matches Java's ASCII-only \\w)."""
    import re

    return [w for w in re.split(r"[^\w]+", text.lower(), flags=re.ASCII) if w]


def tfidf_vectors(docs: DataFrame, vocab: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  token_col: str = "token", idf_col: str = "idf",
                  l2_normalize: bool = True) -> DataFrame:
    """Dense TF-IDF document vectors over a FIXED vocabulary frame — the
    classical no-model featurization of the text operators.

    vocab: (token_col, idf_col) — e.g. `vocabulary(...)` pruned to top-K
    by the caller (dimension = vocab row count; keep it dimension-sized:
    the vector is DENSE). Tokens outside the vocab are ignored. Returns
    (id, n_tokens, tfidf array<double>) with component order = vocab
    tokens sorted ascending (deterministic, engine-independent).

    Plan: the vocab broadcasts as a python dict into ONE Arrow map pass
    (np.add.at per batch) — zero shuffles; tf is the raw occurrence
    count, scaled by idf, optionally l2-normalized.
    """
    rows = vocab.select(token_col, idf_col).collect()
    if not rows:
        raise ValueError("empty vocabulary — nothing to featurize")
    toks = sorted(r[token_col] for r in rows)
    pos = {t: i for i, t in enumerate(toks)}
    idf = {r[token_col]: float(r[idf_col]) for r in rows}
    import numpy as np

    idf_vec = np.array([idf[t] for t in toks], dtype=np.float64)
    k = len(toks)

    @F.pandas_udf("array<double>")
    def feat(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            v = np.zeros(k, dtype=np.float64)
            ts = _py_tokens(s or "")
            ix = [pos[t] for t in ts if t in pos]
            if ix:
                np.add.at(v, ix, 1.0)
                v *= idf_vec
                if l2_normalize:
                    n = np.linalg.norm(v)
                    if n > 0:
                        v /= n
            out.append(v.tolist())
        return pd.Series(out)

    toks_expr = tokenize(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.coalesce(F.size(toks_expr), F.lit(0)).alias("n_tokens"),
        feat(F.col(text_col)).alias("tfidf"),
    )
