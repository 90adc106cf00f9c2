"""Dataset assembly: mixing weights, stratified sampling, sequence packing,
and exact cross-document n-gram duplication measurement.

The last mile of a training-data pipeline, after hygiene (decontam.py)
has produced the keep set: decide HOW MUCH of each domain to sample,
draw the sample deterministically, pack documents into fixed token
windows, and measure residual cross-document repetition that sketch
dedup (MinHash) may have left behind.

Reference analogue: the reference assembles its evaluation corpora by
per-source subsetting and key-stable splits
(/root/reference/OneNet/data_process.py:137-509 builds per-corpus
subsets and fixed-size samples); these operators are the corpus-scale
relational restatement with published semantics (temperature-scaled
mixing from multilingual LM training, concat-and-chunk packing from
GPT-style pre-training, duplicated-gram fraction from Gopher/RefinedWeb
repetition analysis).

Scale design (the 100 TB contract of every operator here):
  * domain_mix_weights — one map-side-combined groupBy to a dims-sized
    frame; the normalization window runs over that tiny frame, never the
    corpus.
  * stratified_sample — pure map-side expression (seeded 60-bit hash
    band per stratum), zero shuffle, stable under repartitioning and
    incremental appends: a doc keeps its verdict forever, the property
    Bernoulli df.sample lacks. The strata->fraction map is a broadcast
    literal CASE, never a join.
  * pack_sequences — the global concat order is sharded: docs hash into
    n_shards independent streams and the running-offset window is
    PARTITIONED by shard, so no single-reducer global window exists at
    any corpus size; one shuffle total (the window's), bounded per task
    by corpus/n_shards.
  * duplicated_ngram_stats — grams travel as int64 hashes (8 B/gram,
    same discipline as decontam.py); the gram-frequency groupBy is
    map-side combined; only grams that clear min_docs re-enter the join,
    so the flag-back join's build side is the duplicated tail, not the
    gram universe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from entitylinking_spark.functions.relhash import md5_hash60
from entitylinking_spark.operators.textstats import ngram_tokens, tokenize

# 2^60: md5_hash60's value space, as double for rate bands
_HASH_SPACE = float(1 << 60)


def domain_mix_weights(docs: DataFrame, domain_col: str = "source",
                       alpha: float = 0.3,
                       size_col: str | None = None) -> DataFrame:
    """Temperature-scaled sampling weights per domain.

    w_d = n_d^alpha / sum_e n_e^alpha — the multilingual-LM mixing rule
    (alpha=1 keeps natural proportions, alpha=0 is uniform, alpha~0.3
    upsamples small domains). `size_col=None` sizes domains by document
    count; pass a column (e.g. a token count) to size by mass. Returns
    (domain, n_docs, size, weight, oversample) where oversample is the
    weight relative to the domain's natural share — the per-domain
    repeat/sample factor a loader applies.

    One corpus pass (map-side combined groupBy to a domains-sized frame);
    the normalizing sum is a window over that frame only.
    """
    size = F.count("*") if size_col is None else F.sum(size_col)
    dims = docs.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count("*").alias("n_docs"), size.cast("double").alias("size")
    )
    w = Window.partitionBy()  # dims-sized frame: one partition is the point
    powed = F.pow(F.col("size"), F.lit(float(alpha)))
    total_pow = F.sum(powed).over(w)
    total_size = F.sum("size").over(w)
    return dims.select(
        "domain",
        "n_docs",
        "size",
        (powed / total_pow).alias("weight"),
        ((powed / total_pow) / (F.col("size") / total_size)).alias("oversample"),
    )


def sample_hash(id_col: str | Column, seed: str = "s1") -> Column:
    """Uniform-in-[0,1) deterministic draw per id (md5_hash60 band).

    The same stable-under-everything property as decontam.split_bucket,
    under a different seed namespace so sampling and splitting are
    independent draws.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return md5_hash60(
        F.concat(F.lit(seed + ":"), c.cast("string"))
    ) / F.lit(_HASH_SPACE)


def stratified_sample(docs: DataFrame, strata_col: str = "source",
                      fractions: dict[str, float] | float = 1.0,
                      id_col: str = "doc_id", seed: str = "s1",
                      default_fraction: float = 0.0) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample.

    A doc is kept iff its seeded hash band falls below its stratum's
    fraction — map-side only, no shuffle, no sampling state; re-running
    on a grown corpus keeps exactly the old verdicts for old rows (the
    incremental-append property df.sample cannot give). `fractions` is
    either one global rate or {stratum: rate}; strata absent from the
    dict get `default_fraction`. Rates are clamped to [0, 1].
    """
    band = sample_hash(id_col, seed)
    if isinstance(fractions, dict):
        rate = None
        for name, frac in fractions.items():
            f = F.lit(min(max(float(frac), 0.0), 1.0))
            cond = F.col(strata_col) == name
            rate = F.when(cond, f) if rate is None else rate.when(cond, f)
        rate = (
            F.lit(float(default_fraction)) if rate is None
            else rate.otherwise(F.lit(min(max(float(default_fraction), 0.0), 1.0)))
        )
    else:
        rate = F.lit(min(max(float(fractions), 0.0), 1.0))
    return docs.where(band < rate)


def cap_per_domain(docs: DataFrame, cap: int, domain_col: str = "source",
                   id_col: str = "doc_id", seed: str = "c1",
                   n_buckets: int = 32) -> DataFrame:
    """Deterministic per-domain document cap: keep at most `cap` docs per
    domain, chosen by seeded-hash order (id tie-break) so the keep set is
    stable under repartitioning and appends until a domain EXCEEDS its cap
    — the single-domain-dominance guard every web corpus build runs
    (C4/mC4 cap per URL host; RefinedWeb per domain).

    Returns every input doc annotated (annotate-don't-drop, the curation
    stance): (id_col, domain, keep, rank_in_domain) with rank_in_domain
    = -1 for dropped docs (the driver canon cannot sort NULL cells).

    Scale design — exact top-`cap` per key WITHOUT a single-task window
    over a hot domain: stage 1 ranks within (domain, hash-bucket) — a
    10^9-doc domain splits across `n_buckets` independent window
    partitions — and keeps each bucket's local top-`cap`; any global
    top-`cap` row has bucket-rank <= its global rank <= cap, so stage 1
    never loses a winner. Stage 2 re-ranks the <= n_buckets*cap survivors
    per domain (a bounded partition at ANY corpus size); for surviving
    rows the stage-2 rank EQUALS the global rank, because every row
    hash-ordered above a global top-`cap` row is itself global top-`cap`
    and therefore survived. Size `n_buckets` ~ executor parallelism /
    expected hottest-domain share.
    """
    if cap < 1:
        raise ValueError("cap must be >= 1")
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    idc = F.col(id_col)
    h = md5_hash60(F.concat(F.lit(seed + ":"), idc.cast("string")))
    slim = docs.select(
        idc, F.col(domain_col).alias("domain"), h.alias("_h")
    ).withColumn("_b", F.pmod("_h", F.lit(n_buckets)))
    w1 = Window.partitionBy("domain", "_b").orderBy("_h", id_col)
    pre = (
        slim.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= cap)
    )
    w2 = Window.partitionBy("domain").orderBy("_h", id_col)
    ranked = (
        pre.withColumn("rank_in_domain", F.row_number().over(w2))
        .filter(F.col("rank_in_domain") <= cap)
        .select(id_col, "rank_in_domain")
    )
    return (
        docs.select(idc, F.col(domain_col).alias("domain"))
        .join(ranked, id_col, "left")
        .select(
            id_col, "domain",
            F.col("rank_in_domain").isNotNull().alias("keep"),
            F.coalesce("rank_in_domain", F.lit(-1)).cast("int")
            .alias("rank_in_domain"),
        )
    )


def pack_sequences(docs: DataFrame, budget: int, n_shards: int = 64,
                   id_col: str = "doc_id", text_col: str = "text",
                   token_count_col: str | None = None,
                   seed: str = "p1") -> DataFrame:
    """Concat-and-chunk packing: assign every document a position in a
    fixed-size token window stream (GPT-style pre-training packing).

    Documents are deterministically ordered (seeded hash, id tie-break)
    within `n_shards` independent shards; each shard is one concatenated
    token stream cut into `budget`-token windows. Returns one row per doc:

      (id_col, shard, pack_id, pack_pos, n_tokens, straddles)

    where pack_id is the window index WITHIN the shard, pack_pos the
    doc's start offset inside that window, and straddles marks docs that
    cross a window boundary (the loader's truncate/continue decision).

    Scale: the running-offset window is partitioned by shard — there is
    never a global single-reducer sort. Choose n_shards ~ the cluster's
    task parallelism; each task scans corpus/n_shards rows. One shuffle.
    `token_count_col=None` counts tokens with the shared tokenizer
    (textstats.tokenize) map-side before the shuffle, so only
    (id, shard, hash, n_tokens) ever shuffles — never the text.
    """
    if budget <= 0:
        raise ValueError("budget must be a positive token count")
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    ntok = (
        F.col(token_count_col).cast("long") if token_count_col
        else F.size(tokenize(text_col)).cast("long")
    )
    h = md5_hash60(
        F.concat(F.lit(seed + ":"),
                 (F.col(id_col) if isinstance(id_col, str) else id_col)
                 .cast("string"))
    )
    slim = docs.select(
        F.col(id_col),
        h.alias("_h"),
        F.pmod(h, F.lit(n_shards)).cast("int").alias("shard"),
        ntok.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    b = int(budget)
    # integer `div`, not floor(double /): token offsets exceed 2^53 long
    # before a 100 TB shard stream ends a year, but never overflow a long
    staged = slim.select(id_col, "shard", "n_tokens", offset.alias("_off"))
    start_pack = F.expr(f"_off div {b}")
    end_pack = F.expr(f"(_off + greatest(n_tokens, 1L) - 1L) div {b}")
    return staged.select(
        id_col,
        "shard",
        start_pack.alias("pack_id"),
        F.pmod(F.col("_off"), F.lit(b)).cast("long").alias("pack_pos"),
        "n_tokens",
        ((F.col("n_tokens") > 0) & (end_pack != start_pack)).alias("straddles"),
    )


def select_under_token_budget(docs: DataFrame, token_budget: int,
                              quality_col: str = "quality",
                              token_col: str | None = "n_tokens",
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              bins: int = 4096,
                              max_boundary: int = 1_000_000,
                              max_rounds: int = 8) -> DataFrame:
    """Greedy data selection under a global token budget: keep documents
    in (quality DESC, id ASC) order while the running token total stays
    <= token_budget (the DCLM/FineWeb 'best data until the budget' rule).
    A doc is kept iff the cumulative token count INCLUDING it fits.

    Returns every input doc annotated: (id_col, quality, tokens, keep).

    Scale design — EXACT greedy selection with NO global sort: the naive
    plan is a single-reducer cumulative-sum window over the whole corpus.
    Instead, a driver-side histogram quickselect narrows the cut:

      each round histograms the current boundary set into `bins` quality
      buckets (ONE map-side-combined agg job), walks buckets from high
      quality down until the remaining budget lands inside one bucket —
      buckets above are kept wholesale, below dropped wholesale — and
      recurses into the boundary bucket only. The boundary shrinks
      ~bins x per round (10^12 docs -> 3 rounds to <10^5), after which
      one ordinary window ranks the <= max_boundary survivors exactly.

    Bucket membership is recomputed from the SAME floor expression each
    round (never from float bucket edges), so the wholesale keep/drop
    sets and the recursion filter partition the corpus exactly. Ties:
    a boundary set of IDENTICAL quality values cannot be split by
    histogram; it falls through to the final window ordered (quality
    DESC, id ASC) — adversarially many exact ties at the cut line bound
    that window's partition at the tie count (slim rows; raise
    max_boundary if a corpus genuinely has >10^6 boundary ties).

    token_col=None counts tokens with the shared tokenizer.
    """
    if token_budget < 0:
        raise ValueError("token_budget must be >= 0")
    if bins < 2 or max_boundary < 1 or max_rounds < 1:
        raise ValueError("bins >= 2, max_boundary >= 1, max_rounds >= 1")
    from entitylinking_spark.operators.textstats import tokenize

    ntok = (
        F.col(token_col).cast("long") if token_col
        else F.size(tokenize(text_col)).cast("long")
    )
    base = docs.select(
        F.col(id_col),
        F.col(quality_col).cast("double").alias("q"),
        ntok.alias("tokens"),
    )
    # persist the slim (id, q, tokens) frame for the driver loop: every
    # round's two aggs, each kept part, and the boundary window would
    # otherwise re-derive it from the source (rounds x full scans when
    # token_col=None re-tokenizes). Unpersisted before return — the keep
    # set is eagerly materialized first, so nothing lazy still points at
    # the cache (the round-1-verdict leak discipline).
    base = base.persist()
    total = base.agg(F.sum("tokens")).first()[0]
    if total is None or total <= token_budget:
        base.unpersist()  # everything fits: no loop, nothing to reuse
        return base.select(
            id_col, F.col("q").alias("quality"), "tokens",
            F.lit(total is not None).alias("keep"),
        )

    # driver histogram loop: narrow `boundary` to <= max_boundary rows.
    # Buckets strictly above the cut bucket are kept WHOLESALE (their
    # slim id frames accumulate in `kept_parts`); the loop recurses into
    # the cut bucket only. Each round costs two agg jobs over an
    # ~bins-times-smaller frame.
    remaining = int(token_budget)
    kept_parts: list[DataFrame] = []
    boundary = base
    for _ in range(max_rounds):
        st = boundary.agg(F.min("q"), F.max("q"), F.count("*")).first()
        qmin, qmax, cnt = st[0], st[1], st[2]
        if cnt <= max_boundary or qmin == qmax:
            break
        span = qmax - qmin
        bucket = F.least(
            F.floor((F.col("q") - F.lit(qmin)) / F.lit(span) * bins)
            .cast("int"),
            F.lit(bins - 1),
        )
        hist = {
            r["_b"]: r["t"]
            for r in boundary.groupBy(bucket.alias("_b"))
            .agg(F.sum("tokens").alias("t"))
            .collect()
        }
        b_star = min(hist)
        for b in sorted(hist, reverse=True):
            if hist[b] <= remaining:
                remaining -= hist[b]
                continue
            b_star = b
            break
        # bucket membership recomputed from the SAME floor expression —
        # exact partition of `boundary`, no float-edge drift
        kept_parts.append(
            boundary.filter(bucket > F.lit(b_star)).select(id_col)
        )
        boundary = boundary.filter(bucket == F.lit(b_star))

    # exact greedy rank over the (now-small) boundary set
    w = (
        Window.orderBy(F.col("q").desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = boundary.withColumn("_cum", F.sum("tokens").over(w))
    all_keep = ranked.filter(F.col("_cum") <= remaining).select(id_col)
    for part in kept_parts:
        all_keep = all_keep.unionByName(part)
    # materialize the slim keep-id set (O(kept) id-only rows) so the
    # persisted base can be released before returning the lazy result
    flagged = (
        all_keep.withColumn("_k", F.lit(True)).localCheckpoint(eager=True)
    )
    # the returned join stays LAZY: after unpersist it recomputes the
    # slim base projection ONCE from the source at execution — cheaper
    # than checkpointing the O(corpus) annotated output here
    out = base.join(flagged, id_col, "left").select(
        id_col, F.col("q").alias("quality"), "tokens",
        F.coalesce(F.col("_k"), F.lit(False)).alias("keep"),
    )
    base.unpersist()
    return out


def duplicated_ngram_stats(docs: DataFrame, n: int = 8, min_docs: int = 2,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           kernel: str = "arrow") -> DataFrame:
    """Exact cross-document duplication: per doc, the fraction of its
    DISTINCT token n-grams that appear in >= min_docs documents
    (RefinedWeb-style residual-duplication audit — the exact complement
    to MinHash candidate dedup, run on the kept corpus to measure what
    sketching missed).

    Returns (id_col, n_grams, n_dup_grams, dup_fraction); docs shorter
    than n tokens report 0 grams and fraction 0.0.

    Plan shape: grams shuffle as int64 xxhash64 values (8 B each, the
    decontam discipline) and the gram doc-frequency is a COUNT WINDOW
    over the gram hash on that single shuffled pass — one gram
    extraction, one shuffle, no frequency-table join that would force
    the corpus-wide gram explode (the expensive part: tokenize + gram
    string build + hash) to run twice. Gram-less docs ride along as one
    sentinel row hashed by their OWN id, so they spread across
    partitions instead of piling into a null-key hot spot. A
    2^-64-per-probe hash collision is the accepted trade at corpus
    scale; the DuckDB oracle joins gram STRINGS and agrees exactly at
    test scale (same argument as decontam.py).
    """
    if n < 1 or min_docs < 1:
        raise ValueError("n and min_docs must be >= 1")
    # kernel='arrow' (default): decontam's rolling-combine siphash kernel
    # — distinct gram HASHES straight out of one Arrow pass, no gram
    # strings built (the interpreted ngram_tokens HOF is ~5x slower per
    # core). kernel='expr' keeps the whole-stage-codegen gram-string
    # twin whose xxhash64 values the parity test pins against arrow
    # DECISIONS (the hashes differ; the dup verdicts cannot).
    if kernel == "arrow":
        from entitylinking_spark.operators.decontam import make_gram_hash_udf

        gram_arrays = docs.select(
            F.col(id_col), make_gram_hash_udf(n)(text_col).alias("_ghs")
        )
        exploded = gram_arrays.select(
            F.col(id_col), F.explode_outer("_ghs").alias("gh0")
        )
    else:
        exploded = docs.select(
            F.col(id_col),
            F.explode_outer(
                F.array_distinct(ngram_tokens(text_col, n))
            ).alias("gram"),
        ).select(id_col, F.xxhash64("gram").alias("gh0"),
                 F.col("gram").isNull().alias("_null"))
        exploded = exploded.select(
            id_col, F.when(~F.col("_null"), F.col("gh0")).alias("gh0")
        )
    grams = exploded.select(
        id_col,
        # explode_outer keeps gram-less docs as one null row so every
        # input doc appears in the output with n_grams = 0; their window
        # key is their own id hash (never counted, never skewed)
        F.coalesce(F.col("gh0"), F.xxhash64(F.col(id_col))).alias("gh"),
        F.col("gh0").isNotNull().alias("_has"),
    )
    w = Window.partitionBy("gh")
    flagged = grams.withColumn(
        "_dup",
        F.col("_has")
        & (F.sum(F.col("_has").cast("long")).over(w) >= F.lit(min_docs)),
    )
    return flagged.groupBy(id_col).agg(
        F.sum(F.col("_has").cast("long")).alias("n_grams"),
        F.sum(F.col("_dup").cast("long")).alias("n_dup_grams"),
    ).select(
        id_col,
        "n_grams",
        "n_dup_grams",
        F.when(F.col("n_grams") > 0,
               F.col("n_dup_grams") / F.col("n_grams"))
        .otherwise(F.lit(0.0)).alias("dup_fraction"),
    )
