"""Corpus-level text cleaning: C4 line dedup, Gopher document rules, and
exact duplicate-substring spans.

Three published curation procedures every large pre-training corpus build
runs (Raffel et al. 2020 "C4"; Rae et al. 2021 "Gopher" §A1.1; Lee et al.
2022 "Deduplicating Training Data Makes Language Models Better"), as
declarative DataFrame plans:

  remove_duplicated_lines   drop every line that occurs in >= min_docs
                            documents (C4 ran it at the three-sentence
                            level; the unit here is the newline-delimited
                            line) and REBUILD each document's text in
                            original line order, reporting drop counts.
  gopher_rules              the Gopher quality gate as one row of named
                            boolean columns per document plus the AND
                            (`passes_gopher`) — annotate, don't drop,
                            so the funnel stays auditable.
  duplicate_spans           per-document maximal token spans covered by
                            n-grams that occur >= min_count times in the
                            whole corpus — the relational restatement of
                            Lee et al.'s suffix-array ExactSubstr pass
                            (annotate, don't cut; the loader or a
                            projection applies the cut).

Reference analogue: the reference cleans its eval corpora with per-file
string passes (/root/reference/OneNet/data_process.py:137-239 normalize +
filter loops); these are the corpus-scale relational forms.

Scale design:
  * remove_duplicated_lines — lines shuffle once, keyed by the 64-bit
    line hash, and the cross-document frequency is a COUNT WINDOW over
    that single pass (the duplicated_ngram_stats discipline: the line
    explode — the expensive part — runs exactly once). Reassembly
    groups by doc id; per-task memory is bounded by the largest
    document, not the corpus. Empty lines are never counted or dropped
    (every doc shares them; dropping would mangle formatting).
  * gopher_rules — pure column expressions over one scan; zero
    shuffles at any corpus size.
  * duplicate_spans — positional grams shuffle once as int64 hashes for
    the corpus-frequency count window, then once more keyed by doc id
    for the span merge; only DUPLICATED gram rows (the tail the operator
    exists to find) enter the second shuffle. No frequency-table join,
    no driver state, no text movement after the first projection.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from entitylinking_spark.functions.strings import tokenize


def remove_duplicated_lines(docs: DataFrame, min_docs: int = 3,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            sep: str = "\n") -> DataFrame:
    """(id, text) -> (id, text_clean, n_lines, n_dropped).

    A line is dropped from EVERY document when at least `min_docs`
    distinct documents contain it (exact string match, the C4 rule; C4
    used min_docs=3). Line order within each document is preserved;
    blank lines pass through untouched. Collision note: cross-document
    frequency is counted on xxhash64(line) — the 2^-64 trade documented
    in decontam.py; the DuckDB oracle counts line STRINGS and agrees
    exactly at test scale.

    `sep` picks the dedup unit: '\\n' (default) is C4's line level;
    '\\n\\n' is Dolma-style PARAGRAPH dedup — same plan, same rebuild,
    units rejoined with the same separator. `sep` is treated literally
    (regex-escaped before the split).
    """
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (1 would drop every line)")
    if not sep:
        raise ValueError("sep must be a non-empty literal separator")
    import re as _re

    lines = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep))
        ).alias("pos", "line"),
    ).select(
        id_col, "pos", "line",
        (F.length("line") > 0).alias("_counted"),
        # blank lines keep a per-doc window key so they never pile into
        # one hot partition (the duplicated_ngram_stats sentinel trick)
        F.when(F.length("line") > 0, F.xxhash64("line"))
        .otherwise(F.xxhash64(F.col(id_col))).alias("lh"),
    )
    # distinct docs per line, not occurrences: a doc repeating its own
    # line must not push it over the corpus threshold. Counted with a
    # lag-based first-occurrence-within-doc flag summed over the line
    # partition — one shuffle, bounded memory per row (a collect_set
    # window would materialize the full doc set per row: a line present
    # in 10^8 docs is exactly the case this operator exists for)
    w_occ = Window.partitionBy("lh").orderBy(id_col, "pos")
    prev_doc = F.lag(id_col).over(w_occ)
    first_in_doc = (prev_doc.isNull() | (prev_doc != F.col(id_col)))
    w_all = Window.partitionBy("lh")
    doc_freq = F.sum(first_in_doc.cast("long")).over(w_all)
    flagged = lines.withColumn(
        "_drop", F.col("_counted") & (doc_freq >= F.lit(min_docs))
    )
    sep_sql = sep.replace("\\", "\\\\").replace("'", "\\'")
    return flagged.groupBy(id_col).agg(
        F.expr(
            "array_join(transform(array_sort("
            "  collect_list(CASE WHEN NOT _drop THEN struct(pos, line) END)"
            f"), x -> x.line), '{sep_sql}')"
        ).alias("text_clean"),
        F.count("*").alias("n_lines"),
        F.sum(F.col("_drop").cast("long")).alias("n_dropped"),
    )


@dataclass
class GopherConfig:
    """Thresholds from Gopher §A1.1 (defaults are the published values)."""

    min_words: int = 50
    max_words: int = 100_000
    min_mean_word_len: float = 3.0
    max_mean_word_len: float = 10.0
    max_symbol_word_ratio: float = 0.1   # '#' and ellipsis per word
    max_bullet_line_frac: float = 0.9
    max_ellipsis_line_frac: float = 0.3
    min_alpha_word_frac: float = 0.8
    min_stop_hits: int = 2


# Gopher's "must contain 2 of" stop set
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(docs: DataFrame, config: GopherConfig | None = None,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-document Gopher rule verdicts:
    (id, n_words, rule_* booleans..., passes_gopher).

    Words are whitespace-delimited (the paper's unit — NOT the engine
    tokenizer, which strips punctuation the symbol rules need). All
    rules are single-scan column expressions.
    """
    cfg = config or GopherConfig()
    words = F.filter(F.split(F.col(text_col), "\\s+"), lambda w: w != "")
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda l: l != "")
    n_words = F.size(words)
    n_lines = F.size(lines)
    mean_wl = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    ) / F.greatest(n_words, F.lit(1))
    n_hash = F.size(F.split(F.col(text_col), "#")) - 1
    n_ellipsis = (
        (F.size(F.split(F.col(text_col), "\\.\\.\\.")) - 1)
        + (F.size(F.split(F.col(text_col), "…")) - 1)
    )
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.rlike("^\\s*[-*•]"))
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.rlike("(\\.\\.\\.|…)\\s*$"))
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    low = F.lower(F.col(text_col))
    stop_hits = None
    for s in _GOPHER_STOPS:
        hit = low.rlike(f"\\b{s}\\b").cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    out = docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        ((n_words >= cfg.min_words) & (n_words <= cfg.max_words))
        .alias("rule_word_count"),
        ((mean_wl >= cfg.min_mean_word_len)
         & (mean_wl <= cfg.max_mean_word_len)).alias("rule_mean_word_len"),
        ((n_hash + n_ellipsis)
         <= cfg.max_symbol_word_ratio * F.greatest(n_words, F.lit(1)))
        .alias("rule_symbol_ratio"),
        (bullet_lines
         <= cfg.max_bullet_line_frac * F.greatest(n_lines, F.lit(1)))
        .alias("rule_bullet_lines"),
        (ellipsis_lines
         <= cfg.max_ellipsis_line_frac * F.greatest(n_lines, F.lit(1)))
        .alias("rule_ellipsis_lines"),
        (alpha_words
         >= cfg.min_alpha_word_frac * F.greatest(n_words, F.lit(1)))
        .alias("rule_alpha_words"),
        (stop_hits >= cfg.min_stop_hits).alias("rule_stop_words"),
    )
    rules = [c for c in out.columns if c.startswith("rule_")]
    passes = None
    for c in rules:
        passes = F.col(c) if passes is None else passes & F.col(c)
    return out.withColumn("passes_gopher", passes)


def snapshot_diff(old: DataFrame, new: DataFrame,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Diff two corpus snapshots by content hash: one row per doc id seen
    in either snapshot with status in {added, removed, changed,
    unchanged} — the monitoring pass between crawls/ingests that decides
    what incremental work (re-embed, re-dedup, re-curate) a new snapshot
    actually requires.

    Returns (id_col, status, old_sha, new_sha); absent-side sha is ''
    (the driver canon cannot sort NULL cells).

    Scale: each side is one projection to (id, sha256) — 40 B/row — and
    the diff is a single full-outer hash join on the id; no text ever
    shuffles. Reference analogue: the reference re-processes corpora
    from scratch per run (/root/reference/OneNet/data_process.py:137-239);
    this is the change-detection pass that makes incremental runs
    possible.
    """
    sha = F.sha2(F.col(text_col).cast("string"), 256)
    o = old.select(F.col(id_col), sha.alias("old_sha"))
    n = new.select(F.col(id_col), sha.alias("new_sha"))
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("old_sha").isNull(), F.lit("added"))
        .when(F.col("new_sha").isNull(), F.lit("removed"))
        .when(F.col("old_sha") == F.col("new_sha"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(
        id_col,
        status.alias("status"),
        F.coalesce("old_sha", F.lit("")).alias("old_sha"),
        F.coalesce("new_sha", F.lit("")).alias("new_sha"),
    )


def normalize_unicode(docs: DataFrame, form: str = "NFC",
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(id, text) -> (id, text_norm, changed): Unicode normalization —
    the first pass of every multilingual corpus build (decomposed accents,
    compatibility forms, mixed encodings of the same grapheme collapse to
    one canonical byte sequence, so hashing/dedup/tokenizing see one
    spelling). form is any of NFC/NFKC/NFD/NFKD (NFC default — the
    C4/mC4 convention).

    Scale: one Arrow pass (pandas str-level normalize), zero shuffles.
    The `nfc_docs` driver oracle recomputes NFC with DuckDB's
    nfc_normalize — Python unicodedata and DuckDB agree code point for
    code point (both implement UAX #15).
    """
    import unicodedata

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError("form must be one of NFC/NFKC/NFD/NFKD")

    @F.pandas_udf(T.StringType())
    def norm(text: pd.Series) -> pd.Series:
        return text.map(
            lambda s: None if s is None else unicodedata.normalize(form, s)
        )

    return docs.select(
        F.col(id_col),
        norm(F.col(text_col)).alias("text_norm"),
        F.col(text_col).alias("_orig"),
    ).select(
        id_col, "text_norm",
        (~F.col("text_norm").eqNullSafe(F.col("_orig"))).alias("changed"),
    )


def duplicate_spans(docs: DataFrame, n: int = 8, min_count: int = 2,
                    id_col: str = "doc_id", text_col: str = "text",
                    emit: str = "stats", kernel: str = "arrow") -> DataFrame:
    """Exact duplicate-substring spans (Lee et al. 2022, arXiv:2107.06499
    "ExactSubstr"): find, per document, the maximal token ranges covered
    by token n-grams occurring >= `min_count` times across the WHOLE
    corpus (total occurrences — a doc repeating its own passage counts,
    exactly as a suffix array would see it).

    emit='stats' (default) returns one row per input document:
      (id, n_tokens, n_grams, n_dup_grams, n_spans, covered_tokens,
       max_span_tokens, dup_token_frac)
    emit='spans' returns one row per span:
      (id, span_start, span_tokens, n_grams_in_span)
    with span_start a 0-based token offset.

    Two duplicated grams at token offsets p < q describe overlapping or
    abutting token intervals iff q <= p + n, so spans are gaps-and-islands
    with gap threshold n — `covered_tokens` is the EXACT size of the union
    of duplicated-gram intervals, never double-counted. Lee et al. cut at
    50 BPE tokens; n here is in engine tokens (functions/strings.tokenize)
    and the published setting maps to n~50.

    Collision note: corpus frequency is counted on 64-bit gram hashes —
    the 2^-64 trade documented in decontam.py; the DuckDB oracle counts
    gram STRINGS and agrees exactly at test scale. Frequency is a COUNT
    WINDOW over the single positional-gram pass (the
    remove_duplicated_lines discipline). Per-doc totals are CLOSED FORM
    from the token count (n_grams = max(n_tokens - n + 1, 0)), so the
    expensive gram pass runs exactly once — stats mode adds only a cheap
    JVM-side tokenize projection joined to the span tail.

    kernel='arrow' (default): decontam's POSITIONAL siphash gram kernel —
    hashes in token order straight out of one Arrow pass, no gram strings
    built. kernel='expr' keeps the whole-stage-codegen gram-string twin
    (xxhash64 space); positions and span decisions are identical modulo
    a 64-bit collision (parity-tested).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if min_count < 2:
        raise ValueError("min_count must be >= 2 (1 would span every doc)")
    if emit not in ("stats", "spans"):
        raise ValueError("emit must be 'stats' or 'spans'")
    from entitylinking_spark.operators.textstats import ngram_tokens, tokenize

    if kernel == "arrow":
        from entitylinking_spark.operators.decontam import (
            make_pos_gram_hash_udf,
        )

        g = docs.select(
            F.col(id_col),
            F.posexplode(make_pos_gram_hash_udf(n)(text_col))
            .alias("pos", "gh"),
        )
    else:
        g = docs.select(
            F.col(id_col),
            F.posexplode(ngram_tokens(text_col, n)).alias("pos", "gram"),
        ).select(id_col, "pos", F.xxhash64("gram").alias("gh"))
    w_cnt = Window.partitionBy("gh")
    dup = g.withColumn("_cnt", F.count("*").over(w_cnt)).filter(
        F.col("_cnt") >= F.lit(min_count)
    )
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w_doc)
    runs = dup.withColumn(
        "_brk", F.when(gap.isNull() | (gap > n), 1).otherwise(0)
    ).withColumn("_grp", F.sum("_brk").over(w_doc))
    spans = runs.groupBy(id_col, "_grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") - F.min("pos") + n).cast("long").alias("span_tokens"),
        F.count("*").alias("n_grams_in_span"),
    )
    if emit == "spans":
        return spans.select(id_col, "span_start", "span_tokens",
                            "n_grams_in_span")
    per = spans.groupBy(id_col).agg(
        F.count("*").alias("n_spans"),
        F.sum("n_grams_in_span").alias("n_dup_grams"),
        F.sum("span_tokens").alias("covered_tokens"),
        F.max("span_tokens").alias("max_span_tokens"),
    )
    toks = tokenize(text_col)
    doc_tot = docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.greatest(F.size(toks) - (n - 1), F.lit(0)).cast("long")
        .alias("n_grams"),
    )
    z = F.lit(0).cast("long")
    return doc_tot.join(per, id_col, "left").select(
        id_col, "n_tokens", "n_grams",
        F.coalesce("n_dup_grams", z).alias("n_dup_grams"),
        F.coalesce("n_spans", z).alias("n_spans"),
        F.coalesce("covered_tokens", z).alias("covered_tokens"),
        F.coalesce("max_span_tokens", z).alias("max_span_tokens"),
        F.when(F.col("n_tokens") > 0,
               F.coalesce("covered_tokens", z) / F.col("n_tokens"))
        .otherwise(F.lit(0.0)).alias("dup_token_frac"),
    )


def apply_span_cuts(docs: DataFrame, spans: DataFrame,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Apply duplicate_spans(emit='spans') cuts: rebuild each document's
    text with the spanned token ranges REMOVED (the Lee et al. 2022
    dedup step itself; duplicate_spans finds, this cuts).

    Returns (id, text_cut, n_tokens_removed) for EVERY input doc —
    span-less docs pass through with 0 removed. The rebuild is
    token-level (single spaces): the same lossy-whitespace trade the
    reference's normalization passes make
    (/root/reference/OneNet/data_process.py:137-239); cut docs were
    heading for a tokenizer anyway. Run with the SAME n/min_count/kernel
    the spans were generated with.

    Plan: spans are corpus-tail-sized (docs with duplication only); the
    anti-coverage filter is one explode of each cut doc's tokens joined
    to its spans — per-task memory bounded by spans-per-doc, one shuffle
    keyed by doc id.
    """
    from entitylinking_spark.operators.textstats import tokenize

    toks = docs.select(
        F.col(id_col),
        F.posexplode_outer(tokenize(text_col)).alias("tpos", "tok"),
    )
    per_doc_spans = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_tokens")).alias("_spans")
    )
    joined = toks.join(per_doc_spans, id_col, "left")
    covered = F.exists(
        F.coalesce(F.col("_spans"),
                   F.array().cast(
                       "array<struct<span_start:int,span_tokens:bigint>>")),
        lambda s: (F.col("tpos") >= s["span_start"])
        & (F.col("tpos") < s["span_start"] + s["span_tokens"]),
    )
    flagged = joined.select(
        id_col, "tpos", "tok",
        (F.col("tok").isNotNull() & covered).alias("_cut"),
    )
    return flagged.groupBy(id_col).agg(
        F.expr(
            "array_join(transform(array_sort("
            "  collect_list(CASE WHEN tok IS NOT NULL AND NOT _cut "
            "               THEN struct(tpos, tok) END)"
            "), x -> x.tok), ' ')"
        ).alias("text_cut"),
        F.sum(F.col("_cut").cast("long")).alias("n_tokens_removed"),
    )


# ---------------------------------------------------------------------------
# HTML -> text extraction (the WET step of a web-corpus build)
# ---------------------------------------------------------------------------

# Applied strictly in order. Every pattern is RE2-safe (no backreferences,
# no lookaround) so the DuckDB oracle runs the IDENTICAL chain; inline
# (?is) flags because DuckDB's regexp_replace is first-match unless 'g'
# while Spark's is always global — the flags live in the pattern, the 'g'
# in the SQL call site.
_HTML_PASSES: list[tuple[str, str]] = [
    (r"(?is)<script[^>]*>.*?</script>", " "),   # script blocks, content too
    (r"(?is)<style[^>]*>.*?</style>", " "),     # style blocks
    (r"(?s)<!--.*?-->", " "),                   # comments
    (r"(?i)<(br|/p|/div|/h[1-6]|/li|/tr|/table)[^>]*>", "\n"),  # block ends
    (r"(?s)<[^>]*>", " "),                      # every remaining tag
    (r"&lt;", "<"), (r"&gt;", ">"), (r"&quot;", "\""),
    (r"&#39;", "'"), (r"&nbsp;", " "),
    (r"&amp;", "&"),                            # LAST: &amp;lt; -> &lt; text
    (r"[ \t\r]*\n[ \t\r]*", "\n"),              # tidy around newlines
    (r"\n{2,}", "\n"),                          # collapse blank lines
    (r"[ \t\r]+", " "),                         # collapse runs of spaces
    (r"^[\n ]+|[\n ]+$", ""),                   # trim
]


def html_to_text(docs: DataFrame, text_col: str = "text",
                 out_col: str = "text_plain") -> DataFrame:
    """Heuristic HTML -> plain text: strip script/style/comments, turn
    block-level closers into newlines, drop every remaining tag, decode
    the six common entities (&amp; last, so escaped markup stays text),
    and normalize whitespace. The text-extraction step C4/FineWeb-class
    corpora run on crawled pages before any quality pass (reference
    per-file normalize loops: /root/reference/OneNet/data_process.py:
    137-239 are the plain-text analogue).

    A regex extractor is the documented trade: no DOM, no entity table,
    no malformed-markup recovery — trafilatura-class extraction needs a
    real parser. In exchange the whole pass is ONE chained
    regexp_replace column expression: single codegen scan, zero
    shuffles at any corpus size, and an engine-portable definition (the
    DuckDB oracle runs the same patterns verbatim — RE2-safe by
    construction).
    """
    c = F.col(text_col)
    for pat, rep in _HTML_PASSES:
        c = F.regexp_replace(c, pat, rep)
    return docs.withColumn(out_col, c)


def html_passes_sql(expr: str) -> str:
    """The identical chain as DuckDB SQL (oracle twin), innermost-first."""
    for pat, rep in _HTML_PASSES:
        pat_sql = pat.replace("'", "''")
        rep_sql = rep.replace("'", "''").replace("\n", "' || chr(10) || '")
        expr = f"regexp_replace({expr}, '{pat_sql}', '{rep_sql}', 'g')"
    return expr


# ---------------------------------------------------------------------------
# URL features + domain blocklist (the C4/RefinedWeb URL-filtering stage)
# ---------------------------------------------------------------------------

def url_features(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-URL filtering features: scheme, host (lowercased, userinfo and
    port stripped), registrable-domain heuristic (last two labels), tld,
    non-empty path-segment depth, has_query. Every column is a single
    RE2-safe regexp/array expression — one codegen scan, zero shuffles,
    and the DuckDB oracle recomputes each one verbatim (`url_stats`).

    The registrable-domain column is the LAST-TWO-LABELS heuristic, not
    the Public Suffix List ('bbc.co.uk' -> 'co.uk'): the PSL is a data
    file, not an algorithm — load it over this same frame when exactness
    matters. C4 §2.1 / RefinedWeb §3.1 run their URL blocklists at this
    stage."""
    u = F.lower(F.trim(F.col(url_col)))
    scheme = F.regexp_extract(u, r"^([a-z][a-z0-9+.-]*)://", 1)
    auth = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    host = F.regexp_replace(
        F.regexp_replace(auth, r"^[^@]*@", ""), r":[0-9]+$", ""
    )
    path = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    return df.withColumns({
        "scheme": scheme,
        "host": host,
        "domain": F.regexp_extract(host, r"([a-z0-9-]+\.[a-z0-9-]+)$", 1),
        "tld": F.regexp_extract(host, r"\.([a-z0-9-]+)$", 1),
        "path_depth": F.size(F.array_remove(F.split(path, "/"), "")),
        "has_query": u.contains("?"),
    })


def filter_blocked_domains(df: DataFrame, blocklist: DataFrame,
                           url_col: str = "url",
                           id_col: str = "doc_id",
                           max_labels: int = 4) -> DataFrame:
    """Annotate rows whose URL host falls under a blocklisted domain
    SUFFIX (UT1/C4-style blocklists match 'ads.example.com' against an
    'example.com' entry). blocklist: one `domain` column.

    Plan: the host's candidate suffixes (itself + its last 2..max_labels
    label groups, <= max_labels per row) explode into a SLIM (id, suffix)
    frame, hit the blocklist in a BROADCAST semi-join (blocklists are
    dimension-sized next to a web corpus), and distinct blocked ids join
    back as a flag. One shuffle of O(matched ids), never the text."""
    feats = url_features(df, url_col).select(id_col, "host")
    labels = F.split(F.col("host"), r"\.")
    n = F.size(labels)
    cands = F.array_distinct(F.filter(
        F.transform(
            F.sequence(F.lit(2), F.lit(max_labels)),
            lambda k: F.when(
                n >= k, F.array_join(F.slice(labels, n - k + 1, k), ".")
            ),
        ),
        lambda c: c.isNotNull(),
    ))
    exploded = feats.select(
        id_col, F.explode_outer(cands).alias("suffix")
    )
    hits = (
        exploded.join(
            F.broadcast(blocklist.select(F.col("domain").alias("suffix"))),
            "suffix",
        )
        .select(id_col)
        .distinct()
        .withColumn("url_blocked", F.lit(True))
    )
    return df.join(hits, id_col, "left").withColumn(
        "url_blocked", F.coalesce(F.col("url_blocked"), F.lit(False))
    )


# ---------------------------------------------------------------------------
# Token-window chunking (context-window prep for training / retrieval)
# ---------------------------------------------------------------------------

def chunk_documents(docs: DataFrame, size: int = 128, stride: int = 96,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Split each document into overlapping token windows of `size`
    tokens every `stride` tokens — the context-window prep both trainers
    (fixed-length examples without mid-document truncation loss) and
    retrieval corpora (passage windows) run. The TAIL window is always
    emitted (start = n_tokens - size) even when it breaks the stride
    grid, so every token is covered by at least one chunk.

    Returns (id, chunk_id, chunk_start, n_chunk_tokens, chunk_text) with
    chunk_text rebuilt space-joined (the tokenize() convention — rebuild
    is canonical-form, not byte-identical). Docs with <= size tokens
    yield exactly one chunk; empty/null docs yield one empty chunk row
    (chunk pruning is a filter on n_chunk_tokens, the caller's policy).

    Plan: pure codegen column expressions (tokenize once, sequence +
    array_union for starts, explode, slice per chunk) — one scan, zero
    shuffles at any corpus size, and the DuckDB oracle recomputes every
    window verbatim (`doc_chunks`).
    """
    if size < 1 or stride < 1 or stride > size:
        raise ValueError("need 1 <= stride <= size")
    toks = tokenize(F.col(text_col))
    n = F.size(toks)
    starts = F.when(n <= size, F.array(F.lit(0))).otherwise(
        F.array_union(
            F.sequence(F.lit(0), n - size, F.lit(stride)),
            F.array(n - size),
        )
    )
    e = docs.select(
        F.col(id_col), toks.alias("_toks"),
        F.posexplode_outer(starts).alias("chunk_id", "chunk_start"),
    )
    piece = F.slice(F.col("_toks"),
                    F.coalesce(F.col("chunk_start"), F.lit(0)) + 1, size)
    return e.select(
        id_col,
        F.coalesce(F.col("chunk_id"), F.lit(0)).alias("chunk_id"),
        F.coalesce(F.col("chunk_start"), F.lit(0)).alias("chunk_start"),
        F.coalesce(F.size(piece), F.lit(0)).alias("n_chunk_tokens"),
        F.coalesce(F.array_join(piece, " "), F.lit("")).alias("chunk_text"),
    )


def split_sentences(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id, sent_id, sentence): regex sentence segmentation — greedy runs
    of non-terminators plus their trailing [.!?]+, trimmed, empties
    dropped. RE2-safe by construction (no lookbehind), so the DuckDB
    oracle runs the identical pattern. Documented naivety: abbreviations
    split ("Dr." ends a sentence) — the C4-class heuristic trade; a real
    segmenter is a model, not a regex.

    Zero shuffles (extract_all + explode on one scan). Null/empty docs
    yield no rows (a doc with no sentences has nothing to segment —
    unlike chunking, there is no windowing contract to preserve)."""
    sents = F.regexp_extract_all(F.col(text_col), F.lit(r"[^.!?]+[.!?]*"), F.lit(0))
    cleaned = F.filter(
        F.transform(sents, lambda s: F.trim(s)), lambda s: s != ""
    )
    return docs.select(
        F.col(id_col),
        F.posexplode(cleaned).alias("sent_id", "sentence"),
    )


def resegment_sentences(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        out_col: str = "text_sentences") -> DataFrame:
    """Rewrite each document as one-sentence-per-line (canonical form —
    original whitespace is not preserved). The adapter that runs
    `remove_duplicated_lines` at C4's TRUE unit: C4 §2.2 dedups
    three-sentence spans, and the line operator's unit is whatever the
    separator delimits — after this pass, the line IS the sentence."""
    sents = F.regexp_extract_all(F.col(text_col), F.lit(r"[^.!?]+[.!?]*"), F.lit(0))
    cleaned = F.filter(
        F.transform(sents, lambda s: F.trim(s)), lambda s: s != ""
    )
    return docs.withColumn(out_col, F.array_join(cleaned, "\n"))
