"""Reference-shaped entity linking: mentions -> candidates -> best entity.

The distributed re-expression of the reference's linking entry point
(/root/reference/Sparkle/linking.py:85-97 -> core.py:30-166):

  candidate channels (union + first-seen dedupe — core.py:100-120, U1/T5):
    name      exact/partial title match (database.py:185-197, X7)
    token     shared-token overlap score, TF-style (database.py:199-218, X8)
    sketch    MinHash band co-occurrence on description text (replaces the
              embedding channel database.py:165-183)
  ranking: per-mention score window, deterministic tie-break (T1/T3/T4)
  decision: rank-1 candidate per mention with a fallback ladder analogous
            to core.py:140-164 (no candidates -> NULL entity).

Everything is joins + windows; the only Arrow kernel is the MinHash
signature already used by the ER pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from entitylinking_spark.functions.hashing import band_keys, make_minhash_udf, minhash_similarity
from entitylinking_spark.functions.strings import name_match_score, tokenize


def candidate_channels(mentions: DataFrame, entities: DataFrame,
                       num_perm: int = 32, num_bands: int = 8,
                       use_bm25: bool = False,
                       token_df_cutoff: float = 0.25,
                       token_df_min: int = 50,
                       name_df_cutoff: float = 0.25,
                       name_df_min: int = 50,
                       sketch_band_cap: int = 2000) -> DataFrame:
    """(corpus, mention_id, text) x (corpus, document_id, title, text) ->
    (mention_id, document_id, channel, ch_score) candidate pairs.

    Entities are blocked per channel; nothing ever goes mention x entity
    cross-join. The corpus key scopes both sides (J2 composite-key join).

    use_bm25 replaces the TF-count token channel with full BM25 scoring
    (operators/bm25.py — the reference's actual retrieval,
    e2e/entity_database.py:326-372).

    token_df_cutoff/token_df_min: the token channel drops corpus-stopword
    tokens — document frequency above cutoff*n_entities AND above the
    absolute floor — before the postings join. Without this every stopword
    is a hot join key (round-1 verdict #7); the floor keeps small fixtures
    exact. Dropped-token census is exposed via the returned plan's
    `high_df` relation when debugging.

    name_df_cutoff/name_df_min: the SAME gate for the name channel's
    first-token block key (round-1 NOTES flagged it as a skew magnet):
    a first token shared by >cutoff of a corpus's entities (above the
    absolute floor) is dropped as a block key — such a block carries no
    name signal (name_match_score would reject almost every pair, but only
    AFTER the M×E join explosion on the hot key). Entity-side DF bounds
    per-key join output: each surviving key joins <= cutoff*n_entities
    entity rows per mention row — linear in mentions, never M×E.

    sketch_band_cap: entity-side stop-band skip for the sketch channel —
    a MinHash band key shared by more than `sketch_band_cap` entities is a
    mass-collision (boilerplate descriptions), the same degenerate-block
    class the ER pipeline's skip_block_threshold handles
    (blocking.py ERConfig). Skipped keys cost recall only for pairs whose
    EVERY matching band is degenerate; those entities are still reachable
    through the name/token channels.
    """
    m = mentions.select(
        "corpus", "mention_id", F.col("text").alias("m_text"),
        F.lower(F.col("text")).alias("m_name"),
    )
    e = entities.select(
        "corpus", "document_id", F.col("title").alias("e_title"),
        F.lower(F.col("title")).alias("e_name"), F.col("text").alias("e_text"),
    )

    # channel 1: name — join on a shared first-token block, score X7-style.
    # F7 short-query guard (graph_system.py:509-510): queries < 2 chars are
    # noise and would also make the block key a skew magnet.
    m_name = m.withColumn("name_block", F.element_at(tokenize("m_name"), 1)).filter(
        F.length("name_block") >= 2
    )
    e_name = e.withColumn("name_block", F.element_at(tokenize("e_name"), 1))
    n_ent_by_corpus = e.groupBy("corpus").agg(F.count("*").alias("n_entities"))
    high_df_names = (
        e_name.groupBy("corpus", "name_block")
        .agg(F.count("*").alias("df"))
        .join(F.broadcast(n_ent_by_corpus), "corpus")
        .filter(
            (F.col("df") > F.lit(name_df_min))
            & (F.col("df") > F.lit(name_df_cutoff) * F.col("n_entities"))
        )
        .select("corpus", "name_block")
    )
    e_name = e_name.join(F.broadcast(high_df_names), ["corpus", "name_block"], "left_anti")
    name_cands = (
        m_name.join(e_name, ["corpus", "name_block"])
        .withColumn("ch_score", name_match_score("m_name", "e_name"))
        .filter(F.col("ch_score") > 0)
        .select("mention_id", "document_id", F.lit("name").alias("channel"), "ch_score")
    )

    # channel 2: token overlap — explode mention tokens, join entity token
    # postings, TF-count (the relational form of the term-frequency scorer).
    # Corpus-stopword tokens are dropped first: one DF census + anti-join,
    # so a token present in >cutoff of the corpus never becomes a join key.
    if use_bm25:
        from entitylinking_spark.operators.bm25 import bm25_channel

        token_cands = bm25_channel(mentions, entities)
    else:
        m_toks = m.select(
            "corpus", "mention_id", F.explode(F.array_distinct(tokenize("m_text"))).alias("tok")
        ).filter(F.length("tok") >= 2)
        e_toks = e.select(
            "corpus", "document_id", F.explode(F.array_distinct(tokenize("e_text"))).alias("tok")
        ).filter(F.length("tok") >= 2)
        n_ent = e.groupBy("corpus").agg(F.count("*").alias("n_entities"))
        high_df = (
            e_toks.groupBy("corpus", "tok")
            .agg(F.count("*").alias("df"))
            .join(F.broadcast(n_ent), "corpus")
            .filter(
                (F.col("df") > F.lit(token_df_min))
                & (F.col("df") > F.lit(token_df_cutoff) * F.col("n_entities"))
            )
            .select("corpus", "tok")
        )
        e_toks = e_toks.join(F.broadcast(high_df), ["corpus", "tok"], "left_anti")
        token_cands = (
            m_toks.join(e_toks, ["corpus", "tok"])
            .groupBy("mention_id", "document_id")
            .agg(F.count("*").cast("double").alias("ch_score"))
            .withColumn("channel", F.lit("token"))
            .select("mention_id", "document_id", "channel", "ch_score")
        )

    # channel 3: sketch — MinHash bands of mention text vs entity text
    mh = make_minhash_udf(num_perm, shingle_k=1)
    m_sig = m.withColumn("sig", mh("m_text"))
    bands = lambda df: df.select(  # noqa: E731
        "*",
        F.explode(
            F.transform(
                band_keys("sig", num_bands, num_perm // num_bands),
                lambda x: F.concat_ws(":", x["band"].cast("string"), x["key"].cast("string")),
            )
        ).alias("band_key"),
    )
    # slim (corpus, document_id, sig, band_key) frame materialized ONCE:
    # the stop-band census and the anti-joined left side both read it, and
    # without the checkpoint Catalyst runs the MinHash Arrow kernel over
    # the entity texts twice. Slim = e_text is dropped before
    # materialization; sig is num_perm ints.
    e_bands = bands(
        e.select("corpus", "document_id", mh(F.col("e_text")).alias("sig"))
    ).localCheckpoint(eager=True)
    hot_bands = (
        e_bands.groupBy("corpus", "band_key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > F.lit(sketch_band_cap))
        .select("corpus", "band_key")
    )
    e_bands = e_bands.join(F.broadcast(hot_bands), ["corpus", "band_key"], "left_anti")
    sketch_cands = (
        bands(m_sig).alias("ml")
        .join(e_bands.alias("el"),
              (F.col("ml.corpus") == F.col("el.corpus"))
              & (F.col("ml.band_key") == F.col("el.band_key")))
        .select(
            F.col("ml.mention_id").alias("mention_id"),
            F.col("el.document_id").alias("document_id"),
            minhash_similarity(F.col("ml.sig"), F.col("el.sig")).alias("ch_score"),
        )
        .groupBy("mention_id", "document_id")
        .agg(F.max("ch_score").alias("ch_score"))
        .withColumn("channel", F.lit("sketch"))
        .select("mention_id", "document_id", "channel", "ch_score")
    )

    return name_cands.unionByName(token_cands).unionByName(sketch_cands)


def rank_candidates(cands: DataFrame, top_k: int = 10,
                    w_name: float = 0.5, w_token: float = 0.2,
                    w_sketch: float = 0.3) -> DataFrame:
    """Fuse channels (X17 blend after X15 PER-MENTION max-normalization —
    the reference's hybrid re-rank normalizes each query's candidate set,
    e2e/entity_database.py:402-412) and keep the per-mention top-k with
    deterministic tie-break.

    Partitioning the normalization window by (mention_id, channel) both
    matches the reference semantics and keeps the shuffle key high-
    cardinality; a window over `channel` alone would funnel the whole
    candidate table into <=3 partitions (round-1 advice)."""
    ch_max = Window.partitionBy("mention_id", "channel")
    normed = cands.withColumn(
        "norm_score",
        F.when(F.max("ch_score").over(ch_max) == 0, F.lit(0.0)).otherwise(
            F.col("ch_score") / F.max("ch_score").over(ch_max)
        ),
    )
    # each (mention, document, channel) has at most one row, so a
    # conditional max picks each channel's value and the weighted terms
    # are added in one fixed order — a row-wise sum would add them in
    # shuffle order and the float score would depend on the plan
    def channel(*names: str):
        picked = F.when(F.col("channel").isin(*names), F.col("norm_score"))
        return F.coalesce(F.max(picked), F.lit(0.0))

    fused = normed.groupBy("mention_id", "document_id").agg(
        (F.lit(w_name) * channel("name") + F.lit(w_token) * channel("token", "bm25")
         + F.lit(w_sketch) * channel("sketch")).alias("score")
    )
    w = Window.partitionBy("mention_id").orderBy(F.desc("score"), F.col("document_id"))
    return fused.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= top_k)


def link_mentions(mentions: DataFrame, entities: DataFrame, top_k: int = 10,
                  use_bm25: bool = False) -> DataFrame:
    """Full flow: returns (mention_id, entity_id, score, candidates array).

    Mentions with no candidate at all come back with NULL entity_id — the
    reference's fallback ladder end state (core.py:154-164). The gold
    `label_document_id` column is carried through only when the mentions
    have it.
    """
    ranked = rank_candidates(
        candidate_channels(mentions, entities, use_bm25=use_bm25), top_k=top_k
    )
    per_mention = ranked.groupBy("mention_id").agg(
        F.sort_array(
            F.collect_list(F.struct("rank", "document_id", "score"))
        ).alias("_cands")
    )
    best = per_mention.select(
        "mention_id",
        F.col("_cands")[0]["document_id"].alias("entity_id"),
        F.col("_cands")[0]["score"].alias("score"),
        F.transform(F.col("_cands"), lambda c: c["document_id"]).alias("candidates"),
    )
    keep = [c for c in ("mention_id", "corpus", "label_document_id")
            if c in mentions.columns]
    return mentions.select(*keep).join(best, "mention_id", "left")
