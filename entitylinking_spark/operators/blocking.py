"""Blocking-key derivation: the candidate-generation stage.

Reference analogue: the mention->entity candidate indexes (name match
/root/reference/Sparkle/database.py:185-197, embedding top-k
/root/reference/Sparkle/database.py:165-183, BM25
/root/reference/e2e/entity_database.py:326-372, precomputed tf-idf lists
/root/reference/OneNet/data_process.py:50-54). All of them exist to avoid
comparing every mention with every entity; here that becomes deterministic
block keys (SURVEY.md §2.3 J7):

  * ``sha:<content_sha>``       exact-duplicate fast path
  * ``path:<lang>:<stem>``      normalized file-name stem (name-match index)
  * ``mh:<lang>:<band>:<hash>`` MinHash/LSH band keys (ANN index)

One narrow projection + one Arrow pass computes everything; band keys are
derived JVM-side from the signature (functions/hashing.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from entitylinking_spark.functions.hashing import band_keys, make_minhash_udf
from entitylinking_spark.functions.strings import ngram_set, tokenize


@dataclass(frozen=True)
class ERConfig:
    """Tunables for the blocking -> scoring -> clustering pipeline."""

    num_perm: int = 64
    num_bands: int = 16
    rows_per_band: int = 4
    # skew handling (operators/pairs.py)
    block_cap: int = 200          # max rows of a block joined un-salted
    # Stop-band suppression: a block bigger than this is boilerplate (a
    # band shared by a large slice of the corpus — license headers, shared
    # templates) and is dropped, counted in metrics. True near-dup pairs
    # collide in ~b*J^r other bands and in the path/sha channels, so recall
    # survives; without this, one stop band costs O(size^2) comparisons
    # that score below tau anyway (measured: 2058-row band -> 2.1M of 3.2M
    # comparisons on the 5k-doc bench, 0 extra matches).
    skip_block_threshold: int = 2_000
    # Name-channel gating (round-2 scaling fix #2): a same-stem pair only
    # becomes a candidate if it ALSO shares one of `coarse_bands` permissive
    # LSH bands of `coarse_rows` rows. Round-2 census at 200k rows: path
    # blocks carried 9.3M of 9.7M pair mass, 96% junk (random same-stem
    # files); the gate kills the O(block^2) junk at the source.
    # RECALL CAVEAT (ADVICE r2): the 1-(1-j^r)^b gate probability is in
    # SHINGLE-space (3-token-shingle Jaccard, what the MinHash sketches),
    # while matchability tau is decided in VERIFY-space (token n-grams,
    # verify_ngram). For edited files shingle-J sits below token-J (one
    # token edit kills up to 3 shingles), so the >=99.5% figure quoted at
    # j=0.53 applies to pairs whose SHINGLE-J is 0.53; a renamed file
    # whose token-J is barely matchable can have shingle-J lower and see
    # less gate recall. Empirically (tests/test_pipeline_e2e.py fixtures,
    # 300/20k rows incl. renamed+edited near-dups) pairwise F1 stays 1.000;
    # such pairs are also usually caught by the fine mh bands or the sha
    # channel. Set coarse_rows=1 for a more permissive gate if the corpus
    # has heavy rename+edit churn.
    coarse_bands: int = 16
    coarse_rows: int = 2
    # SOUND length prune: J(A,B) <= min(|A|,|B|)/max(|A|,|B|) for the
    # verify-space unit sets, and a pair needs J >= (tau-w_name)/w_content
    # to reach tau even with a perfect name score — so pairs whose unit-
    # count ratio is below that floor cannot match. None = derive from
    # tau/w_name/w_content; 0 disables.
    min_len_ratio: float | None = None
    # scoring (operators/scoring.py)
    tau: float = 0.60             # match threshold on blended score
    w_name: float = 0.15
    w_content: float = 0.85
    # Corpus-frequency shingle suppression (round-2 scaling fix): shingles
    # present in more than `suppress_shingle_df` of a deterministic
    # `suppress_sample` of documents are dropped from MinHash signatures,
    # so boilerplate (license headers, shared templates) stops generating
    # band collisions AT THE SOURCE. Measured round 1: 83% of candidate
    # pairs at 500k rows were boilerplate-band negatives scoring below tau.
    # None disables. The min-df floor keeps tiny corpora/tests exact.
    suppress_shingle_df: float | None = 0.02
    suppress_sample: float = 0.05
    suppress_min_df: int = 8
    suppress_max_terms: int = 100_000
    # Corpora below this row count skip the suppression census entirely
    # (round-2 verdict: at 20k rows the census is a pure fixed cost — the
    # pair explosion it prevents doesn't exist yet, and with a 5% sample
    # plus the min-df floor the blacklist is empty/near-empty anyway).
    # One cheap count() decides; at parquet scale that's metadata-only.
    suppress_min_corpus: int = 50_000
    verify_jaccard: bool = True   # exact token-Jaccard on survivors of a prescreen
    # gram size for the exact verification space: 1 = distinct tokens (the
    # round-1 behavior), 3 = token trigrams — the same space the MinHash
    # shingles (shingle_k=3) estimate, which makes the prescreen estimate
    # and the verified value commensurable
    verify_ngram: int = 1
    prescreen_margin: float = 0.15
    # Decision-bounded Jaro-Winkler (round-3): compute the Python JW kernel
    # only for pairs where name_sim ∈ [lev_sim, 1] can move the score
    # across tau; everywhere else the JVM Levenshtein surrogate is
    # decision-equivalent and name_sim reports lev_sim. False restores the
    # round-2 behavior (JW for every unequal-name survivor).
    jw_decision_band: bool = True

    def __post_init__(self):
        if self.num_bands * self.rows_per_band > self.num_perm:
            raise ValueError("num_bands*rows_per_band must be <= num_perm")
        # CLAMP (don't raise) the coarse name-channel gate to the available
        # permutations: a small-num_perm config whose fine bands fit is
        # valid, and a hard error here rejected it only because of the
        # coarse defaults (ADVICE r2). Clamping keeps block_candidates
        # well-defined for every config; the clamped values participate in
        # the checkpoint fingerprint, so resumes stay consistent.
        if self.coarse_bands * self.coarse_rows > self.num_perm:
            rows = min(self.coarse_rows, self.num_perm)
            bands = max(1, self.num_perm // rows)
            # visible clamp (ADVICE r3): silent absorption hid config typos
            # that change coarse-gate selectivity — warn so misconfigured
            # gates stay diagnosable while small-num_perm configs keep working
            import warnings

            warnings.warn(
                f"coarse gate clamped to fit num_perm={self.num_perm}: "
                f"coarse_bands {self.coarse_bands}->{bands}, "
                f"coarse_rows {self.coarse_rows}->{rows}",
                stacklevel=3,
            )
            object.__setattr__(self, "coarse_rows", rows)
            object.__setattr__(self, "coarse_bands", bands)

    @property
    def len_ratio_floor(self) -> float:
        """Effective length-ratio prune floor (see min_len_ratio).

        SOUND only when the match decision uses the exact verify-space
        Jaccard: J(A,B) <= min(|A|,|B|)/max(|A|,|B|) bounds the EXACT
        Jaccard of the unit sets, not the b-bit MinHash ESTIMATE used when
        verify_jaccard=False. In estimate mode the derived floor is
        therefore disabled (ADVICE r2) — set min_len_ratio explicitly to
        opt in regardless.
        """
        if self.min_len_ratio is not None:
            return self.min_len_ratio
        if not self.verify_jaccard:
            return 0.0
        if self.w_content <= 0:
            return 0.0
        return max(0.0, (self.tau - self.w_name) / self.w_content)


def shingle_blacklist(repo_files: DataFrame, cfg: ERConfig = ERConfig(),
                      text_col: str = "content"):
    """High-document-frequency shingle hashes to suppress (numpy uint64).

    One sampled census job: deterministic hash-based sample of documents
    (xxhash64 of content — stable across runs/executors), distinct shingle
    hashes per doc (Arrow pass), explode + count, keep hashes whose sampled
    document frequency exceeds max(suppress_min_df,
    suppress_shingle_df * sample_size). Bounded by suppress_max_terms
    (highest-DF first) so the broadcast to the signature UDF stays small.
    """
    import numpy as np

    from entitylinking_spark.functions.hashing import make_shingle_set_udf

    if cfg.suppress_shingle_df is None:
        return None
    sample_pm = int(cfg.suppress_sample * 10_000)
    # the sample filter must READ the full content column either way; cache
    # the small sampled slice so the count and the shingle census are one
    # full scan, not two (round-4 stage profile: each content scan at 500k
    # is a ~40 s-executor stage)
    sampled = repo_files.select(F.col(text_col)).filter(
        F.pmod(F.xxhash64(F.col(text_col)), F.lit(10_000)) < sample_pm
    ).persist()
    shingle_udf = make_shingle_set_udf()
    counted = (
        sampled.select(F.explode(shingle_udf(F.col(text_col))).alias("sh"))
        .groupBy("sh")
        .agg(F.count("*").alias("df"))
    )
    n_sampled = sampled.count()
    cutoff = max(cfg.suppress_min_df, int(cfg.suppress_shingle_df * n_sampled))
    rows = (
        counted.filter(F.col("df") > cutoff)
        .orderBy(F.desc("df"), "sh")
        .limit(cfg.suppress_max_terms)
        .collect()
    )
    sampled.unpersist()
    if not rows:
        return None
    return np.array([r["sh"] for r in rows], dtype=np.int64).view(np.uint64)


def with_keys(repo_files: DataFrame, cfg: ERConfig = ERConfig(),
              id_col: str | None = None, blacklist=None) -> DataFrame:
    """repo_files -> keyed rows (row_id, content_sha, fname, tokens, minhash).

    `content_sha` is the per-row invariant (BASELINE.json input_hint): it is
    computed ONCE here from the raw content and carried untouched through
    every later stage. `blacklist` (from shingle_blacklist) suppresses
    boilerplate shingles in the MinHash signatures — content_sha and every
    verification kernel still see the FULL content.
    """
    minhash = make_minhash_udf(cfg.num_perm, blacklist=blacklist)
    df = repo_files
    if id_col is not None:
        df = df.withColumn("row_id", F.col(id_col).cast("string"))
    elif "row_id" not in df.columns:
        # stable natural key: (repo, path, commit) uniquely identifies a file
        df = df.withColumn(
            "row_id", F.concat_ws("@", F.col("repo"), F.col("path"), F.col("commit"))
        )
    return (
        df.withColumn("content_sha", F.sha2(F.col("content"), 256))
        .withColumn("fname", F.element_at(F.split(F.col("path"), "/"), -1))
        # distinct verify-space unit count: drives the sound length-ratio
        # prune in candidate_pairs (J <= min/max of unit-set sizes)
        .withColumn(
            "n_units", F.size(ngram_set(F.col("content"), cfg.verify_ngram))
        )
        .withColumn("minhash", minhash(F.col("content")))
    )


def path_stem(col) -> F.Column:
    """Normalized file-name stem: lowercase, extension off, version suffixes off.

    Catches renamed near-duplicates the LSH bands might miss — the Spark
    equivalent of the reference's name-match candidate channel
    (/root/reference/Sparkle/database.py:185-197).
    """
    stem = F.lower(col)
    stem = F.regexp_replace(stem, r"\.[a-z0-9]+$", "")       # extension
    stem = F.regexp_replace(stem, r"(_v?\d+)+$", "")         # version suffixes
    return stem


def block_candidates(keyed: DataFrame, cfg: ERConfig = ERConfig()) -> DataFrame:
    """keyed rows -> exploded (block_key, row_id, n_units) rows.

    Exact duplicates are NOT blocked here — they take the sha fast path in
    the pipeline (group-by content_sha), so near-dup blocking only ever sees
    one representative per distinct content (massive pair-count reduction on
    corpora with heavy exact duplication).

    Channels:
      mh:{lang}:{band}:{key}            fine LSH bands (num_bands x
                                        rows_per_band) — the ANN index
      path:{lang}:{stem}:{band}:{key}   name channel GATED by permissive
                                        coarse bands (coarse_bands x
                                        coarse_rows): a same-stem pair must
                                        also share one coarse band. Recall
                                        at the lowest matchable content
                                        similarity j: 1-(1-j^coarse_rows)^
                                        coarse_bands (~99.5% at j=0.53 with
                                        16x2); an UNgated stem key is an
                                        O(block^2) junk-pair source — 96%
                                        of all candidate pairs at 200k rows
                                        (round-2 census).
    """
    # Block keys are 64-bit hashes, not strings: the block self-join and the
    # (id_l,id_r) dedup are the two biggest shuffles in the pipeline, and an
    # 8-byte key vs a ~40-char string cuts their payload severalfold. The
    # channel/lang/band are folded into the hash (xxhash64 is seeded per
    # channel literal, so mh/path keys can never collide by construction
    # beyond the 2^-64 hash floor).
    mh_keys = F.transform(
        band_keys("minhash", cfg.num_bands, cfg.rows_per_band),
        lambda e: F.xxhash64(F.lit("mh"), F.col("lang"), e["band"], e["key"]),
    )
    stem = path_stem(F.col("fname"))
    path_keys = F.transform(
        band_keys("minhash", cfg.coarse_bands, cfg.coarse_rows),
        lambda e: F.xxhash64(F.lit("path"), F.col("lang"), stem, e["band"], e["key"]),
    )
    all_keys = F.array_union(mh_keys, path_keys)
    # is_new (incremental resolution, plans/incremental.py) rides along so
    # candidate_pairs can kill old×old pairs inside the join
    extra = [c for c in ("is_new",) if c in keyed.columns]
    return keyed.select(
        "row_id", "n_units", *extra, F.explode(all_keys).alias("block_key")
    ).select("block_key", "row_id", "n_units", *extra)


def block_census(blocks: DataFrame) -> DataFrame:
    """Block sizes — drives skew splitting and the metrics/lineage report."""
    return blocks.groupBy("block_key").agg(F.count("*").alias("block_size"))
