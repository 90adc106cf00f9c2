"""Blocking-key derivation: stems, band keys, recall of planted pairs."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from entitylinking_spark.functions.hashing import band_keys, make_minhash_udf
from entitylinking_spark.operators.blocking import (
    ERConfig,
    block_candidates,
    block_census,
    path_stem,
    with_keys,
)
from entitylinking_spark.synthdata import generate_repo_files


def test_path_stem_normalization(spark):
    cases = [
        ("strings_1.py", "strings"),
        ("Strings_v2.PY", "strings"),
        ("tree_hash.go", "tree_hash"),
        ("noext", "noext"),
        ("a_12_3.rs", "a"),
    ]
    df = spark.createDataFrame(cases, ["fname", "want"])
    out = df.select("want", path_stem(F.col("fname")).alias("got")).collect()
    for r in out:
        assert r["got"] == r["want"], (r["got"], r["want"])


def test_with_keys_columns_and_determinism(spark):
    fx = generate_repo_files(60, seed=3)
    df = spark.createDataFrame(fx.rows)
    k1 = with_keys(df, ERConfig(), id_col="row_id")
    assert {"row_id", "content_sha", "fname", "minhash"} <= set(k1.columns)
    a = {r["row_id"]: (r["content_sha"], tuple(r["minhash"])) for r in k1.collect()}
    b = {r["row_id"]: (r["content_sha"], tuple(r["minhash"])) for r in k1.collect()}
    assert a == b


def test_natural_row_id_when_missing(spark):
    fx = generate_repo_files(10, seed=5)
    df = spark.createDataFrame(fx.rows.drop(columns=["row_id"]))
    keyed = with_keys(df, ERConfig())
    ids = [r["row_id"] for r in keyed.select("row_id").collect()]
    assert len(set(ids)) == len(ids)
    assert all("@" in i for i in ids)


def test_band_keys_structure(spark):
    mh = make_minhash_udf(16)
    df = spark.createDataFrame([("hello world foo bar baz qux",)], ["content"])
    out = df.select(band_keys(mh("content"), 4, 4).alias("b")).collect()[0]["b"]
    assert len(out) == 4
    assert [e["band"] for e in out] == [0, 1, 2, 3]
    # different bands over the same values must not collide (band-salted)
    keys = [e["key"] for e in out]
    assert len(set(keys)) > 1


def test_band_keys_matches_per_band_form(spark):
    """The one-expression band keys are bit-identical, schema included, to
    one struct per band built in Python."""
    rng = np.random.default_rng(3)
    sigs = [(i, rng.integers(-(2**63), 2**63 - 1, 64).tolist()) for i in range(5000)]
    sigs.append((5000, None))
    df = spark.createDataFrame(sigs, "id int, sig array<bigint>")
    for bands, rows in ((16, 4), (16, 2), (8, 4)):
        per_band = F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.slice("sig", b * rows + 1, rows), F.lit(b)).alias("key"),
            )
            for b in range(bands)
        ])
        got = df.select("id", band_keys("sig", bands, rows).alias("k"))
        want = df.select("id", per_band.alias("k"))
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())


def test_blocking_recall_on_planted_pairs(spark):
    """Every planted positive pair must share >= 1 block key (the candidate
    universe property the pairwise-F1 target is conditioned on)."""
    fx = generate_repo_files(300, seed=11)
    df = spark.createDataFrame(fx.rows)
    keyed = with_keys(df, ERConfig(), id_col="row_id")
    blocks = block_candidates(keyed, ERConfig())
    b1 = blocks.alias("a").join(blocks.alias("b"), "block_key").filter(
        F.col("a.row_id") < F.col("b.row_id")
    ).select(
        F.col("a.row_id").alias("id_l"), F.col("b.row_id").alias("id_r")
    ).distinct()
    covered = {(r["id_l"], r["id_r"]) for r in b1.collect()}
    # exact duplicates co-block via content_sha fast path instead — exclude
    sha = {r["row_id"]: r["content_sha"] for r in keyed.select("row_id", "content_sha").collect()}
    # ADJACENT chain pairs are what clustering needs directly (each member
    # is mutated from the previous); distant intra-cluster pairs fall below
    # the match threshold by construction and are closed by transitivity,
    # so the gated name channel rightly does not co-block them.
    members: dict[str, list[str]] = {}
    for rid, cid in zip(fx.clusters["row_id"], fx.clusters["cluster_id"]):
        members.setdefault(cid, []).append(rid)
    adjacent = [
        (m[i], m[i + 1])
        for m in (sorted(v) for v in members.values())
        for i in range(len(m) - 1)
    ]
    missed = [
        (a, b) for a, b in adjacent if (a, b) not in covered and sha[a] != sha[b]
    ]
    assert len(missed) <= 0.02 * len(adjacent), f"{len(missed)}/{len(adjacent)} missed"


def test_census(spark):
    rows = [("k1", "a"), ("k1", "b"), ("k2", "c")]
    blocks = spark.createDataFrame(rows, ["block_key", "row_id"])
    out = {r["block_key"]: r["block_size"] for r in block_census(blocks).collect()}
    assert out == {"k1": 2, "k2": 1}


def test_shingle_suppression_removes_boilerplate_pairs(spark):
    """Boilerplate-dominated corpus: every doc = the same 30-token header +
    a few unique tokens. Without suppression the LSH bands are mostly
    header-derived and nearly every doc pair becomes a candidate; with
    suppression only the true near-dup pair survives blocking."""
    from entitylinking_spark.operators.blocking import ERConfig, shingle_blacklist
    from entitylinking_spark.plans.pipeline import resolve

    header = " ".join(f"license{i} term{i}" for i in range(15))
    rows = []
    for i in range(120):
        uniq = " ".join(f"body{i}x{j}" for j in range(6))
        rows.append((f"r{i:04d}", "org/repo", f"src/f{i}.py", f"c{i}", "python",
                     f"{header} {uniq}"))
    # one true near-dup pair: identical bodies, one token changed
    rows.append(("r9998", "org/repo", "src/dup_a.py", "ca", "python",
                 f"{header} same body tokens here repeated alpha beta gamma"))
    rows.append(("r9999", "org/repo", "src/dup_b.py", "cb", "python",
                 f"{header} same body tokens here repeated alpha beta delta"))
    df = spark.createDataFrame(
        rows, ["row_id", "repo", "path", "commit", "lang", "content"]
    )

    cfg_off = ERConfig(suppress_shingle_df=None)
    # suppress_min_corpus=0: the round-3 corpus-size gate would otherwise
    # skip the census for this deliberately tiny boilerplate fixture
    cfg_on = ERConfig(suppress_sample=1.0, suppress_min_df=4, suppress_min_corpus=0)

    bl = shingle_blacklist(df, cfg_on)
    assert bl is not None and len(bl) > 0  # the header shingles

    res_off = resolve(df, cfg_off, id_col="row_id")
    res_on = resolve(df, cfg_on, id_col="row_id")
    pairs_off = res_off.scored_pairs.count()
    pairs_on = res_on.scored_pairs.count()
    c_on = {r["row_id"]: r["cluster_id"] for r in res_on.clusters.collect()}
    res_off.unpersist()
    res_on.unpersist()
    assert pairs_on < pairs_off / 10      # boilerplate pairs gone at source
    assert c_on["r9998"] == c_on["r9999"]  # the true near-dup pair survives
    assert c_on["r0000"] != c_on["r0001"]  # header-only sharers do NOT merge


def test_minhash_blacklist_only_changes_affected_docs(spark):
    """Suppressing a shingle changes signatures only of docs containing it;
    an all-suppressed doc falls back to its original signature."""
    import numpy as np

    from entitylinking_spark.functions.hashing import (
        make_minhash_udf,
        make_shingle_set_udf,
    )
    from pyspark.sql import functions as F

    rows = [(1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six"),
            (3, "alpha beta gamma")]  # exactly one shingle, shared with doc 1
    df = spark.createDataFrame(rows, ["i", "content"])
    sh = {r["i"]: r["s"] for r in df.select("i", make_shingle_set_udf()(F.col("content")).alias("s")).collect()}
    target = np.array(sh[3], dtype=np.int64).view(np.uint64)  # doc 3's only shingle

    plain = make_minhash_udf(8)
    supp = make_minhash_udf(8, blacklist=target)
    base = {r["i"]: tuple(r["m"]) for r in df.select("i", plain(F.col("content")).alias("m")).collect()}
    after = {r["i"]: tuple(r["m"]) for r in df.select("i", supp(F.col("content")).alias("m")).collect()}
    assert after[2] == base[2]            # untouched doc: identical signature
    assert after[3] == base[3]            # all-suppressed doc: falls back
    assert after[1] != base[1]            # partially-suppressed doc: changes
