"""Kernel UDFs vs pure-Python oracles on deterministic rows (SURVEY.md §5)."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from entitylinking_spark.functions.hashing import (
    make_minhash_udf,
    minhash_similarity,
)
from entitylinking_spark.functions.strings import (
    jaro_winkler,
    jaro_winkler_udf,
    levenshtein_sim,
    name_match_score,
    normalize_ws,
    token_jaccard,
    tokenize,
)


def _tok(s):
    import re
    return [t for t in re.findall(r"[A-Za-z0-9_]+", s.lower())]


def _shingles(s, k=3):
    t = _tok(s)
    if len(t) >= k:
        return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}
    return set(t)


class TestMinHash:
    def test_deterministic_across_runs(self, spark):
        df = spark.createDataFrame([("a b c d e f g",), ("x y z w v u t",)], ["content"])
        mh = make_minhash_udf(32)
        s1 = df.select(mh("content").alias("sig")).collect()
        s2 = df.select(mh("content").alias("sig")).collect()
        assert [r["sig"] for r in s1] == [r["sig"] for r in s2]

    def test_identical_content_identical_signature(self, spark):
        df = spark.createDataFrame([("the quick brown fox jumps",)] * 2, ["content"])
        mh = make_minhash_udf(64)
        sigs = [r["sig"] for r in df.select(mh("content").alias("sig")).collect()]
        assert sigs[0] == sigs[1]

    def test_estimate_tracks_true_jaccard(self, spark):
        rng = random.Random(42)
        vocab = [f"tok{i}" for i in range(200)]
        rows = []
        truths = []
        base = [rng.choice(vocab) for _ in range(120)]
        for mut_rate in [0.0, 0.05, 0.2, 0.5, 0.9]:
            other = [rng.choice(vocab) if rng.random() < mut_rate else t for t in base]
            a, b = " ".join(base), " ".join(other)
            sa, sb = _shingles(a), _shingles(b)
            truths.append(len(sa & sb) / len(sa | sb))
            rows.append((a, b))
        df = spark.createDataFrame(rows, ["a", "b"])
        mh = make_minhash_udf(128)
        out = (
            df.withColumn("sa", mh("a")).withColumn("sb", mh("b"))
            .select(minhash_similarity("sa", "sb").alias("est")).collect()
        )
        for est_row, truth in zip(out, truths):
            assert abs(est_row["est"] - truth) < 0.15, (est_row["est"], truth)

    def test_tokenless_content_semantics(self, spark):
        df = spark.createDataFrame([("",), ("",), ("!!!",), ("???",)], ["content"])
        mh = make_minhash_udf(16)
        sigs = [r["s"] for r in df.select(mh("content").alias("s")).collect()]
        # identical content -> identical signature, independent of position
        assert sigs[0] == sigs[1]
        # different token-less contents must NOT collide
        assert sigs[2] != sigs[3] and sigs[0] != sigs[2]


class TestStringKernels:
    CASES = [
        ("martha", "marhta"), ("dixon", "dicksonx"), ("", ""), ("abc", ""),
        ("jellyfish", "smellyfish"), ("same", "same"), ("a", "b"),
        ("strings_1.py", "strings_2.py"),
    ]

    def test_jaro_winkler_udf_matches_oracle(self, spark):
        df = spark.createDataFrame(self.CASES, ["a", "b"])
        got = df.select("a", "b", jaro_winkler_udf("a", "b").alias("jw")).collect()
        for r in got:
            assert r["jw"] == pytest.approx(jaro_winkler(r["a"], r["b"]), abs=1e-12)

    def test_jaro_winkler_known_values(self):
        assert jaro_winkler("martha", "marhta") == pytest.approx(0.9611, abs=1e-3)
        assert jaro_winkler("dwayne", "duane") == pytest.approx(0.8400, abs=1e-3)

    def test_levenshtein_sim(self, spark):
        df = spark.createDataFrame([("kitten", "sitting"), ("x", "x"), ("", "")], ["a", "b"])
        out = df.select(levenshtein_sim("a", "b").alias("s")).collect()
        assert out[0]["s"] == pytest.approx(1 - 3 / 7)
        assert out[1]["s"] == 1.0
        assert out[2]["s"] == 1.0

    def test_name_match_score(self, spark):
        df = spark.createDataFrame(
            [("Apple", "apple"), ("Apple Inc", "Apple"), ("Apple", "Banana")], ["a", "b"]
        )
        out = [r["s"] for r in df.select(name_match_score("a", "b").alias("s")).collect()]
        assert out == [1.0, 0.7, 0.0]

    def test_normalize_ws(self, spark):
        df = spark.createDataFrame([("  a \t b\n\nc  ",)], ["s"])
        assert df.select(normalize_ws("s").alias("n")).collect()[0]["n"] == "a b c"

    def test_tokenize(self, spark):
        df = spark.createDataFrame([("Hello, World_1! foo-bar",)], ["s"])
        toks = df.select(tokenize("s").alias("t")).collect()[0]["t"]
        assert toks == ["hello", "world_1", "foo", "bar"]
        # non-ASCII letters split a token; CJK and punctuation are dropped
        tricky = "Hello, WORLD!  café naïve_x 42-7 中文 a_b"
        df = spark.createDataFrame([(tricky,)], ["s"])
        toks = df.select(tokenize("s").alias("t")).collect()[0]["t"]
        assert toks == ["hello", "world", "caf", "na", "ve_x", "42", "7", "a_b"]

    def test_token_jaccard(self, spark):
        df = spark.createDataFrame([("a b c", "b c d"), ("a a b", "a b"), ("", "")], ["x", "y"])
        out = [r["j"] for r in df.select(token_jaccard("x", "y").alias("j")).collect()]
        assert out[0] == pytest.approx(2 / 4)
        assert out[1] == pytest.approx(1.0)  # distinct-token sets equal
        assert out[2] == pytest.approx(1.0)


class TestShaInvariant:
    def test_sha2_matches_hashlib(self, spark):
        import hashlib
        rows = [("hello world",), ("",), ("ünïcode ☃",)]
        df = spark.createDataFrame(rows, ["content"])
        out = df.select("content", F.sha2("content", 256).alias("h")).collect()
        for r in out:
            assert r["h"] == hashlib.sha256(r["content"].encode("utf-8")).hexdigest()
