"""Gopher repetition stats (textstats.repetition_stats /
duplicate_line_stats): semantics the driver-oracle value check can't
isolate — edge docs, known-answer fractions.
"""

import pytest

from entitylinking_spark.operators.textstats import (
    duplicate_line_stats,
    ngram_tokens,
    repetition_stats,
)


def test_ngram_tokens_short_doc(spark):
    d = spark.createDataFrame([(0, "one"), (1, "a b c"), (2, "")],
                              ["doc_id", "text"])
    got = {r["doc_id"]: r["g"]
           for r in d.select("doc_id", ngram_tokens("text", 2).alias("g")).collect()}
    assert got[0] == [] and got[2] == []
    assert got[1] == ["a b", "b c"]


def test_repetition_known_answer(spark):
    # "x y x y x y" -> bigrams: [x y, y x, x y, y x, x y] = 5 grams,
    # top "x y" x3, distinct 2 -> top 3/5, dup (5-2)/5
    d = spark.createDataFrame(
        [(0, "x y x y x y"), (1, "all distinct words here"), (2, "solo")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_stats(d, n=2).collect()}
    assert got[0]["n_grams"] == 5 and got[0]["top_gram_count"] == 3
    assert got[0]["top_gram_frac"] == pytest.approx(0.6)
    assert got[0]["dup_gram_frac"] == pytest.approx(0.6)
    assert got[1]["dup_gram_frac"] == 0.0
    assert got[2]["n_grams"] == 0 and got[2]["top_gram_frac"] == 0.0


def test_repetition_kernels_agree(spark):
    """The zero-shuffle Arrow kernel equals the relational twin row for
    row, including <n-token docs, empty text and heavy repetition."""
    rows = [(i, t) for i, t in enumerate([
        "x y x y x y", "a b c d e f g", "solo", "", "q q q q q q q q",
        "p1 p2 p1 p2 p1 p2 p1", "one two", "z",
    ])]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    for n in (1, 2, 3):
        a = sorted(map(tuple, repetition_stats(d, n=n, kernel="arrow").collect()))
        e = sorted(map(tuple, repetition_stats(d, n=n, kernel="expr").collect()))
        assert a == e, f"n={n}"


def test_dup_line_kernels_agree(spark):
    """Arrow and relational duplicate-line stats agree, including the
    trim-SPACES-only blank-line convention (a tab-only line counts)."""
    rows = [(i, t) for i, t in enumerate([
        "aaaa\nbb\naaaa\n\n  \ncc", "one line only", "", "\t\nx\n\t",
        "dup\ndup\ndup", "  padded  \n  padded  \nother",
    ])]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    a = sorted(map(tuple, duplicate_line_stats(d, kernel="arrow").collect()))
    e = sorted(map(tuple, duplicate_line_stats(d, kernel="expr").collect()))
    assert a == e


def test_duplicate_line_known_answer(spark):
    d = spark.createDataFrame(
        [(0, "aaaa\nbb\naaaa\n\n  \ncc"), (1, "one line only")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in duplicate_line_stats(d).collect()}
    # 4 non-empty lines (aaaa x2, bb, cc): dup 1/4; chars 4*2+2+2=12, dup 4
    assert got[0]["n_lines"] == 4
    assert got[0]["dup_line_frac"] == pytest.approx(0.25)
    assert got[0]["dup_line_char_frac"] == pytest.approx(4 / 12)
    assert got[1]["dup_line_frac"] == 0.0
