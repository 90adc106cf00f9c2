"""Corpus vocabulary / co-occurrence analytics (operators/vocab.py)."""

import math

import pytest
from pyspark.sql import functions as F

from entitylinking_spark.operators.vocab import (
    bigram_pmi,
    length_profile,
    vocabulary,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "new york is a big city", "en", 22),
        (1, "new york has a big port", "en", 23),
        (2, "the city of new york", "en", 20),
        (3, "a big dog and a big cat", "en", 23),
        (4, "ciudad grande y perro grande", "es", 28),
        (5, "el perro de la ciudad", "es", 21),
    ]
    return spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "n_chars"]
    ).persist()


def test_vocabulary_counts_and_idf(corpus):
    v = {r["token"]: r for r in vocabulary(corpus).collect()}
    assert v["new"]["tf"] == 3 and v["new"]["df"] == 3
    assert v["big"]["tf"] == 4 and v["big"]["df"] == 3  # doc 3 has it twice
    assert v["grande"]["tf"] == 2 and v["grande"]["df"] == 1
    n = 6
    for tok, r in v.items():
        assert r["idf"] == pytest.approx(math.log((n + 1) / (r["df"] + 1)) + 1)


def test_vocabulary_min_df_and_topk(corpus):
    v2 = {r["token"] for r in vocabulary(corpus, min_df=2).collect()}
    assert "grande" not in v2 and "new" in v2
    top = vocabulary(corpus, max_vocab=3).collect()
    assert len(top) == 3
    # 'a' and 'big' tie at tf=4 -> asc-token tie-break puts 'a' first
    assert top[0]["token"] == "a" and top[0]["tf"] == 4
    assert top[1]["token"] == "big" and top[1]["tf"] == 4
    tfs = [(r["tf"], r["token"]) for r in top]
    assert tfs == sorted(tfs, key=lambda t: (-t[0], t[1]))
    with pytest.raises(ValueError):
        vocabulary(corpus, min_df=0)


def test_vocabulary_n_docs_shortcut(corpus):
    a = sorted(map(tuple, vocabulary(corpus).collect()))
    b = sorted(map(tuple, vocabulary(corpus, n_docs=6).collect()))
    assert a == b


def test_bigram_pmi_closed_form(corpus):
    out = {(r["w1"], r["w2"]): r for r in bigram_pmi(corpus, min_count=2).collect()}
    assert ("new", "york") in out
    r = out[("new", "york")]
    assert r["n_pair"] == 3
    # totals: tokens = sum of all token occurrences, bigrams = sum(len-1)
    t_uni = sum(len(t.split()) for t in
                [row["text"] for row in corpus.collect()])
    t_bi = sum(len(t.split()) - 1 for t in
               [row["text"] for row in corpus.collect()])
    expect = math.log((3 / t_bi) / ((3 / t_uni) * (3 / t_uni)))
    assert r["pmi"] == pytest.approx(expect)
    # every reported pair clears min_count
    assert all(r["n_pair"] >= 2 for r in out.values())
    with pytest.raises(ValueError):
        bigram_pmi(corpus, min_count=0)


def test_length_profile_exact_percentiles(corpus):
    prof = {r["group"]: r for r in
            length_profile(corpus, percentiles=(0.5, 1.0)).collect()}
    assert prof["en"]["n_docs"] == 4 and prof["es"]["n_docs"] == 2
    # en lengths sorted: 20,22,23,23 -> p50 = 22.5 (linear interpolation)
    assert prof["en"]["p50"] == pytest.approx(22.5)
    assert prof["en"]["p100"] == 23
    assert prof["es"]["p50"] == pytest.approx(24.5)
    assert prof["en"]["mean_len"] == pytest.approx((20 + 22 + 23 + 23) / 4)


def test_length_profile_approx_path(corpus):
    """exact=False: sketch-based percentiles land within the rank-error
    envelope of exact (here: tiny groups, so they coincide with an order
    statistic)."""
    exact = {r["group"]: r for r in
             length_profile(corpus, percentiles=(0.5,)).collect()}
    approx = {r["group"]: r for r in
              length_profile(corpus, percentiles=(0.5,),
                             exact=False).collect()}
    members = {}
    for r in corpus.collect():
        members.setdefault(r["lang"], set()).add(r["n_chars"])
    for g in exact:
        assert approx[g]["n_docs"] == exact[g]["n_docs"]
        # GK sketch returns an ACTUAL member value near the true rank
        # (exact interpolates between order statistics, so they differ)
        assert approx[g]["p50"] in members[g]


def test_oov_rate_known_answers(spark):
    from entitylinking_spark.operators.vocab import oov_rate

    docs = spark.createDataFrame(
        [(1, "aa bb aa cc"), (2, "xx yy"), (3, "aa xx"), (4, ""), (5, None)],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame([("aa",), ("bb",)], "token string")
    got = {r["doc_id"]: r for r in oov_rate(docs, vocab).collect()}
    assert (got[1]["n_tokens"], got[1]["n_oov"]) == (4, 1)
    assert got[1]["oov_rate"] == 0.25
    assert got[2]["oov_rate"] == 1.0
    assert got[3]["oov_rate"] == 0.5
    assert got[4]["n_tokens"] == 0 and got[4]["oov_rate"] is None
    assert got[5]["n_tokens"] == 0 and got[5]["oov_rate"] is None


def test_oov_rate_against_trained_vocabulary(spark):
    from entitylinking_spark.operators.vocab import oov_rate, vocabulary

    docs = spark.createDataFrame(
        [(i, "common words " + (f"rare{i}" if i % 2 else "shared"))
         for i in range(10)],
        "doc_id long, text string",
    )
    v = vocabulary(docs, min_df=2)  # rare{i} tokens excluded (df=1)
    got = {r["doc_id"]: r["n_oov"] for r in oov_rate(docs, v).collect()}
    assert all(got[i] == (1 if i % 2 else 0) for i in range(10))


def test_bpe_fertility_composition(spark):
    """Tokenizer fertility (BPE tokens per word) via bpe_tokenize +
    token_count — the trainer-facing coverage number."""
    from entitylinking_spark.operators.bpe import bpe_tokenize, train_bpe

    docs = spark.createDataFrame(
        [(1, "low lower lowest " * 10)], "doc_id long, text string"
    )
    merges = train_bpe(docs, 6)
    toks = F.array_remove(F.split(F.lower(F.col("text")), r"[^\w]+"), "")
    out = (
        bpe_tokenize(docs, merges)
        .join(docs.select("doc_id", F.size(toks).alias("n_words")), "doc_id")
        .withColumn("fertility", F.col("n_bpe_tokens") / F.col("n_words"))
        .collect()[0]
    )
    assert out["n_words"] == 30
    assert 1.0 <= out["fertility"] <= 3.0


def test_heavy_hitters_equals_exact_counts(spark):
    from entitylinking_spark.operators.vocab import heavy_hitters

    docs = spark.createDataFrame(
        [(i, "common words here " + ("popular " * (i % 3)) + f"rare{i}")
         for i in range(30)] + [(99, ""), (100, None)],
        "doc_id long, text string",
    )
    exact = {
        (r["token"], r["n"])
        for r in docs.select(
            F.explode(F.array_remove(
                F.split(F.lower("text"), r"[^\w]+"), "")).alias("token"))
        .groupBy("token").count().withColumnRenamed("count", "n")
        .filter("n >= 10").collect()
    }
    for width in (1 << 16, 8):  # 8 buckets = heavy collisions on purpose
        got = {(r["token"], r["n"])
               for r in heavy_hitters(docs, 10, width=width).collect()}
        assert got == exact, width


def test_heavy_hitters_validation(spark):
    from entitylinking_spark.operators.vocab import heavy_hitters

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    import pytest as _pt
    with _pt.raises(ValueError):
        heavy_hitters(docs, 0)
    with _pt.raises(ValueError):
        heavy_hitters(docs, 2, width=4)
    # empty corpus: no partials, empty result
    assert heavy_hitters(docs.filter("doc_id < 0"), 2).count() == 0


def test_tfidf_vectors_known_and_ann_loop(spark):
    import math

    import numpy as np

    from entitylinking_spark.operators.vocab import tfidf_vectors, vocabulary

    docs = spark.createDataFrame(
        [(0, "cat cat dog"), (1, "dog dog fish"), (2, "cat dog fish bird"),
         (3, ""), (4, None)],
        "doc_id long, text string",
    )
    v = vocabulary(docs, n_docs=5)
    got = {r["doc_id"]: r for r in tfidf_vectors(docs, v).collect()}
    idf = {r["token"]: r["idf"] for r in v.collect()}
    toks = sorted(idf)  # component order contract
    # hand-check doc 0: tf(cat)=2, tf(dog)=1, l2-normalized
    raw = np.array([(2.0 if t == "cat" else 1.0 if t == "dog" else 0.0)
                    * idf[t] for t in toks])
    want = raw / np.linalg.norm(raw)
    np.testing.assert_allclose(got[0]["tfidf"], want, rtol=1e-12)
    assert math.isclose(np.linalg.norm(got[2]["tfidf"]), 1.0, rel_tol=1e-12)
    assert got[3]["tfidf"] == [0.0] * len(toks)
    assert got[4]["tfidf"] == [0.0] * len(toks)

    # the loop: on unit tfidf vectors the dot product is the cosine, so the
    # nearest-neighbour ranking from doc 0 puts the lexically nearest doc first
    sims = {d: float(np.dot(got[0]["tfidf"], r["tfidf"])) for d, r in got.items()}
    ranked = sorted(sims, key=lambda d: (-sims[d], d))
    assert ranked[0] == 0 and ranked[1] == 2  # shares cat AND dog


def test_tfidf_empty_vocab_raises(spark):
    from entitylinking_spark.operators.vocab import tfidf_vectors

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    vocab = spark.createDataFrame([], "token string, idf double")
    import pytest as _pt
    with _pt.raises(ValueError):
        tfidf_vectors(docs, vocab)
