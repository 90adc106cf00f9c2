"""Full BM25 operator vs a pure-Python oracle, plus its linking channel."""

import math

import pytest
from pyspark.sql import functions as F

from entitylinking_spark.operators.bm25 import bm25_channel, bm25_scores, bm25_topk
from entitylinking_spark.operators.linking import candidate_channels, link_mentions

CORPUS = [
    (1, "spark runs fast on big data clusters"),
    (2, "data data data everywhere in the lake"),
    (3, "the quick brown fox"),
    (4, "spark and data and spark again"),
    (5, ""),
]


def _tokens(text):
    import re

    return [t for t in re.split(r"[^\w]+", text.lower()) if t]


def _pure_bm25(corpus, terms, k1=1.2, b=0.75):
    toks = {i: _tokens(t) for i, t in corpus}
    n = len(corpus)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = {}
    for i, tl in toks.items():
        s = 0.0
        for t in terms:
            tf = tl.count(t)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * len(tl) / avgdl))
        if s > 0:
            out[i] = s
    return out


def test_bm25_scores_match_pure_python(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    got = {r["doc_id"]: r["score"] for r in bm25_scores(df, ["spark", "data"]).collect()}
    want = _pure_bm25(CORPUS, ["spark", "data"])
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)


def test_bm25_topk_rank_and_boost(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    plain = bm25_topk(df, ["spark", "data"], top_k=3).orderBy("rank").collect()
    assert [r["rank"] for r in plain] == [1, 2, 3]
    assert plain[0]["score"] >= plain[1]["score"] >= plain[2]["score"]
    # boost doc 3 (score 0 -> absent) stays absent; boost an existing doc to #1
    boosts = spark.createDataFrame([(1, 100.0)], ["doc_id", "boost"])
    boosted = bm25_topk(df, ["spark", "data"], top_k=3, boosts=boosts).collect()
    assert boosted[0]["doc_id"] == 1


def test_bm25_linking_channel(spark):
    e = spark.createDataFrame(
        [
            ("e1", "Apple", "apple fruit grows on trees", "food"),
            ("e2", "Apple Inc", "apple technology company phones", "tech"),
            ("e3", "Banana", "banana yellow tropical fruit", "food"),
        ],
        ["document_id", "title", "text", "corpus"],
    )
    m = spark.createDataFrame(
        [("food", "m1", "apple fruit"), ("tech", "m2", "apple phones")],
        ["corpus", "mention_id", "text"],
    )
    cands = candidate_channels(m, e, use_bm25=True)
    bm = cands.filter(F.col("channel") == "bm25").collect()
    got = {(r["mention_id"], r["document_id"]): r["ch_score"] for r in bm}
    assert ("m1", "e1") in got and ("m2", "e2") in got
    # corpus scoping: the tech mention never scores food entities
    assert all(mid != "m2" or doc == "e2" for (mid, doc) in got)


def test_link_mentions_bm25_end_to_end(spark):
    e = spark.createDataFrame(
        [
            ("e1", "Apple", "apple fruit grows on trees in orchards", "food"),
            ("e3", "Banana", "banana yellow tropical fruit", "food"),
        ],
        ["document_id", "title", "text", "corpus"],
    )
    m = spark.createDataFrame(
        [("food", "m1", None, "e1", 0, 5, "apple orchard trees", None)],
        "corpus string, mention_id string, context_document_id string, "
        "label_document_id string, start_index int, end_index int, "
        "text string, category string",
    )
    out = {r["mention_id"]: r["entity_id"]
           for r in link_mentions(m, e, use_bm25=True).collect()}
    assert out["m1"] == "e1"


def test_token_df_cutoff_drops_corpus_stopwords(spark):
    """A token present in every entity is dropped from the postings join
    (floor lowered so the tiny fixture triggers the cutoff)."""
    e = spark.createDataFrame(
        [(f"e{i}", f"t{i}", f"common word{i} text", "c") for i in range(10)],
        ["document_id", "title", "text", "corpus"],
    )
    m = spark.createDataFrame(
        [("c", "m1", "common"), ("c", "m2", "word3")],
        ["corpus", "mention_id", "text"],
    )
    cands = candidate_channels(m, e, token_df_cutoff=0.25, token_df_min=0)
    tok = cands.filter(F.col("channel") == "token").collect()
    mids = {r["mention_id"] for r in tok}
    assert "m1" not in mids       # 'common' (df=10/10) was suppressed
    assert "m2" in mids           # 'word3' (df=1/10) still joins


class _BM25OkapiPort:
    """Pure-python port of the PUBLISHED rank_bm25 BM25Okapi algorithm
    (Trotman et al. okapi idf + epsilon floor) — the parity oracle for
    idf_variant='okapi-epsilon'. Tokenization matches functions.strings."""

    def __init__(self, corpus_tokens, k1=1.2, b=0.75, epsilon=0.25):
        import math

        self.k1, self.b = k1, b
        self.corpus_size = len(corpus_tokens)
        self.doc_len = [len(d) for d in corpus_tokens]
        self.avgdl = sum(self.doc_len) / self.corpus_size
        self.doc_freqs = []
        nd = {}
        for doc in corpus_tokens:
            freqs = {}
            for tok in doc:
                freqs[tok] = freqs.get(tok, 0) + 1
            self.doc_freqs.append(freqs)
            for tok in freqs:
                nd[tok] = nd.get(tok, 0) + 1
        self.idf = {}
        idf_sum = 0.0
        negatives = []
        for tok, df in nd.items():
            idf = math.log(self.corpus_size - df + 0.5) - math.log(df + 0.5)
            self.idf[tok] = idf
            idf_sum += idf
            if idf < 0:
                negatives.append(tok)
        eps = epsilon * (idf_sum / len(self.idf))
        for tok in negatives:
            self.idf[tok] = eps

    def get_scores(self, query):
        scores = [0.0] * self.corpus_size
        for tok in query:
            idf = self.idf.get(tok)
            if idf is None:
                continue
            for i, freqs in enumerate(self.doc_freqs):
                tf = freqs.get(tok, 0)
                if tf == 0:
                    continue
                denom = tf + self.k1 * (1 - self.b + self.b * self.doc_len[i] / self.avgdl)
                scores[i] += idf * (tf * (self.k1 + 1)) / denom
        return scores


def test_okapi_epsilon_parity_with_library_port(spark):
    """Round-3 verdict #8: the epsilon floor for negative idf matches a
    pure-python port of the reference's BM25Okapi — including a stopword
    present in >half the corpus (raw okapi idf < 0)."""
    import re

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the slow brown bear sleeps under the old tree",
        "the hungry fox hunts the quick rabbit",
        "a completely different sentence about spark pipelines",
        "the fox and the bear share the forest",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    query = ["the", "fox"]  # 'the' df=4/5 -> raw idf < 0 -> epsilon floor

    toks = [re.findall(r"[a-z0-9_]+", t.lower()) for t in texts]
    oracle = _BM25OkapiPort(toks)
    want = oracle.get_scores(query)

    got = {r["doc_id"]: r["score"] for r in
           bm25_scores(docs, query, idf_variant="okapi-epsilon").collect()}
    for i, w in enumerate(want):
        if w == 0.0:
            assert i not in got      # no matching term -> no row
        else:
            assert got[i] == pytest.approx(w, rel=1e-9), f"doc {i}"
    # and the floor actually fired: 'the' scores positive in every doc
    # containing it, which plain okapi would score negative
    neg = {r["doc_id"]: r["score"] for r in
           bm25_scores(docs, ["the"], idf_variant="okapi").collect()}
    flo = {r["doc_id"]: r["score"] for r in
           bm25_scores(docs, ["the"], idf_variant="okapi-epsilon").collect()}
    assert all(v < 0 for v in neg.values())
    assert all(v > 0 for v in flo.values())


def _with_and_without_aqe(spark, build):
    """Sorted rows of build() with adaptive execution on, then off."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    runs = []
    try:
        for aqe in ("true", "false"):
            spark.conf.set(key, aqe)
            runs.append(sorted(tuple(r) for r in build().collect()))
    finally:
        spark.conf.set(key, prev)
    return runs


def test_bm25_sums_do_not_depend_on_the_plan(spark):
    """Per-term contributions are added in a fixed order, so scores are
    bit-identical whether or not AQE reshapes the shuffles."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]
    e = spark.createDataFrame(
        [(f"e{i}", "c", " ".join(rng.choices(vocab, k=30))) for i in range(400)],
        ["document_id", "corpus", "text"],
    )
    m = spark.createDataFrame(
        [(f"m{i}", "c", " ".join(rng.choices(vocab, k=12))) for i in range(200)],
        ["mention_id", "corpus", "text"],
    )
    on, off = _with_and_without_aqe(spark, lambda: bm25_channel(m, e))
    assert len(on) > 10_000 and on == off
    docs = e.select(F.col("document_id").alias("doc_id"), "text")
    on, off = _with_and_without_aqe(
        spark, lambda: bm25_topk(docs, vocab[:15], top_k=50))
    assert len(on) == 50 and on == off
