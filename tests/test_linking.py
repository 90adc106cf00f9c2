"""Reference-shaped entity linking flow on a hand-built fixture.

Fixture mirrors the reference's fake 8-entity database style
(/root/reference/Sparkle/database.py:82-131) without copying its data.
"""

from entitylinking_spark.operators.linking import (
    candidate_channels,
    link_mentions,
    rank_candidates,
)

ENTITIES = [
    ("e1", "Apple", "Apple is a fruit that grows on trees in orchards", "food"),
    ("e2", "Apple Inc", "Apple Inc is a technology company making phones", "tech"),
    ("e3", "Banana", "Banana is a yellow tropical fruit", "food"),
    ("e4", "Orange", "Orange is a citrus fruit with vitamin c", "food"),
]

MENTIONS = [
    # (corpus, mention_id, ctx_doc, label_doc, start, end, text, category)
    ("food", "m1", None, "e1", 0, 5, "apple fruit orchard trees", None),
    ("tech", "m2", None, "e2", 0, 9, "apple inc technology phones", None),
    ("food", "m3", None, "e3", 0, 6, "banana yellow tropical", None),
    ("food", "m4", None, None, 0, 4, "qqqq zzzz unknown thing", None),
]


def _dfs(spark):
    e = spark.createDataFrame(ENTITIES, ["document_id", "title", "text", "corpus"])
    m = spark.createDataFrame(
        MENTIONS,
        "corpus string, mention_id string, context_document_id string, "
        "label_document_id string, start_index int, end_index int, "
        "text string, category string",
    )
    return m, e


def test_candidate_channels_block_scoped(spark):
    m, e = _dfs(spark)
    cands = candidate_channels(m, e).collect()
    by_mention = {}
    for r in cands:
        by_mention.setdefault(r["mention_id"], set()).add(r["document_id"])
    # corpus blocking: the tech mention must not pull food-corpus entities
    assert "e2" in by_mention["m2"] and "e1" not in by_mention.get("m2", set())
    assert "e1" in by_mention["m1"]


def test_link_mentions_end_to_end(spark):
    m, e = _dfs(spark)
    out = {r["mention_id"]: r for r in link_mentions(m, e).collect()}
    assert out["m1"]["entity_id"] == "e1"
    assert out["m2"]["entity_id"] == "e2"
    assert out["m3"]["entity_id"] == "e3"
    assert out["m4"]["entity_id"] is None  # fallback ladder end state
    # accuracy vs labels on labeled mentions
    labeled = [r for r in out.values() if r["label_document_id"] is not None]
    hits = sum(1 for r in labeled if r["entity_id"] == r["label_document_id"])
    assert hits == len(labeled)


def test_link_mentions_without_labels(spark):
    """Unlabelled mentions (no gold label_document_id column) link the
    same way; the output simply has no label column."""
    m, e = _dfs(spark)
    got = link_mentions(m.drop("label_document_id"), e)
    assert "label_document_id" not in got.columns
    want = {r["mention_id"]: r["entity_id"] for r in link_mentions(m, e).collect()}
    assert {r["mention_id"]: r["entity_id"] for r in got.collect()} == want


def test_rank_candidates_deterministic_order(spark):
    m, e = _dfs(spark)
    ranked = rank_candidates(candidate_channels(m, e), top_k=5)
    rows = ranked.filter("mention_id = 'm1'").orderBy("rank").collect()
    assert rows[0]["document_id"] == "e1"
    ranks = [r["rank"] for r in rows]
    assert ranks == list(range(1, len(rows) + 1))


def _skew_dfs(spark, n_common=10):
    # one corpus; n_common entities share the first title token "common"
    # AND an identical description (mass-collision for the sketch bands);
    # one entity is distinct on both axes
    ents = [
        (f"c{i}", f"common entity {i}", "identical boilerplate description text", "k")
        for i in range(n_common)
    ] + [("u1", "unique widget", "a genuinely distinctive description here", "k")]
    ments = [
        ("k", "m1", None, "c3", 0, 5, "common entity 3", None),
        ("k", "m2", None, "u1", 0, 5, "unique widget", None),
        # text overlaps the boilerplate DESCRIPTION -> probes sketch bands
        ("k", "m3", None, None, 0, 5, "identical boilerplate description text", None),
    ]
    e = spark.createDataFrame(ents, ["document_id", "title", "text", "corpus"])
    m = spark.createDataFrame(
        ments,
        "corpus string, mention_id string, context_document_id string, "
        "label_document_id string, start_index int, end_index int, "
        "text string, category string",
    )
    return m, e


def test_name_block_df_gate_drops_hot_first_token(spark):
    m, e = _skew_dfs(spark)
    # floor 0 + cutoff 0.5: df("common")=10 > 0.5*11 -> block dropped
    gated = candidate_channels(m, e, name_df_min=0, name_df_cutoff=0.5)
    name_hot = gated.filter(
        "channel = 'name' and mention_id = 'm1'"
    ).count()
    assert name_hot == 0
    # the un-skewed block still joins
    assert gated.filter("channel = 'name' and mention_id = 'm2'").count() == 1
    # default floors (name_df_min=50) keep small corpora exhaustive
    ungated = candidate_channels(m, e)
    assert ungated.filter("channel = 'name' and mention_id = 'm1'").count() > 0


def test_sketch_band_cap_skips_mass_collision(spark):
    m, e = _skew_dfs(spark, n_common=12)
    # identical entity texts -> every band key has 12 entity rows > cap
    gated = candidate_channels(m, e, sketch_band_cap=5)
    assert gated.filter(
        "channel = 'sketch' and mention_id = 'm3'"
    ).count() == 0
    # skipping sketch bands must not orphan the mention: other channels
    # still rank the right entity first
    out = {r["mention_id"]: r["entity_id"]
           for r in link_mentions(m, e).collect()}
    assert out["m1"] == "c3" and out["m2"] == "u1"
    # default cap (2000) keeps the sketch channel exhaustive here:
    # m3's text IS the boilerplate description, so every c-entity matches
    ungated = candidate_channels(m, e)
    assert ungated.filter(
        "channel = 'sketch' and mention_id = 'm3'"
    ).count() == 12
