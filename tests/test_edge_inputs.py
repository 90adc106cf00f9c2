"""Degenerate-input probes: empty and single-row frames through the main
entry points. The reference's scripts assume non-empty inputs everywhere
(e.g. /root/reference/Sparkle/core.py:30-166 indexes result lists without
guards); a distributed engine meets empty partitions and empty increments
as a matter of course, so these must not crash.
"""

from pyspark.sql import functions as F

from entitylinking_spark.operators.blocking import ERConfig
from entitylinking_spark.operators.linking import link_mentions
from entitylinking_spark.plans.pipeline import resolve

REPO_SCHEMA = ("repo string, path string, commit string, lang string, "
               "content string, row_id string")
MENTION_SCHEMA = ("corpus string, mention_id string, context_document_id string, "
                  "label_document_id string, start_index int, end_index int, "
                  "text string, category string")
ENTITY_SCHEMA = "document_id string, title string, text string, corpus string"


def test_resolve_empty_corpus(spark):
    empty = spark.createDataFrame([], REPO_SCHEMA)
    res = resolve(empty, ERConfig(), id_col="row_id")
    assert res.clusters.count() == 0
    assert res.clusters.columns == ["row_id", "cluster_id"]


def test_resolve_single_row(spark):
    one = spark.createDataFrame(
        [("r", "a/b.py", "c", "py", "print('hello world')", "r1")], REPO_SCHEMA
    )
    rows = resolve(one, ERConfig(), id_col="row_id").clusters.collect()
    assert len(rows) == 1
    assert rows[0]["cluster_id"] == "r1"  # singleton labels itself


def test_link_mentions_empty_mentions(spark):
    m = spark.createDataFrame([], MENTION_SCHEMA)
    e = spark.createDataFrame(
        [("e1", "Apple", "apple is a fruit", "k")], ENTITY_SCHEMA
    )
    out = link_mentions(m, e)
    assert out.count() == 0
    assert "entity_id" in out.columns


def test_link_mentions_empty_entities(spark):
    m = spark.createDataFrame(
        [("k", "m1", None, None, 0, 4, "apple fruit", None)], MENTION_SCHEMA
    )
    e = spark.createDataFrame([], ENTITY_SCHEMA)
    out = {r["mention_id"]: r for r in link_mentions(m, e).collect()}
    assert out["m1"]["entity_id"] is None  # fallback ladder end state

