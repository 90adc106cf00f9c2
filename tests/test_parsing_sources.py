"""Parsing kernels (X1, X10-X13) + source readers (S1-S10)."""

import json

import pytest
from pyspark.sql import functions as F

from entitylinking_spark import schemas
from entitylinking_spark.functions.parsing import (
    brace_spans_udf,
    cut_context,
    decode_answer_udf,
    extract_brace_spans,
    extract_embedded_json,
    extract_first_category,
    parse_yes_no,
    pointwise_filter,
    reconstruct_context,
)
from entitylinking_spark.sources.readers import (
    merge_shards_first_seen,
    read_entities,
    read_json_array_or_lines,
    read_mentions,
    write_jsonl,
)


class TestYesNo:
    def test_parse_cases(self, spark):
        rows = [("Yes, it matches.",), ("no",), ("It is not the same entity",),
                ("maybe",), ("",), ("Y",), ("The answer is yes",)]
        df = spark.createDataFrame(rows, ["r"])
        out = [r["k"] for r in df.select(parse_yes_no("r").alias("k")).collect()]
        assert out == [True, False, False, None, None, True, True]

    def test_pointwise_filter_branches(self, spark):
        df = spark.createDataFrame(
            [("m1", "yes"), ("m2", "no"), ("m3", "")], ["mention_id", "resp"]
        )
        kept, failed = pointwise_filter(df, "resp")
        assert [r["mention_id"] for r in kept.collect()] == ["m1"]
        assert [r["mention_id"] for r in failed.collect()] == ["m3"]


class TestCategory:
    def test_first_occurring_wins(self, spark):
        cats = ["Person", "Location", "Organization"]
        rows = [("the location of the person",),  # Location at 4 < Person at 20
                ("an organization",), ("nothing here",)]
        df = spark.createDataFrame(rows, ["t"])
        out = [r["c"] for r in df.select(
            extract_first_category("t", cats).alias("c")).collect()]
        assert out == ["Location", "Organization", None]


class TestEmbeddedJson:
    def test_extract(self, spark):
        rows = [('prefix {"id": "e1", "score": 2} suffix',), ("no json",)]
        df = spark.createDataFrame(rows, ["t"])
        out = df.select(
            extract_embedded_json("t", "id string, score int").alias("j")
        ).collect()
        assert out[0]["j"]["id"] == "e1" and out[0]["j"]["score"] == 2
        assert out[1]["j"] is None


class TestBraceSpans:
    def test_oracle(self):
        assert extract_brace_spans("say {hello} to {the world}!") == [
            ("hello", 4), ("the world", 13),
        ]
        assert extract_brace_spans("no spans") == []

    def test_udf_matches_oracle(self, spark):
        rows = [("{a} b {c d}",), ("",), ("nested {x {y} z} end",)]
        df = spark.createDataFrame(rows, ["t"])
        out = df.select(brace_spans_udf("t").alias("s")).collect()
        for row, (raw,) in zip(out, rows):
            got = [(e["text"], e["start"]) for e in row["s"]]
            assert got == extract_brace_spans(raw)


class TestDecode:
    def test_id_then_name_fallback_and_tiebreak(self, spark):
        rows = [
            ("the answer is e42 obviously", ["e41", "e42"], ["Foo", "Bar"]),
            ("I think New York fits", ["e1", "e2"], ["newyork", "York"]),
            ("nothing relevant", ["e1"], ["Xyz"]),
        ]
        df = spark.createDataFrame(rows, ["ans", "ids", "names"])
        out = df.select(
            decode_answer_udf("ans", "ids", "names").alias("d")
        ).collect()
        assert out[0]["d"]["matched_id"] == "e42"
        # 'newyork' found at squashed pos 8; 'york' at pos 11 -> earliest wins
        assert out[1]["d"]["matched_id"] == "e1"
        assert out[2]["d"]["matched_id"] is None


class TestContext:
    def test_reconstruct(self, spark):
        df = spark.createDataFrame([("l", "m", "r")], ["a", "b", "c"])
        got = df.select(
            reconstruct_context("a", "b", "c").alias("x")
        ).collect()[0]["x"]
        assert got == "l ###m### r"

    def test_cut(self, spark):
        df = spark.createDataFrame(
            [("First part. tail words", "right sentence. more stuff")], ["l", "r"]
        )
        cl, cr = cut_context("l", "r")
        row = df.select(cl.alias("cl"), cr.alias("cr")).collect()[0]
        assert row["cl"] == " tail words"
        assert row["cr"] == "right sentence."


class TestReaders:
    def test_read_mentions_schema(self, spark, tmp_path):
        p = tmp_path / "m.jsonl"
        p.write_text(json.dumps({
            "corpus": "c", "mention_id": "m1", "context_document_id": "d1",
            "label_document_id": "d2", "start_index": 0, "end_index": 2,
            "text": "ab", "category": None,
        }) + "\n")
        df = read_mentions(spark, str(p))
        # json reads are always nullable; compare names + types
        got = [(f.name, f.dataType) for f in df.schema.fields]
        want = [(f.name, f.dataType) for f in schemas.MENTIONS.fields]
        assert got == want
        assert df.count() == 1

    def test_write_jsonl_read_entities_roundtrip(self, spark, tmp_path):
        rows = [("d1", "Ada", "first doc", "c"),
                ("d2", None, "second doc", "c"),
                ("d3", "Cy", None, "c"),
                ("d4", "Di", "fourth doc", None)]
        out = str(tmp_path / "entities")
        write_jsonl(spark.createDataFrame(rows, schemas.ENTITIES), out)
        df = read_entities(spark, out)
        got = [(f.name, f.dataType) for f in df.schema.fields]
        want = [(f.name, f.dataType) for f in schemas.ENTITIES.fields]
        assert got == want
        # null fields are dropped by the JSON writer and read back as null
        assert sorted(tuple(r) for r in df.collect()) == rows
        assert read_entities(spark, out, max_documents=2).count() == 2

    def test_json_array_or_lines(self, spark, tmp_path):
        arr = tmp_path / "a.json"
        arr.write_text(json.dumps([{"x": 1}, {"x": 2}]))
        lines = tmp_path / "b.jsonl"
        lines.write_text('{"x": 3}\n{"x": 4}\n')
        assert read_json_array_or_lines(spark, str(arr)).count() == 2
        assert read_json_array_or_lines(spark, str(lines)).count() == 2

    def test_read_wikidata_entities(self, spark, tmp_path):
        from entitylinking_spark.sources.readers import read_wikidata_entities
        doc = {
            "id": "Q1",
            "labels": {"en": {"language": "en", "value": "Universe"},
                       "de": {"language": "de", "value": "Universum"}},
            "descriptions": {"en": {"language": "en", "value": "everything"}},
            "aliases": {"en": [{"language": "en", "value": "cosmos"},
                               {"language": "en", "value": "space"}]},
        }
        p = tmp_path / "q1.json"
        p.write_text(json.dumps(doc))
        out = read_wikidata_entities(spark, str(p)).collect()
        assert len(out) == 1
        r = out[0]
        assert r["entity_id"] == "Q1"
        assert r["label"] == "Universe"
        assert r["description"] == "everything"
        assert r["aliases"] == ["cosmos", "space"]
        assert r["claims_related"] is None  # no claims in this fixture

    def test_read_wikidata_claims(self, spark, tmp_path):
        """Nested claims extraction mirrors the reference's BFS seed walk
        (wikientities.py:27-38): mainsnak.datavalue.value.id per claim,
        skipping non-entity datavalues."""
        from entitylinking_spark.sources.readers import read_wikidata_entities
        doc = {
            "id": "Q2",
            "labels": {"en": {"language": "en", "value": "Earth"}},
            "claims": {
                "P31": [
                    {"mainsnak": {"datavalue": {"value": {"id": "Q3504248"}}}},
                    {"mainsnak": {"datavalue": {"value": {"id": "Q128207"}}}},
                ],
                "P361": [{"mainsnak": {"datavalue": {"value": {"id": "Q104934"}}}}],
                # string-valued claim: must be skipped (no entity id)
                "P2067": [{"mainsnak": {"datavalue": {"value": "5.97e24 kg"}}}],
            },
        }
        p = tmp_path / "q2.json"
        p.write_text(json.dumps(doc))
        out = read_wikidata_entities(spark, str(p)).collect()
        assert out[0]["claims_related"] == ["Q104934", "Q128207", "Q3504248"]

    def test_merge_shards_first_seen(self, spark, tmp_path):
        s1 = tmp_path / "s1.jsonl"
        s2 = tmp_path / "s2.jsonl"
        s1.write_text('{"mention_id": "m1", "v": "first"}\n{"mention_id": "m2", "v": "a"}\n')
        s2.write_text('{"mention_id": "m1", "v": "second"}\n{"mention_id": "m3", "v": "b"}\n')
        out = merge_shards_first_seen(spark, [str(s1), str(s2)])
        got = {r["mention_id"]: r["v"] for r in out.collect()}
        assert got == {"m1": "first", "m2": "a", "m3": "b"}
