"""Bucketed/partitioned table layout (sources/tables.py): the write-once
shuffle, join-forever-free contract, asserted against the physical plan.
"""

import pytest
from pyspark.sql import functions as F

from entitylinking_spark.sources.tables import (
    is_exchange_free,
    register_bucketed,
    save_bucketed,
    save_partitioned,
)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    right = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    )
    return left, right


def _join(spark, lt, rt):
    # disable broadcast so the test exercises the sort-merge path the
    # bucketing is supposed to make exchange-free
    return (
        spark.table(lt).hint("merge").join(spark.table(rt).hint("merge"), "k")
        .select("k", "v", "w")
    )


def test_bucketed_join_is_exchange_free(spark, frames, tmp_path_factory):
    left, right = frames
    base = tmp_path_factory.mktemp("buck")
    save_bucketed(left, "t_left", ["k"], 8, sort_cols=["k"],
                  path=str(base / "left"))
    save_bucketed(right, "t_right", ["k"], 8, sort_cols=["k"],
                  path=str(base / "right"))

    joined = _join(spark, "t_left", "t_right")
    assert is_exchange_free(joined)

    # same data through plain (unbucketed) scans DOES shuffle: the assert
    # above is meaningful, not vacuous
    left.write.mode("overwrite").parquet(str(base / "plain_l"))
    right.write.mode("overwrite").parquet(str(base / "plain_r"))
    pl = spark.read.parquet(str(base / "plain_l")).hint("merge")
    pr = spark.read.parquet(str(base / "plain_r")).hint("merge")
    plain = pl.join(pr, "k").select("k", "v", "w")
    assert not is_exchange_free(plain)

    # and the results agree
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_bucketed_groupby_is_exchange_free(spark, frames, tmp_path_factory):
    left, _ = frames
    base = tmp_path_factory.mktemp("buckagg")
    save_bucketed(left, "t_agg", ["k"], 4, path=str(base / "agg"))
    agg = spark.table("t_agg").groupBy("k").agg(F.sum("v").alias("s"))
    assert is_exchange_free(agg)
    assert agg.count() == 2000


def test_register_bucketed_reattaches(spark, frames, tmp_path_factory):
    """DROP TABLE on an external bucketed table keeps the files; a new
    catalog entry via CREATE TABLE ... CLUSTERED BY restores exchange-free
    joins — the cross-session story without a metastore."""
    left, right = frames
    base = tmp_path_factory.mktemp("buckre")
    save_bucketed(left, "t_rl", ["k"], 8, sort_cols=["k"],
                  path=str(base / "l"))
    save_bucketed(right, "t_rr", ["k"], 8, sort_cols=["k"],
                  path=str(base / "r"))
    expect = sorted(map(tuple, _join(spark, "t_rl", "t_rr").collect()))

    spark.sql("DROP TABLE t_rl")
    spark.sql("DROP TABLE t_rr")
    register_bucketed(spark, "t_rl", str(base / "l"), "k long, v long",
                      ["k"], 8, sort_cols=["k"])
    register_bucketed(spark, "t_rr", str(base / "r"), "k long, w long",
                      ["k"], 8, sort_cols=["k"])
    joined = _join(spark, "t_rl", "t_rr")
    assert is_exchange_free(joined)
    assert sorted(map(tuple, joined.collect())) == expect


def test_partitioned_table_prunes(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("part")
    df = spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("lang")
    )
    save_partitioned(df, "t_part", ["lang"], path=str(base / "p"))
    q = spark.table("t_part").filter(F.col("lang") == "1")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:200]
    assert q.count() == 100


def test_validation(spark, frames):
    left, _ = frames
    with pytest.raises(ValueError):
        save_bucketed(left, "t_bad", [], 8)
    with pytest.raises(ValueError):
        save_bucketed(left, "t_bad", ["k"], 0)
    with pytest.raises(ValueError):
        save_partitioned(left, "t_bad", [])

