"""Bucketed / partitioned table sinks — the co-located-join layout.

The reference re-reads its corpora from flat JSONL and re-blocks in
memory per run (/root/reference/Sparkle/database.py:29-78); at 100 TB
the dominant cost of every key-equi join and groupBy is the shuffle, and
the standard Spark answer is to pay it ONCE at write time:

  * `save_bucketed` hash-clusters rows into a fixed number of buckets by
    the join/group key (optionally sorted within buckets). Two tables
    bucketed by the same key into the same bucket count join with NO
    Exchange on either side — the scan itself satisfies the distribution
    requirement (tests/test_tables.py asserts the plan is Exchange-free
    and that the bucketed join equals the plain one).
  * `save_partitioned` directory-partitions by a low-cardinality column
    (lang, source, date) so per-domain queries prune whole directories
    (PartitionFilters in the scan, not a post-scan filter).
  * Spark's session catalog only remembers bucket metadata for the
    session that wrote it; `register_bucketed` re-attaches an existing
    bucketed directory in a NEW session with `CREATE TABLE ... USING
    parquet CLUSTERED BY ... INTO n BUCKETS LOCATION path`, which is what
    a production deployment does once per table (or lets a metastore /
    Iceberg keep it durable — same DDL through a catalog).

Sizing rule of thumb at scale: n_buckets ~ total-corpus-bytes /
target-file-size (128-512 MB), rounded to a multiple of the cluster's
executor count; both sides of a co-located join MUST use the same
bucket count and key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def save_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                  n_buckets: int, sort_cols: list[str] | None = None,
                  path: str | None = None, mode: str = "overwrite") -> None:
    """Write `df` as a bucketed parquet table registered as `table`.

    `path` makes it an external table (files survive DROP TABLE, so a
    later session can `register_bucketed` over them). `sort_cols` sorts
    within each bucket file — sort-merge joins can then skip their Sort
    when Spark reads one file per bucket.
    """
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    if not bucket_cols:
        raise ValueError("bucket_cols must name at least one column")
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def save_partitioned(df: DataFrame, table: str, partition_cols: list[str],
                     path: str | None = None, mode: str = "overwrite") -> None:
    """Directory-partitioned parquet table: queries filtering on
    `partition_cols` prune whole directories at plan time."""
    if not partition_cols:
        raise ValueError("partition_cols must name at least one column")
    w = df.write.format("parquet").mode(mode).partitionBy(*partition_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def register_bucketed(spark: SparkSession, table: str, path: str,
                      schema_ddl: str, bucket_cols: list[str],
                      n_buckets: int,
                      sort_cols: list[str] | None = None) -> None:
    """Re-attach an existing bucketed directory as `table` in THIS
    session's catalog — the cross-session half of `save_bucketed` when no
    persistent metastore is configured. `schema_ddl` is the column list
    ("id long, name string"); bucket geometry must match what was
    written, or Spark would assign rows to the wrong buckets at read.
    """
    cluster = ", ".join(bucket_cols)
    sorted_by = f"SORTED BY ({', '.join(sort_cols)}) " if sort_cols else ""
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY ({cluster}) {sorted_by}INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )


def is_exchange_free(df: DataFrame) -> bool:
    """True when the physical plan contains no shuffle Exchange — the
    co-location check for a join/agg over bucketed scans. (Broadcast
    exchanges don't move the big side and don't count.)"""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return not any(
        line.strip().lstrip("+-* ").startswith("Exchange")
        for line in plan.splitlines()
    )

