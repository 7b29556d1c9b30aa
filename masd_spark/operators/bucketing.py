"""Bucketed (pre-partitioned) tables: the shuffle-free co-located join.

At 100 TB the dominant cost of a fact-fact join (lineitem |x| orders) is
shuffling both sides on the key. Bucketing writes each table hash-
partitioned into N buckets on the join key; a later join of two tables
bucketed the same way needs NO exchange on either side — Spark reads
bucket i of both tables into the same task.

This is a write-time contract, not a hint: it only pays off when the
table is joined on its bucket key many times (the norm for fact tables in
a lakehouse). tests/test_plans.py asserts the no-exchange plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Save as a bucketed (optionally sorted) table. Sorting within
    buckets additionally removes the sort from later sort-merge joins.
    ``path`` makes it an EXTERNAL table at that location (managed in the
    warehouse dir otherwise); ``mode="append"`` adds rows, and Spark
    rejects a bucket spec that differs from the table's."""
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def write_metadata_table(
    df: DataFrame, table_name: str, suffix: str, path: str | None
) -> None:
    """Save ``df`` as the plain table ``<table_name><suffix>`` — one of
    the small metadata tables an index keeps beside its bucketed rows —
    EXTERNAL at ``<path><suffix>`` when the index has a ``path``."""
    writer = df.write.mode("overwrite")
    if path is not None:
        writer = writer.option("path", path + suffix)
    writer.saveAsTable(table_name + suffix)


def read_table(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)
