"""Format-agnostic batch IO beyond the parquet fixtures.

The reference reads only Kafka and writes only MongoDB (SURVEY.md §2.1);
a general engine needs the standard lake formats. Explicit schemas always
(inference is a full extra pass at scale); writers partition by the keys
later queries filter on, so partition pruning does the work of an index.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_READ_OPTIONS: dict[str, dict[str, str]] = {
    "csv": {"header": "true"},
    "json": {},
    "parquet": {},
    "orc": {},
}


def read_files(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: T.StructType,
    **options: str,
) -> DataFrame:
    """Schema-declared read of csv/json/parquet/orc."""
    opts = {**_READ_OPTIONS.get(fmt, {}), **options}
    reader = spark.read.format(fmt).schema(schema)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_files(
    df: DataFrame,
    path: str,
    fmt: str,
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
    **options: str,
) -> None:
    """Partitioned write of csv/json/parquet/orc."""
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        writer = writer.option("header", "true")
    for k, v in options.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


# Writer-level option names documented by the MongoDB Spark Connector 10.x
# ("Batch Write Configuration Options"): unprefixed when passed to
# DataFrameWriter.options(); the `spark.mongodb.write.` prefix applies only
# when the same keys are set on the SparkConf instead.
MONGO_WRITER_OPTION_NAMES = frozenset(
    {"connection.uri", "database", "collection", "writeConcern.w"}
)


def mongo_writer_options(
    uri: str,
    database: str,
    collection: str,
    write_concern: str = "majority",
) -> dict[str, str]:
    """The reference's MongoDB sink configuration
    (reference: spark-app/consumer.py:194-201, write concern from .env:22).
    Returns the option dict for ``df.write.format('mongodb')``; the
    connector JAR is not in this container, so the sink is exercised via
    the format-agnostic keyed sink (streaming/pipeline.py:start_keyed_sink)
    with parquet, and this helper documents the production binding:

        (df.write.format("mongodb").mode("append")
           .options(**mongo_writer_options(uri, db, f"station_{sid}"))
           .save())
    """
    return {
        "connection.uri": uri,
        "database": database,
        "collection": collection,
        "writeConcern.w": write_concern,
    }


def mongo_keyed_batch_writer(
    uri: str,
    database: str,
    collection_prefix: str = "station_",
    key_col: str = "station.id",
    write_fn=None,
    max_concurrency: int = 4,
):
    """Collection-per-key micro-batch writer with the
    ``start_keyed_sink(write_batch=...)`` signature — the reference's
    per-station Mongo layout (consumer.py:185-201) minus its wart: only
    the DISTINCT KEYS are collected to the driver (station cardinality,
    bytes), each key's rows are written by a Spark job, and the production
    binding is one connector JAR away.

    One write PER KEY is collection-per-key's unavoidable cost with the
    mongo-spark 10.x contract: ``collection`` is a fixed per-write option
    with no row-valued routing, so a layout that demands one collection
    per station demands one connector write per station. What is NOT
    unavoidable is running them back-to-back: the per-key jobs are
    submitted through a bounded thread pool (Spark job submission is
    thread-safe; the fair scheduler interleaves them), so a 100-station
    micro-batch costs ~ceil(100/max_concurrency) job waves over the
    persisted batch instead of 100 sequential scans. Failures surface
    deterministically: every key is attempted, then the FIRST failure in
    key order is raised (micro-batch retries re-write every collection —
    mode('append') on retried batches is the connector's documented
    at-least-once semantics either way). Callers who can change the
    layout should prefer the registered single-job ``partitionBy`` sink
    (streaming/pipeline.py) — this skeleton exists for byte-compatible
    parity with the reference's Mongo layout.

    ``write_fn(df, options)`` is injectable for tests; the default issues
    the real ``format('mongodb')`` write.
    """

    def _default_write(df: DataFrame, options: dict[str, str]) -> None:
        df.write.format("mongodb").mode("append").options(**options).save()

    write = write_fn or _default_write

    def write_batch(batch_df: DataFrame, batch_id: int, _path: str) -> None:
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import functions as F

        # foreachBatch DataFrames are NOT auto-cached: without a cache the
        # batch lineage would recompute once for the distinct-keys collect
        # and once more per key written. start_keyed_sink hands the batch
        # over uncached — only add our own cache when the caller didn't
        # already, so large batches never hold two cached copies.
        own_persist = not batch_df.is_cached
        if own_persist:
            batch_df.persist()
        try:
            # None sorts against str raises TypeError; order null-key rows
            # first, deterministically, and write them to a sentinel
            # collection (a malformed record must not wedge the stream —
            # the crash would repeat on every checkpoint retry)
            keys = sorted(
                (r["_k"] for r in batch_df.select(F.col(key_col).alias("_k")).distinct().collect()),
                key=lambda x: (x is not None, x if x is not None else ""),
            )

            def _one(k):
                flt = F.col(key_col).isNull() if k is None else F.col(key_col) == k
                suffix = "__null__" if k is None else str(k)
                write(
                    batch_df.filter(flt),
                    mongo_writer_options(uri, database, f"{collection_prefix}{suffix}"),
                )

            # one pooled path for both modes (max_workers=1 IS sequential):
            # attempt EVERY key, then raise the first failure in key order
            with ThreadPoolExecutor(max_workers=max(1, max_concurrency)) as pool:
                futures = [(k, pool.submit(_one, k)) for k in keys]
                errs = [(k, f.exception()) for k, f in futures if f.exception()]
            if errs:
                raise errs[0][1]
        finally:
            if own_persist:
                batch_df.unpersist()

    return write_batch
