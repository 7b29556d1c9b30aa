"""Structured Streaming veneer over the batch operators.

The reference pipeline (spark-app/consumer.py:212-240) is:
Kafka -> from_json -> try-cast validity -> watermark -> windowed metrics ->
foreachBatch -> per-station Mongo collections.

This module reuses the SAME operator functions the batch path uses (they
are pure DataFrame transforms) and fixes the reference's two known sink
warts (SURVEY.md §4.3):

1. per-station fan-out = collect() + N sequential filtered writes
   (consumer.py:185-201) -> replaced by ONE partitionBy(key) write per
   micro-batch: a single Spark job, no driver-side row transfer, scales
   with executors instead of stations.
2. swallowed sink exceptions advancing the checkpoint (consumer.py:205-206,
   at-most-once) -> error policy is explicit. With the default "fail" a
   failed write re-raises, so the checkpoint does not advance and the
   batch is retried. The sink is still at-least-once: if the process is
   killed after the append but before the commit log records the batch,
   the replayed batch is appended again (ROADMAP open item 2). The
   default writer stamps every row with its ``batch_id``, so
   :func:`last_emission` reads back the latest row per key.

Streaming-only semantics preserved: event-time watermark bounds state and
drops late data (consumer.py:114-116); windows may be re-emitted across
triggers in update mode — sinks that need one-row-per-window use
``output_mode="append"`` (emit once, after watermark) or an upsert sink.

Watermark caveat (observed on Spark 4.1): late-row filtering uses the
watermark COMMITTED by previous batches. Files that all pre-exist a single
``availableNow`` run are filtered against the initial watermark (0), so
"late" rows in later files of the same backlog are still aggregated;
rows arriving after a commit are dropped as expected
(tests/test_streaming.py::test_watermark_drops_late_rows).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from masd_spark.operators.nest import nest_sensor_document
from masd_spark.operators.validate import (
    SENSOR_SCHEMA,
    classify_validity,
    parse_json_records,
    with_event_time_ms,
)
from masd_spark.operators.window_agg import windowed_metrics


def read_kafka_sensor_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic_prefix: str = "sensors.raw",
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka source by topic pattern (reference: consumer.py:83-90).
    Requires the spark-sql-kafka package on the classpath; in this
    container there is no Kafka, so tests use the file source below
    — the downstream pipeline is identical.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribePattern", f"{topic_prefix}.*")
        .option("startingOffsets", starting_offsets)
        .load()
    )


def read_file_sensor_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-drop stream of JSON-lines sensor readings — the deterministic
    test twin of the Kafka source (each file = one micro-batch).
    """
    return (
        spark.readStream.schema(SENSOR_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def sensor_pipeline(
    readings: DataFrame,
    window_duration: str = "1 minute",
    slide_duration: str | None = None,
    watermark_delay: str = "5 seconds",
    keys: Sequence[str] = ("station_id", "station_name", "sensor_id"),
    nest: bool = True,
) -> DataFrame:
    """parse/validate -> event time + watermark -> windowed metrics ->
    (optionally) nested output document. Works identically on a batch
    DataFrame (watermark is a no-op) and a streaming one — the batch twin
    IS the oracle for the streaming path.
    """
    v = classify_validity(readings)
    v = with_event_time_ms(v)
    if readings.isStreaming:
        v = v.withWatermark("event_time", watermark_delay)
    m = windowed_metrics(
        v,
        time_col="event_time",
        keys=list(keys),
        window_duration=window_duration,
        slide_duration=slide_duration,
    )
    return nest_sensor_document(m) if nest else m


def parse_kafka_sensor_stream(raw: DataFrame) -> DataFrame:
    """Kafka binary envelope -> typed readings (reference:
    consumer.py:100-102); the file source skips this step."""
    return parse_json_records(raw, SENSOR_SCHEMA, value_col="value")


def start_keyed_sink(
    aggregated: DataFrame,
    path: str,
    checkpoint_dir: str,
    key_col: str = "station.id",
    trigger_interval: str | None = None,
    output_mode: str = "update",
    on_error: str = "fail",
    available_now: bool = False,
    write_batch: Callable[[DataFrame, int, str], None] | None = None,
) -> StreamingQuery:
    """foreachBatch sink writing every micro-batch as ONE partitioned job
    (partition column derived from ``key_col``), replacing the reference's
    per-station loop.

    The writer runs once per micro-batch, empty ones included, and is the
    batch's only job. The default writer appends every row stamped with
    its ``batch_id`` under ``sink_key=<key>`` directories, so a replayed
    or re-emitted key can be resolved by :func:`last_emission`.
    ``on_error='fail'`` re-raises so the checkpoint doesn't advance past a
    failed write (the reference logs and loses the batch instead);
    ``'skip'`` logs the failure and still runs the batch's plan once, so a
    stateful query commits its state and carries on.
    """
    if on_error not in ("fail", "skip"):
        # anything else would silently become at-most-once batch skipping
        # — the exact data-loss wart this sink exists to fix
        raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")

    def _default_write(batch_df: DataFrame, batch_id: int, out_path: str) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .withColumn("sink_key", F.col(key_col))
            .write.mode("append")
            .partitionBy("sink_key")
            .parquet(out_path)
        )

    writer = write_batch or _default_write

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        try:
            writer(batch_df, batch_id, path)
        except Exception:
            if on_error == "fail":
                raise
            # "skip": reference behavior (consumer.py:205-206) — log only
            print(f"[masd_spark] WARN batch {batch_id} sink failed; skipped")
            # a stateful batch commits its state only once every state
            # partition has run; a writer that failed before (or midway
            # through) its job left that undone, and Spark would fail the
            # query at its next batch
            batch_df.write.format("noop").mode("overwrite").save()

    ws = aggregated.writeStream.foreachBatch(handle).outputMode(output_mode).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        ws = ws.trigger(availableNow=True)
    elif trigger_interval:
        ws = ws.trigger(processingTime=trigger_interval)
    return ws.start()


def last_emission(sink: DataFrame, keys: Sequence[str]) -> DataFrame:
    """The row with the highest ``batch_id`` per ``keys`` of a stamped sink
    read back (``start_keyed_sink``'s default writer) — the document set an
    upsert sink would hold once every micro-batch has landed."""
    w = Window.partitionBy(*keys).orderBy(F.col("batch_id").desc())
    return (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
