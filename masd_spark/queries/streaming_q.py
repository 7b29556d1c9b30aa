"""Streaming queries surfaced in the correctness harness.

The driver's oracle can't run a streaming query, so these are rows-only —
but the STREAM output is deterministic (seeded simulator, availableNow
file stream), and tests/test_streaming.py proves it equals the batch twin
of the same operators. Every twin drains through the library's one keyed
sink (``start_keyed_sink`` with its default ``batch_id``-stamped writer);
update-mode twins read back the last emission per key, append-mode twins
every row.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from masd_spark.queries import register, scratch_path
from masd_spark.sources.simulator import SimulatorConfig, write_json_drops
from masd_spark.streaming.pipeline import (
    last_emission,
    read_file_sensor_stream,
    sensor_pipeline,
    start_keyed_sink,
)


def _drain(
    spark: SparkSession, out: DataFrame, workdir: str, key_col: str, output_mode: str
) -> DataFrame:
    """Drain ``out`` (availableNow) into a keyed sink under ``workdir`` and
    read every stamped row back."""
    sink_dir = os.path.join(workdir, "sink")
    start_keyed_sink(
        out,
        path=sink_dir,
        checkpoint_dir=os.path.join(workdir, "ckpt"),
        key_col=key_col,
        output_mode=output_mode,
        available_now=True,
    ).awaitTermination(600)
    return spark.read.parquet(sink_dir)


@register("streaming_masd_rollup")
def streaming_masd_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline run AS A STREAM (file-drop micro-batches ->
    watermark -> windowed metrics -> foreachBatch), reduced to the last
    emission per (window, station, sensor) — i.e. the document set the
    keyed sink would hold after an upsert. The upsert reduction is itself
    Spark-side (``last_emission`` over the ``batch_id``-stamped sink) — no
    driver collect() anywhere, the same pattern an upsert sink uses at
    scale. ``sf_dir`` selects nothing (input is the seeded simulator);
    kept for the harness signature.
    """
    workdir = tempfile.mkdtemp(prefix="masd_stream_q_", dir=scratch_path(""))
    src = os.path.join(workdir, "drops")
    try:
        cfg = SimulatorConfig(duration_ms=120_000, seed=13)
        write_json_drops(src, cfg, n_files=3)
        agg = sensor_pipeline(
            read_file_sensor_stream(spark, src),
            watermark_delay="10 minutes",
            nest=False,
        )
        sink = _drain(spark, agg, workdir, "station_id", "update")
        latest = last_emission(
            sink, ["window", "station_id", "station_name", "sensor_id"]
        ).select(
            F.unix_millis("window.start").alias("window_start_ms"),
            "station_id",
            "station_name",
            "sensor_id",
            "total_count",
            "valid_count",
            "malformed_count",
            F.round("avg_val", 6).alias("avg_val"),
            "min_val",
            "max_val",
        )
        # materialize before the tempdir (the parquet source) is removed
        return latest.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@register("streaming_heavy_hitters")
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-station top-3 sensors by valid-reading count via the
    custom-stateful heavy-hitters operator. The registered plan is the
    scale-right transformWithStateInPandas MapState version (point
    reads/writes per touched sensor against the RocksDB state store; the
    vendored protobuf shim satisfies the TWS state protocol where no real
    wheel exists). Last emission per station after the seeded
    availableNow stream drains equals the batch top-k over full history.
    """
    from masd_spark.operators.validate import classify_validity
    from masd_spark.streaming.stateful import (
        rocksdb_state_store,
        streaming_station_heavy_hitters,
    )
    from masd_spark.vendor import ensure_protobuf_on_session

    ensure_protobuf_on_session(spark)
    workdir = tempfile.mkdtemp(prefix="masd_hh_q_", dir=scratch_path(""))
    src = os.path.join(workdir, "drops")
    try:
        cfg = SimulatorConfig(duration_ms=120_000, seed=13)
        write_json_drops(src, cfg, n_files=3)
        stream = classify_validity(read_file_sensor_stream(spark, src))
        with rocksdb_state_store(spark):
            out = streaming_station_heavy_hitters(stream, k=3)
            sink = _drain(spark, out, workdir, "station_id", "update")
        latest = last_emission(sink, ["station_id", "rank"]).select(
            "station_id", "rank", "sensor_id", "n_valid"
        )
        return latest.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@register("streaming_dedup_ingest")
def streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once ingestion made exactly-once:
    ``dropDuplicatesWithinWatermark`` on the natural reading identity
    (station, sensor, timestamp) in front of a per-key count — the
    streaming twin of ``dedup_exact_docs`` and the standard guard when a
    source (Kafka with producer retries, file re-drops) can re-deliver.
    Re-delivery is simulated by appending a copy of the first drop file;
    the emitted per-(station, sensor) counts must equal the duplicate-free
    batch counts (pinned by test_streaming_dedup_matches_batch_twin).

    Scale: dedup state is hash-partitioned by the dedup key and expired
    by the watermark — memory is bounded by (delay window × arrival
    rate), not history; the downstream count is an ordinary incremental
    streaming agg. ``sf_dir`` selects nothing (seeded generator input).
    """
    from masd_spark.operators.validate import (
        classify_validity,
        with_event_time_ms,
    )

    workdir = tempfile.mkdtemp(prefix="masd_sdq_", dir=scratch_path(""))
    src = os.path.join(workdir, "drops")
    try:
        cfg = SimulatorConfig(duration_ms=60_000, seed=29)
        write_json_drops(src, cfg, n_files=3)
        # simulate at-least-once: the whole first drop arrives again
        shutil.copyfile(
            os.path.join(src, "drop_000.json"),
            os.path.join(src, "drop_redelivered.json"),
        )

        stream = with_event_time_ms(
            classify_validity(read_file_sensor_stream(spark, src))
        )
        deduped = stream.withWatermark(
            "event_time", "10 minutes"
        ).dropDuplicatesWithinWatermark(["station_id", "sensor_id", "timestamp"])
        counts = deduped.groupBy("station_id", "sensor_id").agg(
            F.count("*").alias("n_readings"),
            F.sum(F.col("is_valid").cast("long")).alias("n_valid"),
        )
        sink = _drain(spark, counts, workdir, "station_id", "update")
        latest = last_emission(sink, ["station_id", "sensor_id"]).select(
            "station_id", "sensor_id", "n_readings", "n_valid"
        )
        return latest.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@register("streaming_timer_sessions")
def streaming_timer_sessions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time-TIMER sessionization (transformWithStateInPandas,
    timeMode=EventTime): sessions close either inline (a later event for
    the key reveals the gap) or — the case only timers can express —
    when a key goes silent and OTHER keys advance the watermark past its
    last event + gap. Deterministic crafted drops: station 'alpha'
    bursts once then goes silent (its session emits ONLY via the timer),
    'bob' exercises cross-batch and in-batch gap closure, trailing open
    sessions never emit. Rows-only (streaming, generated input);
    tests/test_streaming.py pins the exact emission set.
    """
    import json as _json

    from masd_spark.operators.validate import with_event_time_ms
    from masd_spark.streaming.stateful import (
        rocksdb_state_store,
        streaming_timer_sessions,
    )
    from masd_spark.vendor import ensure_protobuf_on_session

    ensure_protobuf_on_session(spark)

    base = 1_704_067_200_000

    def burst(station, t0, n=6, step=1000):
        return [
            {"station_name": station.title(), "station_id": station,
             "sensor_id": "0", "timestamp": t0 + i * step, "value": "1.0"}
            for i in range(n)
        ]

    files = [
        burst("alpha", base) + burst("bob", base) + burst("cara", base),
        burst("bob", base + 60_000) + burst("bob", base + 120_000)
        + burst("cara", base + 60_000),
        burst("bob", base + 180_000) + burst("cara", base + 180_000),
    ]

    workdir = tempfile.mkdtemp(prefix="masd_tsess_q_", dir=scratch_path(""))
    src = os.path.join(workdir, "drops")
    try:
        os.makedirs(src)
        for i, rows in enumerate(files):
            with open(os.path.join(src, f"f{i}.json"), "w") as fh:
                for r in rows:
                    fh.write(_json.dumps(r) + "\n")
        stream = with_event_time_ms(read_file_sensor_stream(spark, src))
        with rocksdb_state_store(spark):
            out = streaming_timer_sessions(
                stream.withWatermark("event_time", "1 second"), gap_ms=30_000
            )
            sink = _drain(spark, out, workdir, "station_id", "append")
        return sink.select(
            "station_id", "session_start", "session_end", "n_events"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@register("streaming_sensor_ewma")
def streaming_sensor_ewma_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(station, sensor) EWMA of valid readings carried across
    micro-batches in GroupState (applyInPandasWithState) — the
    smoothing/denoising custom stateful operator, registered so the
    family's applyInPandasWithState leg is a first-class harness entry
    like the TWS legs. The result is the LAST emission per key (the
    running (n_valid, ewma) after the final trigger), which
    test_stateful_ewma_matches_sequential_fold pins equal to the
    sequential time-ordered fold over the full history. ewma is rounded
    to 6dp for presentation; the fold itself is float-exact per the
    chunk-concat + single-sort discipline in streaming/stateful.py.

    Scale: state per key is (count, ewma) — O(keys) total, point
    updates per trigger; emission is per-key-per-trigger in update
    mode. ``sf_dir`` selects nothing (seeded generator input).
    """
    from masd_spark.operators.validate import classify_validity
    from masd_spark.streaming.stateful import streaming_sensor_ewma

    workdir = tempfile.mkdtemp(prefix="masd_ewma_q_", dir=scratch_path(""))
    src = os.path.join(workdir, "drops")
    try:
        cfg = SimulatorConfig(duration_ms=120_000, seed=13)
        write_json_drops(src, cfg, n_files=3, split="time")

        stream = classify_validity(read_file_sensor_stream(spark, src))
        out = streaming_sensor_ewma(stream, alpha=0.3)
        sink = _drain(spark, out, workdir, "station_id", "update")
        latest = last_emission(sink, ["station_id", "sensor_id"]).select(
            "station_id",
            "sensor_id",
            "n_valid",
            F.round("ewma", 6).alias("ewma"),
        )
        return latest.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@register("streaming_interval_join")
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner interval join registered as a harness query:
    two file-drop streams (clicks, purchases from the seeded simulator's
    event split), watermarks on BOTH sides, purchase within 10 minutes
    after the click — state on each side is bounded by
    watermark-delay + interval, the property that makes stream-stream
    joins feasible at all (unbounded-state joins are rejected by Spark).
    The emitted set equals the batch twin of the identical join
    (pinned at the operator level by test_stream_stream_interval_join);
    here the deterministic seeded input makes the harness row-set
    stable. ``sf_dir`` selects nothing (generator input).
    """
    import json as _json

    workdir = tempfile.mkdtemp(prefix="masd_ssj_q_", dir=scratch_path(""))
    cdir = os.path.join(workdir, "clicks")
    pdir = os.path.join(workdir, "purch")
    try:
        base = 1_704_067_200_000
        clicks = [
            {"user_id": u, "ts": base + i * 60_000}
            for u in range(5)
            for i in range(12)
        ]
        purchases = [
            {"user_id": u, "ts": base + i * 90_000 + 5_000,
             "amount": float(u * 100 + i)}
            for u in range(5)
            for i in range(9)
        ]
        for d, rows in [(cdir, clicks), (pdir, purchases)]:
            os.makedirs(d)
            mid = len(rows) // 2
            for i, chunk in enumerate([rows[:mid], rows[mid:]]):
                with open(os.path.join(d, f"f{i}.json"), "w") as fh:
                    for r in chunk:
                        fh.write(_json.dumps(r) + "\n")

        def src(d, schema, tcol):
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .json(d)
                .withColumn(tcol, F.timestamp_millis(F.col("ts")))
                .withWatermark(tcol, "1 minute")
            )

        c = src(cdir, "user_id long, ts long", "c_time").withColumnRenamed(
            "ts", "c_ts"
        )
        p = src(
            pdir, "user_id long, ts long, amount double", "p_time"
        ).withColumnRenamed("ts", "p_ts")
        joined = c.join(
            p,
            F.expr(
                "c_time <= p_time AND p_time <= c_time + interval 10 minutes"
            )
            & (c["user_id"] == p["user_id"]),
        ).select(c["user_id"], "c_ts", "p_ts", "amount")

        sink = _drain(spark, joined, workdir, "user_id", "append")
        return sink.select("user_id", "c_ts", "p_ts", "amount").localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
