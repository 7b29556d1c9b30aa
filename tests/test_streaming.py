"""Streaming semantics: batch-stream equivalence, watermark late-drop,
checkpoint recovery, keyed sink. File-drop sources give deterministic
micro-batches (SURVEY.md §7.4 hard part 4).
"""

import os

import pytest
from pyspark.sql import functions as F

from masd_spark.sources.simulator import SimulatorConfig, readings_df, write_json_drops
from masd_spark.streaming.pipeline import (
    last_emission,
    read_file_sensor_stream,
    sensor_pipeline,
    start_keyed_sink,
)
from masd_spark.streaming.stateful import rocksdb_state_store

CFG = SimulatorConfig(duration_ms=120_000, seed=7)  # 2 one-minute windows


def _collecting_sink(collected):
    def write(batch_df, batch_id, _path):
        collected.append((batch_id, batch_df.collect()))

    return write


def test_stream_matches_batch_twin(spark, tmp_path):
    """Update-mode streaming agg, last emission per key, equals the batch
    pipeline over the same rows — the operators are shared, so this pins
    the streaming plumbing (watermark, state merge, foreachBatch)."""
    src = str(tmp_path / "drops")
    n = write_json_drops(src, CFG, n_files=3)
    assert n > 0

    collected: list = []
    stream = read_file_sensor_stream(spark, src)
    agg = sensor_pipeline(stream, watermark_delay="10 minutes", nest=False)
    q = start_keyed_sink(
        agg,
        path=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
        write_batch=_collecting_sink(collected),
    )
    q.awaitTermination(300)

    last_emission: dict = {}
    for batch_id, rows in sorted(collected, key=lambda x: x[0]):
        for r in rows:
            key = (r["window"]["start"], r["station_id"], r["sensor_id"])
            last_emission[key] = (
                r["total_count"],
                r["valid_count"],
                r["malformed_count"],
                None if r["avg_val"] is None else round(r["avg_val"], 9),
            )

    batch = sensor_pipeline(readings_df(spark, CFG), nest=False)
    expected = {
        (r["window"]["start"], r["station_id"], r["sensor_id"]): (
            r["total_count"],
            r["valid_count"],
            r["malformed_count"],
            None if r["avg_val"] is None else round(r["avg_val"], 9),
        )
        for r in batch.collect()
    }
    assert last_emission == expected


def test_default_keyed_sink_matches_batch_twin(spark, tmp_path):
    """The library's own writer: every row lands stamped with its batch_id
    under one sink_key= directory per station, and the last emission per
    key read back from the sink equals the batch pipeline."""
    src = str(tmp_path / "drops")
    assert write_json_drops(src, CFG, n_files=3) > 0
    out = tmp_path / "out"
    agg = sensor_pipeline(
        read_file_sensor_stream(spark, src), watermark_delay="10 minutes", nest=False
    )
    q = start_keyed_sink(
        agg,
        path=str(out),
        checkpoint_dir=str(tmp_path / "ckpt"),
        key_col="station_id",
        available_now=True,
    )
    q.awaitTermination(300)

    sink = spark.read.parquet(str(out))
    assert sink.filter(F.col("batch_id").isNull()).count() == 0
    batch = sensor_pipeline(readings_df(spark, CFG), nest=False)
    stations = {r["station_id"] for r in batch.select("station_id").distinct().collect()}
    assert {
        p.name.split("=", 1)[1] for p in out.iterdir() if p.name.startswith("sink_key=")
    } == stations

    def keyed(rows):
        return {
            (r["window"]["start"], r["station_id"], r["sensor_id"]): (
                r["total_count"],
                r["valid_count"],
                r["malformed_count"],
                None if r["avg_val"] is None else round(r["avg_val"], 9),
            )
            for r in rows
        }

    got = last_emission(sink, ["window", "station_id", "sensor_id"]).collect()
    assert len(got) == len(keyed(got))
    assert keyed(got) == keyed(batch.collect())


def test_sliding_window_stream_matches_batch_twin(spark, tmp_path):
    """Sliding windows (slide != window) through the STREAMING path: each
    event lands in window/slide = 4 overlapping windows; the update-mode
    last emission per key must equal the batch twin with the same slide."""
    src = str(tmp_path / "slide_drops")
    n = write_json_drops(src, CFG, n_files=3)
    assert n > 0

    collected: list = []
    stream = read_file_sensor_stream(spark, src)
    agg = sensor_pipeline(
        stream,
        window_duration="1 minute",
        slide_duration="15 seconds",
        watermark_delay="10 minutes",
        nest=False,
    )
    q = start_keyed_sink(
        agg,
        path=str(tmp_path / "slide_out"),
        checkpoint_dir=str(tmp_path / "slide_ckpt"),
        available_now=True,
        write_batch=_collecting_sink(collected),
    )
    q.awaitTermination(300)

    last_emission: dict = {}
    for batch_id, rows in sorted(collected, key=lambda x: x[0]):
        for r in rows:
            key = (r["window"]["start"], r["station_id"], r["sensor_id"])
            last_emission[key] = (r["total_count"], r["valid_count"])

    batch = sensor_pipeline(
        readings_df(spark, CFG),
        window_duration="1 minute",
        slide_duration="15 seconds",
        nest=False,
    )
    expected = {
        (r["window"]["start"], r["station_id"], r["sensor_id"]): (
            r["total_count"],
            r["valid_count"],
        )
        for r in batch.collect()
    }
    assert last_emission == expected
    # slide produces strictly more (overlapping) windows than tumbling
    tumbling = sensor_pipeline(readings_df(spark, CFG), nest=False).count()
    assert len(expected) > tumbling


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving (in a later micro-batch) with event time older than
    the committed watermark is dropped from the aggregation (reference
    semantics: consumer.py:114-116 with 5 s watermark; SURVEY.md §4.3
    item 4). The late file is written AFTER the first batch commits —
    watermark filtering uses the watermark committed by previous batches,
    so pre-existing files in one availableNow run would all see the
    initial watermark.
    """
    src = str(tmp_path / "late_drops")
    os.makedirs(src)
    base = 1_704_067_200_000

    def row(ts, value="1.0"):
        return (
            '{"station_name": "P", "station_id": "p", "sensor_id": "0", '
            f'"timestamp": {ts}, "value": "{value}"}}'
        )

    # rows in minute 0 and minute 10 -> watermark advances to 00:09:55
    with open(os.path.join(src, "f1.json"), "w") as fh:
        fh.write(row(base) + "\n" + row(base + 600_000) + "\n")

    collected: list = []
    stream = read_file_sensor_stream(spark, src)
    agg = sensor_pipeline(stream, watermark_delay="5 seconds", nest=False)
    q = start_keyed_sink(
        agg,
        path=str(tmp_path / "out2"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        write_batch=_collecting_sink(collected),
    )
    try:
        q.processAllAvailable()
        # late row back in minute 0, arriving after the watermark advanced
        with open(os.path.join(src, "f2.json"), "w") as fh:
            fh.write(row(base + 1000) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    counts = {}
    for _bid, rows in sorted(collected, key=lambda x: x[0]):
        for r in rows:
            counts[r["window"]["start"]] = r["total_count"]
    # minute-0 window must still count 1 (late row dropped), not 2
    assert len(counts) == 2
    assert all(v == 1 for v in counts.values())
    dropped = sum(
        (p["stateOperators"][0]["numRowsDroppedByWatermark"] if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    assert dropped == 1


def test_session_window_streaming(spark, tmp_path):
    """Streaming session_window (gap-based sessions in the engine's
    streaming layer — SURVEY.md §2.9 marks native session windows ABSENT
    in the reference; batch twin is operators/relational.py:sessionize).

    session_window aggregation only supports append mode: sessions emit
    once the committed watermark passes their end — a far-future sentinel
    event flushes them.
    """
    import json as _json

    from pyspark.sql import functions as F
    from masd_spark.operators.validate import classify_validity, with_event_time_ms

    src = str(tmp_path / "sess_drops")
    cfg = SimulatorConfig(duration_ms=30_000, seed=3)
    n = write_json_drops(src, cfg, n_files=1)
    assert n > 0

    stream = read_file_sensor_stream(spark, src)
    v = with_event_time_ms(classify_validity(stream)).withWatermark(
        "event_time", "1 second"
    )
    agg = v.groupBy(
        F.session_window("event_time", "5 seconds"), F.col("station_id")
    ).agg(F.count("*").alias("n_events"))

    collected: list = []

    def sink(batch_df, batch_id):
        collected.append(batch_df.collect())

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # sentinel an hour later -> watermark passes every real session end
        sentinel = {
            "station_name": "Z",
            "station_id": "zz_sentinel",
            "sensor_id": "0",
            "timestamp": cfg.start_epoch_ms + 3_600_000,
            "value": "1.0",
        }
        with open(os.path.join(src, "sentinel.json"), "w") as fh:
            fh.write(_json.dumps(sentinel) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    rows = [
        r
        for batch in collected
        for r in batch
        if r["station_id"] != "zz_sentinel"
    ]
    assert rows
    assert sum(r["n_events"] for r in rows) == n
    for r in rows:
        assert r["session_window"]["start"] < r["session_window"]["end"]


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with watermarks on both sides and a
    time-range condition (purchase within 10 min after the click) — state
    on both sides is bounded by the watermark + interval. Result must
    equal the batch twin of the same join."""
    import json as _json

    from pyspark.sql import functions as F

    base = 1_704_067_200_000
    clicks = [
        {"user_id": u, "ts": base + i * 60_000}
        for u in range(3)
        for i in range(10)
    ]
    purchases = [
        {"user_id": u, "ts": base + i * 90_000 + 5_000, "amount": float(u * 100 + i)}
        for u in range(3)
        for i in range(7)
    ]
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
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
    p = src(pdir, "user_id long, ts long, amount double", "p_time").withColumnRenamed(
        "ts", "p_ts"
    )
    joined = c.join(
        p,
        F.expr(
            "c_time <= p_time AND p_time <= c_time + interval 10 minutes"
        ) & (c["user_id"] == p["user_id"]),
    ).select(c["user_id"], "c_ts", "p_ts", "amount")

    collected: list = []
    q = (
        joined.writeStream.foreachBatch(
            lambda df, bid: collected.append(df.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        (r["user_id"], r["c_ts"], r["p_ts"], r["amount"])
        for batch in collected
        for r in batch
    )

    expected = sorted(
        (c_["user_id"], c_["ts"], p_["ts"], p_["amount"])
        for c_ in clicks
        for p_ in purchases
        if c_["user_id"] == p_["user_id"]
        and c_["ts"] <= p_["ts"] <= c_["ts"] + 600_000
    )
    assert got == expected and len(expected) > 0


def test_stream_static_broadcast_join(spark, tmp_path):
    """Stream-static enrichment: a streaming source joined to a broadcast
    dimension — per-batch hash join against the static side, no stream
    state. Row routing must match the batch twin exactly."""
    src = str(tmp_path / "enrich_drops")
    cfg = SimulatorConfig(duration_ms=20_000, seed=9)
    n = write_json_drops(src, cfg, n_files=2)
    assert n > 0

    dim = spark.createDataFrame(
        [("perugia", "PG"), ("foligno", "PG"), ("spoleto", "PG2")],
        ["station_id", "province"],
    )
    stream = read_file_sensor_stream(spark, src)
    enriched = stream.join(F.broadcast(dim), "station_id")

    counts: dict = {}

    def sink(batch_df, _bid):
        for r in batch_df.groupBy("province").count().collect():
            counts[r["province"]] = counts.get(r["province"], 0) + r["count"]

    q = (
        enriched.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    expected = {
        r["province"]: r["count"]
        for r in readings_df(spark, cfg)
        .join(F.broadcast(dim), "station_id")
        .groupBy("province")
        .count()
        .collect()
    }
    assert counts == expected and sum(counts.values()) == n


def test_stateful_ewma_matches_sequential_fold(spark, tmp_path):
    """applyInPandasWithState custom operator: per-sensor EWMA carried
    across micro-batches in GroupState must equal the sequential fold over
    the full (time-ordered) reading history."""
    from masd_spark.operators.validate import classify_validity
    from masd_spark.sources.simulator import generate_readings
    from masd_spark.streaming.stateful import streaming_sensor_ewma

    cfg = SimulatorConfig(duration_ms=30_000, seed=11)
    src = str(tmp_path / "ewma_drops")
    n = write_json_drops(src, cfg, n_files=3, split="time")
    assert n > 0

    stream = classify_validity(read_file_sensor_stream(spark, src))
    out = streaming_sensor_ewma(stream, alpha=0.3)

    collected: list = []
    q = (
        out.writeStream.foreachBatch(
            lambda df, bid: collected.append((bid, df.collect()))
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    last: dict = {}
    for bid, rows in sorted(collected, key=lambda x: x[0]):
        for r in rows:
            last[(r["station_id"], r["sensor_id"])] = (r["n_valid"], r["ewma"])

    expected: dict = {}
    for r in sorted(generate_readings(cfg), key=lambda r: r["timestamp"]):
        if r["value"] == "<<bad_data>>":
            continue
        k = (r["station_id"], r["sensor_id"])
        n_prev, ew = expected.get(k, (0, None))
        v = float(r["value"])
        ew = v if ew is None else 0.3 * v + 0.7 * ew
        expected[k] = (n_prev + 1, ew)

    assert set(last) == set(expected)
    for k, (n_exp, ew_exp) in expected.items():
        n_got, ew_got = last[k]
        assert n_got == n_exp, k
        assert abs(ew_got - ew_exp) < 1e-9, k


def test_sink_error_policy(spark, tmp_path):
    """on_error='fail' propagates a sink failure (checkpoint not advanced
    past it); on_error='skip' reproduces the reference's log-and-continue
    (consumer.py:205-206) explicitly."""
    import pytest as _pytest

    src = str(tmp_path / "err_drops")
    write_json_drops(src, SimulatorConfig(duration_ms=10_000, seed=5), n_files=1)

    def boom(batch_df, batch_id, _path):
        raise RuntimeError("sink down")

    agg = sensor_pipeline(
        read_file_sensor_stream(spark, src), watermark_delay="10 minutes", nest=False
    )
    q = start_keyed_sink(
        agg,
        path=str(tmp_path / "err_out"),
        checkpoint_dir=str(tmp_path / "err_ckpt_fail"),
        available_now=True,
        on_error="fail",
        write_batch=boom,
    )
    with _pytest.raises(Exception):
        q.awaitTermination(300)
        if q.exception() is not None:
            raise q.exception()

    q2 = start_keyed_sink(
        agg,
        path=str(tmp_path / "err_out2"),
        checkpoint_dir=str(tmp_path / "err_ckpt_skip"),
        available_now=True,
        on_error="skip",
        write_batch=boom,
    )
    q2.awaitTermination(300)
    assert q2.exception() is None


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Streaming exact dedup: dropDuplicatesWithinWatermark removes
    re-delivered readings (same station/sensor/timestamp) with state
    bounded by the watermark — the streaming twin of dedup_exact."""
    import json as _json

    from masd_spark.operators.validate import classify_validity, with_event_time_ms

    src = str(tmp_path / "dup_drops")
    os.makedirs(src)
    base = 1_704_067_200_000
    rows = [
        {"station_name": "P", "station_id": "p", "sensor_id": str(s),
         "timestamp": base + i * 1000, "value": "1.5"}
        for s in range(3)
        for i in range(10)
    ]
    with open(os.path.join(src, "f1.json"), "w") as fh:
        for r in rows + rows[:15]:  # 15 exact re-deliveries
            fh.write(_json.dumps(r) + "\n")

    stream = with_event_time_ms(classify_validity(read_file_sensor_stream(spark, src)))
    deduped = stream.withWatermark("event_time", "10 minutes").dropDuplicatesWithinWatermark(
        ["station_id", "sensor_id", "timestamp"]
    )

    collected: list = []
    q = (
        deduped.writeStream.foreachBatch(lambda df, bid: collected.append(df.count()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert sum(collected) == len(rows)  # duplicates dropped, originals kept


def test_complete_mode_emits_full_state(spark, tmp_path):
    """Complete output mode: every trigger emits the ENTIRE aggregation
    state (vs update's changed-rows); the final batch must equal the batch
    twin outright."""
    src = str(tmp_path / "complete_drops")
    cfg = SimulatorConfig(duration_ms=30_000, seed=21)
    n = write_json_drops(src, cfg, n_files=2)
    assert n > 0

    from masd_spark.operators.validate import classify_validity, with_event_time_ms

    stream = with_event_time_ms(classify_validity(read_file_sensor_stream(spark, src)))
    agg = stream.groupBy("station_id").agg(F.count("*").alias("n_events"))

    batches: list = []
    q = (
        agg.writeStream.foreachBatch(
            lambda df, bid: batches.append(sorted(map(tuple, df.collect())))
        )
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "complete_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    expected = sorted(
        map(
            tuple,
            classify_validity(readings_df(spark, cfg))
            .groupBy("station_id")
            .agg(F.count("*").alias("n_events"))
            .collect(),
        )
    )
    assert batches and batches[-1] == expected
    assert sum(r[1] for r in batches[-1]) == n


def test_checkpoint_recovery(spark, tmp_path):
    """Restarting from the checkpoint processes only new files."""
    src = str(tmp_path / "ckpt_drops")
    ckpt = str(tmp_path / "ckpt3")
    write_json_drops(src, SimulatorConfig(duration_ms=30_000, seed=1), n_files=1)

    def run_once():
        collected: list = []
        stream = read_file_sensor_stream(spark, src)
        agg = sensor_pipeline(stream, watermark_delay="10 minutes", nest=False)
        q = start_keyed_sink(
            agg,
            path=str(tmp_path / "out3"),
            checkpoint_dir=ckpt,
            available_now=True,
            write_batch=_collecting_sink(collected),
        )
        q.awaitTermination(300)
        return collected

    first = run_once()
    assert sum(len(rows) for _b, rows in first) > 0
    # no new files -> restart emits nothing new
    second = run_once()
    assert sum(len(rows) for _b, rows in second) == 0


def test_partition_counts_follow_default_parallelism(spark, tmp_path):
    """Every partition count comes from the live session's
    defaultParallelism (session.ensure_io_confs), so a new stream's
    checkpoint holds one state partition per core, not a fixed count."""
    import json

    from masd_spark.session import ensure_io_confs

    n = str(spark.sparkContext.defaultParallelism)
    keys = ("spark.sql.shuffle.partitions", "spark.sql.files.minPartitionNum")
    assert [spark.conf.get(k) for k in keys] == [n, n]
    ensure_io_confs(spark)
    assert [spark.conf.get(k) for k in keys] == [n, n]

    src = str(tmp_path / "drops")
    write_json_drops(src, SimulatorConfig(duration_ms=30_000, seed=1), n_files=1)
    ckpt = tmp_path / "ckpt"
    q = start_keyed_sink(
        sensor_pipeline(read_file_sensor_stream(spark, src)),
        path=str(tmp_path / "out"),
        checkpoint_dir=str(ckpt),
        available_now=True,
        write_batch=_collecting_sink([]),
    )
    q.awaitTermination(300)
    # offsets log: version line, then the batch metadata with the confs
    # the checkpoint pinned at creation
    metadata = json.loads((ckpt / "offsets" / "0").read_text().splitlines()[1])
    assert metadata["conf"]["spark.sql.shuffle.partitions"] == n


def _run_heavy_hitters(spark, tmp_path):
    """Drive the TWS heavy-hitters operator over file drops and return
    (final emitted top-k per station, batch-twin expectation)."""
    from masd_spark.operators.validate import classify_validity
    from masd_spark.sources.simulator import generate_readings
    from masd_spark.streaming.stateful import streaming_station_heavy_hitters

    with rocksdb_state_store(spark):
        cfg = SimulatorConfig(duration_ms=30_000, seed=13)
        src = str(tmp_path / "hh_drops")
        n = write_json_drops(src, cfg, n_files=3)
        assert n > 0

        stream = classify_validity(read_file_sensor_stream(spark, src))
        out = streaming_station_heavy_hitters(stream, k=3)

        collected: list = []
        q = (
            out.writeStream.foreachBatch(
                lambda df, bid: collected.append((bid, df.collect()))
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    last: dict = {}  # station -> {rank: (sensor, n_valid)}
    for bid, rows in sorted(collected, key=lambda x: x[0]):
        per_station: dict = {}
        for r in rows:
            per_station.setdefault(r["station_id"], {})[r["rank"]] = (
                r["sensor_id"],
                r["n_valid"],
            )
        last.update(per_station)

    counts: dict = {}
    for r in generate_readings(cfg):
        if r["value"] == "<<bad_data>>":
            continue
        counts.setdefault(r["station_id"], {}).setdefault(r["sensor_id"], 0)
        counts[r["station_id"]][r["sensor_id"]] += 1
    expected = {
        st: {
            i + 1: (s, c)
            for i, (s, c) in enumerate(
                sorted(cs.items(), key=lambda t: (-t[1], t[0]))[:3]
            )
        }
        for st, cs in counts.items()
    }
    return last, expected


def test_streaming_dedup_matches_batch_twin(spark):
    """The registered streaming_dedup_ingest query (redelivered drop file
    -> dropDuplicatesWithinWatermark -> per-key counts) must equal the
    duplicate-free batch counts from the same seeded generator."""
    from masd_spark.queries import load_all
    from masd_spark.sources.simulator import generate_readings
    from tests.conftest import SF_ORACLE

    reg = load_all()
    rows = reg["streaming_dedup_ingest"].fn(spark, SF_ORACLE).collect()
    got = {
        (r["station_id"], r["sensor_id"]): (r["n_readings"], r["n_valid"])
        for r in rows
    }

    cfg = SimulatorConfig(duration_ms=60_000, seed=29)
    seen: dict = {}
    for r in generate_readings(cfg):
        key = (r["station_id"], r["sensor_id"], r["timestamp"])
        if key in seen:
            # a natural key collision would make first-arrival semantics
            # data-dependent; the fixture must not contain one
            assert seen[key] == r["value"]
            continue
        seen[key] = r["value"]
    expected: dict = {}
    for (st, se, _ts), val in seen.items():
        n, v = expected.get((st, se), (0, 0))
        expected[(st, se)] = (n + 1, v + (0 if val == "<<bad_data>>" else 1))
    assert got == expected


def test_transform_with_state_heavy_hitters(spark, tmp_path):
    """transformWithStateInPandas MapState operator (needs protobuf for
    the TWS state protocol + RocksDB state store). The vendored shim
    (masd_spark/vendor/pbshim) satisfies the protocol where no real
    protobuf wheel exists, so this no longer skips in this container."""
    from masd_spark.vendor import ensure_protobuf

    ensure_protobuf()
    pytest.importorskip("google.protobuf")

    last, expected = _run_heavy_hitters(spark, tmp_path)
    assert last == expected


def test_stream_stream_left_outer_join_emits_nulls_on_watermark(spark, tmp_path):
    """Stream-stream LEFT OUTER interval join: unmatched left rows must
    be emitted null-extended — but only once the watermark passes their
    join-window expiry (state eviction), not eagerly. Staged far-future
    sentinel files advance the watermark so eviction is deterministic;
    the final multiset must equal the batch left-join twin."""
    import json as _json
    import time as _time

    from pyspark.sql import functions as F

    base = 1_704_067_200_000
    clicks = [
        {"user_id": u, "ts": base + i * 60_000} for u in range(3) for i in range(5)
    ]
    purchases = [
        {"user_id": 0, "ts": base + i * 60_000 + 5_000, "amount": float(i)}
        for i in range(5)
    ]
    sent_c = [{"user_id": 99, "ts": base + 100 * 60_000}]
    sent_p = [{"user_id": 99, "ts": base + 100 * 60_000, "amount": 0.0}]
    sent2_c = [{"user_id": 98, "ts": base + 200 * 60_000}]
    sent2_p = [{"user_id": 98, "ts": base + 200 * 60_000, "amount": 0.0}]
    cdir, pdir = str(tmp_path / "c"), str(tmp_path / "p")
    os.makedirs(cdir)
    os.makedirs(pdir)

    def w(path, rows):
        with open(path, "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    for i, (cs, ps) in enumerate(
        [(clicks, purchases), (sent_c, sent_p), (sent2_c, sent2_p)]
    ):
        w(os.path.join(cdir, f"f{i}.json"), cs)
        w(os.path.join(pdir, f"f{i}.json"), ps)
        _time.sleep(0.05)  # distinct mtimes -> deterministic trigger order

    def src(d, schema, tcol):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(d)
            .withColumn(tcol, F.timestamp_millis(F.col("ts")))
            .withWatermark(tcol, "1 minute")
        )

    c = src(cdir, "user_id long, ts long", "c_time").withColumnRenamed("ts", "c_ts")
    p = src(pdir, "user_id long, ts long, amount double", "p_time").withColumnRenamed(
        "ts", "p_ts"
    )
    joined = c.join(
        p,
        F.expr("c_time <= p_time AND p_time <= c_time + interval 10 minutes")
        & (c["user_id"] == p["user_id"]),
        "left_outer",
    ).select(c["user_id"], "c_ts", "p_ts", "amount")

    collected: list = []
    q = (
        joined.writeStream.foreachBatch(
            lambda df, bid: collected.append(df.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        (r["user_id"], r["c_ts"], r["p_ts"], r["amount"])
        for batch in collected
        for r in batch
    )

    all_clicks = clicks + sent_c + sent2_c
    all_purch = purchases + sent_p + sent2_p
    expected = []
    for c_ in all_clicks:
        matches = [
            p_
            for p_ in all_purch
            if p_["user_id"] == c_["user_id"]
            and c_["ts"] <= p_["ts"] <= c_["ts"] + 600_000
        ]
        if matches:
            expected.extend(
                (c_["user_id"], c_["ts"], p_["ts"], p_["amount"]) for p_ in matches
            )
        else:
            expected.append((c_["user_id"], c_["ts"], None, None))
    # Python sorts None < int fails; sort with key handling None
    keyf = lambda t: (t[0], t[1], t[2] is not None, t[2] or 0, t[3] or 0.0)
    assert sorted(got, key=keyf) == sorted(expected, key=keyf)
    nulls = [t for t in got if t[2] is None]
    assert len(nulls) == 10  # users 1,2: all five clicks unmatched


def test_timer_sessions_silent_key_flush(spark, tmp_path):
    """Event-time-timer sessionization: a key that goes SILENT (station
    'alpha', one burst in file 1, nothing after) must still emit its
    session — closed by its registered timer when OTHER keys advance the
    watermark — while data-visible gaps close inline and trailing open
    sessions never emit."""
    import json as _json

    from masd_spark.operators.validate import with_event_time_ms
    from masd_spark.streaming.stateful import streaming_timer_sessions

    base = 1_704_067_200_000
    gap = 30_000

    def burst(station, t0, n=6, step=1000):
        return [
            {"station_name": station.title(), "station_id": station,
             "sensor_id": "0", "timestamp": t0 + i * step, "value": "1.0"}
            for i in range(n)
        ]

    files = [
        burst("alpha", base) + burst("bob", base) + burst("cara", base),
        # bob gets TWO bursts in one file (in-batch gap) while alpha is silent
        burst("bob", base + 60_000) + burst("bob", base + 120_000)
        + burst("cara", base + 60_000),
        burst("bob", base + 180_000) + burst("cara", base + 180_000),
    ]
    src = str(tmp_path / "tsess_drops")
    os.makedirs(src)
    for i, rows in enumerate(files):
        with open(os.path.join(src, f"f{i}.json"), "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    with rocksdb_state_store(spark):
        stream = with_event_time_ms(read_file_sensor_stream(spark, src))
        out = streaming_timer_sessions(
            stream.withWatermark("event_time", "1 second"), gap_ms=gap
        )
        collected: list = []
        q = (
            out.writeStream.foreachBatch(
                lambda df, bid: collected.append((bid, df.collect()))
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "tsess_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    got = {
        (r["station_id"], r["session_start"], r["session_end"], r["n_events"])
        for _b, rows in collected
        for r in rows
    }
    s = lambda st, t0, n=6: (st, base + t0, base + t0 + (n - 1) * 1000, n)
    expected = {
        s("alpha", 0),        # ONLY reachable via the event-time timer
        s("bob", 0),          # closed by bob's next burst (cross-batch gap)
        s("bob", 60_000),     # closed by the in-batch gap inside file 2
        s("bob", 120_000),    # closed by file 3's burst
        s("cara", 0),
        s("cara", 60_000),
        # bob/cara sessions at +180s stay open: final watermark (184s)
        # never passes their end + gap (215s)
    }
    assert got == expected


def test_transform_with_state_initial_state_bootstrap(spark, tmp_path):
    """Backfill -> streaming handoff: seed the TWS MapState from a BATCH
    aggregate of the first drop file, stream only the remaining files,
    and the final running top-k must equal the batch twin over the FULL
    history — proving handleInitialState loaded the state store rather
    than the stream replaying history."""
    import shutil as _sh

    from masd_spark.operators.validate import classify_validity
    from masd_spark.sources.simulator import generate_readings
    from masd_spark.streaming.pipeline import SENSOR_SCHEMA
    from masd_spark.streaming.stateful import streaming_station_heavy_hitters
    from masd_spark.vendor import ensure_protobuf

    ensure_protobuf()
    pytest.importorskip("google.protobuf")

    cfg = SimulatorConfig(duration_ms=30_000, seed=13)
    all_dir = str(tmp_path / "all_drops")
    n = write_json_drops(all_dir, cfg, n_files=3, split="time")
    assert n > 0
    src = str(tmp_path / "tail_drops")
    os.makedirs(src)
    for f in ["drop_001.json", "drop_002.json"]:
        _sh.copyfile(os.path.join(all_dir, f), os.path.join(src, f))

    # history = batch aggregate of drop_000 only
    hist = classify_validity(
        spark.read.schema(SENSOR_SCHEMA).json(os.path.join(all_dir, "drop_000.json"))
    )
    initial = (
        hist.filter(F.col("is_valid"))
        .groupBy("station_id", "sensor_id")
        .agg(F.count("*").alias("n_valid"))
        .groupBy("station_id")
    )

    with rocksdb_state_store(spark):
        stream = classify_validity(read_file_sensor_stream(spark, src))
        out = streaming_station_heavy_hitters(stream, k=3, initial_counts=initial)
        collected: list = []
        q = (
            out.writeStream.foreachBatch(
                lambda df, bid: collected.append((bid, df.collect()))
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "boot_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    last: dict = {}
    for bid, rows in sorted(collected, key=lambda x: x[0]):
        per_station: dict = {}
        for r in rows:
            per_station.setdefault(r["station_id"], {})[r["rank"]] = (
                r["sensor_id"],
                r["n_valid"],
            )
        last.update(per_station)

    counts: dict = {}
    for r in generate_readings(cfg):
        if r["value"] == "<<bad_data>>":
            continue
        counts.setdefault(r["station_id"], {}).setdefault(r["sensor_id"], 0)
        counts[r["station_id"]][r["sensor_id"]] += 1
    expected = {
        st: {
            i + 1: (s, c)
            for i, (s, c) in enumerate(
                sorted(cs.items(), key=lambda t: (-t[1], t[0]))[:3]
            )
        }
        for st, cs in counts.items()
    }
    assert last == expected


def test_stream_union_two_sources(spark, tmp_path):
    """Two independent file-drop streams (the multi-topic merge analog —
    the reference subscribes one consumer to several Kafka topics)
    unioned BEFORE the windowed aggregation: the final per-key state
    must equal the batch twin over the concatenation of both feeds."""
    cfg_a = SimulatorConfig(duration_ms=60_000, seed=41)
    cfg_b = SimulatorConfig(duration_ms=60_000, seed=42)
    src_a = str(tmp_path / "feed_a")
    src_b = str(tmp_path / "feed_b")
    assert write_json_drops(src_a, cfg_a, n_files=2) > 0
    assert write_json_drops(src_b, cfg_b, n_files=2) > 0

    stream = read_file_sensor_stream(spark, src_a).unionByName(
        read_file_sensor_stream(spark, src_b)
    )
    agg = sensor_pipeline(stream, watermark_delay="10 minutes", nest=False)
    collected: list = []
    q = start_keyed_sink(
        agg,
        path=str(tmp_path / "union_out"),
        checkpoint_dir=str(tmp_path / "union_ckpt"),
        available_now=True,
        write_batch=_collecting_sink(collected),
    )
    q.awaitTermination(300)

    last: dict = {}
    for bid, rows in sorted(collected, key=lambda x: x[0]):
        for r in rows:
            last[(r["window"]["start"], r["station_id"], r["sensor_id"])] = (
                r["total_count"],
                r["valid_count"],
            )

    both = readings_df(spark, cfg_a).unionByName(readings_df(spark, cfg_b))
    expected = {
        (r["window"]["start"], r["station_id"], r["sensor_id"]): (
            r["total_count"],
            r["valid_count"],
        )
        for r in sensor_pipeline(both, nest=False).collect()
    }
    assert last == expected


def test_registered_ewma_query_matches_fold(spark):
    """The registered streaming_sensor_ewma harness query (last emission
    per key) must equal the sequential time-ordered fold over the full
    seeded history — same contract as the operator-level test, pinned at
    the registry surface."""
    from masd_spark.queries import load_all
    from masd_spark.sources.simulator import generate_readings
    from tests.conftest import SF_SMOKE

    rows = load_all()["streaming_sensor_ewma"].fn(spark, SF_SMOKE).collect()
    got = {
        (r["station_id"], r["sensor_id"]): (r["n_valid"], r["ewma"])
        for r in rows
    }
    cfg = SimulatorConfig(duration_ms=120_000, seed=13)
    expected: dict = {}
    for r in sorted(generate_readings(cfg), key=lambda x: x["timestamp"]):
        if r["value"] == "<<bad_data>>":
            continue
        key = (r["station_id"], str(r["sensor_id"]))
        n, ew = expected.get(key, (0, None))
        v = float(r["value"])
        ew = v if ew is None else 0.3 * v + 0.7 * ew
        expected[key] = (n + 1, ew)
    assert set(got) == set(expected)
    for k, (n, ew) in expected.items():
        assert got[k][0] == n, k
        assert abs(got[k][1] - round(ew, 6)) <= 1e-6, k


def test_registered_interval_join_matches_batch_twin(spark):
    """The registered streaming_interval_join harness query must emit
    exactly the batch join of the same (deterministic) inputs."""
    from masd_spark.queries import load_all
    from tests.conftest import SF_SMOKE

    got = sorted(
        map(tuple, load_all()["streaming_interval_join"].fn(spark, SF_SMOKE).collect())
    )
    base = 1_704_067_200_000
    expect = sorted(
        (u, base + i * 60_000, base + j * 90_000 + 5_000, float(u * 100 + j))
        for u in range(5)
        for i in range(12)
        for j in range(9)
        if base + i * 60_000
        <= base + j * 90_000 + 5_000
        <= base + i * 60_000 + 600_000
    )
    assert got == expect and len(got) == 280


def test_stream_stream_full_outer_join_emits_both_sides(spark, tmp_path):
    """Stream-stream FULL OUTER interval join: unmatched rows on BOTH
    sides must surface null-extended after watermark eviction — clicks
    without purchases (users 1,2) AND purchases without clicks (user 5).
    Same staged-sentinel watermark advancement as the LEFT OUTER test;
    the final multiset must equal the closed-form batch full-outer twin."""
    import json as _json
    import time as _time

    from pyspark.sql import functions as F

    base = 1_704_067_200_000
    clicks = [
        {"user_id": u, "ts": base + i * 60_000} for u in range(3) for i in range(4)
    ]
    purchases = [
        {"user_id": 0, "ts": base + i * 60_000 + 5_000, "amount": float(i)}
        for i in range(4)
    ] + [
        {"user_id": 5, "ts": base + i * 60_000 + 7_000, "amount": 100.0 + i}
        for i in range(3)
    ]
    sent_c = [{"user_id": 99, "ts": base + 100 * 60_000}]
    sent_p = [{"user_id": 99, "ts": base + 100 * 60_000, "amount": 0.0}]
    sent2_c = [{"user_id": 98, "ts": base + 200 * 60_000}]
    sent2_p = [{"user_id": 98, "ts": base + 200 * 60_000, "amount": 0.0}]
    cdir, pdir = str(tmp_path / "c"), str(tmp_path / "p")
    os.makedirs(cdir)
    os.makedirs(pdir)

    def w(path, rows):
        with open(path, "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    for i, (cs, ps) in enumerate(
        [(clicks, purchases), (sent_c, sent_p), (sent2_c, sent2_p)]
    ):
        w(os.path.join(cdir, f"f{i}.json"), cs)
        w(os.path.join(pdir, f"f{i}.json"), ps)
        _time.sleep(0.05)

    def src(d, schema, tcol):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(d)
            .withColumn(tcol, F.timestamp_millis(F.col("ts")))
            .withWatermark(tcol, "1 minute")
        )

    c = src(cdir, "user_id long, ts long", "c_time").withColumnRenamed("ts", "c_ts")
    p = src(pdir, "user_id long, ts long, amount double", "p_time").withColumnRenamed(
        "ts", "p_ts"
    )
    joined = c.join(
        p,
        F.expr("c_time <= p_time AND p_time <= c_time + interval 10 minutes")
        & (c["user_id"] == p["user_id"]),
        "full_outer",
    ).select(
        F.coalesce(c["user_id"], p["user_id"]).alias("user_id"),
        "c_ts",
        "p_ts",
        "amount",
    )

    collected: list = []
    q = (
        joined.writeStream.foreachBatch(
            lambda df, bid: collected.append(df.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = [
        (r["user_id"], r["c_ts"], r["p_ts"], r["amount"])
        for batch in collected
        for r in batch
    ]

    all_clicks = clicks + sent_c + sent2_c
    all_purch = purchases + sent_p + sent2_p
    expected = []
    matched_p = set()
    for c_ in all_clicks:
        matches = [
            p_
            for p_ in all_purch
            if p_["user_id"] == c_["user_id"]
            and c_["ts"] <= p_["ts"] <= c_["ts"] + 600_000
        ]
        if matches:
            for p_ in matches:
                matched_p.add((p_["user_id"], p_["ts"]))
                expected.append((c_["user_id"], c_["ts"], p_["ts"], p_["amount"]))
        else:
            expected.append((c_["user_id"], c_["ts"], None, None))
    for p_ in all_purch:
        if (p_["user_id"], p_["ts"]) not in matched_p:
            expected.append((p_["user_id"], None, p_["ts"], p_["amount"]))

    keyf = lambda t: (
        t[0],
        t[1] is not None,
        t[1] or 0,
        t[2] is not None,
        t[2] or 0,
        t[3] or 0.0,
    )
    assert sorted(got, key=keyf) == sorted(expected, key=keyf)
    right_nulls = [t for t in got if t[1] is None]
    assert len(right_nulls) == 3  # user 5's purchases have no clicks


def test_timer_sessions_late_events_and_null_timestamps(spark, tmp_path):
    """Regression (round-5 review): (1) a null timestamp (PERMISSIVE
    all-null row) must not kill the query — int(NaN) previously raised
    ValueError inside handleInputRows; (2) a late-but-within-watermark
    event older than the open session must NOT be glued into it when it
    is gap-separated (it is its own closed session), and a late event
    within the gap BEFORE session start must extend session_start
    backwards — the naive fold merged anything <= end + gap and never
    lowered the start."""
    import json as _json
    import os
    import time as _time

    from masd_spark.operators.validate import with_event_time_ms
    from masd_spark.streaming.stateful import streaming_timer_sessions

    base = 1_704_067_200_000
    gap = 30_000

    def ev(station, t):
        return {"station_name": station.title(), "station_id": station,
                "sensor_id": "0", "timestamp": t, "value": "1.0"}

    files = [
        # batch 1: zeta's burst opens (100s..105s); adv keeps the
        # watermark moving in later batches
        [ev("zeta", base + 100_000 + i * 1000) for i in range(6)]
        + [ev("adv", base + 105_000)],
        # batch 2 (watermark still 0 -> late rows admitted): one NULL
        # timestamp row, one gap-separated late event (80s before the
        # open session -> own closed session), one late event 20s before
        # session start (inside gap -> extends the session backwards)
        [
            {"station_name": "Zeta", "station_id": "zeta",
             "sensor_id": "0", "value": "1.0"},  # timestamp absent -> null
            ev("zeta", base + 20_000),
            ev("zeta", base + 80_000),
        ],
        # advancer batches: each file's max event time raises the NEXT
        # batch's watermark (5 min delay); 500s - 300s = 200s > zeta's
        # 135s timer -> the extended session flushes in batch 4's trigger
        [ev("adv", base + 400_000)],
        [ev("adv", base + 500_000)],
        [ev("adv", base + 600_000)],
    ]
    src = str(tmp_path / "late_drops")
    os.makedirs(src)
    for i, rows in enumerate(files):
        with open(os.path.join(src, f"f{i}.json"), "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")
        _time.sleep(0.05)

    with rocksdb_state_store(spark):
        stream = with_event_time_ms(read_file_sensor_stream(spark, src))
        out = streaming_timer_sessions(
            stream.withWatermark("event_time", "5 minutes"), gap_ms=gap
        )
        collected: list = []
        q = (
            out.writeStream.foreachBatch(
                lambda df, bid: collected.append((bid, df.collect()))
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "late_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    got = {
        (r["station_id"], r["session_start"], r["session_end"], r["n_events"])
        for _b, rows in collected
        for r in rows
    }
    expected = {
        # the gap-separated late event: its own closed session
        ("zeta", base + 20_000, base + 20_000, 1),
        # burst extended backwards by the within-gap late event (80s),
        # flushed by the event-time timer once adv advances the watermark
        ("zeta", base + 80_000, base + 105_000, 7),
        # adv's inline-closed singles
        ("adv", base + 105_000, base + 105_000, 1),
        ("adv", base + 400_000, base + 400_000, 1),
        ("adv", base + 500_000, base + 500_000, 1),
        # adv @600s stays open
    }
    assert got == expected


def test_ewma_skips_keys_with_no_valid_readings(spark, tmp_path):
    """Regression (round-5 review): a key whose readings are ALL
    malformed must emit nothing and create no state — previously it
    emitted (n_valid=0, ewma=null) every trigger and left a permanent
    NoTimeout state entry per junk key."""
    import json as _json
    import os

    from masd_spark.operators.validate import classify_validity
    from masd_spark.streaming.stateful import streaming_sensor_ewma

    base = 1_704_067_200_000
    rows = [
        {"station_name": "Good", "station_id": "good", "sensor_id": "0",
         "timestamp": base + i * 1000, "value": f"{i}.0"}
        for i in range(3)
    ] + [
        {"station_name": "Junk", "station_id": "junk", "sensor_id": "0",
         "timestamp": base + i * 1000, "value": "<<bad_data>>"}
        for i in range(3)
    ]
    src = str(tmp_path / "zombie_drops")
    os.makedirs(src)
    with open(os.path.join(src, "f0.json"), "w") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")

    stream = classify_validity(read_file_sensor_stream(spark, src))
    collected: list = []
    q = (
        streaming_sensor_ewma(stream)
        .writeStream.foreachBatch(lambda df, bid: collected.append(df.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "zombie_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    stations = {r["station_id"] for batch in collected for r in batch}
    assert stations == {"good"}


def test_keyed_sink_rejects_unknown_on_error(spark):
    """Regression (round-5 review): any on_error other than fail/skip
    previously became silent at-most-once batch skipping."""
    import pytest as _pytest

    from masd_spark.streaming.pipeline import start_keyed_sink

    df = spark.range(1)
    with _pytest.raises(ValueError, match="on_error"):
        start_keyed_sink(df, "/tmp/x", "/tmp/ckpt", on_error="abort")


def test_simulator_default_stations_not_aliased():
    """Regression (round-5 review): cfg.stations defaulted to the shared
    module-level list, so one caller's mutation changed every future
    default config's 'fully reproducible' output."""
    from masd_spark.sources.simulator import (
        DEFAULT_STATIONS,
        SimulatorConfig,
        StationSpec,
    )

    before = len(DEFAULT_STATIONS)
    cfg = SimulatorConfig()
    cfg.stations.append(StationSpec("terni", "Terni", 5))
    assert len(DEFAULT_STATIONS) == before
    assert len(SimulatorConfig().stations) == before
