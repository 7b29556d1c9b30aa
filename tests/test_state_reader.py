"""State-store observability (streaming/state_reader.py): the statestore
data source over a checkpointed aggregation must reproduce the exact
per-key state, including historical versions (batchId time travel)."""

from collections import Counter

from masd_spark.sources.pyds import SOURCE_NAME, gen_rows, register_sensor_source
from masd_spark.streaming.state_reader import read_state, state_metadata


def _run_station_counts(spark, ckpt: str, name: str):
    """Stream 1000 feed rows (batches of 400/400/200) through a
    groupBy(station).count() with a checkpoint; returns nothing — the
    state left behind is the object under test."""
    register_sensor_source(spark)
    stream = (
        spark.readStream.format(SOURCE_NAME)
        .option("rows_per_batch", "400")
        .option("max_rows", "1000")
        .load()
    )
    q = (
        stream.groupBy("station")
        .count()
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _expected_counts(n: int) -> dict[str, int]:
    return Counter(r[1] for r in gen_rows(0, n))


def test_state_matches_batch_twin(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    _run_station_counts(spark, ckpt, "state_reader_t1")

    meta = state_metadata(spark, ckpt).collect()
    assert len(meta) == 1
    m = meta[0]
    assert m["operatorName"] == "stateStoreSave"
    assert m["minBatchId"] == 0 and m["maxBatchId"] >= 1

    state = {
        r["station"]: r["count"] for r in read_state(spark, ckpt).collect()
    }
    assert state == _expected_counts(1000)


def test_state_time_travel_reads_historical_version(spark, tmp_path):
    """batchId=0 must return the state as of the FIRST micro-batch —
    counts over rows [0, 400) only."""
    ckpt = str(tmp_path / "ckpt")
    _run_station_counts(spark, ckpt, "state_reader_t2")

    first = {
        r["station"]: r["count"]
        for r in read_state(spark, ckpt, batch_id=0).collect()
    }
    assert first == _expected_counts(400)
    latest = {
        r["station"]: r["count"] for r in read_state(spark, ckpt).collect()
    }
    assert sum(latest.values()) == 1000
    assert all(first[k] <= latest[k] for k in first)


def test_state_reader_unflattened_shape(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    _run_station_counts(spark, ckpt, "state_reader_t3")
    df = read_state(spark, ckpt, flatten=False)
    names = [f.name for f in df.schema.fields]
    assert names[:2] == ["key", "value"]
    assert "partition_id" in names


def test_read_tws_map_state_by_var_name(spark, tmp_path):
    """Regression (round-5 review): read_state previously could not pass
    stateVarName, so the checkpoints of this package's OWN
    transformWithStateInPandas operators were unreadable. Run the TWS
    heavy-hitters flow, then read its sensor_counts MapState back and
    check it against the batch twin."""
    import pytest

    from masd_spark.vendor import ensure_protobuf

    ensure_protobuf()
    pytest.importorskip("google.protobuf")
    from masd_spark.sources.simulator import generate_readings
    from masd_spark.streaming.stateful import rocksdb_state_store
    from test_streaming import SimulatorConfig, _run_heavy_hitters

    _run_heavy_hitters(spark, tmp_path)
    with rocksdb_state_store(spark):
        df = read_state(
            spark,
            str(tmp_path / "hh_ckpt"),
            state_var_name="sensor_counts",
        )

    rows = df.collect()
    assert rows, "no TWS map-state rows read back"
    cols = set(df.columns)
    # map-state shape: grouping key + user map key + value, flattened
    assert any("station_id" in c for c in cols), cols
    assert any("sensor_id" in c for c in cols), cols

    got: dict = {}
    for r in rows:
        d = r.asDict()
        station = next(v for c, v in d.items() if "station_id" in c)
        sensor = next(v for c, v in d.items() if "sensor_id" in c)
        n = next(v for c, v in d.items() if c.endswith("_n") or c == "n")
        got[(station, sensor)] = int(n)

    cfg = SimulatorConfig(duration_ms=30_000, seed=13)
    expected: dict = {}
    for r in generate_readings(cfg):
        if r["value"] == "<<bad_data>>":
            continue
        key = (r["station_id"], r["sensor_id"])
        expected[key] = expected.get(key, 0) + 1
    assert got == expected
