"""MASD-core semantics: oracle parity + the reference's invariants."""

import pytest
from pyspark.sql import functions as F

from masd_spark.queries import load_all
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle import compare_query

REGISTRY = load_all()

ORACLE_QUERIES = [
    "masd_sensor_rollup",
    "masd_sliding_rollup",
    "masd_all_malformed_groups",
    "masd_try_cast_boundary",
    "masd_parse_sensor_json",
    "masd_nested_document_flat",
    "masd_malformed_envelope",
]


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, name):
    compare_query(spark, REGISTRY[name], SF_ORACLE)


def test_rollup_invariants(spark):
    df = REGISTRY["masd_sensor_rollup"].fn(spark, SF_SMOKE)
    bad = df.filter(
        (F.col("valid_count") + F.col("malformed_count") != F.col("total_count"))
        | (F.col("total_count") <= 0)
        | ((F.col("valid_count") > 0) & F.col("avg_val").isNull())
        | ((F.col("valid_count") == 0) & F.col("avg_val").isNotNull())
        | ((F.col("min_val").isNotNull()) & (F.col("min_val") > F.col("max_val")))
    )
    assert bad.count() == 0


def test_nested_document_shape(spark):
    df = REGISTRY["masd_nested_document"].fn(spark, SF_SMOKE)
    # Reference output document shape: consumer.py:142-165 / docs/usage.md:119-142
    assert set(df.columns) == {"window", "station", "sensor", "metrics"}
    row = df.filter(F.col("metrics.count.total") > 0).first()
    assert row is not None
    m = row["metrics"]
    assert m["count"]["total"] == m["count"]["valid"] + m["count"]["malformed"]
    assert row["window"]["start"] < row["window"]["end"]


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    assert "masd_sensor_rollup" in o


def test_bench_run_contract(spark):
    import bench

    out = bench.run(spark, SF_SMOKE)
    assert set(out) == {"metric", "value", "unit", "queries", "sf"}
    mix = bench.SENSOR_BATCH_MIX + bench.LLM_MIX
    assert set(out["queries"]) == set(mix) and len(mix) == 12
    assert set(mix) <= set(REGISTRY)
    assert out["value"] == round(sum(out["queries"].values()), 3)
    assert out["unit"] == "sec" and out["sf"] == 0.001
