"""Output checks, run outside the timed window.

* Registry queries: ``tests/oracle.py::hash_compare_query`` reduces the
  Spark result and the query's registered DuckDB oracle each to (row count,
  two summed 48-bit md5 chunks over a canonical row string) and compares.
* ``sensor_stream``: the last emission per (window, station, sensor) in the
  keyed sink equals the batch twin of ``sensor_pipeline`` over the same
  generated rows.
"""

from __future__ import annotations

import importlib.util
import os

_ORACLE_MOD = None


def _oracle_helpers(repo_root: str):
    """tests/oracle.py, loaded by path (``tests`` is not a package)."""
    global _ORACLE_MOD
    if _ORACLE_MOD is None:
        spec = importlib.util.spec_from_file_location(
            "perfbench_repo_oracle", os.path.join(repo_root, "tests", "oracle.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        _ORACLE_MOD = mod
    return _ORACLE_MOD


def oracle_matches(repo_root: str, spark, spec, sf_dir: str) -> bool:
    """Run ``spec`` and its DuckDB oracle on ``sf_dir`` and compare them
    with ``tests/oracle.py::hash_compare_query``. An AssertionError is a
    mismatch; any other exception propagates (the query failed)."""
    try:
        _oracle_helpers(repo_root).hash_compare_query(spark, spec, sf_dir)
    except AssertionError:
        return False
    return True


def _flat_doc(df, *extra: str):
    """Nested sensor document -> scalar columns (plus ``extra`` columns)."""
    from pyspark.sql import functions as F

    return df.select(
        *extra,
        F.unix_millis("window.start").alias("w_start"),
        F.unix_millis("window.end").alias("w_end"),
        F.col("station.id").alias("station_id"),
        F.col("station.name").alias("station_name"),
        F.col("sensor.id").alias("sensor_id"),
        F.col("metrics.min_value").alias("min_value"),
        F.col("metrics.max_value").alias("max_value"),
        F.col("metrics.avg_value").alias("avg_value"),
        F.col("metrics.count.total").alias("total"),
        F.col("metrics.count.valid").alias("valid"),
        F.col("metrics.count.malformed").alias("malformed"),
    )


_KEY = ["w_start", "station_id", "sensor_id"]
_EXACT = ["w_end", "station_name", "min_value", "max_value", "total", "valid", "malformed"]


def check_stream_sink(spark, input_dir: str, sink_dir: str) -> tuple[int, int, int]:
    """Compare the sink's final emission per key with the batch twin: keys
    and every field equal, the average within 1e-9 relative (a stream sums
    partial aggregates in another order). Returns (keys expected, keys
    wrong or missing, distinct batches that emitted a wrong final row)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from masd_spark.operators.validate import SENSOR_SCHEMA
    from masd_spark.streaming.pipeline import sensor_pipeline

    twin = _flat_doc(sensor_pipeline(spark.read.schema(SENSOR_SCHEMA).json(input_dir)))
    sink = spark.read.parquet(sink_dir)
    w = Window.partitionBy("window.start", "station.id", "sensor.id") \
        .orderBy(F.col("batch_id").desc())
    last = _flat_doc(sink.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1"),
                     "batch_id")
    t, e = twin.alias("t"), last.alias("e")
    same = F.lit(True)
    for c in _EXACT:
        same = same & F.col(f"t.{c}").eqNullSafe(F.col(f"e.{c}"))
    avg_ok = F.col("t.avg_value").eqNullSafe(F.col("e.avg_value")) | F.coalesce(
        F.abs(F.col("t.avg_value") - F.col("e.avg_value"))
        <= F.lit(1e-9) * F.greatest(F.lit(1.0), F.abs(F.col("t.avg_value"))), F.lit(False))
    bad = F.col("t.w_end").isNull() | F.col("e.w_end").isNull() | ~(same & avg_ok)
    r = t.join(e, _KEY, "full_outer").agg(
        F.count("t.w_end").alias("expected"),
        F.count(F.when(bad, 1)).alias("n"),
        F.countDistinct(F.when(bad, F.col("e.batch_id"))).alias("b"),
    ).collect()[0]
    return int(r["expected"]), int(r["n"]), int(r["b"])
