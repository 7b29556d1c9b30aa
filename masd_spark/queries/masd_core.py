"""MASD-core queries: the reference pipeline's exact semantics, expressed in
batch over the ``events`` fixture so a DuckDB oracle can check them.

Fixture mapping (FIXTURES.md): ``event_type`` plays station, ``user_id``
plays sensor, ``ts`` plays event_time, ``value`` plays the sensor reading.
Malformation is injected deterministically (event_id % 20 == 0 ->
"<<bad_data>>"), mirroring the producer's 5% Bernoulli malformation
(reference: simulator/producer.py:75-77) without randomness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from masd_spark.operators.validate import classify_validity
from masd_spark.operators.window_agg import windowed_metrics
from masd_spark.operators.nest import nest_sensor_document
from masd_spark.queries import register
from masd_spark.sources.tables import load_table, with_event_time

# Shared SQL fragment: the deterministic "sensor reading" derivation.
# ts IS NOT NULL mirrors windowed_metrics' explicit contract: a reading
# without an event time cannot be bucketed (SQL arithmetic would keep a
# NULL bucket; Spark's F.window drops the row) — excluded on BOTH engines.
_ENRICH_SQL = """
    SELECT event_type, user_id, epoch_ms(ts) AS ts_ms,
           CASE WHEN event_id % 20 = 0 THEN '<<bad_data>>'
                ELSE CAST(value AS VARCHAR) END AS value_str
    FROM events
    WHERE ts IS NOT NULL
"""


def _sensor_readings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> stringly-typed sensor readings with injected bad data."""
    ev = with_event_time(load_table(spark, sf_dir, "events"))
    return ev.withColumn(
        "value_str",
        F.when(F.col("event_id") % 20 == 0, F.lit("<<bad_data>>")).otherwise(
            F.col("value").cast("string")
        ),
    )


@register(
    "masd_sensor_rollup",
    oracle=f"""
    WITH readings AS ({_ENRICH_SQL}),
    v AS (
        SELECT *,
               TRY_CAST(value_str AS DOUBLE) AS value_numeric,
               TRY_CAST(value_str AS DOUBLE) IS NOT NULL AS is_valid,
               (ts_ms // 60000) * 60000 AS win_ms
        FROM readings
    )
    SELECT win_ms AS window_start,
           win_ms + 60000 AS window_end,
           event_type,
           count(*) AS total_count,
           CAST(count(*) FILTER (WHERE is_valid) AS BIGINT) AS valid_count,
           CAST(count(*) FILTER (WHERE NOT is_valid) AS BIGINT) AS malformed_count,
           ROUND(avg(CASE WHEN is_valid THEN value_numeric END), 6) AS avg_val,
           min(CASE WHEN is_valid THEN value_numeric END) AS min_val,
           max(CASE WHEN is_valid THEN value_numeric END) AS max_val
    FROM v
    GROUP BY win_ms, event_type
    """,
)
def masd_sensor_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's windowed validity rollup
    (reference: spark-app/consumer.py:93-139) in batch — try-cast
    validation, 1-minute tumbling event-time window x event_type,
    A1-A6 metrics with null-skipping semantics.
    """
    v = classify_validity(_sensor_readings(spark, sf_dir), value_col="value_str")
    m = windowed_metrics(v, time_col="event_time", keys=["event_type"])
    return m.select(
        F.unix_millis("window.start").alias("window_start"),
        F.unix_millis("window.end").alias("window_end"),
        "event_type",
        "total_count",
        "valid_count",
        "malformed_count",
        F.round("avg_val", 6).alias("avg_val"),
        "min_val",
        "max_val",
    )


@register(
    "masd_sliding_rollup",
    oracle=f"""
    WITH readings AS ({_ENRICH_SQL}),
    v AS (
        SELECT *,
               TRY_CAST(value_str AS DOUBLE) AS value_numeric,
               TRY_CAST(value_str AS DOUBLE) IS NOT NULL AS is_valid
        FROM readings
    ),
    exp AS (
        -- a 1m window sliding by 30s assigns each event to exactly 2
        -- windows: the 30s-aligned bucket it falls in and the one before
        SELECT v.*, (ts_ms // 30000) * 30000 - j * 30000 AS win_ms
        FROM v CROSS JOIN (SELECT unnest([0, 1]) AS j)
    )
    SELECT win_ms AS window_start,
           win_ms + 60000 AS window_end,
           event_type,
           count(*) AS total_count,
           CAST(count(*) FILTER (WHERE is_valid) AS BIGINT) AS valid_count,
           CAST(count(*) FILTER (WHERE NOT is_valid) AS BIGINT) AS malformed_count,
           ROUND(avg(CASE WHEN is_valid THEN value_numeric END), 6) AS avg_val,
           min(CASE WHEN is_valid THEN value_numeric END) AS min_val,
           max(CASE WHEN is_valid THEN value_numeric END) AS max_val
    FROM exp
    GROUP BY win_ms, event_type
    """,
)
def masd_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup: window=1m, slide=30s — the one knob the
    reference advertises beyond the tumbling default (reference .env:14-15,
    consumer.py:128). Spark's F.window(slide) emits window/slide rows per
    event pre-aggregation; the oracle models the same as a 2-way bucket
    expansion. Same A1-A6 metrics and null-skipping semantics as the
    tumbling flagship.
    """
    v = classify_validity(_sensor_readings(spark, sf_dir), value_col="value_str")
    m = windowed_metrics(
        v,
        time_col="event_time",
        keys=["event_type"],
        window_duration="1 minute",
        slide_duration="30 seconds",
    )
    return m.select(
        F.unix_millis("window.start").alias("window_start"),
        F.unix_millis("window.end").alias("window_end"),
        "event_type",
        "total_count",
        "valid_count",
        "malformed_count",
        F.round("avg_val", 6).alias("avg_val"),
        "min_val",
        "max_val",
    )


@register(
    "masd_all_malformed_groups",
    oracle=f"""
    WITH readings AS ({_ENRICH_SQL}),
    v AS (
        SELECT *,
               TRY_CAST(value_str AS DOUBLE) IS NOT NULL AS is_valid,
               (ts_ms // 60000) * 60000 AS win_ms
        FROM readings
    ),
    g AS (
        SELECT win_ms AS window_start, event_type, user_id,
               count(*) AS total_count,
               CAST(count(*) FILTER (WHERE is_valid) AS BIGINT) AS valid_count,
               avg(CASE WHEN is_valid THEN TRY_CAST(value_str AS DOUBLE) END) AS avg_val,
               min(CASE WHEN is_valid THEN TRY_CAST(value_str AS DOUBLE) END) AS min_val
        FROM v GROUP BY win_ms, event_type, user_id
    )
    SELECT window_start, event_type, user_id, total_count,
           avg_val IS NULL AS avg_is_null, min_val IS NULL AS min_is_null
    FROM g WHERE valid_count = 0
    """,
)
def masd_all_malformed_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-case semantics the reference's design implies (SURVEY.md §2.4):
    a group whose rows are ALL malformed still emits a row, with
    total_count > 0 and null avg/min/max (``when`` without ``otherwise``
    -> null; null-skipping aggregates).
    """
    v = classify_validity(_sensor_readings(spark, sf_dir), value_col="value_str")
    m = windowed_metrics(v, time_col="event_time", keys=["event_type", "user_id"])
    return m.filter(F.col("valid_count") == 0).select(
        F.unix_millis("window.start").alias("window_start"),
        "event_type",
        "user_id",
        "total_count",
        F.col("avg_val").isNull().alias("avg_is_null"),
        F.col("min_val").isNull().alias("min_is_null"),
    )


@register(
    "masd_try_cast_boundary",
    oracle="""
    WITH s AS (
        SELECT event_id,
               CASE event_id % 5
                    WHEN 0 THEN CAST(value AS VARCHAR)
                    WHEN 1 THEN '  ' || CAST(value AS VARCHAR) || ' '
                    WHEN 2 THEN '<<bad_data>>'
                    WHEN 3 THEN ''
                    ELSE CAST(event_id AS VARCHAR)
               END AS value_str
        FROM events
    )
    SELECT event_id,
           TRY_CAST(value_str AS DOUBLE) AS value_numeric,
           TRY_CAST(value_str AS DOUBLE) IS NOT NULL AS is_valid
    FROM s
    """,
)
def masd_try_cast_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Try-cast boundary semantics (SURVEY.md §7.4 hard part 1): numeric,
    numeric-with-whitespace (both engines trim), the bad-data literal, the
    empty string, and integer strings.
    """
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "event_id",
        F.when(F.col("event_id") % 5 == 0, F.col("value").cast("string"))
        .when(F.col("event_id") % 5 == 1, F.concat(F.lit("  "), F.col("value").cast("string"), F.lit(" ")))
        .when(F.col("event_id") % 5 == 2, F.lit("<<bad_data>>"))
        .when(F.col("event_id") % 5 == 3, F.lit(""))
        .otherwise(F.col("event_id").cast("string"))
        .alias("value_str"),
    )
    v = classify_validity(s, value_col="value_str")
    return v.select("event_id", "value_numeric", "is_valid")


@register(
    "masd_parse_sensor_json",
    oracle="""
    WITH enc AS (
        SELECT event_id,
               '{"station_id": "' || event_type || '", "sensor_id": "'
                   || CAST(user_id AS VARCHAR) || '", "timestamp": '
                   || CAST(epoch_ms(ts) AS VARCHAR) || ', "value": "'
                   || CASE WHEN event_id % 20 = 0 THEN '<<bad_data>>'
                           ELSE CAST(value AS VARCHAR) END || '"}' AS payload
        FROM events
    )
    SELECT event_id,
           json_extract_string(payload, '$.station_id') AS station_id,
           json_extract_string(payload, '$.sensor_id') AS sensor_id,
           CAST(json_extract_string(payload, '$.timestamp') AS BIGINT) AS ts_ms,
           TRY_CAST(json_extract_string(payload, '$.value') AS DOUBLE) AS value_numeric,
           TRY_CAST(json_extract_string(payload, '$.value') AS DOUBLE) IS NOT NULL
               AS is_valid
    FROM enc
    """,
)
def masd_parse_sensor_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's schema-directed JSON decode (S2, consumer.py:100-102)
    in batch with an oracle: events are re-encoded as the reference's
    message payloads (deterministically, in BOTH engines), then parsed with
    ``from_json`` + try-cast validity — the full parse_and_validate path.
    """
    from masd_spark.operators.validate import SENSOR_SCHEMA

    ev = with_event_time(load_table(spark, sf_dir, "events"))
    payload = F.concat(
        F.lit('{"station_id": "'), F.col("event_type"),
        F.lit('", "sensor_id": "'), F.col("user_id").cast("string"),
        F.lit('", "timestamp": '), F.unix_millis("event_time").cast("string"),
        F.lit(', "value": "'),
        F.when(F.col("event_id") % 20 == 0, F.lit("<<bad_data>>")).otherwise(
            F.col("value").cast("string")
        ),
        F.lit('"}'),
    )
    enc = ev.select("event_id", payload.alias("value"))
    parsed = enc.select(
        "event_id",
        F.from_json(F.col("value").cast("string"), SENSOR_SCHEMA).alias("data"),
    ).select("event_id", "data.*")
    v = classify_validity(parsed)
    return v.select(
        "event_id",
        "station_id",
        "sensor_id",
        F.col("timestamp").alias("ts_ms"),
        "value_numeric",
        "is_valid",
    )


@register("masd_nested_document")
def masd_nested_document(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full output-document shape
    (reference: spark-app/consumer.py:142-165): nested structs
    window/station/sensor/metrics. No oracle — nested struct values are not
    portably hashable across engines; rows-only check here, with the VALUES
    hash-checked by ``masd_nested_document_flat``, which flattens this very
    result's struct leaves to scalars.
    """
    v = classify_validity(_sensor_readings(spark, sf_dir), value_col="value_str")
    v = v.withColumn("station_name", F.initcap("event_type")).withColumn(
        "sensor_id", F.col("user_id").cast("string")
    )
    m = windowed_metrics(
        v, time_col="event_time", keys=["event_type", "station_name", "sensor_id"]
    )
    return nest_sensor_document(m, station_id="event_type")


@register(
    "masd_nested_document_flat",
    oracle=f"""
    WITH readings AS ({_ENRICH_SQL}),
    v AS (
        SELECT *,
               TRY_CAST(value_str AS DOUBLE) AS value_numeric,
               TRY_CAST(value_str AS DOUBLE) IS NOT NULL AS is_valid,
               (ts_ms // 60000) * 60000 AS win_ms
        FROM readings
    )
    SELECT win_ms AS window_start_ms,
           win_ms + 60000 AS window_end_ms,
           event_type AS station_id,
           upper(substr(event_type, 1, 1)) || substr(event_type, 2) AS station_name,
           CAST(user_id AS VARCHAR) AS sensor_id,
           min(CASE WHEN is_valid THEN value_numeric END) AS min_value,
           max(CASE WHEN is_valid THEN value_numeric END) AS max_value,
           ROUND(avg(CASE WHEN is_valid THEN value_numeric END), 6) AS avg_value,
           count(*) AS count_total,
           CAST(count(*) FILTER (WHERE is_valid) AS BIGINT) AS count_valid,
           CAST(count(*) FILTER (WHERE NOT is_valid) AS BIGINT) AS count_malformed
    FROM v
    GROUP BY win_ms, event_type, user_id
    """,
)
def masd_nested_document_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable twin of ``masd_nested_document``: starts from the
    NESTED result (so the nest operator itself is under test) and projects
    every struct leaf back to a scalar column — the reference's output
    document (consumer.py:142-165), value-checked field by field.
    """
    d = masd_nested_document(spark, sf_dir)
    return d.select(
        F.unix_millis("window.start").alias("window_start_ms"),
        F.unix_millis("window.end").alias("window_end_ms"),
        F.col("station.id").alias("station_id"),
        F.col("station.name").alias("station_name"),
        F.col("sensor.id").alias("sensor_id"),
        F.col("metrics.min_value").alias("min_value"),
        F.col("metrics.max_value").alias("max_value"),
        F.round("metrics.avg_value", 6).alias("avg_value"),
        F.col("metrics.count.total").alias("count_total"),
        F.col("metrics.count.valid").alias("count_valid"),
        F.col("metrics.count.malformed").alias("count_malformed"),
    )


@register(
    "masd_malformed_envelope",
    oracle="""
    WITH enc AS (
        SELECT event_id,
               '{"station_id": "' || event_type || '", "sensor_id": "'
                   || CAST(user_id AS VARCHAR) || '", "timestamp": '
                   || CAST(epoch_ms(ts) AS VARCHAR) || ', "value": "'
                   || CAST(value AS VARCHAR) || '"}' AS payload
        FROM events
    ),
    corrupted AS (
        -- every 7th envelope loses its closing brace -> invalid JSON
        SELECT event_id,
               CASE WHEN event_id % 7 = 0
                    THEN substr(payload, 1, length(payload) - 1)
                    ELSE payload END AS payload
        FROM enc
    )
    SELECT event_id,
           -- a NULL payload (null-propagated concat) is NOT an ok
           -- envelope: json_valid(NULL) -> NULL, coalesced to FALSE
           COALESCE(json_valid(payload), FALSE) AS envelope_ok,
           CASE WHEN json_valid(payload)
                THEN json_extract_string(payload, '$.station_id') END AS station_id,
           CASE WHEN json_valid(payload)
                THEN CAST(json_extract_string(payload, '$.timestamp') AS BIGINT)
                END AS ts_ms,
           CASE WHEN json_valid(payload)
                THEN TRY_CAST(json_extract_string(payload, '$.value') AS DOUBLE)
                END AS value_numeric,
           COALESCE(CASE WHEN json_valid(payload)
                         THEN TRY_CAST(json_extract_string(payload, '$.value') AS DOUBLE)
                         END IS NOT NULL, FALSE) AS is_valid
    FROM corrupted
    """,
)
def masd_malformed_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-envelope semantics (SURVEY §1.4, consumer.py:100-102):
    an unparseable JSON envelope yields a row with EVERY data field null
    (Spark 4 keeps the struct itself non-null) — the row survives, it is
    not rejected. ``envelope_ok`` uses PERMISSIVE's own signal, a
    ``columnNameOfCorruptRecord`` field that captures the raw text of
    unparseable envelopes. Corruption is deterministic (every 7th payload
    truncated) so DuckDB can CASE on json_valid and reproduce the rows.
    """
    from pyspark.sql import types as T

    from masd_spark.operators.validate import SENSOR_SCHEMA

    ev = with_event_time(load_table(spark, sf_dir, "events"))
    payload = F.concat(
        F.lit('{"station_id": "'), F.col("event_type"),
        F.lit('", "sensor_id": "'), F.col("user_id").cast("string"),
        F.lit('", "timestamp": '), F.unix_millis("event_time").cast("string"),
        F.lit(', "value": "'), F.col("value").cast("string"),
        F.lit('"}'),
    )
    corrupted = F.when(
        F.col("event_id") % 7 == 0,
        F.substring(payload, 1, F.length(payload) - 1),
    ).otherwise(payload)
    enc = ev.select("event_id", corrupted.alias("value"))
    schema = T.StructType(
        SENSOR_SCHEMA.fields + [T.StructField("_corrupt", T.StringType())]
    )
    parsed = enc.select(
        "event_id",
        "value",
        F.from_json(
            F.col("value").cast("string"),
            schema,
            {"columnNameOfCorruptRecord": "_corrupt"},
        ).alias("data"),
    )
    v = parsed.select(
        "event_id",
        # a NULL payload parses to a NULL struct with a NULL _corrupt
        # field — it must read as NOT-ok, not as "no corruption recorded"
        (F.col("value").isNotNull() & F.col("data._corrupt").isNull()).alias(
            "envelope_ok"
        ),
        F.col("data.station_id").alias("station_id"),
        F.col("data.timestamp").alias("ts_ms"),
        F.col("data.value").try_cast("double").alias("value_numeric"),
    )
    return v.withColumn("is_valid", F.col("value_numeric").isNotNull())
