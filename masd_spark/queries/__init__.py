"""Query registry — the binding between engine operators and the driver's
correctness harness (__spark_entry__.py).

Every implemented operator family registers at least one named query here,
optionally paired with an ANSI-SQL oracle string that DuckDB runs on the
same parquet fixtures. Column names/types are aligned on both sides because
the harness compares (row count, schema, order-insensitive value hash).

Registry order is import order: ``load_all`` imports the query modules and
returns ``REGISTRY`` as they filled it. Nothing is derived from past runs,
so no committed artifact has to be regenerated after an edit. Every query
is value-checked on every test run instead: ``tests/oracle.py`` compares
each oracled query with DuckDB, and ``tests/test_parity_audit.py`` fails
the suite if an oracled query has no local parity test.

Oracle-parity conventions (see tests/oracle.py for the local twin of the
driver's check):
- timestamps are surfaced as epoch-ms BIGINT (``unix_millis`` / DuckDB
  ``epoch_ms``) — never raw TIMESTAMP columns, whose sub-second precision
  differs between engines;
- order-sensitive float aggregates (avg/sum of doubles) are rounded to 6
  decimals on BOTH sides, absorbing last-ULP differences from different
  summation orders; min/max and raw column values stay exact;
- integer sums are CAST(... AS BIGINT) in DuckDB (its SUM widens to
  HUGEINT, Spark's stays LONG);
- every LIMIT/top-k has a total deterministic ordering (unique tiebreaker).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from masd_spark.session import ensure_io_confs

            ensure_io_confs(spark)  # driver-provided sessions lack our confs
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(name, wrapped, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


# The embedding family's invalid-input contract, SQL side: a row with a
# null id, a null vector, a vector carrying any NULL or non-finite
# element, or a zero-norm vector (no element with a non-zero double
# square: all zeros, or empty) is excluded from index builds, scans, and
# joins (the operators filter identically — see
# operators/similarity.py:valid_vectors). A no-op on clean fixtures; on
# dirty data it keeps both engines' samples/buckets/ranks aligned
# (DuckDB's list_* functions raise on NULL inputs rather than
# propagating them, a single NaN/Inf element otherwise aborts integer
# quantizer casts or poisons every distance it touches, and each engine
# resolves a zero-norm cosine's 0/0 differently).
_EMB_VALID = (
    "(SELECT * FROM embeddings"
    " WHERE vec_id IS NOT NULL AND embedding IS NOT NULL"
    " AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0"
    " AND len(list_filter(embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE) <> 0)) > 0)"
)


def scratch_path(name: str) -> str:
    """Location for a per-run throwaway artifact (persisted index
    tables, layout demos, the streaming twins' drops/sink/checkpoint) —
    on tmpfs when available (optimization r8, guide §6). These queries
    rebuild their artifact every run; only WHERE the scratch bytes land
    changes, and a block-device /tmp can stall on the many tiny fsynced
    files a checkpoint writes per trigger. ``MASD_SCRATCH`` overrides (a
    real cluster points it at job-local SSD or a warehouse prefix);
    without /dev/shm the tempfile default is used. ``scratch_path("")``
    is the scratch directory itself, for callers that need a fresh
    ``tempfile.mkdtemp`` under it."""
    import os
    import tempfile

    base = os.getenv("MASD_SCRATCH")
    if base is None and os.path.isdir("/dev/shm"):
        base = "/dev/shm/masd-scratch"
    if base is None:
        base = tempfile.gettempdir()
    os.makedirs(base, exist_ok=True)
    return os.path.join(base, name)


def valid_embeddings(sql: str) -> str:
    """Rewrite every ``embeddings`` table reference in an oracle to the
    null-filtered subselect (token-level; no oracle uses a qualified
    ``embeddings.`` column reference)."""
    import re

    return re.sub(r"\bembeddings\b", _EMB_VALID, sql)


# The measurement-value contract, both sides: queries that AGGREGATE
# events.value (stats, rolling windows, histograms, winsorization) treat a
# non-finite reading (NaN/Inf from a sensor glitch) as invalid input and
# exclude the ROW — one poisoned value otherwise aborts both engines'
# DECIMAL casts (the parity recipe's exact sums) or propagates NaN into
# every aggregate it touches. NULL values keep their existing semantics
# (counted by count(*), skipped by sums) — only non-finite is new here.
# Queries that don't aggregate value (sessionize, joins on time) don't
# need it. Spark twin: finite_values().
_EV_FINITE = "(SELECT * FROM events WHERE value IS NULL OR isfinite(value))"


def finite_events(sql: str) -> str:
    """Rewrite every ``events`` table reference in an oracle to the
    finite-value subselect (token-level)."""
    import re

    return re.sub(r"\bevents\b", _EV_FINITE, sql)


def finite_values(df: DataFrame, col: str = "value") -> DataFrame:
    """Spark side of the measurement-value contract: keep rows whose
    ``col`` is NULL or finite; drop NaN/±Inf rows."""
    from pyspark.sql import functions as F

    c = F.col(col)
    return df.filter(
        c.isNull() | (~F.isnan(c) & (F.abs(c) != F.lit(float("inf"))))
    )


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side effect: fills REGISTRY) and return
    REGISTRY, in import order."""
    from masd_spark.queries import (  # noqa: F401
        masd_core,
        similarity,
        multimodal,
        advanced,
        tpch_full,
        warehouse,
        analytics,
        graph_q,
        sketches,
        timeseries_q,
        pipeline,
        sampling,
        chunking,
        streaming_q,
        tpch_extra,
        relational,
        text,
        dedup,
        sql_front,
        pyds_q,
        ann_eval,  # must import after similarity: composes its oracles
    )

    return REGISTRY
