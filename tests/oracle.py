"""Local twin of the driver's DuckDB-oracle correctness check.

Runs a registered Spark query and its oracle SQL on the same fixture dir,
then compares (row count, column names, order-insensitive multiset of
values). Stricter than a hash: on mismatch it reports sample differing rows.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb

from masd_spark.queries import QuerySpec
from masd_spark.sources.tables import TABLE_NAMES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # duckdb's progress bar writes \r-terminated fragments to stdout on
    # slow queries; subprocess harnesses (test_local_cluster) parse stdout
    # line-markers, and a bar fragment left before the marker breaks them
    con.execute("SET enable_progress_bar=false")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(v):
    """Canonicalize one value for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr is shortest-roundtrip: bit-exact doubles compare equal,
        # anything else shows up as a readable diff.
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _normalize(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = [cols[i] for i in order]
    def sort_key(row):
        return tuple((v is None, str(type(v)), str(v)) for v in row)

    out = sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows), key=sort_key
    )
    return names, out


_NULL_SENTINEL = "\x01"


def _spark_canon_expr(name: str, dt):
    """Canonical string form of a column, Spark side. Floats/decimals
    quantize to DECIMAL(38,6) text (trailing-zero stable in both
    engines); bools to int text; integers/dates to plain casts. The
    queries' own 6-dp rounding convention means the quantization is a
    no-op for convention-following outputs."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    c = F.col(name)
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
        e = F.round(c.cast("double"), 6).cast("decimal(38,6)").cast("string")
    elif isinstance(dt, T.BooleanType):
        e = c.cast("int").cast("string")
    elif isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        e = c.cast("string")
    elif isinstance(dt, (T.StringType, T.DateType)):
        e = c.cast("string")
    else:
        raise TypeError(f"hash_compare_query: unsupported Spark type {dt} for {name}")
    return F.coalesce(e, F.lit(_NULL_SENTINEL))


def _duck_canon_expr(name: str, typ: str) -> str:
    """Canonical string form of a column, DuckDB side (mirror of
    :func:`_spark_canon_expr`, driven by DESCRIBE's type string)."""
    t = typ.upper()
    q = f'"{name}"'
    if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
        e = f"CAST(CAST(ROUND(CAST({q} AS DOUBLE), 6) AS DECIMAL(38,6)) AS VARCHAR)"
    elif t == "BOOLEAN":
        e = f"CAST(CAST({q} AS INT) AS VARCHAR)"
    elif t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
               "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        e = f"CAST({q} AS VARCHAR)"
    elif t in ("VARCHAR", "DATE"):
        e = f"CAST({q} AS VARCHAR)"
    else:
        raise TypeError(f"hash_compare_query: unsupported DuckDB type {typ} for {name}")
    return f"COALESCE({e}, chr(1))"


def _duck_hex_chunk_sql(expr: str, start: int, n: int) -> str:
    """Base-10 value of ``n`` hex digits of ``expr`` starting at 1-based
    ``start`` (DuckDB has no conv(); positional strpos expansion — the
    md5_bucket_sql recipe)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({expr}, {start + i}, 1)) - 1)"
        f" * {16 ** (n - 1 - i)}::BIGINT"
        for i in range(n)
    )


def hash_compare_query(spark, spec: QuerySpec, sf_dir: str) -> dict:
    """SCALE-PROOF oracle parity: both engines reduce the result to
    (row count, sum of two 48-bit md5 chunks over a canonical row
    string), and only three scalars per side reach the driver — parity
    for per-row outputs of ANY size (the collect-based
    :func:`compare_query` is the gate-scale tool; this one exists for
    SF100-class outputs). Order-insensitive by construction (sums),
    column-order canonical (sorted names). Floats quantize at 6 dp, so
    this is strictly weaker than compare_query's bit-exact repr — use
    it only where collecting is infeasible, and keep
    tests/test_hash_parity.py's agreement pins green."""
    assert spec.oracle is not None, f"{spec.name} has no oracle"
    from pyspark.sql import functions as F

    sdf = spec.fn(spark, sf_dir)
    names = sorted(sdf.columns)
    dts = {f.name: f.dataType for f in sdf.schema.fields}
    parts = []
    for i, n in enumerate(names):
        if i:
            parts.append(F.lit("|"))
        parts.append(_spark_canon_expr(n, dts[n]))
    h = F.md5(F.concat(*parts))
    agg = sdf.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.conv(F.substring(h, 1, 12), 16, 10).cast("decimal(38,0)")).alias("h1"),
        F.sum(F.conv(F.substring(h, 13, 12), 16, 10).cast("decimal(38,0)")).alias("h2"),
    ).collect()[0]
    s = (int(agg["n"]), int(agg["h1"] or 0), int(agg["h2"] or 0))

    con = duckdb_connection(sf_dir)
    try:
        desc = con.execute(f"DESCRIBE {spec.oracle}").fetchall()
        o_types = {r[0]: r[1] for r in desc}
        assert sorted(o_types) == names, (
            f"{spec.name}: column mismatch {names} vs {sorted(o_types)}"
        )
        canon = " || '|' || ".join(_duck_canon_expr(n, o_types[n]) for n in names)
        row = con.execute(
            f"SELECT COUNT(*), "
            f"CAST(SUM({_duck_hex_chunk_sql('h', 1, 12)}) AS VARCHAR), "
            f"CAST(SUM({_duck_hex_chunk_sql('h', 13, 12)}) AS VARCHAR) "
            f"FROM (SELECT md5({canon}) AS h FROM ({spec.oracle}))"
        ).fetchone()
    finally:
        con.close()
    o = (int(row[0]), int(row[1] or 0), int(row[2] or 0))
    assert s == o, (
        f"{spec.name}: hash parity mismatch spark(n,h1,h2)={s} oracle={o}"
    )
    return {"rows": s[0], "h1": s[1], "h2": s[2]}


def compare_query(spark, spec: QuerySpec, sf_dir: str, max_diff: int = 5) -> None:
    assert spec.oracle is not None, f"{spec.name} has no oracle"
    sdf = spec.fn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb_connection(sf_dir)
    try:
        cur = con.execute(spec.oracle)
        o_cols = [d[0] for d in cur.description]
        o_rows = cur.fetchall()
    finally:
        con.close()

    s_names, s_norm = _normalize(s_cols, s_rows)
    o_names, o_norm = _normalize(o_cols, o_rows)

    assert s_names == o_names, f"{spec.name}: column mismatch {s_names} vs {o_names}"
    assert len(s_norm) == len(o_norm), (
        f"{spec.name}: row count {len(s_norm)} (spark) vs {len(o_norm)} (oracle)"
    )
    if s_norm != o_norm:
        s_set, o_set = set(s_norm), set(o_norm)
        only_s = list(s_set - o_set)[:max_diff]
        only_o = list(o_set - s_set)[:max_diff]
        raise AssertionError(
            f"{spec.name}: value mismatch (cols={s_names})\n"
            f"  spark-only rows: {only_s}\n  oracle-only rows: {only_o}"
        )
