"""Vector (embedding) column expressions — built-in higher-order functions,
JVM-side, no UDFs.

Embeddings are ``array<float>`` columns (fixture: embeddings.embedding,
dim 64). All math is done in double (cast per element) so results match
engines that compute in double (e.g. DuckDB's list_cosine_similarity) and
don't depend on float accumulation order.

Sums are 0.0-seeded ``zip_with``/``aggregate`` folds, O(1) in dim, never
unrolled ``element_at`` chains: measured at dim 64 the unrolled form ran
4-5x slower, because its ~200-node expression costs plan time on every
build and its generated method exceeds the codegen size limit, dropping
the stage to interpreted execution. The fold's order is IEEE-identical to
the unrolled ``t1 + t2 + ...`` chain, so oracle parity does not depend on
the choice.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Elementwise dot product via zip_with + aggregate (sequential sum —
    deterministic order, matches a scalar loop)."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(
    a: Column, b: Column, na: Column | None = None, nb: Column | None = None
) -> Column:
    """Cosine similarity — the one JVM cosine form. Pass precomputed
    norms ``na``/``nb`` (``norm`` of the same vectors, computed once per
    row) to skip the per-pair norm folds; the value is the same double.
    NULL (not an error) for a zero denominator: under Spark 4's default
    ANSI mode a bare division would raise DIVIDE_BY_ZERO and abort the
    whole query on one degenerate embedding row."""
    denom = (norm(a) if na is None else na) * (norm(b) if nb is None else nb)
    return dot(a, b) / F.when(denom != 0.0, denom)


def lit_doubles(vec: list[float]) -> Column:
    """A constant double vector as ONE parsed literal array column.

    Optimization r9 (guide §1.2 — measured): building constant arrays as
    ``F.array(*[F.lit(x) ...])`` or ``F.lit(nested_list)`` costs one py4j
    round-trip per element — 0.35-0.5s per 8x64 centroid matrix, paid on
    EVERY plan build (every Lloyd iteration, every IVF/PQ plan). Emitting
    the values as SQL text and parsing with one ``F.expr`` call is
    20-500x cheaper to build and yields the IDENTICAL literal: ``repr``
    of a Python float is its shortest round-trip decimal, Spark parses
    the ``D`` suffix with Java's exact ``parseDouble``, and constant
    folding collapses the parsed ``array(...)`` into the same array
    literal the old form produced (checked value-equal and
    optimized-plan-equal) — so codegen still receives one non-primitive
    literal in its references array, not inlined doubles."""
    return F.expr("array(" + ",".join(f"{float(x)!r}D" for x in vec) + ")")


def lit_double_matrix(mat: list[list[float]]) -> Column:
    """A constant matrix as ONE parsed literal array<array<double>>
    column (see :func:`lit_doubles` for why parsed, not element-wise)."""
    inner = ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in row) + ")" for row in mat
    )
    return F.expr(f"array({inner})")


# --- int8 scalar quantization -------------------------------------------
# Per-vector symmetric quantization: q_i = round(x_i * 127/max|x|). Cosine
# is invariant to per-vector positive scaling, so cos(q_a, q_b) tracks
# cos(a, b) up to rounding noise — 4x smaller vectors (int8 at rest) and
# integer dot products in the hot loop. Quantized values are carried as
# array<bigint> in-flight (storage would pack to tinyint/binary); every
# step below is exact integer or IEEE-deterministic double math, so the
# whole pipeline is bit-reproducible cross-engine (oracle-checkable).


def quantize_int8(a: Column) -> Column:
    """array<float> -> array<bigint> with values in [-127, 127]; an
    all-zero vector quantizes to all zeros (scale guard).

    Poison-safe: a vector containing NaN (or +-Inf, whose 0-scale
    product is NaN) quantizes element-wise to NULL via ``try_cast``
    instead of aborting the query — under ANSI mode a bare
    ``cast(NaN as long)`` raises CAST_OVERFLOW and one corrupt
    embedding row would kill the whole job. NULL elements propagate to
    a NULL integer dot product downstream, so poisoned vectors drop
    out of top-k instead of crashing it."""
    ma = F.array_max(F.transform(a, lambda x: F.abs(x.cast("double"))))
    scale = F.when(ma > 0, F.lit(127.0) / ma).otherwise(F.lit(0.0))
    return F.transform(
        a, lambda x: F.round(x.cast("double") * scale).try_cast("long")
    )


def dot_fixed_long(a: Column, b: Column, dim: int) -> Column:
    """Integer dot product (exact; long sums are order-independent)."""
    prod = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0).cast("long"), lambda acc, x: acc + x)
