"""Iterative clustering over embedding columns — the engine's
iterative-algorithm pattern (driver-controlled loop, executor-side work).

Lloyd's k-means with a deterministic seeded-sample init. Each iteration
is ONE distributed pass: map-side nearest-centroid assignment against
centroid literals (no shuffle for the argmin) + one aggregation keyed by
cluster id (k * dim running sums — partial map-side combine, so the
shuffle carries k rows per task, not vectors). Only the k centroid
vectors ever cross to the driver between iterations — the loop state is
kilobytes at any corpus size, which is what makes a driver loop the
right shape here (vs. the anti-pattern of collecting DATA rows).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from masd_spark.functions.quantize import qround6
from masd_spark.functions.vectors import dot, lit_double_matrix, lit_doubles
from masd_spark.operators.similarity import (
    cosine_pairs,
    valid_vector,
    valid_vectors,
)


def _assign_expr(cents: list[list[float]], vec_col: str):
    """Map-side argmin over squared L2 distance to centroid literals.
    ||v - c||^2 = ||v||^2 - 2<v,c> + ||c||^2; ||v||^2 is constant per row,
    so argmin needs only (-2<v,c> + ||c||^2) — one HOF dot per centroid.
    array_max over (negated score, cid) structs gives a deterministic
    argmin with ties to the higher cid (identical ordering semantics to
    the former greatest() chain).

    Optimization r8 (guide §1.2 per-task work, measured): the centroids
    ride as ONE nested-array literal walked by HOFs instead of k unrolled
    CreateArray(lit...) dots. Non-primitive literals land in the codegen
    references array, so the generated source is IDENTICAL across Lloyd
    iterations (only the reference object changes) and every iteration
    after the first reuses the compiled stage — the old form inlined
    k*dim double literals and recompiled ~2s of plan+codegen per
    iteration at the fixture. Arithmetic is unchanged: the same zip_with/
    aggregate fold per centroid, the same -2.0*dot + ||c||^2 ordering,
    the same struct comparison — bit-identical assignments.
    """
    cents_lit = lit_double_matrix([[float(x) for x in c] for c in cents])
    c2_lit = lit_doubles([float(sum(x * x for x in c)) for c in cents])

    def score(j):
        dotj = dot(F.col(vec_col), F.element_at(cents_lit, j + 1))
        return F.lit(-2.0) * dotj + F.element_at(c2_lit, j + 1)

    return F.array_max(
        F.transform(
            F.sequence(F.lit(0), F.lit(len(cents) - 1)),
            lambda j: F.struct((-score(j)).alias("s"), j.alias("cid")),
        )
    )["cid"]


def kmeans_centroids(
    df: DataFrame,
    dim: int,
    k: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[float]]:
    """Lloyd-iterated centroids (seeded-sample init), returned as plain
    Python lists — only k*d floats ever reach the driver; each iteration
    is one map-side argmin + one d-column aggregate over the corpus.
    Shared by :func:`kmeans_assign` and the IVF index's refined-centroid
    path (operators/similarity.py:ivf_topk(centroids=...)).
    """
    df = valid_vectors(df, id_col, vec_col)
    cents, _ = _kmeans_fit(df, dim, k, n_iter, id_col, vec_col, seed)
    return cents


def _kmeans_fit(
    va: DataFrame,
    dim: int,
    k: int,
    n_iter: int,
    id_col: str,
    vec_col: str,
    seed: int,
) -> tuple[list[list[float]], DataFrame]:
    """Lloyd fit over an already-validated corpus; returns (centroids,
    materialized corpus) so callers can reuse the checkpoint.

    Optimization r9 (guide §5/§7.3, measured): the corpus is projected to
    (id, vec) and ``localCheckpoint``ed ONCE before the loop. Every Lloyd
    iteration builds a NEW plan (the centroid literals change), and
    Catalyst re-analyzed the full parquet-scan + validity-filter lineage
    each round — per-iteration planning measured 2.0s over the scan
    lineage vs 0.8s over the checkpointed LogicalRDD at sf0.1 (execution
    itself is 0.2s). The checkpoint also replaces n_iter+1 corpus scans
    with one. Row set, per-partition row order and partitioning are
    unchanged by the materialization, so the double-sum accumulation
    order — hence every centroid bit — is identical."""
    va = va.select(F.col(id_col), F.col(vec_col)).localCheckpoint(eager=True)
    init_rows = (
        va.withColumn("_h", F.xxhash64(F.col(id_col), F.lit(seed)))
        .orderBy("_h", id_col)
        .limit(k)
        .collect()
    )
    cents = [[float(x) for x in r[vec_col]] for r in init_rows]
    if not cents:
        # empty corpus: no centroids to fit — callers (kmeans_assign,
        # ivf_topk(centroids=...)) treat [] as "empty index", not a crash
        return cents, va

    # Column objects are immutable and reusable across DataFrames — build
    # the dim sum expressions ONCE (64 columns x ~5 py4j calls each cost
    # ~0.7s per iteration when rebuilt in the loop, r9 measured §1.2)
    sum_cols = [
        F.sum(F.col(vec_col)[i].cast("double")).alias(f"_s{i}")
        for i in range(dim)
    ]
    for _ in range(n_iter):
        assigned = va.select(
            F.col(vec_col), _assign_expr(cents, vec_col).alias("_cid")
        )
        sums = assigned.groupBy("_cid").agg(
            F.count("*").alias("_n"), *sum_cols
        )
        updated = list(cents)  # empty clusters keep their old centroid
        for r in sums.collect():
            updated[r["_cid"]] = [r[f"_s{i}"] / r["_n"] for i in range(dim)]
        cents = updated
    return cents, va


def kmeans_assign(
    df: DataFrame,
    dim: int,
    k: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Fit k-means (n_iter Lloyd steps, seeded-sample init) and return the
    final assignment: (id, cluster bigint, dist2 double).

    Deterministic init (smallest ``xxhash64(id, seed)`` sample) and
    deterministic argmin; centroid UPDATES average doubles across
    partitions, so the last bits of centroids can vary run-to-run — tests
    assert the robust invariants (inertia monotonically non-increasing,
    full coverage) rather than exact centroid bits.
    """
    df = valid_vectors(df, id_col, vec_col)
    # reuse the fit's materialized corpus for the final assignment scan
    # (one corpus read for fit + assign instead of two, guide §2.4)
    cents, df = _kmeans_fit(df, dim, k, n_iter, id_col, vec_col, seed)
    if not cents:
        # empty corpus: schema-correct empty assignment, not an abort
        return df.limit(0).select(
            F.col(id_col),
            F.lit(None).cast("bigint").alias("cluster"),
            F.lit(None).cast("double").alias("dist2"),
        )

    v_norm2 = F.aggregate(
        F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    # same nested-array-literal HOF form as _assign_expr (r8): stable
    # generated code across fits, identical IEEE arithmetic and struct
    # ordering (pairwise greatest == array_max for a total order)
    cents_lit = lit_double_matrix([[float(x) for x in c] for c in cents])
    c2_lit = lit_doubles([float(sum(x * x for x in c)) for c in cents])

    def d2_expr(j):
        dotj = dot(F.col(vec_col), F.element_at(cents_lit, j + 1))
        return v_norm2 - F.lit(2.0) * dotj + F.element_at(c2_lit, j + 1)

    best = F.array_max(
        F.transform(
            F.sequence(F.lit(0), F.lit(len(cents) - 1)),
            lambda j: F.struct(
                (-d2_expr(j)).alias("s"),
                j.alias("cid"),
                d2_expr(j).alias("d2"),
            ),
        )
    )
    return df.select(
        F.col(id_col),
        best["cid"].cast("bigint").alias("cluster"),
        F.greatest(best["d2"], F.lit(0.0)).alias("dist2"),
    )


def kmeans_inertia(assigned: DataFrame) -> float:
    """Sum of squared distances (the k-means objective)."""
    return assigned.agg(F.sum("dist2")).collect()[0][0] or 0.0


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by iterative min-label propagation: every
    vertex starts labeled with its own id; each round every vertex takes
    the min label over itself and its neighbors; converged when no label
    changes. Rounds needed = graph diameter (near-dup clusters are
    shallow — a handful). Per round: one join + one aggregation, all
    distributed; the driver sees only the changed-count. Labels are
    localCheckpoint'ed per round so the loop's lineage cannot grow
    unboundedly (the same cache-bypass discipline as the shingle set).

    The canonical dedup post-step: pair edges from any near-dup detector
    in, (doc -> component representative) out; keeping one doc per
    component is then a groupBy.
    """
    bidir = edges.select(
        F.col(src_col).alias("_a"), F.col(dst_col).alias("_b")
    ).union(edges.select(F.col(dst_col).alias("_a"), F.col(src_col).alias("_b")))
    labels = vertices.select(
        F.col(id_col).alias("id"), F.col(id_col).cast("long").alias("component")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        neighbor = bidir.join(
            labels.withColumnRenamed("id", "_a"), "_a"
        ).select(F.col("_b").alias("id"), "component")
        new_labels = (
            labels.union(neighbor)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("component", "_old"), "id")
            .filter(F.col("component") != F.col("_old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge after {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter (rounds needed "
            "= graph diameter)"
        )
    return labels


def semantic_dedup(
    df: DataFrame,
    dim: int,
    threshold: float,
    k: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    assignment: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means-cluster the
    embeddings, then find near-duplicate pairs (cosine >= ``threshold``)
    ONLY within each cluster and drop the higher id of every pair
    (keep-first, same policy as exact dedup).

    Returns (id, cluster, keep boolean) for every input row.

    Scale shape: the pairwise stage is :func:`cosine_pairs` with
    ``group_col="cluster"`` (the NumPy kernel or the JVM equi-join on
    cluster id, whichever the input selects), so cost is sum over
    clusters of c_i^2, never corpus^2 — and k grows
    with the corpus to hold c_i bounded (the published SemDeDup recipe).
    Precision is exact (real cosine on every candidate); recall is
    bounded by co-clustering — a cross-cluster near-dup pair is missed
    by construction, which is the accepted trade. Because the candidate
    pair set is a SUBSET of the all-pairs set and the drop rule is
    monotone ("exists a smaller-id neighbor"), every id dropped here is
    also dropped by the exact O(n^2) dedup — asserted in
    tests/test_similarity.py.
    """
    df = valid_vectors(df, id_col, vec_col)
    # callers may inject a precomputed (id, cluster) assignment — e.g. the
    # integer-Lloyd one, which makes the whole pipeline oracle-checkable
    assigned = (
        assignment.select(id_col, "cluster")
        if assignment is not None
        else kmeans_assign(
            df, dim=dim, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
            seed=seed,
        ).select(id_col, "cluster")
    )
    members = (
        df.join(assigned, id_col)
        .select(F.col(id_col), "cluster", F.col(vec_col))
        .localCheckpoint(eager=True)  # read by the scorer and the output
    )
    dropped = (
        cosine_pairs(members, threshold, id_col, vec_col, group_col="cluster")
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        members.select(id_col, "cluster")
        .join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("keep"),
        )
    )


def pca_top_component(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> tuple[list[float], float, int]:
    """Top principal component of a vector column (d << n PCA).

    Returns ``(loadings, eigenvalue, n_rows)`` where ``loadings`` is the
    unit top eigenvector of the sample covariance matrix (sign-fixed:
    largest-|.| coordinate positive) and ``eigenvalue`` its variance.

    Distributed shape — the one-pass Gram reduction Spark MLlib\'s PCA
    uses (RowMatrix.computeGramianMatrix + local eig), with the partial
    products computed by BLAS: an Arrow ``mapInPandas`` stage turns each
    input batch into ONE partial row (count, coordinate sums, and the
    flattened upper triangle of X^T X — a (d^2+3d+2)/2-double payload),
    and the driver sums the <= #partitions partial rows and eigensolves
    the d x d covariance locally. n never touches the driver; only
    O(partitions * d^2) floats do. This is the measured-right tool, not a
    convenience: the same reduction as 2,080 codegen'd SUM columns ran
    ~18 s at sf0.1 (wide interpreted agg) vs well under a second as
    per-batch ``X.T @ X`` — vectorized linear algebra is exactly the case
    where the Arrow path beats built-in expressions. Exact in one pass at
    any n; the iterative alternative (power iteration) needs
    O(1/eigengap) scans and the fixture\'s embedding spectrum is
    near-flat (lambda2/lambda1 = 0.987, ~10^3 scans). For d >~ 2000,
    where d^2 partials get heavy, switch to block subspace iteration.
    """
    import numpy as np

    # invalid-input contract (no id column here): null vectors carry no
    # Gram contribution and would crash np.asarray, a non-finite element
    # would poison the whole Gram partial, and a zero-norm vector is
    # excluded so n matches the id-keyed paths' valid_vectors count
    df = df.filter(valid_vector(F.col(vec_col)))
    iu = np.triu_indices(dim)
    width = 1 + dim + iu[0].size  # n, s, upper-tri(P)

    def gram_partials(batches):
        import pandas as pd

        acc = np.zeros(width)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            acc[0] += X.shape[0]
            acc[1 : 1 + dim] += X.sum(axis=0)
            acc[1 + dim :] += (X.T @ X)[iu]
            seen = True
        if seen:
            yield pd.DataFrame({"partial": [acc.tolist()]})

    partials = df.select(vec_col).mapInPandas(
        gram_partials, schema="partial array<double>"
    )
    rows = partials.collect()  # <= one row per partition, O(d^2) each
    if not rows:
        raise ValueError("pca_top_component needs >= 2 rows")
    total = np.sum([np.asarray(r["partial"]) for r in rows], axis=0)
    n = int(total[0])
    if n < 2:
        raise ValueError("pca_top_component needs >= 2 rows")
    s_vec = total[1 : 1 + dim]
    P = np.zeros((dim, dim))
    P[iu] = total[1 + dim :]
    P = P + np.triu(P, 1).T
    C = (P - np.outer(s_vec, s_vec) / n) / (n - 1)
    w, vecs = np.linalg.eigh(C)
    v = vecs[:, -1]
    eig = float(w[-1])
    # canonical sign: the largest-magnitude coordinate is positive.
    pivot = int(np.argmax(np.abs(v)))
    if v[pivot] < 0:
        v = -v
    return [float(c) for c in v], eig, n


def gram_moments_longform(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**4,
) -> tuple[DataFrame, DataFrame, int]:
    """Quantized long-form first/second moments of the valid-vector
    corpus: ``(p, s, n)`` where ``p`` is the full dim x dim BIGINT Gram
    X^T X as (i, j, p) rows (1-based dims, both triangles), ``s`` the
    per-dimension column sums as (i, s), and ``n`` the valid-row count.

    This is the ONE n-scale reduction of the exact-PCA family — the
    power-iteration twin and the Rayleigh-dominance contract both
    consume it, so callers that need both should materialize these
    4096/64-row frames (localCheckpoint) and pass them to
    :func:`pca_power_iteration_exact` via ``moments=`` instead of
    paying the n-row self-join twice.
    """
    df = valid_vectors(df, id_col, vec_col)
    quant = F.transform(
        F.col(vec_col), lambda v: F.round(v.cast("double") * scale).cast("bigint")
    )

    # Optimization r8 (guide §4.2): the Gram used to be an n-row
    # self-join — (n*dim)^2/n intermediate rows through one shuffle
    # (8.2M at sf0.1) — for a result that is an EXACT integer X^T X.
    # Quantization stays in the JVM (ANSI round/cast semantics,
    # including the CAST_OVERFLOW abort on poisoned magnitudes), and an
    # Arrow kernel folds each task's quantized rows into one L_max x
    # L_max int64 partial; the groupBy(i, j) SUM of integer partials is
    # bit-identical to the self-join's by associativity of exact BIGINT
    # addition. Group-key coverage matches too: pair (i, j) exists in
    # the long-form output iff some row has length >= max(i, j), which
    # is exactly when some task emits that partial cell. Ragged lengths
    # accumulate into the top-left block, mirroring the per-row
    # posexplode ranges.
    def gram_kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        acc_p = np.zeros((0, 0), dtype=np.int64)
        acc_s = np.zeros(0, dtype=np.int64)

        def grow(m):
            nonlocal acc_p, acc_s
            if m > acc_s.size:
                np_ = np.zeros((m, m), dtype=np.int64)
                np_[: acc_p.shape[0], : acc_p.shape[1]] = acc_p
                ns_ = np.zeros(m, dtype=np.int64)
                ns_[: acc_s.size] = acc_s
                acc_p, acc_s = np_, ns_

        for batch in batches:
            if batch.num_rows == 0:
                continue
            col = batch.column(0)
            lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False)
            flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            starts = np.concatenate(([0], np.cumsum(lengths)))
            for length in np.unique(lengths):
                if length == 0:
                    continue
                rows = np.nonzero(lengths == length)[0]
                idx = (
                    starts[rows][:, None] + np.arange(length)[None, :]
                ).ravel()
                X = flat[idx].reshape(rows.size, int(length))
                grow(int(length))
                mx = int(np.max(np.abs(X))) if X.size else 0
                if mx and rows.size * mx * mx < 2**62:
                    P = X.T @ X  # provably within int64
                    S = X.sum(axis=0)
                else:
                    # can't prove no int64 overflow — exact object
                    # (Python bigint) arithmetic, then mirror the ANSI
                    # ARITHMETIC_OVERFLOW abort the JVM sum would raise
                    Xo = X.astype(object)
                    P = Xo.T @ Xo
                    S = Xo.sum(axis=0)
                    if any(abs(int(v)) >= 2**63 for v in np.ravel(P)) or any(
                        abs(int(v)) >= 2**63 for v in S
                    ):
                        raise ArithmeticError(
                            "gram_moments_longform: BIGINT overflow in "
                            "the exact Gram — the JVM reference sum "
                            "aborts with ARITHMETIC_OVERFLOW under ANSI "
                            "on this corpus"
                        )
                    P = P.astype(np.int64)
                    S = S.astype(np.int64)
                acc_p[: P.shape[0], : P.shape[1]] += P
                acc_s[: S.size] += S
        m = acc_s.size
        if m == 0:
            return
        ii, jj = np.meshgrid(
            np.arange(1, m + 1), np.arange(1, m + 1), indexing="ij"
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(
                    np.concatenate([ii.ravel(), np.arange(1, m + 1)]).astype(
                        np.int32
                    )
                ),
                pa.array(
                    np.concatenate(
                        [jj.ravel().astype(np.int64), np.full(m, -1)]
                    ).astype(np.int32)
                ),
                pa.array(np.concatenate([acc_p.ravel(), acc_s])),
            ],
            names=["i", "j", "v"],
        )

    parts = df.select(quant.alias("_qv")).mapInArrow(
        gram_kernel, "i int, j int, v long"
    )
    p = (
        parts.filter(F.col("j") >= 1)
        .groupBy("i", "j")
        .agg(F.sum("v").alias("p"))
    )
    s = (
        parts.filter(F.col("j") == -1)
        .groupBy("i")
        .agg(F.sum("v").alias("s"))
    )
    n = df.count()  # scalar plan literal, like the k-means centroid count
    return p, s, n


def pca_power_iteration_exact(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**4,
    big: int = 4 * 10**15,
    n_squarings: int = 12,
    moments: tuple[DataFrame, DataFrame, int] | None = None,
) -> DataFrame:
    """Top principal component by INTEGER power iteration — the
    hash-checkable twin of :func:`pca_top_component`'s driver-local
    ``numpy.linalg.eigh`` (the one remaining unproven step of the PCA
    pipeline once ``emb_gram_upper`` oracles the distributed Gram).

    Determinism recipe (same family as pagerank_exact / kmeans_exact):

    - vectors quantize ONCE to integer ``1/scale`` units; the covariance
      surrogate ``M0 = n*P - s*s^T`` (P = X^T X, s = column sums, all
      BIGINT-exact) has the same eigenvectors as the sample covariance
      (it is ``n*(n-1)`` times it);
    - instead of ~1000 matvecs (the fixture spectrum is near-flat,
      lambda2/lambda1 ~ 0.987), ``n_squarings`` repeated SQUARINGS give
      2^n_squarings effective iterations — 12 squarings = 4096, driving
      subdominant contamination below 1e-11 at that gap;
    - before each squaring the matrix renormalizes to ``|x| <= big`` via
      ``x div q`` with ``q = greatest(maxabs div big, 1)`` — integer
      truncating division, verified identical (toward zero) between
      Spark's ``div`` and DuckDB's ``//``; big = 4e15 keeps every matmul
      cell <= 64*big^2 ~ 1e33, exact in Spark DECIMAL(38,0) and DuckDB
      HUGEINT, and every renormalized entry < 2^53, exact as a double;
    - the output column is the one under the LARGEST DIAGONAL cell of the
      final (PSD, even-power) matrix: diag_j ~ lambda^k * v1[j]^2, so
      argmax-diag IS pca_top_component's sign pivot, and the column comes
      out in canonical orientation (pivot coordinate positive) with no
      separate sign fix;
    - the final unit normalization divides exact-integer doubles by the
      sqrt of an exactly-summed HUGEINT/DECIMAL norm^2 — one deterministic
      IEEE rounding per value — then rounds to 6 decimals (repo float
      convention).

    Scale: every stage is a join/agg over d^2 = 4096 rows — independent
    of n after the Gram reduction, which reuses emb_gram_upper's
    one-shuffle long-form shape. tests/test_similarity.py pins agreement
    with eigh on the SAME quantized matrix to <= 1e-6 per coordinate.
    """
    if moments is None:
        moments = gram_moments_longform(
            df, dim, id_col=id_col, vec_col=vec_col, scale=scale
        )
    p, s, n = moments

    # Optimization r8 (guide §1.2/§5): the n-scale work is the Gram
    # reduction above; everything after it is d-only (<= d^2 = 4096
    # rows), yet the 12 squarings used to run as ~24 tiny decimal
    # join/agg jobs (16.9s at the fixture — pure scheduling and decimal
    # codegen overhead, the same constant cost on a cluster). The d x d
    # state is metadata-scale — the same O(d^2) driver footprint
    # pca_top_component already collects — so the squarings now run on
    # the driver in EXACT Python integers. Every step reproduces the
    # former SQL bit-for-bit: n*P - s*s^T per cell; renorm q =
    # max(maxabs div big, 1) with Spark's ``div`` (truncation toward
    # zero — Python // floors, hence _tdiv); integer matmul; argmax
    # diagonal with the (x desc, i asc) tiebreak; norm^2 as an exact
    # integer sum. Only the final unit normalization stays in Spark SQL,
    # with the identical double casts, try_divide and qround6 — the
    # emitted rows are unchanged (the full-pipeline DuckDB oracle and
    # the eigh pin in tests/test_similarity.py both hold).
    import numpy as np

    p_rows = p.collect()  # <= d^2 rows
    s_rows = s.collect()  # <= d rows
    if not p_rows:
        # empty corpus: the former plan produced an empty frame (no m
        # rows -> no jstar -> no colv rows)
        return df.sparkSession.createDataFrame(
            [], "dim bigint, loading double"
        )
    dmax = max(max(r["i"] for r in p_rows), max(r["j"] for r in p_rows))
    P = [[0] * dmax for _ in range(dmax)]
    for r in p_rows:
        P[r["i"] - 1][r["j"] - 1] = int(r["p"])
    sv = [0] * dmax
    for r in s_rows:
        sv[r["i"] - 1] = int(r["s"])
    n_int = int(n)
    M = np.empty((dmax, dmax), dtype=object)
    for i in range(dmax):
        for j in range(dmax):
            M[i][j] = n_int * P[i][j] - sv[i] * sv[j]

    def _tdiv(a: int, q: int) -> int:
        """Spark/DuckDB integer ``div``: truncation toward zero."""
        return -((-a) // q) if a < 0 else a // q

    def _renorm(mat):
        mx = max((abs(int(v)) for v in mat.ravel()), default=0)
        q = max(_tdiv(mx, big), 1)
        if q == 1:
            return mat
        out = np.empty(mat.shape, dtype=object)
        for i in range(mat.shape[0]):
            for j in range(mat.shape[1]):
                out[i][j] = _tdiv(int(mat[i][j]), q)
        return out

    for _ in range(n_squarings):
        rm = _renorm(M)
        M = rm.dot(rm)  # object dtype: exact Python-int matmul

    Mf = _renorm(M)
    diag = [int(Mf[i][i]) for i in range(dmax)]
    mxd = max(diag)
    js = diag.index(mxd)  # smallest i on ties == (x desc, i asc) limit 1
    col = [int(Mf[i][js]) for i in range(dmax)]
    n2 = sum(v * v for v in col)  # |v| <= big = 4e15 -> fits decimal(38)

    from decimal import Decimal

    out_rows = [(i + 1, col[i], Decimal(n2)) for i in range(dmax)]
    spark = df.sparkSession
    return spark.createDataFrame(
        out_rows, "dim bigint, y long, n2 decimal(38,0)"
    ).select(
        F.col("dim"),
        # qround6, not ROUND: Spark/DuckDB round(x, 6) diverge on
        # half-boundary doubles (see functions/quantize.py).
        # try_divide: a zero-variance corpus yields the zero matrix
        # and a zero norm — DuckDB's x/0.0 is NULL, so NULL loadings
        # (not an ANSI DIVIDE_BY_ZERO abort) are the portable result
        qround6(
            F.try_divide(
                F.col("y").cast("double"),
                F.sqrt(F.col("n2").cast("double")),
            )
        ).alias("loading"),
    )


def kmeans_exact_longform(
    df: DataFrame,
    dim: int,
    k: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    scale: int = 10**4,
    return_centroids: bool = False,
) -> DataFrame:
    """Integer fixed-point Lloyd k-means — the hash-checkable twin of
    :func:`kmeans_assign` (whose float accumulation order varies in the
    last ULPs). Determinism recipe (same family as pagerank_exact / MMR):

    - vectors quantize ONCE to integer ``1/scale`` units;
    - distances are exact BIGINT sums of squared integer diffs
      (scale=1e4 keeps sum-over-corpus < 2^63 far beyond fixture sizes);
    - centroid updates are per-dim floor means (BIGINT ``div``);
    - argmin ties break on cluster id; init is the md5-seeded sample
      (portable plan literal rule, as IVF).

    Everything is LONG-FORM relational — (vec, dim, x) rows joined to
    (cid, dim, x) centroid rows — so an unrolled n_iter-round SQL twin
    reproduces it bit-for-bit. An empty cluster drops out of the
    centroid table (deterministically, both engines). The float kernel
    stays the scale path (map-side argmin, no per-round dim shuffle);
    this variant is the verification surface.

    Returns the final assignment (id, cluster, dist2) where dist2 is in
    squared ``1/scale`` units — or, with ``return_centroids``, the final
    long-form centroid table (cid, dim, x) for index builds (exact
    refined IVF).
    """
    df = valid_vectors(df, id_col, vec_col)
    q = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda v: F.round(v.cast("double") * scale).cast("bigint"),
            )
        ).alias("pos", "x"),
    ).select(id_col, (F.col("pos") + 1).alias("dim"), "x")
    # Optimization r8 (guide §2.4): hash-partition the long-form corpus
    # by id ONCE before the checkpoint (LogicalRDD preserves the
    # partitioning). Every per-round consumer — the (id, cid) distance
    # aggregation, the argmin window, the assignment join — clusters on
    # id, so with the centroid side broadcast the rounds reuse this one
    # exchange instead of re-shuffling n*dim rows per iteration; the
    # only per-round exchange left is the k*dim-group centroid update.
    q = q.repartition(F.col(id_col)).localCheckpoint(eager=True)

    from pyspark.sql import Window

    seed_order = Window.orderBy(
        F.md5(F.concat(F.lit(str(seed)), F.col(id_col).cast("string"))),
        F.col(id_col),
    )
    init_ids = (
        df.select(id_col)
        .withColumn("_rn", F.row_number().over(seed_order))
        .filter(F.col("_rn") <= k)
        .select(F.col(id_col), (F.col("_rn") - 1).cast("bigint").alias("cid"))
    )
    cents = (
        q.join(init_ids, id_col)
        .select("cid", "dim", "x")
        .localCheckpoint(eager=True)
    )

    def assign(cents_df):
        # Optimization r8 (guide §3.1): the centroid side is <= k*dim
        # rows (512 here) — driver-scale BY DESIGN at any corpus size,
        # the same bound that lets the float kernel carry centroids as
        # plan literals — but as a checkpointed frame it has no usable
        # size estimate, so the static plan sort-merge-joined it,
        # shuffling + sorting the n*dim long-form corpus by `dim` every
        # Lloyd round. Broadcast it explicitly: the corpus is never
        # re-shuffled, and the partial aggregation keyed (id, cid)
        # collapses the k-way expansion map-side before the one real
        # exchange. Join rows and exact BIGINT sums are unchanged.
        dist = (
            q.join(
                F.broadcast(
                    cents_df.select(
                        F.col("cid"), F.col("dim"), F.col("x").alias("cx")
                    )
                ),
                "dim",
            )
            .groupBy(id_col, "cid")
            .agg(
                F.sum((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx")))
                .alias("d")
            )
        )
        w = Window.partitionBy(id_col).orderBy(F.col("d"), F.col("cid"))
        return (
            dist.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(id_col, F.col("cid").alias("cluster"), F.col("d").alias("dist2"))
        )

    for _ in range(n_iter):
        a = assign(cents)
        cents = (
            a.join(q, id_col)
            .groupBy(F.col("cluster").alias("cid"), F.col("dim"))
            .agg(F.expr("CAST(sum(x) div count(*) AS BIGINT)").alias("x"))
            .localCheckpoint(eager=True)
        )
    if return_centroids:
        return cents
    return assign(cents)
