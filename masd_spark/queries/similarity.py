"""Similarity-search queries over the embeddings table (north-star
extension operators): exact brute-force top-k cosine (oracle-checked) and
the LSH-bucketed approximate variant (rows-only; recall measured in
tests/test_similarity.py against the exact baseline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from masd_spark.functions.quantize import qround6_sql
from masd_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
    valid_vectors,
)
from masd_spark.queries import register, scratch_path, valid_embeddings
from masd_spark.sources.tables import load_table

EMBEDDING_DIM = 64


def _queries_df(emb: DataFrame) -> DataFrame:
    """Deterministic query set: every 100th vector."""
    return emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )


@register(
    "ann_cosine_topk",
    oracle=valid_embeddings("""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id % 100 = 0
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               ROUND(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])), 6)
                   AS cos_sim
        FROM q JOIN embeddings e ON e.vec_id != q.query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for every 100th vector. Queries are
    broadcast; corpus scanned once; ranking on (rounded cosine, vec_id) is
    a total order -> deterministic and engine-portable.
    """
    return _exact_leg(load_table(spark, sf_dir, "embeddings"))


_IVF_CENTROIDS = 16
_IVF_PROBE = 4
# below this many valid vectors, ann_ivf_refined_topk's completeness /
# probe-count claims hold vacuously (see its contract comment)
_IVF_CONTRACT_FLOOR = 300
_IVF_SEED = 42

_IVF_ORACLE = f"""
    WITH cents AS (
        SELECT CAST(row_number() OVER (
                   ORDER BY md5('{_IVF_SEED}' || CAST(vec_id AS VARCHAR)),
                            vec_id) - 1 AS BIGINT) AS cid,
               CAST(embedding AS DOUBLE[]) AS cvec
        FROM embeddings
        ORDER BY md5('{_IVF_SEED}' || CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_IVF_CENTROIDS}
    ),
    assigned AS (
        SELECT e.vec_id, c.cid
        FROM embeddings e CROSS JOIN cents c
        QUALIFY row_number() OVER (
            PARTITION BY e.vec_id
            ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                     c.cid DESC) = 1
    ),
    probes AS (
        SELECT q.vec_id AS query_id, c.cid
        FROM embeddings q CROSS JOIN cents c
        WHERE q.vec_id % 100 = 0
        QUALIFY row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), c.cvec)
                     / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                              CAST(q.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                     c.cid DESC) <= {_IVF_PROBE}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id,
               ROUND(list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
                                            CAST(ec.embedding AS DOUBLE[])), 6)
                   AS cos_sim
        FROM probes p
        JOIN assigned a USING (cid)
        JOIN embeddings ec ON ec.vec_id = a.vec_id
        JOIN embeddings eq ON eq.vec_id = p.query_id
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS BIGINT)
               AS rank
    FROM scored
    QUALIFY rank <= 10
    """


@register("ann_ivf_topk", oracle=valid_embeddings(_IVF_ORACLE))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via an IVF index (16 cells, 4 probes): each
    query scans ~1/4 of the corpus. Centroid selection is the portable
    md5 sample, so the DuckDB oracle rebuilds the SAME index end-to-end
    (centroid pick -> cell assignment with the same (cos, cid) tie-break
    -> probe set -> exact re-rank) — the second approximate index made
    value-checkable; recall vs the exact baseline stays in tests.
    """
    return _ivf_leg(load_table(spark, sf_dir, "embeddings"))


@register("ann_ivf_persisted_topk", oracle=valid_embeddings(_IVF_ORACLE))
def ann_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index shape of ``ann_ivf_topk``: the (id, vec, norm,
    cell) corpus is written ONCE as a table bucketed on the cell id plus
    a tiny (cid, cvec) metadata table (operators/similarity.py:
    build_ivf_index), and the query is a pure PROBE over that table —
    centroid literals load from metadata, probe set broadcasts, candidate
    join is cell-equi against the bucketed scan with no index-side
    shuffle. At 100 TB this is the only viable ANN shape: the index is a
    maintained asset (incremental appends reuse the stored centroid
    geometry — append_ivf_index, equality pinned in tests), not a
    per-query recomputation. Same md5-sample centroids as ``ann_ivf_topk``,
    so the SAME DuckDB oracle replays build + probe end-to-end; here the
    build runs in-query only because the fixture is rebuilt per run."""
    import hashlib
    import os
    import tempfile

    from masd_spark.operators.similarity import build_ivf_index, ivf_persisted_topk

    emb = load_table(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"ann_ivf_index_{tag}"
    build_ivf_index(
        emb,
        table,
        n_centroids=_IVF_CENTROIDS,
        seed=_IVF_SEED,
        n_buckets=_IVF_CENTROIDS,
        path=scratch_path(f"masd_{table}"),
    )
    return ivf_persisted_topk(
        spark,
        _queries_df(emb),
        table,
        k=10,
        n_probe=_IVF_PROBE,
    )


# ann_ivf_refined_topk (float-refined centroids) is registered BELOW its
# exact twin — its error-bound oracle composes the twin's SQL with the
# brute-force ground truth's.


@register(
    "cluster_kmeans_embeddings",
    oracle=valid_embeddings("""
    SELECT 'n_assigned' AS metric, CAST(count(*) AS BIGINT) AS value,
           TRUE AS ok
    FROM embeddings
    UNION ALL SELECT 'cluster_ids_in_range', CAST(NULL AS BIGINT), TRUE
    UNION ALL SELECT 'objective_band_vs_exact', CAST(NULL AS BIGINT), TRUE
    UNION ALL SELECT 'beats_singleton', CAST(NULL AS BIGINT), TRUE
    """),
)
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative algorithm category: 5 Lloyd iterations of float k-means
    (k=8) over the embeddings — the 100 TB kernel (map-side assignment,
    one k-row aggregate per pass, only k*d floats on the driver).

    Oracled via the error-bound-contract pattern (VERDICT r7 item 2): the
    float centroids are not engine-portable, so the result is a metric
    contract the driver can hash — exact coverage count plus booleans the
    float kernel must satisfy against provable references:

    - n_assigned: every valid vector got exactly one cluster (the count
      is a portable value DuckDB states independently);
    - cluster_ids_in_range: all ids in [0, k);
    - objective_band_vs_exact: the float inertia is within [0.8, 1.25]x
      of the integer-Lloyd twin's (cluster_kmeans_embeddings_exact, its
      full assignment independently hash-checked; inits differ, so the
      band — measured ratio 1.0009 at sf0.1 — not per-vector equality,
      is the sound claim);
    - beats_singleton: inertia <= the optimal 1-cluster objective
      (measured 0.95x — near-flat embeddings, hence the thin margin).

    A broken kernel (wrong column, lost iteration, garbled assignment)
    fails the count or blows the band by orders. The per-cluster sizes
    this query previously returned remain available from the exact twin.
    """
    from masd_spark.operators.clustering import (
        kmeans_assign,
        kmeans_exact_longform,
    )
    from masd_spark.operators.similarity import valid_vectors

    emb = load_table(spark, sf_dir, "embeddings")
    va = valid_vectors(emb, "vec_id", "embedding")

    assigned = kmeans_assign(
        emb, dim=EMBEDDING_DIM, k=_KM_K, n_iter=_KM_ITER, seed=_KM_SEED
    )
    stats = assigned.agg(
        F.count("*").alias("n"),
        F.count_distinct("vec_id").alias("n_ids"),
        F.sum("dist2").alias("j_float"),
        F.min("cluster").alias("cmin"),
        F.max("cluster").alias("cmax"),
    ).collect()[0]

    j_exact = (
        kmeans_exact_longform(
            emb, dim=EMBEDDING_DIM, k=_KM_K, n_iter=_KM_ITER,
            seed=_KM_SEED, scale=_KM_SCALE,
        )
        .agg(F.sum("dist2"))
        .collect()[0][0]
        or 0
    ) / float(_KM_SCALE) ** 2

    # n_valid rides the singleton-mean aggregation (guide §2.4: one scan
    # fewer) — it stays an independent count of va, just computed in the
    # same job; the n_assigned check still compares two separate plans
    mean_row = va.agg(
        F.count("*").alias("_n_valid"),
        *[
            F.avg(F.col("embedding")[i].cast("double")).alias(f"m{i}")
            for i in range(EMBEDDING_DIM)
        ],
    ).collect()[0]
    n_valid = mean_row["_n_valid"]
    j_single = (
        va.agg(
            F.sum(
                sum(
                    (F.col("embedding")[i].cast("double") - F.lit(mean_row[i]))
                    ** 2
                    for i in range(EMBEDDING_DIM)
                )
            )
        ).collect()[0][0]
        or 0.0
    )

    empty = n_valid == 0  # degenerate corpus: contracts hold vacuously
    j_float = float(stats["j_float"] or 0.0)
    rows = [
        (
            "n_assigned",
            int(stats["n"]),
            bool(stats["n"] == n_valid and stats["n_ids"] == n_valid),
        ),
        (
            "cluster_ids_in_range",
            None,
            bool(
                empty
                or (
                    stats["cmin"] is not None
                    and stats["cmin"] >= 0
                    and stats["cmax"] < _KM_K
                )
            ),
        ),
        (
            "objective_band_vs_exact",
            None,
            # zero-inertia corpora are legitimate (one valid vector, or
            # all valid embeddings identical): both kernels must land on
            # exactly-0 inertia, so treat j_exact == 0 as in-band when
            # the float side agrees to within accumulation noise
            bool(
                empty
                or (j_exact == 0 and j_float <= 1e-9)
                or (j_exact > 0 and 0.8 <= j_float / j_exact <= 1.25)
            ),
        ),
        # + 1e-9: on a zero-variance corpus both objectives are ~0 but
        # each accumulates independent IEEE rounding (mean of identical
        # floats is not exact), so demand dominance only beyond noise
        ("beats_singleton", None, bool(empty or j_float <= j_single + 1e-9)),
    ]
    return spark.createDataFrame(rows, "metric string, value bigint, ok boolean")


_LSH_PLANES = 6
_LSH_TABLES = 8
_LSH_SEED = 42


def _lsh_topk_oracle() -> str:
    """DuckDB twin of the FULL OR-amplified LSH top-k pipeline. The
    hyperplanes are deterministic literals (same LCG as the Spark side),
    so the oracle recomputes the identical sign-bit buckets per table,
    the same candidate union, and the same exact-cosine re-rank — the
    approximate index becomes value-level hash-checkable, the same move
    that oracled dedup_embedding_cosine_bucketed."""
    from masd_spark.operators.similarity import _hyperplanes

    table_selects = []
    for t in range(_LSH_TABLES):
        planes = _hyperplanes(EMBEDDING_DIM, _LSH_PLANES, _LSH_SEED + 1000 * t)
        bits = " + ".join(
            "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"[{', '.join(repr(x) for x in p)}]) >= 0 THEN {2**i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        table_selects.append(
            f"SELECT vec_id, {t} AS tbl, CAST({bits} AS BIGINT) AS bucket "
            "FROM embeddings"
        )
    buckets_sql = " UNION ALL ".join(table_selects)
    return f"""
    WITH buckets AS ({buckets_sql}),
    qb AS (SELECT vec_id AS query_id, tbl, bucket FROM buckets
           WHERE vec_id % 100 = 0),
    cand AS (
        SELECT DISTINCT qb.query_id, b.vec_id
        FROM buckets b JOIN qb USING (tbl, bucket)
        WHERE b.vec_id <> qb.query_id
    ),
    scored AS (
        SELECT c.query_id, c.vec_id,
               ROUND(list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
                                            CAST(ec.embedding AS DOUBLE[])), 6)
                   AS cos_sim
        FROM cand c
        JOIN embeddings ec ON ec.vec_id = c.vec_id
        JOIN embeddings eq ON eq.vec_id = c.query_id
    )
    SELECT query_id, vec_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS BIGINT)
               AS rank
    FROM scored
    QUALIFY rank <= 10
    """


@register("ann_lsh_topk", oracle=valid_embeddings(_lsh_topk_oracle()))
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10: OR-amplified random-hyperplane LSH (8 tables
    x 6 sign bits) + exact re-rank within the candidate union. The plane
    constants are deterministic literals shared with the DuckDB oracle,
    which replays the whole pipeline in SQL — so this approximate index
    is value-checked, not rows-only; recall vs the exact baseline is
    measured separately in tests/test_similarity.py.
    """
    return _lsh_leg(load_table(spark, sf_dir, "embeddings"))


@register(
    "ann_quantized_topk",
    oracle=valid_embeddings("""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    mx AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS ma
        FROM base
    ),
    qv AS (
        SELECT vec_id,
               list_transform(
                   v, x -> CAST(round(x * (CASE WHEN ma > 0
                                                THEN 127.0 / ma
                                                ELSE 0.0 END)) AS BIGINT)
               ) AS q
        FROM mx
    ),
    n AS (
        SELECT vec_id, q,
               CAST(list_dot_product(CAST(q AS DOUBLE[]),
                                     CAST(q AS DOUBLE[])) AS BIGINT) AS n2
        FROM qv
    ),
    qs AS (
        SELECT vec_id AS query_id, q AS qq, n2 AS qn2
        FROM n WHERE vec_id % 100 = 0
    ),
    scored AS (
        SELECT qs.query_id, n.vec_id,
               CASE WHEN qs.qn2 > 0 AND n.n2 > 0
                    THEN ROUND(
                        list_dot_product(CAST(qs.qq AS DOUBLE[]),
                                         CAST(n.q AS DOUBLE[]))
                        / (sqrt(CAST(qs.qn2 AS DOUBLE))
                           * sqrt(CAST(n.n2 AS DOUBLE))), 6)
               END AS qcos
        FROM qs JOIN n ON n.vec_id != qs.query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY qcos DESC NULLS LAST,
                                              vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, qcos, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """),
)
def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbors over int8-quantized vectors: 4x smaller
    scan, integer dot products, near-zero recall loss vs the exact
    baseline (1.0 on the fixture; floor asserted in tests). Quantization math is exact-integer /
    IEEE-deterministic, so unlike the LSH and IVF paths this approximate
    index IS oracle-checkable — DuckDB reproduces it bit-for-bit.
    """
    return _quantized_leg(load_table(spark, sf_dir, "embeddings"))


@register(
    "emb_pca_top_component",
    oracle=valid_embeddings("""
    SELECT 'n_rows' AS metric, CAST(count(*) AS BIGINT) AS value, TRUE AS ok
    FROM embeddings
    UNION ALL SELECT 'unit_norm', CAST(NULL AS BIGINT), TRUE
    UNION ALL SELECT 'rayleigh_dominance', CAST(NULL AS BIGINT), TRUE
    """),
)
def emb_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus via a ONE-PASS
    Gram reduction (operators/clustering.py:pca_top_component): Arrow/BLAS
    per-partition d×d Gram partials, one reduce, then a LOCAL eigensolve
    on the driver's d×d matrix — the 100 TB shape (only the d×d Gram and
    64 loadings ever leave the executors).

    Oracled via the error-bound-contract pattern (VERDICT r7 item 2):
    numpy's eigenvector is not engine-portable, so the result is a metric
    contract — the portable sample count plus booleans proving the float
    solve against exact integer references:

    - unit_norm: |v|^2 within 1e-9 of 1;
    - rayleigh_dominance: v's Rayleigh quotient on the EXACT integer
      covariance surrogate M = n*P - s*s^T (the same quantized matrix the
      hash-checked emb_pca_power_iteration twin iterates; P via the
      emb_gram_upper reduction) is >= the twin vector's quotient times
      (1 - 1e-6). numpy maximizes the float covariance, the twin
      maximizes M, so the measured slack is ~2e-8 — a wrong component
      (sign bug, dropped coordinate, stale Gram) loses orders more.

    The per-coordinate loadings remain pinned to numpy at 1e-6 cosine in
    tests/test_similarity.py; the fully portable eigensolve lives in
    emb_pca_power_iteration.
    """
    import numpy as np

    from masd_spark.operators.clustering import (
        pca_power_iteration_exact,
        pca_top_component,
    )
    from masd_spark.operators.similarity import valid_vectors

    emb = load_table(spark, sf_dir, "embeddings")
    va = valid_vectors(emb, "vec_id", "embedding")
    n_valid = va.count()
    if n_valid < 2:
        # degenerate corpus: the eigensolve needs >= 2 rows; the
        # contract holds vacuously (the oracle's count is also n_valid)
        rows = [
            ("n_rows", n_valid, True),
            ("unit_norm", None, True),
            ("rayleigh_dominance", None, True),
        ]
        return spark.createDataFrame(
            rows, "metric string, value bigint, ok boolean"
        )
    v, eig, n = pca_top_component(emb, dim=EMBEDDING_DIM, vec_col="embedding")

    # ONE n-scale moment reduction, shared: materialize the 4096-row Gram
    # + 64-row column sums, then feed BOTH the Rayleigh surrogate M and
    # the power-iteration twin from the same frames — the n-row self-join
    # runs once, and the two consumers cannot desynchronize on
    # quantization (they are the same quantization by construction)
    from masd_spark.operators.clustering import gram_moments_longform

    p_df, s_df, n_m = gram_moments_longform(
        emb, dim=EMBEDDING_DIM, scale=_KM_SCALE
    )
    p_df = p_df.localCheckpoint(eager=True)
    s_df = s_df.localCheckpoint(eager=True)

    s = np.zeros(EMBEDDING_DIM)
    for r in s_df.collect():
        s[r["i"] - 1] = r["s"]
    P = np.zeros((EMBEDDING_DIM, EMBEDDING_DIM))
    for r in p_df.collect():
        P[r["i"] - 1, r["j"] - 1] = r["p"]
    M = n_m * P - np.outer(s, s)

    u = np.zeros(EMBEDDING_DIM)
    for r in pca_power_iteration_exact(
        emb, dim=EMBEDDING_DIM, scale=_KM_SCALE, big=_PI_BIG,
        n_squarings=_PI_SQUARINGS, moments=(p_df, s_df, n_m),
    ).collect():
        if r["loading"] is not None:  # NULL on a zero-variance corpus
            u[r["dim"] - 1] = r["loading"]

    vv = np.array(v, dtype=float)
    r_v = float(vv @ M @ vv / (vv @ vv)) if vv.any() else 0.0
    r_u = float(u @ M @ u / (u @ u)) if u.any() else 0.0
    empty = n == 0  # degenerate corpus: contracts hold vacuously
    # zero-variance corpus (all valid embeddings identical): M is the
    # zero matrix, every unit vector maximizes the (zero) quadratic
    # form, and the twin's normalization degenerates to 0/0 NaN
    # loadings — dominance is vacuous, not violated
    zero_var = not M.any()
    rows = [
        ("n_rows", n, bool(n == n_valid)),
        (
            "unit_norm",
            None,
            bool(empty or abs(float(vv @ vv) - 1.0) <= 1e-9),
        ),
        (
            "rayleigh_dominance",
            None,
            bool(empty or zero_var or r_v >= r_u * (1 - 1e-6)),
        ),
    ]
    return spark.createDataFrame(rows, "metric string, value bigint, ok boolean")


_PQ_M = 8
_PQ_SUB = EMBEDDING_DIM // _PQ_M
_PQ_CODES = 16
_PQ_RERANK = 200
_PQ_SEED = 7

_PQ_ORACLE = f"""
    WITH samp AS (
        SELECT CAST(row_number() OVER (
                   ORDER BY md5('{_PQ_SEED}' || CAST(vec_id AS VARCHAR)),
                            vec_id) - 1 AS BIGINT) AS sid,
               CAST(embedding AS DOUBLE[]) AS svec
        FROM embeddings
        ORDER BY md5('{_PQ_SEED}' || CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_PQ_CODES}
    ),
    subs AS (SELECT CAST(j AS BIGINT) AS j FROM range({_PQ_M}) t(j)),
    cb AS (
        SELECT s.j, p.sid,
               list_slice(p.svec, s.j * {_PQ_SUB} + 1, (s.j + 1) * {_PQ_SUB}) AS cw
        FROM samp p CROSS JOIN subs s
    ),
    cbn AS (
        SELECT j, sid, cw, list_dot_product(cw, cw) AS cc FROM cb
    ),
    codes AS (
        SELECT e.vec_id, c.j, c.sid AS code, c.cc
        FROM embeddings e CROSS JOIN cbn c
        QUALIFY row_number() OVER (
            PARTITION BY e.vec_id, c.j
            ORDER BY c.cc - 2 * list_dot_product(
                         list_slice(CAST(e.embedding AS DOUBLE[]),
                                    c.j * {_PQ_SUB} + 1, (c.j + 1) * {_PQ_SUB}),
                         c.cw),
                     c.sid) = 1
    ),
    recon AS (
        SELECT vec_id,
               sqrt(CAST(SUM(CAST(cc AS DECIMAL(20,9))) AS DOUBLE)) AS rn
        FROM codes GROUP BY vec_id
    ),
    q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS qn
        FROM embeddings WHERE vec_id % 100 = 0
    ),
    lut AS (
        SELECT q.query_id, c.j, c.sid,
               CAST(list_dot_product(
                        list_slice(q.qv, c.j * {_PQ_SUB} + 1,
                                   (c.j + 1) * {_PQ_SUB}),
                        c.cw) AS DECIMAL(20,9)) AS term
        FROM q CROSS JOIN cbn c
    ),
    adc AS (
        SELECT l.query_id, cd.vec_id, SUM(l.term) AS adc_dot
        FROM codes cd JOIN lut l ON l.j = cd.j AND l.sid = cd.code
        GROUP BY l.query_id, cd.vec_id
    ),
    scored AS (
        SELECT a.query_id, a.vec_id,
               ROUND(CAST(a.adc_dot AS DOUBLE) / (q.qn * r.rn), 6) AS adc_cos
        FROM adc a
        JOIN recon r USING (vec_id)
        JOIN q ON q.query_id = a.query_id
        WHERE a.vec_id <> a.query_id
    ),
    cand AS (
        SELECT query_id, vec_id FROM scored
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_cos DESC, vec_id)
                <= {_PQ_RERANK}
    ),
    rr AS (
        SELECT c.query_id, c.vec_id,
               ROUND(list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
                                            CAST(ec.embedding AS DOUBLE[])), 6)
                   AS cos_sim
        FROM cand c
        JOIN embeddings eq ON eq.vec_id = c.query_id
        JOIN embeddings ec ON ec.vec_id = c.vec_id
    )
    SELECT query_id, vec_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS BIGINT)
               AS rank
    FROM rr QUALIFY rank <= 10
    """


@register("ann_pq_topk", oracle=valid_embeddings(_PQ_ORACLE))
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via product quantization + ADC re-rank (8
    subspaces x 16 codes -> 8-byte codes, 32x scan compression; top-200
    ADC candidates — ~3% of the sf0.01 corpus, a vanishing fraction at
    scale — re-ranked exactly). The codebook is the portable md5
    sample, ADC sums are DECIMAL-quantized, so the DuckDB oracle replays
    the ENTIRE index — sample, per-subspace encoding argmin with the
    same tie-break, lookup-table scores, candidate cut, exact re-rank —
    making the third approximate ANN index value-checkable end to end.
    Recall vs the exact baseline is pinned in tests/test_similarity.py.
    """
    return _pq_leg(load_table(spark, sf_dir, "embeddings"))


_IVFPQ_RERANK = 100

_IVFPQ_ORACLE = f"""
    WITH cents AS MATERIALIZED (
        SELECT CAST(row_number() OVER (
                   ORDER BY md5('{_IVF_SEED}' || CAST(vec_id AS VARCHAR)),
                            vec_id) - 1 AS BIGINT) AS cid,
               CAST(embedding AS DOUBLE[]) AS cvec
        FROM embeddings
        ORDER BY md5('{_IVF_SEED}' || CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_IVF_CENTROIDS}
    ),
    assigned AS MATERIALIZED (
        SELECT e.vec_id, c.cid
        FROM embeddings e CROSS JOIN cents c
        QUALIFY row_number() OVER (
            PARTITION BY e.vec_id
            ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                     c.cid DESC) = 1
    ),
    q AS MATERIALIZED (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS qn
        FROM embeddings WHERE vec_id % 100 = 0
    ),
    probes AS MATERIALIZED (
        SELECT q.query_id, c.cid
        FROM q CROSS JOIN cents c
        QUALIFY row_number() OVER (
            PARTITION BY q.query_id
            ORDER BY list_dot_product(q.qv, c.cvec)
                     / (q.qn * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                     c.cid DESC) <= {_IVF_PROBE}
    ),
    samp AS MATERIALIZED (
        SELECT CAST(row_number() OVER (
                   ORDER BY md5('{_PQ_SEED}' || CAST(vec_id AS VARCHAR)),
                            vec_id) - 1 AS BIGINT) AS sid,
               CAST(embedding AS DOUBLE[]) AS svec
        FROM embeddings
        ORDER BY md5('{_PQ_SEED}' || CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_PQ_CODES}
    ),
    subs AS (SELECT CAST(j AS BIGINT) AS j FROM range({_PQ_M}) t(j)),
    cbn AS MATERIALIZED (
        SELECT s.j, p.sid,
               list_slice(p.svec, s.j * {_PQ_SUB} + 1, (s.j + 1) * {_PQ_SUB}) AS cw,
               list_dot_product(
                   list_slice(p.svec, s.j * {_PQ_SUB} + 1, (s.j + 1) * {_PQ_SUB}),
                   list_slice(p.svec, s.j * {_PQ_SUB} + 1, (s.j + 1) * {_PQ_SUB})) AS cc
        FROM samp p CROSS JOIN subs s
    ),
    codes AS MATERIALIZED (
        SELECT e.vec_id, c.j, c.sid AS code, c.cc
        FROM embeddings e CROSS JOIN cbn c
        QUALIFY row_number() OVER (
            PARTITION BY e.vec_id, c.j
            ORDER BY c.cc - 2 * list_dot_product(
                         list_slice(CAST(e.embedding AS DOUBLE[]),
                                    c.j * {_PQ_SUB} + 1, (c.j + 1) * {_PQ_SUB}),
                         c.cw),
                     c.sid) = 1
    ),
    recon AS MATERIALIZED (
        SELECT vec_id,
               sqrt(CAST(SUM(CAST(cc AS DECIMAL(20,9))) AS DOUBLE)) AS rn
        FROM codes GROUP BY vec_id
    ),
    lut AS MATERIALIZED (
        SELECT q.query_id, c.j, c.sid,
               CAST(list_dot_product(
                        list_slice(q.qv, c.j * {_PQ_SUB} + 1,
                                   (c.j + 1) * {_PQ_SUB}),
                        c.cw) AS DECIMAL(20,9)) AS term
        FROM q CROSS JOIN cbn c
    ),
    adc AS MATERIALIZED (
        SELECT p.query_id, a.vec_id, SUM(l.term) AS adc_dot
        FROM probes p
        JOIN assigned a USING (cid)
        JOIN codes cd ON cd.vec_id = a.vec_id
        JOIN lut l ON l.query_id = p.query_id
                  AND l.j = cd.j AND l.sid = cd.code
        WHERE a.vec_id <> p.query_id
        GROUP BY p.query_id, a.vec_id
    ),
    scored AS (
        SELECT a.query_id, a.vec_id,
               ROUND(CAST(a.adc_dot AS DOUBLE) / (q.qn * r.rn), 6) AS adc_cos
        FROM adc a
        JOIN recon r USING (vec_id)
        JOIN q ON q.query_id = a.query_id
    ),
    cand AS (
        SELECT query_id, vec_id FROM scored
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_cos DESC, vec_id)
                <= {_IVFPQ_RERANK}
    ),
    rr AS (
        SELECT c.query_id, c.vec_id,
               ROUND(list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
                                            CAST(ec.embedding AS DOUBLE[])), 6)
                   AS cos_sim
        FROM cand c
        JOIN embeddings eq ON eq.vec_id = c.query_id
        JOIN embeddings ec ON ec.vec_id = c.vec_id
    )
    SELECT query_id, vec_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS BIGINT)
               AS rank
    FROM rr QUALIFY rank <= 10
    """


@register("ann_ivfpq_topk", oracle=valid_embeddings(_IVFPQ_ORACLE))
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed (IVFADC): each query ADC-scans only its 4
    probed cells' 8-byte codes — pair count bounded by cell occupancy
    (equi join, no all-pairs stage), scan bytes cut 32x — then the
    top-100 candidates re-rank exactly. Because both component indexes
    use portable literals (md5 samples, DECIMAL ADC sums), the DuckDB
    oracle replays the full composition: centroid pick, cell
    assignment, probe set, codebook pick, encoding, LUT scoring,
    candidate cut, re-rank. This is the production 100 TB ANN shape;
    recall floor vs the exact baseline pinned in tests.
    """
    return _ivfpq_leg(load_table(spark, sf_dir, "embeddings"))


def _pq_index_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per session+fixture) and return the persisted PQ/IVFPQ
    index table for ``sf_dir`` — the shared asset behind the two persisted
    probes, exactly one build job even when the driver runs both queries
    in one process."""
    import hashlib
    import os
    import tempfile

    from masd_spark.operators.similarity import build_pq_index

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"ann_pq_index_{tag}"
    key = (spark.sparkContext.applicationId, table)
    if key not in _PQ_INDEX_BUILT:
        emb = load_table(spark, sf_dir, "embeddings")
        build_pq_index(
            emb,
            table,
            dim=EMBEDDING_DIM,
            m=_PQ_M,
            n_codes=_PQ_CODES,
            n_centroids=_IVF_CENTROIDS,
            pq_seed=_PQ_SEED,
            ivf_seed=_IVF_SEED,
            n_buckets=_IVF_CENTROIDS,
            path=scratch_path(f"masd_{table}"),
        )
        _PQ_INDEX_BUILT.add(key)
    return table


_PQ_INDEX_BUILT: set = set()


@register("ann_pq_persisted_topk", oracle=valid_embeddings(_PQ_ORACLE))
def ann_pq_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index shape of ``ann_pq_topk`` (VERDICT r6 item 6):
    codebooks and the (id, cell, codes, recon-norm) encoding are written
    ONCE as a cell-bucketed table + two tiny metadata tables
    (operators/similarity.py:build_pq_index), and the query is a pure
    ADC PROBE — codebook literals load from metadata (128-row collect),
    query lookup tables broadcast, and the scan projects ONLY
    (id, codes, _rn), so parquet column pruning keeps the 32x-bigger
    vector column out of the hot path (plan-asserted in tests). At 100 TB
    the quantizer is a maintained asset with incremental appends reusing
    the stored geometry (append_pq_index; append==one-shot pinned in
    tests), not a per-query plan literal. Same md5-sample codebooks as
    ``ann_pq_topk``, so the SAME DuckDB oracle replays build + probe."""
    from masd_spark.operators.similarity import pq_persisted_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_persisted_topk(
        spark,
        _queries_df(emb),
        _pq_index_table(spark, sf_dir),
        k=10,
        rerank=_PQ_RERANK,
    )


@register("ann_ivfpq_persisted_topk", oracle=valid_embeddings(_IVFPQ_ORACLE))
def ann_ivfpq_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index shape of ``ann_ivfpq_topk``, probing the SAME
    table as ``ann_pq_persisted_topk`` (one maintained index serves both
    access paths): centroids + codebooks load from metadata, the probe
    set and lookup tables broadcast, and the candidate join is cell-EQUI
    against the ``_cid``-bucketed codes projection — zero index-side
    exchange (plan-asserted), pair count bounded by n_probe/n_centroids,
    scan bytes by the codes columns. Same quantizers as the inline
    composition, so the SAME DuckDB oracle replays it end to end."""
    from masd_spark.operators.similarity import ivfpq_persisted_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_persisted_topk(
        spark,
        _queries_df(emb),
        _pq_index_table(spark, sf_dir),
        k=10,
        n_probe=_IVF_PROBE,
        rerank=_IVFPQ_RERANK,
    )


_MMR_K = 5
_MMR_M = 20


def _mmr_oracle(k: int = _MMR_K, m: int = _MMR_M) -> str:
    """Unrolled-greedy SQL twin of the MMR selection: k rounds, each an
    argmax over the remaining candidates of (rel6 - max sim6 to the
    already-selected set), ties to the lowest vec_id — the identical
    integer arithmetic the Arrow greedy loop performs. Every round CTE is
    MATERIALIZED (the k-core lesson: round r is referenced by r+1 twice;
    inlining doubles the reference tree per round)."""
    parts = [
        f"""q AS MATERIALIZED (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id % 100 = 0
    ),
    cand AS MATERIALIZED (
        SELECT query_id, vec_id, rel6 FROM (
            SELECT q.query_id, e.vec_id,
                   CAST(ROUND(ROUND(list_cosine_similarity(
                            q.qv, CAST(e.embedding AS DOUBLE[])), 6)
                        * 1000000) AS BIGINT) AS rel6,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ROUND(list_cosine_similarity(
                                    q.qv, CAST(e.embedding AS DOUBLE[])), 6)
                                DESC, e.vec_id) AS rnk
            FROM q JOIN embeddings e ON e.vec_id != q.query_id
        ) WHERE rnk <= {m}
    ),
    sims AS MATERIALIZED (
        SELECT a.query_id, a.vec_id AS ca, b.vec_id AS cb,
               CAST(ROUND(list_cosine_similarity(
                        CAST(ea.embedding AS DOUBLE[]),
                        CAST(eb.embedding AS DOUBLE[])) * 1000000)
                    AS BIGINT) AS sim6
        FROM cand a
        JOIN cand b ON a.query_id = b.query_id AND a.vec_id != b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
    ),
    sel1 AS MATERIALIZED (
        SELECT query_id, vec_id, rel6, rel6 AS mmr6,
               CAST(1 AS BIGINT) AS sel_rank
        FROM cand
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY rel6 DESC, vec_id) = 1
    ),
    acc1 AS MATERIALIZED (SELECT * FROM sel1)"""
    ]
    for r in range(2, k + 1):
        parts.append(f"""scored{r} AS MATERIALIZED (
        SELECT c.query_id, c.vec_id, c.rel6, c.rel6 - max(s.sim6) AS mmr6
        FROM cand c
        JOIN sims s ON s.query_id = c.query_id AND s.ca = c.vec_id
        JOIN acc{r - 1} p ON p.query_id = s.query_id AND p.vec_id = s.cb
        WHERE NOT EXISTS (SELECT 1 FROM acc{r - 1} x
                          WHERE x.query_id = c.query_id
                            AND x.vec_id = c.vec_id)
        GROUP BY 1, 2, 3
    ),
    sel{r} AS MATERIALIZED (
        SELECT query_id, vec_id, rel6, mmr6, CAST({r} AS BIGINT) AS sel_rank
        FROM scored{r}
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY mmr6 DESC, vec_id) = 1
    ),
    acc{r} AS MATERIALIZED (
        SELECT * FROM acc{r - 1} UNION ALL SELECT * FROM sel{r}
    )""")
    return (
        "WITH " + ",\n    ".join(parts)
        + f"\n    SELECT query_id, vec_id, rel6, mmr6, sel_rank FROM acc{k}"
    )


@register("ann_mmr_rerank", oracle=valid_embeddings(_mmr_oracle()))
def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval: MMR re-rank (lambda=0.5) of each query's
    top-20 exact-cosine candidates down to 5 picks — the standard
    redundancy-suppression step between ANN retrieval and a RAG/labeling
    consumer. Relevance and pair similarities snap to integer micro-units
    BEFORE the greedy loop, so selection is pure integer arithmetic —
    bit-deterministic, and provable by the unrolled 5-round SQL twin.
    Candidate generation is distributed (any index plan slots in);
    the greedy runs per query group under applyInPandas, bounded by m.
    (operators/similarity.py:mmr_topk)
    """
    from masd_spark.operators.similarity import mmr_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_topk(emb, _queries_df(emb), k=_MMR_K, m=_MMR_M)


_KM_SCALE = 10**4
_KM_K = 8
_KM_ITER = 5
_KM_SEED = 42


def _kmeans_exact_ctes(
    n_iter: int, k: int, scale: int, seed: int, dim: int,
) -> list:
    """CTE parts for the unrolled integer-Lloyd rounds (shared by the
    kmeans oracle and the exact refined-IVF oracle): q (long-form
    quantized dims), init, c0, then dist{r}/a{r}/c{r} per round."""
    seed_order = f"md5('{seed}' || CAST(vec_id AS VARCHAR)), vec_id"
    parts = [
        f"""q AS MATERIALIZED (
        SELECT vec_id, i AS dim,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {scale}) AS BIGINT)
                   AS x
        FROM embeddings CROSS JOIN range(1, {dim + 1}) t(i)
    ),
    init AS MATERIALIZED (
        SELECT vec_id,
               CAST(row_number() OVER (ORDER BY {seed_order}) - 1 AS BIGINT)
                   AS cid
        FROM embeddings
        QUALIFY row_number() OVER (ORDER BY {seed_order}) <= {k}
    ),
    c0 AS MATERIALIZED (
        SELECT i.cid, q.dim, q.x AS cx FROM init i JOIN q USING (vec_id)
    )"""
    ]
    for r in range(1, n_iter + 1):
        parts.append(f"""dist{r} AS MATERIALIZED (
        SELECT q.vec_id, c.cid,
               CAST(sum((q.x - c.cx) * (q.x - c.cx)) AS BIGINT) AS d
        FROM q JOIN c{r - 1} c USING (dim)
        GROUP BY 1, 2
    ),
    a{r} AS MATERIALIZED (
        SELECT vec_id, cid, d FROM dist{r}
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d, cid) = 1
    ),
    c{r} AS MATERIALIZED (
        SELECT a.cid, q.dim, CAST(sum(q.x) // count(*) AS BIGINT) AS cx
        FROM a{r} a JOIN q USING (vec_id)
        GROUP BY 1, 2
    )""")
    return parts


def _kmeans_exact_oracle(
    n_iter: int = _KM_ITER, k: int = _KM_K, scale: int = _KM_SCALE,
    seed: int = _KM_SEED, dim: int = 64,
) -> str:
    """Unrolled Lloyd twin of kmeans_exact_longform: identical BIGINT
    arithmetic per round, MATERIALIZED round CTEs (each feeds two
    consumers in the next round)."""
    parts = _kmeans_exact_ctes(n_iter, k, scale, seed, dim)
    final = n_iter + 1
    parts.append(f"""dist{final} AS MATERIALIZED (
        SELECT q.vec_id, c.cid,
               CAST(sum((q.x - c.cx) * (q.x - c.cx)) AS BIGINT) AS d
        FROM q JOIN c{n_iter} c USING (dim)
        GROUP BY 1, 2
    )""")
    return (
        "WITH " + ",\n    ".join(parts)
        + f"""
    SELECT vec_id, cid AS cluster, d AS dist2
    FROM dist{final}
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1"""
    )


@register("cluster_kmeans_embeddings_exact", oracle=valid_embeddings(_kmeans_exact_oracle()))
def cluster_kmeans_embeddings_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point Lloyd k-means (k=8, 5 rounds) — the
    HASH-CHECKABLE twin of cluster_kmeans_embeddings: vectors quantized
    once to 1e-4 units, distances and centroid floor-means all exact
    BIGINT, md5-seeded init, ties on cluster id. The full 500-row
    assignment (vec_id, cluster, dist2) is value-checked against a
    5-round unrolled Lloyd in SQL — converting the last iterative-float
    rows-only family member into hard oracle evidence. The float kernel
    (map-side argmin, no per-round dim shuffle) remains the 100 TB
    path; this long-form variant is the verification surface.
    (operators/clustering.py:kmeans_exact_longform)
    """
    from masd_spark.operators.clustering import kmeans_exact_longform

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_exact_longform(
        emb, dim=EMBEDDING_DIM, k=_KM_K, n_iter=_KM_ITER,
        seed=_KM_SEED, scale=_KM_SCALE,
    )


def _ivf_exact_refined_oracle(
    k: int = 10, n_centroids: int = _IVF_CENTROIDS, n_probe: int = _IVF_PROBE,
    n_iter: int = 3, seed: int = _IVF_SEED, scale: int = _KM_SCALE, dim: int = 64,
) -> str:
    """Composed oracle: the integer-Lloyd CTEs build the refined
    centroids, then assignment/probe by exact BIGINT L2 and a rounded
    cosine re-rank — the full provable IVF pipeline in one statement."""
    parts = _kmeans_exact_ctes(n_iter, n_centroids, scale, seed, dim)
    parts.append(f"""dall AS MATERIALIZED (
        SELECT q.vec_id, c.cid,
               CAST(sum((q.x - c.cx) * (q.x - c.cx)) AS BIGINT) AS d
        FROM q JOIN c{n_iter} c USING (dim)
        GROUP BY 1, 2
    ),
    assigned AS MATERIALIZED (
        SELECT vec_id, cid FROM dall
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d, cid) = 1
    ),
    probes AS MATERIALIZED (
        SELECT vec_id AS query_id, cid FROM dall
        WHERE vec_id % 100 = 0
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d, cid) <= {n_probe}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id,
               ROUND(list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
                                            CAST(ec.embedding AS DOUBLE[])),
                     6) AS cos_sim
        FROM probes p
        JOIN assigned a USING (cid)
        JOIN embeddings eq ON eq.vec_id = p.query_id
        JOIN embeddings ec ON ec.vec_id = a.vec_id
        WHERE a.vec_id <> p.query_id
    )""")
    return (
        "WITH " + ",\n    ".join(parts)
        + f"""
    SELECT query_id, vec_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS BIGINT)
               AS rank
    FROM scored QUALIFY rank <= {k}"""
    )


@register("ann_ivf_exact_refined_topk", oracle=valid_embeddings(_ivf_exact_refined_oracle()))
def ann_ivf_exact_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refined IVF, end-to-end hash-checkable: centroids from the
    integer fixed-point Lloyd (3 rounds, md5-seeded), cell assignment
    and probe selection by exact BIGINT L2, candidates cell-bounded,
    exact cosine re-rank of candidates only. Closes the last
    index-build determinism gap: ann_ivf_refined_topk's float centroids
    forced rows-only evidence, this twin proves the identical pipeline
    shape value-for-value. (operators/similarity.py:ivf_exact_refined_topk)
    """
    from masd_spark.operators.similarity import ivf_exact_refined_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_exact_refined_topk(
        emb, k=10, n_centroids=_IVF_CENTROIDS, n_probe=_IVF_PROBE,
        n_iter=3, seed=_IVF_SEED, scale=_KM_SCALE, dim=EMBEDDING_DIM,
    )


def _refined_bound_oracle() -> str:
    """Error-bound contract for the FLOAT-refined IVF (VERDICT r7 item 2):
    composes the two already-registered portable sub-oracles — the exact
    brute-force ground truth and the integer-Lloyd refined twin — into a
    metric row set DuckDB can state. Sub-oracles are read from REGISTRY
    (already valid_embeddings-rewritten; only the fresh probe-count scan
    gets the rewrite here)."""
    from masd_spark.queries import REGISTRY

    brute_sql = REGISTRY["ann_cosine_topk"].oracle
    twin_sql = REGISTRY["ann_ivf_exact_refined_topk"].oracle
    probes = valid_embeddings(
        "SELECT count(*) FROM embeddings WHERE vec_id % 100 = 0"
    )
    return f"""
    WITH exact AS MATERIALIZED (
        SELECT query_id, vec_id FROM ({brute_sql})
    ),
    ref AS MATERIALIZED (
        SELECT query_id, vec_id FROM ({twin_sql})
    )
    SELECT 'n_queries' AS metric, CAST(({probes}) AS BIGINT) AS value,
           TRUE AS ok
    UNION ALL
    SELECT 'exact_refined_recall_ppm',
           CAST((SELECT count(*)
                 FROM ref JOIN exact USING (query_id, vec_id)) * 1000000
                // (SELECT count(*) FROM exact) AS BIGINT),
           TRUE
    UNION ALL
    SELECT 'results_complete', CAST(NULL AS BIGINT), TRUE
    """


@register("ann_ivf_refined_topk", oracle=_refined_bound_oracle())
def ann_ivf_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION IVF shape: centroids Lloyd-refined with 3 k-means
    iterations (operators/clustering.py:kmeans_centroids — each iteration
    one map-side argmin + one d-column aggregate; only 16x64 floats reach
    the driver) before the identical probe/re-rank plan as
    ``ann_ivf_topk``. Refinement balances cells around the data's actual
    modes, buying recall at equal n_probe.

    Float-averaged centroids are not engine-portable, so the result is an
    error-bound contract (VERDICT r7 item 2) instead of rows-only: the
    portable probe count, the exact-refined twin's recall@10 vs brute
    force in ppm (an integer both engines derive from independently
    hash-checked parts), and booleans asserting the float-refined index
    covers every probe with a full k and its recall is within 0.15 of the
    twin's (measured: float 0.58 vs twin 0.56 at the gate — the float
    refinement is normally the better index; the band absorbs cell-
    boundary flips from float vs quantized Lloyd trajectories).
    """
    from masd_spark.operators.clustering import _kmeans_fit
    from masd_spark.operators.similarity import ivf_exact_refined_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # Optimization r9 (guide §2.4/§7.3): ONE materialized valid-vector
    # corpus (the Lloyd fit's own checkpoint) now feeds every leg — the
    # float probe, the brute-force ground truth, the exact twin and the
    # validity stats each re-planned and re-scanned the parquet + filter
    # lineage before. Every operator re-applies valid_vectors (a no-op on
    # the validated frame), so each leg's rows are unchanged — brute is
    # the same brute_force_topk call ann_cosine_topk registers, the twin
    # the same ivf_exact_refined_topk call its query registers.
    cents, va = _kmeans_fit(
        valid_vectors(emb, "vec_id", "embedding"),
        dim=EMBEDDING_DIM, k=_IVF_CENTROIDS, n_iter=3,
        id_col="vec_id", vec_col="embedding", seed=_IVF_SEED,
    )
    # Optimization r8 (guide §2.4): every contract operand below feeds
    # several counts/joins — materialize each expensive subtree ONCE
    # (brute force was re-executed 3x, the float probe plan 2x) and
    # broadcast the tiny n_queries*k ground truth into the recall joins
    # (a checkpointed LogicalRDD has no size estimate for auto-broadcast).
    flt = ivf_topk(
        va,
        _queries_df(va),
        k=10,
        n_centroids=_IVF_CENTROIDS,
        n_probe=_IVF_PROBE,
        seed=_IVF_SEED,
        centroids=cents,
    ).select("query_id", "vec_id").localCheckpoint(eager=True)

    brute = (
        _exact_leg(va)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    twin = ivf_exact_refined_topk(
        va, k=10, n_centroids=_IVF_CENTROIDS, n_probe=_IVF_PROBE,
        n_iter=3, seed=_IVF_SEED, scale=_KM_SCALE, dim=EMBEDDING_DIM,
    ).select("query_id", "vec_id")
    total = brute.count()
    # empty ground truth: DuckDB's 0 // 0 is NULL — mirror it
    twin_ppm = (
        (
            twin.join(F.broadcast(brute), ["query_id", "vec_id"]).count()
            * 1_000_000
            // total
        )
        if total
        else None
    )
    float_ppm = (
        (
            flt.join(F.broadcast(brute), ["query_id", "vec_id"]).count()
            * 1_000_000
            // total
        )
        if total
        else None
    )

    # one corpus pass for both counts, one pass for both per-query stats
    # (va is the fit's checkpoint of exactly the valid rows)
    vstats = va.agg(
        F.count("*").alias("n_valid"),
        F.count(F.when(F.col("vec_id") % 100 == 0, 1)).alias("n_probes"),
    ).collect()[0]
    n_valid, n_probes = vstats["n_valid"], vstats["n_probes"]
    qstats = (
        flt.groupBy("query_id")
        .agg(F.count("*").alias("c"))
        .agg(
            F.count("*").alias("n_q"),
            F.coalesce(
                F.sum((F.col("c") != 10).cast("bigint")), F.lit(0)
            ).alias("incomplete"),
        )
        .collect()[0]
    )
    n_q = qstats["n_q"]
    complete = qstats["incomplete"] == 0

    # Full-k completeness (10 rows per probe) is a corpus-size claim, not
    # a universal invariant: with few valid vectors the probed cells of a
    # 16-centroid index legitimately hold < k candidates, and a
    # single-valid-vector slice returns no neighbor rows at all. The
    # oracle states TRUE unconditionally, so below the calibrated floor
    # the claims hold vacuously True on both sides (same pattern as the
    # ladder-calibrated contract floors, r8); both committed gates carry
    # 500-row embeddings tables, comfortably above it, so detection
    # power at the gate is unchanged.
    degenerate = n_valid < _IVF_CONTRACT_FLOOR

    rows = [
        ("n_queries", n_probes, bool(degenerate or n_q == n_probes)),
        (
            "exact_refined_recall_ppm",
            twin_ppm,
            bool(
                twin_ppm is None or float_ppm >= twin_ppm - 150_000
            ),
        ),
        (
            "results_complete",
            None,
            bool(degenerate or (complete and n_q == n_probes)),
        ),
    ]
    return spark.createDataFrame(rows, "metric string, value bigint, ok boolean")


@register(
    "emb_gram_upper",
    oracle=valid_embeddings(f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id, i AS dim,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {_KM_SCALE}) AS BIGINT)
                   AS x
        FROM embeddings CROSS JOIN range(1, 65) t(i)
    )
    SELECT a.dim AS dim_i, b.dim AS dim_j,
           CAST(sum(a.x * b.x) AS BIGINT) AS gram
    FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim <= b.dim
    GROUP BY 1, 2
    """),
)
def emb_gram_upper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gram matrix X^T X (upper triangle, 64x65/2 = 2080 cells) over
    1e-4-quantized embeddings — exact BIGINT sums, fully hash-checked.
    This is the DISTRIBUTED 95% of the PCA pipeline: emb_pca_top_component
    reduces the corpus to exactly this d x d matrix (Arrow/BLAS partials)
    and only the final d x d eigensolve runs driver-local — so this query
    turns the scan+reduce stage of the one rows-only linear-algebra
    kernel into hard oracle evidence, leaving only numpy's eigh outside
    the proof. Long-form dim self-join keyed by vec_id: one shuffle of
    dim rows, partial-aggregable products.
    """
    emb = valid_vectors(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )
    q = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda v: F.round(v.cast("double") * _KM_SCALE).cast("bigint"),
            )
        ).alias("pos", "x"),
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "x")
    a = q.select("vec_id", F.col("dim").alias("dim_i"), F.col("x").alias("xi"))
    b = q.select("vec_id", F.col("dim").alias("dim_j"), F.col("x").alias("xj"))
    return (
        a.join(b, "vec_id")
        .filter(F.col("dim_i") <= F.col("dim_j"))
        .groupBy("dim_i", "dim_j")
        .agg(F.sum(F.col("xi") * F.col("xj")).alias("gram"))
    )


_PI_BIG = 4 * 10**15  # renorm bound: entries stay < 2^53 (double-exact)
_PI_SQUARINGS = 12  # 2^12 = 4096 effective power iterations


def _pca_power_oracle(
    dim: int = EMBEDDING_DIM,
    scale: int = 10**4,
    big: int = _PI_BIG,
    n_squarings: int = _PI_SQUARINGS,
) -> str:
    """DuckDB twin of pca_power_iteration_exact: the identical integer
    squaring chain in HUGEINT (int128 holds the <=1e33 matmul cells that
    Spark carries in DECIMAL(38,0)); `//` and Spark's `div` both truncate
    toward zero (verified), so every intermediate is the same integer."""
    parts = [
        f"""q AS MATERIALIZED (
        SELECT vec_id AS rid, i AS dim,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {scale}) AS BIGINT) AS x
        FROM embeddings CROSS JOIN range(1, {dim + 1}) t(i))""",
        """p AS MATERIALIZED (SELECT a.dim AS i, b.dim AS j, CAST(sum(a.x * b.x) AS HUGEINT) AS p
          FROM q a JOIN q b ON a.rid = b.rid GROUP BY 1, 2)""",
        "s AS MATERIALIZED (SELECT dim AS i, CAST(sum(x) AS HUGEINT) AS s FROM q GROUP BY 1)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS n FROM embeddings)",
        """m0 AS MATERIALIZED (
        SELECT p.i, p.j, (SELECT n FROM nn) * p.p - sa.s * sb.s AS x
        FROM p JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j)""",
    ]
    for r in range(n_squarings):
        parts.append(
            f"""r{r} AS MATERIALIZED (
        SELECT i, j,
               x // greatest((SELECT max(abs(x)) FROM m{r}) // {big}, 1) AS x
        FROM m{r})"""
        )
        parts.append(
            f"""m{r + 1} AS MATERIALIZED (
        SELECT a.i AS i, b.j AS j, CAST(sum(a.x * b.x) AS HUGEINT) AS x
        FROM r{r} a JOIN r{r} b ON a.j = b.i GROUP BY 1, 2)"""
        )
    parts.append(
        f"""rf AS MATERIALIZED (
        SELECT i, j,
               x // greatest((SELECT max(abs(x)) FROM m{n_squarings}) // {big}, 1)
                   AS x
        FROM m{n_squarings})"""
    )
    parts.append(
        "jstar AS MATERIALIZED (SELECT i AS js FROM rf WHERE i = j ORDER BY x DESC, i LIMIT 1)"
    )
    parts.append(
        """colv AS MATERIALIZED (
        SELECT rf.i AS dim, rf.x AS y FROM rf
        WHERE rf.j = (SELECT js FROM jstar))"""
    )
    parts.append("nrm AS MATERIALIZED (SELECT CAST(sum(y * y) AS HUGEINT) AS n2 FROM colv)")
    return (
        "WITH " + ",\n    ".join(parts)
        + """
    SELECT CAST(dim AS BIGINT) AS dim,
           """
        + qround6_sql(
            "CAST(y AS DOUBLE) / sqrt(CAST((SELECT n2 FROM nrm) AS DOUBLE))"
        )
        + """ AS loading
    FROM colv"""
    )


@register("emb_pca_power_iteration", oracle=valid_embeddings(_pca_power_oracle()))
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component, end-to-end hash-checkable: 12 integer
    matrix SQUARINGS (= 4096 power iterations, enough for the fixture's
    near-flat spectrum) over the quantized covariance surrogate
    n*P - s*s^T, with truncating-division renormalization — every
    intermediate an exact integer in both engines. Proves the eigensolve
    step that emb_pca_top_component leaves to driver-local numpy.eigh
    (VERDICT r4 item 7); the distributed Gram stage is emb_gram_upper's.
    (operators/clustering.py:pca_power_iteration_exact)
    """
    from masd_spark.operators.clustering import pca_power_iteration_exact

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_power_iteration_exact(
        emb, dim=EMBEDDING_DIM, scale=_KM_SCALE, big=_PI_BIG,
        n_squarings=_PI_SQUARINGS,
    )


# ---------------------------------------------------------------------------
# ANN method legs (optimization r9, guide §2.4): the single source of truth
# for each method's plan over a GIVEN embeddings frame. The registered
# queries load the parquet table and delegate here; ann_recall_report
# (queries/ann_eval.py) feeds every leg ONE materialized valid-vector
# corpus instead of six independent parquet-scan lineages — same operator
# calls, same constants, so each leg's rows are identical to its
# registered query's (the report's oracle composes the registered
# sub-oracles and the driver hash-checks it).
# ---------------------------------------------------------------------------


def _exact_leg(emb: DataFrame) -> DataFrame:
    return brute_force_topk(emb, _queries_df(emb), k=10)


def _lsh_leg(emb: DataFrame) -> DataFrame:
    return lsh_topk(
        emb, _queries_df(emb), dim=EMBEDDING_DIM, k=10,
        n_planes=_LSH_PLANES, n_tables=_LSH_TABLES, seed=_LSH_SEED,
    )


def _ivf_leg(emb: DataFrame) -> DataFrame:
    return ivf_topk(
        emb, _queries_df(emb), k=10,
        n_centroids=_IVF_CENTROIDS, n_probe=_IVF_PROBE, seed=_IVF_SEED,
    )


def _quantized_leg(emb: DataFrame) -> DataFrame:
    from masd_spark.operators.similarity import quantized_topk

    return quantized_topk(emb, _queries_df(emb), k=10, dim=EMBEDDING_DIM)


def _pq_leg(emb: DataFrame) -> DataFrame:
    from masd_spark.operators.similarity import pq_topk

    return pq_topk(
        emb, _queries_df(emb), dim=EMBEDDING_DIM, k=10, m=_PQ_M,
        n_codes=_PQ_CODES, rerank=_PQ_RERANK, seed=_PQ_SEED,
    )


def _ivfpq_leg(emb: DataFrame) -> DataFrame:
    from masd_spark.operators.similarity import ivfpq_topk

    return ivfpq_topk(
        emb, _queries_df(emb), dim=EMBEDDING_DIM, k=10,
        n_centroids=_IVF_CENTROIDS, n_probe=_IVF_PROBE, m=_PQ_M,
        n_codes=_PQ_CODES, rerank=_IVFPQ_RERANK,
        ivf_seed=_IVF_SEED, pq_seed=_PQ_SEED,
    )


ANN_LEGS = {
    "ann_cosine_topk": _exact_leg,
    "ann_lsh_topk": _lsh_leg,
    "ann_ivf_topk": _ivf_leg,
    "ann_quantized_topk": _quantized_leg,
    "ann_pq_topk": _pq_leg,
    "ann_ivfpq_topk": _ivfpq_leg,
}
