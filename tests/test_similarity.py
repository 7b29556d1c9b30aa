"""Oracle parity for exact ANN; recall measurement for the LSH variant."""

import pytest
from pyspark.sql import functions as F

from masd_spark.queries import load_all
from tests.conftest import SF_ORACLE
from tests.oracle import compare_query

REGISTRY = load_all()


def test_ann_cosine_topk_parity(spark):
    compare_query(spark, REGISTRY["ann_cosine_topk"], SF_ORACLE)


def _fixture_corpus(spark):
    from masd_spark.sources.tables import load_table

    return load_table(spark, SF_ORACLE, "embeddings")


def _every_100th(corpus):
    return corpus.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_brute_force_arrow_kernel_matches_hof(spark):
    """Equality pin for brute_force_topk's mapInArrow scoring: the NumPy
    kernel must reproduce the JVM reference (_brute_force_topk_jvm)
    ROW-FOR-ROW (same ids, same rounded cosines, same ranks) on the
    fixture corpus — the shape every declared query scores. Zero-norm
    and empty vectors are pinned in
    test_zero_and_empty_vectors_excluded_on_every_path."""
    from masd_spark.operators.similarity import (
        _brute_force_topk_jvm,
        brute_force_topk,
    )

    corpus = _fixture_corpus(spark)
    queries = _every_100th(corpus)
    arrow_rows = _rows(brute_force_topk(corpus, queries, k=10))
    assert arrow_rows == _rows(_brute_force_topk_jvm(corpus, queries, k=10))
    assert len(arrow_rows) > 0


def test_cosine_pairs_arrow_kernel_matches_theta_join(spark):
    """Equality pin for cosine_pairs' mapInArrow all-pairs path: the
    NumPy kernel must reproduce the JVM theta-join reference
    (_cosine_pairs_jvm) ROW-FOR-ROW (same pairs, same rounded cosines)
    on the fixture corpus, with and without a group column."""
    from masd_spark.operators.similarity import _cosine_pairs_jvm, cosine_pairs

    corpus = _fixture_corpus(spark)
    arrow_rows = _rows(cosine_pairs(corpus, threshold=0.35))
    assert arrow_rows == _rows(_cosine_pairs_jvm(corpus, threshold=0.35))
    assert len(arrow_rows) > 0
    grouped = corpus.withColumn("g", (F.col("vec_id") % 3).cast("int"))
    arrow_rows = _rows(cosine_pairs(grouped, 0.35, group_col="g"))
    assert arrow_rows == _rows(_cosine_pairs_jvm(grouped, 0.35, group_col="g"))
    assert 0 < len(arrow_rows) < len(_rows(cosine_pairs(corpus, 0.35)))


def test_bucket_rows_arrow_kernel_matches_hof(spark):
    """Equality pin for the vectorized LSH bucketing: the mapInArrow
    kernel (bucket_rows) must emit the IDENTICAL (id, table, bucket) row
    multiset as the HOF explode reference (_bucket_rows_hof) — same
    column-stepped fold doubles, same sign test, same bit sums — on the
    fixture corpus AND on a crafted frame with ragged vector lengths
    (length != dim folds to NULL in the HOF path and must bucket to 0
    per table in both)."""
    from masd_spark.operators.similarity import (
        _bucket_rows_hof,
        bucket_rows,
        valid_vectors,
    )

    corpus = valid_vectors(_fixture_corpus(spark), "vec_id", "embedding")
    ragged = spark.createDataFrame(
        [
            (1, [0.5] * 64),
            (2, [0.5] * 63),          # short: NULL fold -> bucket 0
            (3, [-0.25] * 65),        # long: NULL fold -> bucket 0
            (4, []),                  # empty
            (5, [-1.0] * 64),
        ],
        "vec_id bigint, embedding array<double>",
    )

    for frame in (corpus, ragged):
        args = (frame, 64, 6, 8, 42, "vec_id", "embedding")
        arrow_rows = sorted(tuple(r) for r in bucket_rows(*args).collect())
        assert arrow_rows == sorted(
            tuple(r) for r in _bucket_rows_hof(*args).collect()
        )
        assert len(arrow_rows) > 0
    # ragged rows really do land in bucket 0 of every table
    assert all(b == 0 for (i, t, b) in arrow_rows if i in (2, 3, 4))


def _injected_clusters(emb):
    """vec_id % 3 as the cluster: isolates semantic_dedup's pair stage
    (float Lloyd centroids are not bit-stable across runs and would make
    a whole-pipeline pin flaky)."""
    from masd_spark.operators.similarity import valid_vectors

    return valid_vectors(emb, "vec_id", "embedding").select(
        "vec_id", (F.col("vec_id") % 3).cast("int").alias("cluster")
    )


def test_semantic_dedup_arrow_kernel_matches_cluster_join(spark):
    """semantic_dedup's verdicts come from the shared pair scorer: with
    an injected assignment, its (vec_id, cluster, keep) rows equal the
    verdicts derived from the JVM reference _cosine_pairs_jvm grouped by
    cluster (a row is dropped iff it is the higher id of a pair)."""
    from masd_spark.operators.clustering import semantic_dedup
    from masd_spark.operators.similarity import _cosine_pairs_jvm

    emb = _fixture_corpus(spark)
    assignment = _injected_clusters(emb)
    got = sorted(
        tuple(r)
        for r in semantic_dedup(
            emb, dim=64, threshold=0.35, assignment=assignment
        ).collect()
    )
    members = emb.join(assignment, "vec_id")
    dropped = {
        r.id_b
        for r in _cosine_pairs_jvm(members, 0.35, group_col="cluster").collect()
    }
    want = sorted(
        (r.vec_id, r.cluster, r.vec_id not in dropped)
        for r in assignment.collect()
    )
    assert got == want
    assert any(not keep for _, _, keep in got)  # some drops actually happen


def test_semantic_dedup_verdicts_match_on_both_scorer_routes(spark):
    """The scorer route is picked by the input, not by a switch: integral
    ids take the Arrow kernel, fractional ids the JVM equi-join. The
    same corpus and clusters under both id types must give the same
    verdicts (ids compare the same as bigint and as double)."""
    from masd_spark.operators.clustering import semantic_dedup
    from masd_spark.operators.similarity import _integral_type

    emb = _fixture_corpus(spark)
    assignment = _injected_clusters(emb)

    def as_double(df):
        return df.withColumn("vec_id", F.col("vec_id").cast("double"))

    assert _integral_type(emb, "vec_id")
    assert not _integral_type(as_double(emb), "vec_id")
    arrow = semantic_dedup(emb, dim=64, threshold=0.35, assignment=assignment)
    jvm = semantic_dedup(
        as_double(emb), dim=64, threshold=0.35,
        assignment=as_double(assignment),
    )
    arrow_rows = sorted((int(r[0]), r[1], r[2]) for r in arrow.collect())
    assert arrow_rows == sorted((int(r[0]), r[1], r[2]) for r in jvm.collect())
    assert any(not keep for _, _, keep in arrow_rows)


def test_zero_and_empty_vectors_excluded_on_every_path(spark, tmp_path):
    """Zero-norm contract: an all-zero vector and an empty vector have
    no direction (cosine is 0/0), so valid_vectors and the SQL twin
    exclude them from corpus and queries alike. Planted in both roles
    next to real fixture vectors, they must appear in no path's output,
    and brute_force_topk, its JVM reference, cosine_pairs on both
    scorers, and the ann_cosine_topk / dedup_embedding_cosine oracles
    must agree. (Before the contract the paths disagreed: the NumPy
    kernel ranked the zero vector first with NaN, cosine() last with
    NULL, the precomputed-norm form aborted with DIVIDE_BY_ZERO, and
    DuckDB scored it -1.0.) PCA shares the contract, so the planted
    rows add nothing to its row count either."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from masd_spark.operators.similarity import (
        _brute_force_topk_jvm,
        _cosine_pairs_jvm,
        brute_force_topk,
        cosine_pairs,
    )
    from masd_spark.sources.tables import TABLE_NAMES, load_table

    real = pq.read_table(os.path.join(SF_ORACLE, "embeddings.parquet"))
    real = real.slice(0, 120)  # ids 0 and 100 are queries
    planted = {1000: [0.0] * 64, 1100: [], 1001: [0.0] * 64, 1002: []}
    extra = pa.table(
        {
            "vec_id": pa.array(list(planted), type=pa.int64()),
            "embedding": pa.array(
                list(planted.values()), type=real.schema.field("embedding").type
            ),
            "label": pa.array([0] * len(planted), type=pa.int32()),
        }
    ).cast(real.schema)
    for t in TABLE_NAMES:
        schema = pq.read_schema(os.path.join(SF_ORACLE, f"{t}.parquet"))
        pq.write_table(schema.empty_table(), str(tmp_path / f"{t}.parquet"))
    pq.write_table(
        pa.concat_tables([real, extra]), str(tmp_path / "embeddings.parquet")
    )
    sf_dir = str(tmp_path)

    compare_query(spark, REGISTRY["ann_cosine_topk"], sf_dir)
    compare_query(spark, REGISTRY["dedup_embedding_cosine"], sf_dir)

    corpus = load_table(spark, sf_dir, "embeddings")
    queries = _every_100th(corpus)
    topk = _rows(brute_force_topk(corpus, queries, k=10))
    assert topk == _rows(_brute_force_topk_jvm(corpus, queries, k=10))
    pairs = _rows(cosine_pairs(corpus, threshold=0.0))
    assert pairs == _rows(_cosine_pairs_jvm(corpus, threshold=0.0))

    assert {r[0] for r in topk} == {"0", "100"}
    assert len(topk) == 20
    assert len(pairs) > 0
    ids = {v for r in topk for v in r[:2]} | {v for r in pairs for v in r[:2]}
    assert not ids & {str(i) for i in planted}
    assert all(r[2] not in ("None", "nan") for r in topk + pairs)

    from masd_spark.operators.clustering import pca_top_component

    assert pca_top_component(corpus, dim=64)[2] == real.num_rows
    compare_query(spark, REGISTRY["emb_pca_top_component"], sf_dir)


def test_bucketed_cosine_parity(spark):
    compare_query(spark, REGISTRY["dedup_embedding_cosine_bucketed"], SF_ORACLE)


def test_ann_lsh_topk_parity(spark):
    """The LSH plan's oracle reproduces the same hyperplane buckets in SQL
    (driver hash-green in r04); keep the local twin so a registry change
    can't silently break the deterministic bucketing before a driver run."""
    compare_query(spark, REGISTRY["ann_lsh_topk"], SF_ORACLE)


def test_ann_ivf_topk_parity(spark):
    compare_query(spark, REGISTRY["ann_ivf_topk"], SF_ORACLE)


def test_ann_ivf_persisted_topk_parity(spark):
    compare_query(spark, REGISTRY["ann_ivf_persisted_topk"], SF_ORACLE)


def test_ivf_persisted_probe_plan_and_bucketing(spark):
    """The persisted-index probe must be index-side shuffle-free: the
    only shuffle exchange in the whole plan is the final per-query top-k
    window (probe set and query vectors are broadcast; the candidate
    join reads the bucketed corpus scan directly). The index table itself
    must carry the bucket spec in the catalog — that is the write-time
    contract that makes future cell-keyed joins exchange-free too."""
    from masd_spark.plans.explain import count_exchanges, physical_plan

    df = REGISTRY["ann_ivf_persisted_topk"].fn(spark, SF_ORACLE)
    plan = physical_plan(df)
    assert count_exchanges(df) <= 1, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    import hashlib

    table = f"ann_ivf_index_{hashlib.md5(SF_ORACLE.encode()).hexdigest()[:8]}"
    detail = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    }
    assert detail.get("Num Buckets") == "16", detail
    assert "_cid" in detail.get("Bucket Columns", ""), detail


def test_ivf_incremental_append_matches_one_shot_build(spark, tmp_path):
    """Incremental maintenance correctness: build the index on half the
    corpus, append the other half with the STORED centroid geometry, and
    the probe must be row-identical to an inline index over the full
    corpus with the same centroids — appends must not perturb cells,
    norms, or ranking."""
    from masd_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        ivf_persisted_topk,
        ivf_topk,
        load_ivf_centroids,
    )
    from masd_spark.queries.similarity import (
        _IVF_CENTROIDS,
        _IVF_PROBE,
        _IVF_SEED,
        _queries_df,
    )
    from masd_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    table = "ann_ivf_index_incr_test"
    try:
        build_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 0),
            table,
            n_centroids=_IVF_CENTROIDS,
            seed=_IVF_SEED,
            path=str(tmp_path / table),
        )
        append_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), table)
        incr = ivf_persisted_topk(
            spark, _queries_df(emb), table,
            k=10, n_probe=_IVF_PROBE,
        )
        cents = [v for _, v, _ in load_ivf_centroids(spark, table)]
        oneshot = ivf_topk(
            emb, _queries_df(emb),
            k=10,
            n_centroids=_IVF_CENTROIDS, n_probe=_IVF_PROBE,
            seed=_IVF_SEED, centroids=cents,
        )
        a = sorted(map(tuple, incr.collect()))
        b = sorted(map(tuple, oneshot.collect()))
        assert a == b and len(a) > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_centroids")


def test_ivf_append_to_empty_index_fails_fast(spark, tmp_path):
    """An index built on an empty corpus has no centroid geometry —
    appending to it must raise, not silently write unassignable rows."""
    from masd_spark.operators.similarity import append_ivf_index, build_ivf_index
    from masd_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    table = "ann_ivf_index_empty_test"
    try:
        build_ivf_index(emb.limit(0), table, path=str(tmp_path / table))
        with pytest.raises(ValueError, match="no centroids"):
            append_ivf_index(emb, table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_centroids")


def test_bucketed_cosine_recall_and_precision(spark):
    """The bucketed near-dup must (a) return ONLY pairs the exact join
    returns, with identical scores (precision 1.0 — verification is exact),
    and (b) find nearly all pairs in the high-cosine regime it targets."""
    exact = REGISTRY["dedup_embedding_cosine"].fn(spark, SF_ORACLE).cache()
    bucketed = REGISTRY["dedup_embedding_cosine_bucketed"].fn(spark, SF_ORACLE).cache()
    # precision: bucketed ⊆ exact (same scores on the shared pair keys)
    extra = bucketed.join(exact, ["id_a", "id_b", "cos_sim"], "left_anti").count()
    assert extra == 0, f"bucketed emitted {extra} pairs the exact join lacks"
    # recall across the fixture's whole band (cos in [0.35, 0.51]): the
    # (4 planes, 16 tables) setting predicts >= 0.91 at the 0.35 floor.
    n_exact = exact.count()
    assert n_exact > 0, "fixture should contain near-dup pairs"
    found = exact.join(bucketed, ["id_a", "id_b"], "left_semi").count()
    recall = found / n_exact
    assert recall >= 0.85, f"recall {recall:.2f} ({found}/{n_exact})"


def test_bucketed_cosine_no_nested_loop_plan(spark):
    """The registered near-dup plan must not contain an all-pairs join:
    no BroadcastNestedLoopJoin / CartesianProduct anywhere."""
    from masd_spark.plans.explain import physical_plan

    df = REGISTRY["dedup_embedding_cosine_bucketed"].fn(spark, SF_ORACLE)
    plan = physical_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_kmeans_inertia_decreases_and_covers(spark):
    """Lloyd's algorithm invariants: the objective is monotonically
    non-increasing with iterations, every vector is assigned, and cluster
    ids stay in range."""
    from masd_spark.operators.clustering import kmeans_assign, kmeans_inertia
    from masd_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    n = emb.count()
    inertias = []
    for it in [1, 3, 5]:
        assigned = kmeans_assign(emb, dim=64, k=8, n_iter=it)
        inertias.append(kmeans_inertia(assigned))
    assert inertias[0] >= inertias[1] >= inertias[2] - 1e-6, inertias

    final = kmeans_assign(emb, dim=64, k=8, n_iter=5)
    assert final.count() == n
    clusters = {r["cluster"] for r in final.select("cluster").distinct().collect()}
    assert clusters <= set(range(8)) and len(clusters) >= 2


def test_ivf_topk_recall(spark):
    """IVF scans n_probe/n_centroids of the corpus; scores must agree with
    the exact query on overlapping pairs and recall must clear the
    fraction-scanned floor by a wide margin (near neighbors concentrate in
    the probed cells)."""
    exact = REGISTRY["ann_cosine_topk"].fn(spark, SF_ORACLE).cache()
    approx = REGISTRY["ann_ivf_topk"].fn(spark, SF_ORACLE).cache()
    overlap = exact.join(approx, ["query_id", "vec_id"], "inner")
    n_exact = exact.count()
    assert n_exact > 0
    mismatched = overlap.filter(
        F.abs(exact["cos_sim"] - approx["cos_sim"]) > 1e-9
    ).count()
    assert mismatched == 0
    recall = overlap.count() / n_exact
    assert recall >= 0.4, f"IVF recall {recall:.2f} below floor"


def test_ivf_refined_recall_at_least_seeded(spark):
    """Lloyd-refined centroids must not LOSE recall vs the seeded sample
    at equal n_probe (the whole point of refinement), and scores on
    overlapping pairs stay exact."""
    from masd_spark.operators.clustering import kmeans_centroids
    from masd_spark.operators.similarity import ivf_topk
    from masd_spark.queries.similarity import (
        EMBEDDING_DIM,
        _IVF_CENTROIDS,
        _IVF_PROBE,
        _IVF_SEED,
        _queries_df,
    )
    from masd_spark.sources.tables import load_table as _lt

    emb = _lt(spark, SF_ORACLE, "embeddings")
    exact = REGISTRY["ann_cosine_topk"].fn(spark, SF_ORACLE).cache()
    seeded = REGISTRY["ann_ivf_topk"].fn(spark, SF_ORACLE).cache()
    refined = ivf_topk(
        emb, _queries_df(emb), k=10,
        n_centroids=_IVF_CENTROIDS, n_probe=_IVF_PROBE, seed=_IVF_SEED,
        centroids=kmeans_centroids(
            emb, dim=EMBEDDING_DIM, k=_IVF_CENTROIDS, n_iter=3, seed=_IVF_SEED
        ),
    ).cache()
    # the registered contract query must certify the same pipeline
    contract = REGISTRY["ann_ivf_refined_topk"].fn(spark, SF_ORACLE).collect()
    assert all(r.ok for r in contract), contract
    n_exact = exact.count()
    assert n_exact > 0
    mismatched = (
        exact.join(refined, ["query_id", "vec_id"], "inner")
        .filter(F.abs(exact["cos_sim"] - refined["cos_sim"]) > 1e-9)
        .count()
    )
    assert mismatched == 0
    r_seeded = exact.join(seeded, ["query_id", "vec_id"], "inner").count() / n_exact
    r_refined = exact.join(refined, ["query_id", "vec_id"], "inner").count() / n_exact
    assert r_refined >= r_seeded - 0.02, (
        f"refined recall {r_refined:.2f} < seeded {r_seeded:.2f}"
    )
    assert r_refined >= 0.4


def test_lsh_topk_recall(spark):
    """LSH top-k is approximate; recall vs brute force must be non-trivial
    and every returned neighbor must be a genuine bucket-mate with correct
    cosine (verified implicitly: scores match the exact query's on
    overlapping (query, vec) pairs).
    """
    exact = REGISTRY["ann_cosine_topk"].fn(spark, SF_ORACLE).cache()
    approx = REGISTRY["ann_lsh_topk"].fn(spark, SF_ORACLE).cache()
    overlap = exact.join(approx, ["query_id", "vec_id"], "inner")
    n_exact = exact.count()
    n_overlap = overlap.count()
    assert n_exact > 0
    # cosine scores agree where both returned the pair
    mismatched = overlap.filter(
        F.abs(exact["cos_sim"] - approx["cos_sim"]) > 1e-9
    ).count()
    assert mismatched == 0
    recall = n_overlap / n_exact
    assert recall >= 0.2, f"LSH recall {recall:.2f} suspiciously low"


def test_semantic_dedup_subset_of_exact_and_recall(spark):
    """Monotone drop rule: every id semantic-dedup drops must also be
    dropped by the exact all-pairs dedup (precision 1.0 by construction);
    recall (dropped/exact-dropped) is bounded by co-clustering — pin a
    floor so a degenerate clustering (everything its own cluster => no
    drops) fails loudly."""
    from masd_spark.operators.clustering import semantic_dedup
    from masd_spark.operators.similarity import cosine_pairs
    from masd_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    verdicts = semantic_dedup(emb, dim=64, threshold=0.35, k=8, n_iter=5)
    sem_dropped = {
        r["vec_id"] for r in verdicts.filter(~F.col("keep")).collect()
    }
    exact_dropped = {
        r["id_b"]
        for r in cosine_pairs(emb, threshold=0.35)
        .select("id_b")
        .distinct()
        .collect()
    }
    assert sem_dropped <= exact_dropped, sem_dropped - exact_dropped
    assert exact_dropped, "fixture has no near-dup pairs at 0.35"
    recall = len(sem_dropped) / len(exact_dropped)
    assert recall >= 0.3, f"co-clustering recall collapsed: {recall:.2f}"


def test_semantic_dedup_verdict_covers_all_rows(spark):
    """Every input id appears exactly once with a boolean verdict."""
    from masd_spark.operators.clustering import semantic_dedup
    from masd_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    verdicts = semantic_dedup(emb, dim=64, threshold=0.35, k=8, n_iter=5)
    assert verdicts.count() == emb.count()
    assert verdicts.select("vec_id").distinct().count() == emb.count()
    assert verdicts.filter(F.col("keep").isNull()).count() == 0


def test_quantized_topk_parity(spark):
    compare_query(spark, REGISTRY["ann_quantized_topk"], SF_ORACLE)


def test_quantized_topk_recall_vs_exact(spark):
    """int8 cosine must track exact cosine closely — top-10 recall >= 0.9
    (measured 1.0 on the fixture; the margin absorbs future fixtures)."""
    exact = REGISTRY["ann_cosine_topk"].fn(spark, SF_ORACLE)
    quant = REGISTRY["ann_quantized_topk"].fn(spark, SF_ORACLE)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    q = {(r.query_id, r.vec_id) for r in quant.collect()}
    assert e, "exact baseline empty"
    assert len(e & q) / len(e) >= 0.9


def test_quantize_int8_bounds_and_zero_vector(spark):
    """Quantized values stay in [-127, 127]; max-|x| element hits ±127;
    the all-zero vector quantizes to zeros (no NaN/overflow path)."""
    from masd_spark.functions.vectors import quantize_int8

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "id int, v array<float>",
    ).select("id", quantize_int8(F.col("v")).alias("q"))
    got = {r.id: r.q for r in df.collect()}
    assert got[1] == [64, -127, 32]
    assert got[2] == [0, 0, 0]


def test_pca_top_component_matches_numpy(spark):
    """Power iteration's direction must align with numpy's exact top
    eigenvector (|cos| > 1 - 1e-6) and the eigenvalue must match to
    relative 1e-3 (power iteration converges the value slower than the
    direction)."""
    import numpy as np

    from masd_spark.operators.clustering import pca_top_component
    from masd_spark.sources.tables import load_table as _lt

    v_list, eig, _n = pca_top_component(
        _lt(spark, SF_ORACLE, "embeddings"), dim=64, vec_col="embedding"
    )
    v = np.array(v_list)
    # the registered contract query must certify the same kernel
    contract = REGISTRY["emb_pca_top_component"].fn(spark, SF_ORACLE).collect()
    assert all(r.ok for r in contract), contract

    from masd_spark.sources.tables import load_table

    X = np.array(
        [
            [float(x) for x in r.embedding]
            for r in load_table(spark, SF_ORACLE, "embeddings").collect()
        ]
    )
    C = np.cov(X, rowvar=False)
    w, vecs = np.linalg.eigh(C)
    top = vecs[:, -1]
    cos = abs(float(np.dot(v, top)) / (np.linalg.norm(v) * np.linalg.norm(top)))
    assert cos > 1 - 1e-6, cos
    assert abs(eig - w[-1]) / w[-1] < 1e-3, (eig, w[-1])


def test_pq_topk_parity(spark):
    compare_query(spark, REGISTRY["ann_pq_topk"], SF_ORACLE)


def test_pq_topk_recall_vs_exact(spark):
    """Sampled-codebook PQ with a 200-candidate exact re-rank holds
    recall@10 >= 0.9 on the fixture (0.94 measured)."""
    exact = REGISTRY["ann_cosine_topk"].fn(spark, SF_ORACLE).cache()
    pq = REGISTRY["ann_pq_topk"].fn(spark, SF_ORACLE).cache()
    total = exact.count()
    hits = exact.join(pq, ["query_id", "vec_id"]).count()
    assert hits / total >= 0.9, f"PQ recall@10 {hits}/{total}"


def test_pq_adc_scan_carries_codes_not_vectors(spark):
    """The ADC pair scan must read (id, codes, recon-norm) only — the
    raw embedding array (the 32x-bigger representation) may appear just
    in the codebook build and the bounded exact re-rank, never on the
    corpus side of the all-pairs ADC join. Checked structurally: the
    BroadcastNestedLoopJoin's streamed Project contains no `embedding`
    reference."""
    from masd_spark.plans.explain import physical_plan

    spark.catalog.clearCache()  # the recall test caches this same plan
    df = REGISTRY["ann_pq_topk"].fn(spark, SF_ORACLE)
    plan = physical_plan(df)
    assert plan.count("BroadcastNestedLoopJoin") == 1, (
        "expected exactly the ADC scan as a broadcast nested-loop join"
    )
    # the streamed-side projection feeding the ADC join emits the code
    # columns without the argmin markers (`least(`/`array_min(` — the
    # encoding Project below it) or `_lut` (the scoring Project above
    # it) — that row must carry no embedding
    stream_proj = [
        line
        for line in plan.splitlines()
        if "Project" in line
        and "_c0#" in line
        and "least(" not in line
        and "array_min(" not in line
        and "_lut" not in line
    ]
    assert stream_proj, "codes-only streamed projection not found"
    for line in stream_proj:
        assert "embedding#" not in line, (
            f"ADC scan carries raw vectors: {line[:200]}"
        )


def test_ivfpq_topk_parity(spark):
    compare_query(spark, REGISTRY["ann_ivfpq_topk"], SF_ORACLE)


def test_ivfpq_recall_and_exact_scores(spark):
    """The composed index's recall is IVF cell co-residence x ADC
    ordering quality (0.48 measured with untrained samples; floor 0.35);
    overlapping pairs must carry the EXACT cosine — re-ranking is exact
    by construction."""
    spark.catalog.clearCache()
    exact = REGISTRY["ann_cosine_topk"].fn(spark, SF_ORACLE).cache()
    comp = REGISTRY["ann_ivfpq_topk"].fn(spark, SF_ORACLE).cache()
    overlap = exact.join(comp, ["query_id", "vec_id"], "inner")
    n_exact = exact.count()
    assert n_exact > 0
    mismatched = overlap.filter(
        F.abs(exact["cos_sim"] - comp["cos_sim"]) > 1e-9
    ).count()
    assert mismatched == 0
    recall = overlap.count() / n_exact
    assert recall >= 0.35, f"IVFPQ recall {recall:.2f} below floor"


def test_ivfpq_no_all_pairs_stage(spark):
    """Composing IVF cells with PQ codes must keep the candidate join
    EQUI on the cell id: no nested-loop (all-pairs) join may appear
    anywhere in the plan — that is the pair-count bound that makes the
    composition the scale shape."""
    from masd_spark.plans.explain import physical_plan

    spark.catalog.clearCache()
    df = REGISTRY["ann_ivfpq_topk"].fn(spark, SF_ORACLE)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ann_pq_persisted_topk_parity(spark):
    compare_query(spark, REGISTRY["ann_pq_persisted_topk"], SF_ORACLE)


def test_ann_ivfpq_persisted_topk_parity(spark):
    compare_query(spark, REGISTRY["ann_ivfpq_persisted_topk"], SF_ORACLE)


def test_pq_persisted_probe_prunes_vector_column(spark):
    """The persisted ADC probe's hot leg must scan (id, codes, _rn) ONLY:
    parquet column pruning has to keep the 32x-bigger embedding column
    out of the codes scan (it may appear only in the bounded re-rank
    scan). Checked on the FileScan ReadSchemas of the index table."""
    from masd_spark.plans.explain import physical_plan

    spark.catalog.clearCache()
    df = REGISTRY["ann_pq_persisted_topk"].fn(spark, SF_ORACLE)
    plan = physical_plan(df)
    assert plan.count("BroadcastNestedLoopJoin") == 1, (
        "expected exactly the ADC scan as a broadcast nested-loop join"
    )
    scans = [
        line for line in plan.splitlines()
        if "Scan parquet" in line and "ann_pq_index" in line
    ]
    codes_scans = [s for s in scans if "_c0" in s]
    assert codes_scans, f"codes scan of the index table not found: {scans}"
    for s in codes_scans:
        assert "embedding" not in s, (
            f"ADC scan reads raw vectors (column pruning lost): {s[:200]}"
        )


def test_ivfpq_persisted_probe_plan_and_bucketing(spark):
    """The persisted IVFPQ probe must be index-side shuffle-free: probe
    set + lookup tables broadcast, candidate join cell-EQUI against the
    bucketed codes scan; the only exchanges are the two query-keyed
    top-k windows. The index table must carry the bucket spec in the
    catalog — the write-time contract that keeps future cell-keyed joins
    exchange-free."""
    import hashlib

    from masd_spark.plans.explain import count_exchanges, physical_plan

    spark.catalog.clearCache()
    df = REGISTRY["ann_ivfpq_persisted_topk"].fn(spark, SF_ORACLE)
    plan = physical_plan(df)
    assert count_exchanges(df) <= 2, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    table = f"ann_pq_index_{hashlib.md5(SF_ORACLE.encode()).hexdigest()[:8]}"
    detail = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    }
    assert detail.get("Num Buckets") == "16", detail
    assert "_cid" in detail.get("Bucket Columns", ""), detail


def test_pq_incremental_append_matches_one_shot_build(spark, tmp_path):
    """Incremental PQ maintenance correctness: build the index on half
    the corpus, append the other half with the STORED quantizer geometry
    (centroids + codebooks), and both persisted probes must be
    row-identical to probes over a one-shot build that uses the same
    stored quantizers — appends must not perturb cells, codes, recon
    norms, or ranking."""
    from masd_spark.operators.similarity import (
        append_pq_index,
        build_pq_index,
        ivfpq_persisted_topk,
        load_ivf_centroids,
        load_pq_codebooks,
        pq_persisted_topk,
    )
    from masd_spark.queries.similarity import (
        _IVF_CENTROIDS,
        _IVF_PROBE,
        _IVF_SEED,
        _PQ_CODES,
        _PQ_M,
        _PQ_SEED,
        _queries_df,
        EMBEDDING_DIM,
    )
    from masd_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    incr_t, full_t = "ann_pq_index_incr_test", "ann_pq_index_full_test"
    try:
        build_pq_index(
            emb.filter(F.col("vec_id") % 2 == 0),
            incr_t,
            dim=EMBEDDING_DIM,
            m=_PQ_M,
            n_codes=_PQ_CODES,
            n_centroids=_IVF_CENTROIDS,
            pq_seed=_PQ_SEED,
            ivf_seed=_IVF_SEED,
            path=str(tmp_path / incr_t),
        )
        append_pq_index(emb.filter(F.col("vec_id") % 2 == 1), incr_t)
        # one-shot build over the FULL corpus with the STORED quantizers
        cents = [v for _, v, _ in load_ivf_centroids(spark, incr_t)]
        books = load_pq_codebooks(spark, incr_t)
        build_pq_index(
            emb,
            full_t,
            dim=EMBEDDING_DIM,
            m=_PQ_M,
            centroids=cents,
            codebooks=books,
            path=str(tmp_path / full_t),
        )
        qdf = _queries_df(emb)
        for probe, kwargs in (
            (pq_persisted_topk, {"rerank": 50}),
            (ivfpq_persisted_topk, {"n_probe": _IVF_PROBE, "rerank": 100}),
        ):
            a = sorted(map(tuple, probe(
                spark, qdf, incr_t, k=10, **kwargs
            ).collect()))
            b = sorted(map(tuple, probe(
                spark, qdf, full_t, k=10, **kwargs
            ).collect()))
            assert a == b and len(a) > 0, probe.__name__
    finally:
        for t in (incr_t, full_t):
            for suffix in ("", "_centroids", "_codebooks"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")


def test_pq_append_to_empty_index_fails_fast(spark, tmp_path):
    """An index built on an empty corpus has no quantizer geometry —
    appending must raise, not silently write unencodable rows; a probe
    over it returns empty, schema-correct results."""
    from masd_spark.operators.similarity import (
        append_pq_index,
        build_pq_index,
        pq_persisted_topk,
    )
    from masd_spark.queries.similarity import EMBEDDING_DIM, _queries_df
    from masd_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    table = "ann_pq_index_empty_test"
    try:
        build_pq_index(
            emb.limit(0), table, dim=EMBEDDING_DIM, path=str(tmp_path / table)
        )
        with pytest.raises(ValueError, match="no quantizer metadata"):
            append_pq_index(emb, table)
        res = pq_persisted_topk(spark, _queries_df(emb), table)
        assert res.count() == 0
        assert res.columns == ["query_id", "vec_id", "cos_sim", "rank"]
    finally:
        for suffix in ("", "_centroids", "_codebooks"):
            spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_ann_recall_report_parity_and_floors(spark):
    compare_query(spark, REGISTRY["ann_recall_report"], SF_ORACLE)
    rows = REGISTRY["ann_recall_report"].fn(spark, SF_ORACLE).collect()
    got = {r["method"]: r["recall_at_10"] for r in rows}
    assert set(got) == {
        "ann_lsh_topk",
        "ann_ivf_topk",
        "ann_quantized_topk",
        "ann_pq_topk",
        "ann_ivfpq_topk",
    }
    # every index holds its documented per-family recall floor (the same
    # floors the dedicated recall tests pin; LSH/IVF trade recall for
    # bucket/cell-bounded candidate counts by design)
    floors = {
        "ann_lsh_topk": 0.2,
        "ann_ivf_topk": 0.4,
        "ann_quantized_topk": 0.9,
        "ann_pq_topk": 0.9,
        "ann_ivfpq_topk": 0.4,
    }
    for method, recall in got.items():
        assert floors[method] <= recall <= 1.0, (method, recall)


def test_mmr_rerank_parity(spark):
    compare_query(spark, REGISTRY["ann_mmr_rerank"], SF_ORACLE)


def test_mmr_rerank_semantics(spark):
    """Pick 1 is the plain top-1 (no redundancy yet); every query emits
    exactly k=5 distinct picks from its candidate set; and the penalty
    actually bites — some query's selection departs from the plain
    top-5 ordering (else the re-rank would be a no-op on this corpus)."""
    from pyspark.sql import functions as F

    mmr = REGISTRY["ann_mmr_rerank"].fn(spark, SF_ORACLE).cache()
    exact = REGISTRY["ann_cosine_topk"].fn(spark, SF_ORACLE).cache()
    by_q = {}
    for r in mmr.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    top = {}
    for r in exact.collect():
        top.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    assert set(by_q) == set(top)
    departed = False
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["sel_rank"])
        picks = [r["vec_id"] for r in rows]
        assert len(picks) == 5 and len(set(picks)) == 5
        top5 = [v for _, v in sorted(top[qid])][:5]
        assert picks[0] == top5[0]
        if picks != top5:
            departed = True
        for a, b in zip(rows, rows[1:]):
            assert a["mmr6"] >= b["mmr6"] or a["sel_rank"] == 1, (qid, rows)
    assert departed


def test_kmeans_exact_parity(spark):
    compare_query(spark, REGISTRY["cluster_kmeans_embeddings_exact"], SF_ORACLE)


def test_kmeans_exact_invariants(spark):
    """Every vector assigned exactly once, cluster ids in range, the
    partition is non-trivial, and dist2 is the true distance to the
    assigned centroid (non-negative, zero only for exact hits)."""
    rows = REGISTRY["cluster_kmeans_embeddings_exact"].fn(spark, SF_ORACLE).collect()
    assert len(rows) == 500
    assert len({r["vec_id"] for r in rows}) == 500
    clusters = {r["cluster"] for r in rows}
    assert clusters <= set(range(8)) and len(clusters) > 1
    assert all(r["dist2"] >= 0 for r in rows)


def test_ivf_exact_refined_parity(spark):
    compare_query(spark, REGISTRY["ann_ivf_exact_refined_topk"], SF_ORACLE)


def test_ivf_exact_refined_recall(spark):
    """The provable refined index must retrieve usefully: recall@10 vs
    the exact baseline at least matches the md5-seeded IVF's floor."""
    exact = {
        (r["query_id"], r["vec_id"])
        for r in REGISTRY["ann_cosine_topk"].fn(spark, SF_ORACLE).collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in REGISTRY["ann_ivf_exact_refined_topk"].fn(spark, SF_ORACLE).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.5, recall


def test_semantic_exact_parity(spark):
    compare_query(spark, REGISTRY["dedup_semantic_clusters_exact"], SF_ORACLE)


def test_semantic_exact_counts_conserve(spark):
    rows = REGISTRY["dedup_semantic_clusters_exact"].fn(spark, SF_ORACLE).collect()
    assert sum(r["n_total"] for r in rows) == 500
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_total"]
        assert r["n_kept"] >= 1  # smallest id in a cluster always survives


def test_gram_upper_parity(spark):
    compare_query(spark, REGISTRY["emb_gram_upper"], SF_ORACLE)


def test_pca_power_iteration_parity(spark):
    compare_query(spark, REGISTRY["emb_pca_power_iteration"], SF_ORACLE)


def test_pca_power_iteration_matches_eigh(spark):
    """The integer squaring chain must agree with numpy.linalg.eigh ON THE
    SAME QUANTIZED MATRIX to 1e-6 per coordinate (VERDICT r4 item 7) —
    proving the eigensolve step that emb_pca_top_component leaves
    driver-local. (Agreement with the float PCA is bounded separately by
    the 1e-4 quantization, covered by test_pca_top_component_matches_numpy.)
    """
    import numpy as np

    from masd_spark.sources.tables import load_table

    rows = REGISTRY["emb_pca_power_iteration"].fn(spark, SF_ORACLE).collect()
    v_pi = np.array(
        [r["loading"] for r in sorted(rows, key=lambda r: r["dim"])]
    )

    emb = load_table(spark, SF_ORACLE, "embeddings").collect()
    X = np.round(
        np.array([r["embedding"] for r in emb], dtype=np.float64) * 10**4
    )
    n = X.shape[0]
    M0 = n * (X.T @ X) - np.outer(X.sum(0), X.sum(0))
    w, vecs = np.linalg.eigh(M0)
    v = vecs[:, -1]
    piv = int(np.argmax(np.abs(v)))
    if v[piv] < 0:
        v = -v
    assert np.max(np.abs(v_pi - v)) <= 1e-6, np.max(np.abs(v_pi - v))
    assert abs(np.linalg.norm(v_pi) - 1.0) < 1e-4


def test_gram_upper_matches_numpy(spark):
    """The quantized BIGINT Gram must equal numpy's on the same
    quantized matrix (full cross-check of the distributed reduction)."""
    import numpy as np

    from masd_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings").orderBy("vec_id").collect()
    X = np.round(
        np.array([r["embedding"] for r in emb], dtype=np.float64) * 10**4
    ).astype(np.int64)
    G = X.T @ X
    got = {
        (r["dim_i"], r["dim_j"]): r["gram"]
        for r in REGISTRY["emb_gram_upper"].fn(spark, SF_ORACLE).collect()
    }
    assert len(got) == 64 * 65 // 2
    for (i, j), v in got.items():
        assert v == int(G[i - 1, j - 1]), (i, j)


def test_pca_power_iteration_survives_long_overflow_magnitudes(spark):
    """Regression: the covariance surrogate n*P - s*s^T must be computed
    in DECIMAL, not 64-bit long. With 100 vectors of magnitude ~1e4
    (quantized xi ~ 1e8), P fits BIGINT (~1e18) but n*P ~ 1e20 exceeds
    Long.MAX — the pre-fix long arithmetic raised under ANSI (or wrapped
    silently without it) while the DuckDB oracle's HUGEINT stayed exact.
    This is the magnitude regime the sf10+ fixture would reach."""
    import numpy as np

    from masd_spark.operators.clustering import pca_power_iteration_exact

    rng = [(i, [1.0e4 + (i % 7), 0.5e4 + ((3 * i) % 5)]) for i in range(100)]
    df = spark.createDataFrame(rng, ["vec_id", "embedding"])
    rows = pca_power_iteration_exact(df, dim=2).collect()
    got = np.array(
        [r["loading"] for r in sorted(rows, key=lambda r: r["dim"])]
    )

    X = np.round(np.array([v for _, v in rng]) * 10**4)
    n = X.shape[0]
    M0 = n * (X.T @ X) - np.outer(X.sum(0), X.sum(0))
    w, vecs = np.linalg.eigh(M0)
    v = vecs[:, -1]
    piv = int(np.argmax(np.abs(v)))
    if v[piv] < 0:
        v = -v
    assert np.max(np.abs(got - v)) <= 1e-5, (got, v)
