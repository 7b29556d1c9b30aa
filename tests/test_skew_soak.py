"""Skew soak for the dedup family (VERDICT r4 item 6).

The fixtures at /root/testdata are well-behaved, so the max_df / max_bucket
skew bounds were, until now, plan-notes rather than measurements. These
tests plant the two classic 100 TB skew shapes into throwaway corpora —
(a) a viral boilerplate sentence reaching ~20% document frequency and
(b) a boilerplate cluster whose identical MinHash band slices pile into
one LSH bucket — and MEASURE the claims:

- per-join-key reducer work (df^2 candidate rows for a shingle of
  document frequency df; occupancy^2 for an LSH bucket) is bounded by the
  cap, while the uncapped plan concentrates most of the join on one key;
- per-shuffle-partition load (keys land on partitions by murmur3 hash —
  the same F.hash the SQL exchange uses) stays balanced under the cap and
  degenerates without it;
- the capped result is value-identical to the uncapped result whenever
  the planted skew is below-threshold noise (viral shingles shared by
  unrelated docs) or the cap exceeds true occupancy — i.e. the caps buy
  bounded work without changing answers on realistic corpora.

Corpora are built in-memory with a seeded RNG (equivalent to the /tmp
parquet the verdict suggested, minus the disk round-trip).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from masd_spark.operators.dedup import (
    band_rows,
    dedup_exact,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingle_rows,
)
from masd_spark.operators.similarity import cosine_pairs, cosine_pairs_bucketed

VIRAL = "click here to subscribe now"  # 5 tokens -> 3 viral 3-shingles
N_PARTS = 32  # simulated shuffle width, independent of the session's


def _words(rng: random.Random, n: int) -> str:
    return " ".join(f"w{rng.randrange(100_000)}" for _ in range(n))


@pytest.fixture(scope="module")
def viral_corpus(spark):
    """3k docs; 600 (20%) embed the same viral sentence; 40 genuine
    near-dup pairs whose jaccard clears 0.5; viral-only overlap stays far
    below threshold (5 shared tokens out of ~30)."""
    rng = random.Random(42)
    rows = []
    for i in range(2400):
        rows.append((f"d{i}", _words(rng, 30)))
    for i in range(600):
        body = _words(rng, 25)
        rows.append((f"v{i}", f"{body} {VIRAL}"))
    for i in range(40):  # near-dup pairs: 20 tokens, one substituted
        base = _words(rng, 20).split()
        a, b = list(base), list(base)
        b[10] = "CHANGED"
        rows.append((f"p{i}a", " ".join(a)))
        rows.append((f"p{i}b", " ".join(b)))
    return spark.createDataFrame(rows, "doc_id string, text string")


def _partition_load(df_counts, key_cols: list[str], work_col):
    """Simulated reducer load: per-key work summed over the shuffle
    partition its key hashes to (murmur3 pmod N, as the exchange does)."""
    return (
        df_counts.withColumn("_part", F.pmod(F.hash(*key_cols), F.lit(N_PARTS)))
        .groupBy("_part")
        .agg(F.sum(work_col).alias("load"))
        .collect()
    )


def test_capped_jaccard_bounds_reducer_work_under_viral_shingle(viral_corpus):
    sh = shingle_rows(viral_corpus)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))

    hot = dfreq.orderBy(F.desc("df")).first()
    assert hot["df"] >= 600, hot  # the planted skew is real

    # Per-key candidate work = df^2. Capped: every surviving key <= 50^2.
    capped = dfreq.filter(F.col("df") <= 50)
    assert capped.agg(F.max("df")).first()[0] <= 50

    # Partition-load balance, measured as max/mean imbalance over the 32
    # murmur3 hash partitions: each viral shingle parks 600^2 candidate
    # rows on one partition (~10x the mean), the cap restores balance.
    work = dfreq.withColumn("work", (F.col("df").cast("bigint")) ** 2)
    un = _partition_load(work, ["shingle"], "work")
    un_imbalance = max(r["load"] for r in un) / (
        sum(r["load"] for r in un) / N_PARTS
    )
    assert un_imbalance > 5, f"planted skew should dominate: {un_imbalance}"

    cp = _partition_load(work.filter(F.col("df") <= 50), ["shingle"], "work")
    cp_imbalance = max(r["load"] for r in cp) / (
        sum(r["load"] for r in cp) / N_PARTS
    )
    assert cp_imbalance < 3, f"capped load skewed: {cp_imbalance}"


def test_capped_jaccard_matches_uncapped_results_under_viral_shingle(viral_corpus):
    """The cap changes WORK, not ANSWERS, when hot shingles are
    below-threshold boilerplate: viral-only pairs share 5 tokens of ~30
    (jaccard ~0.1), so the uncapped join finds exactly the same >=0.5
    pairs the capped join does."""
    sh = shingle_rows(viral_corpus)
    capped = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in jaccard_pairs(viral_corpus, shingles=sh, max_df=50).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in jaccard_pairs(viral_corpus, shingles=sh).collect()
    }
    assert capped == uncapped
    assert len(capped) >= 40  # the planted near-dup pairs are all found
    assert all(a.startswith("p") and b.startswith("p") for a, b, _ in capped)


@pytest.fixture(scope="module")
def boilerplate_corpus(spark):
    """150 identical boilerplate docs (one hot LSH bucket per band) + 500
    distinct docs + 20 genuine near-dup pairs."""
    rng = random.Random(7)
    boiler = _words(rng, 24)
    rows = [(f"b{i}", boiler) for i in range(150)]
    rows += [(f"d{i}", _words(rng, 24)) for i in range(500)]
    for i in range(20):
        base = _words(rng, 20).split()
        b = list(base)
        b[5] = "ALTERED"
        rows.append((f"p{i}a", " ".join(base)))
        rows.append((f"p{i}b", " ".join(b)))
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_minhash_hot_band_bucket_measured_and_bounded(boilerplate_corpus):
    sh = shingle_rows(boilerplate_corpus)
    banded = band_rows(sh, "doc_id", 16, 4)
    occ = banded.groupBy("band", "band_hash").agg(F.count(F.lit(1)).alias("n"))
    hot = occ.agg(F.max("n")).first()[0]
    assert hot >= 150, "identical docs must share every band bucket"

    # Uncapped: the hot bucket alone implies >= 150*149/2 candidate pairs
    # per band on one reducer. Capped at 20: every surviving bucket's
    # self-join work <= 20^2, and partition load stays balanced.
    capped_occ = occ.filter(F.col("n") <= 20)
    assert capped_occ.agg(F.max("n")).first()[0] <= 20
    work = occ.withColumn("work", (F.col("n").cast("bigint")) ** 2)
    un = _partition_load(work, ["band", "band_hash"], "work")
    un_imbalance = max(r["load"] for r in un) / (
        sum(r["load"] for r in un) / N_PARTS
    )
    assert un_imbalance > 5, f"hot bucket should dominate: {un_imbalance}"
    cp = _partition_load(
        work.filter(F.col("n") <= 20), ["band", "band_hash"], "work"
    )
    cp_imbalance = max(r["load"] for r in cp) / (
        sum(r["load"] for r in cp) / N_PARTS
    )
    assert cp_imbalance < 3, f"capped load skewed: {cp_imbalance}"


def test_minhash_max_bucket_cap_invariance_and_discipline(boilerplate_corpus):
    """(a) With the planted 150-doc bucket, max_bucket=20 still finds every
    genuine near-dup pair (they collide in small buckets) while skipping
    the boilerplate blowup. (b) After the documented discipline — exact
    dedup upstream — the capped and uncapped plans are value-identical."""
    sh = shingle_rows(boilerplate_corpus)
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            boilerplate_corpus, shingles=sh, threshold=0.5, max_bucket=20
        ).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            boilerplate_corpus, shingles=sh, threshold=0.5
        ).collect()
    }
    # The cap removes exactly the boilerplate blowup (the 150^2/2 b-b pairs
    # live only in overfull buckets); every pair LSH recall finds without
    # the cap outside those buckets is still found with it. (LSH recall at
    # 16/4 banding is itself probabilistic — j=0.71 pairs collide w.p.
    # ~0.7 — so the baseline is the uncapped LSH result, not ground truth.)
    bb = {(a, b) for a, b in uncapped if a.startswith("b") and b.startswith("b")}
    assert len(bb) == 150 * 149 // 2
    assert capped == uncapped - bb
    assert len(capped & {(f"p{i}a", f"p{i}b") for i in range(20)}) >= 10

    deduped = dedup_exact(boilerplate_corpus)
    assert deduped.filter(F.col("doc_id").startswith("b")).count() == 1
    sh2 = shingle_rows(deduped)
    after_capped = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            deduped, shingles=sh2, threshold=0.5, max_bucket=20
        ).collect()
    }
    after_uncapped = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(deduped, shingles=sh2, threshold=0.5).collect()
    }
    assert after_capped == after_uncapped


def test_incremental_minhash_history_bucket_bounded(spark, boilerplate_corpus):
    """Ingestion-loop shape: boilerplate piled up in HISTORY must not make
    every future batch join against the whole pile. The capped history
    index skips the 150-doc bucket; genuine cross-batch near-dups (small
    buckets) are unaffected, so capped == uncapped minus boiler pairs."""
    from masd_spark.operators.dedup import incremental_minhash_pairs

    history = boilerplate_corpus  # contains the 150-identical-doc pile
    rng = random.Random(99)
    boiler_text = history.filter(F.col("doc_id") == "b0").first()["text"]
    base = history.filter(F.col("doc_id") == "p3a").first()["text"].split()
    # append rather than substitute: jaccard 18/19 ~ 0.95, where 16/4
    # banding has ~certain recall (substitution mid-doc gives ~0.71,
    # where a single-run LSH miss is expected ~30% of the time)
    near = list(base) + ["EXTRA"]
    incoming = spark.createDataFrame(
        [
            ("n_boiler", boiler_text),  # hits the hot history bucket
            ("n_near", " ".join(near)),  # genuine near-dup of p3a
            ("n_fresh", _words(rng, 24)),
        ],
        "doc_id string, text string",
    )
    capped = {
        (r["doc_new"], r["doc_hist"])
        for r in incremental_minhash_pairs(
            history, incoming, threshold=0.5, max_bucket=20
        ).collect()
    }
    uncapped = {
        (r["doc_new"], r["doc_hist"])
        for r in incremental_minhash_pairs(
            history, incoming, threshold=0.5
        ).collect()
    }
    boiler = {(a, b) for a, b in uncapped if b.startswith("b")}
    assert len(boiler) == 150  # n_boiler matches the whole pile uncapped
    assert capped == uncapped - boiler
    assert ("n_near", "p3a") in capped


@pytest.fixture(scope="module")
def hot_embedding_corpus(spark):
    """120 near-identical vectors (one hot bucket in every LSH table) +
    300 spread vectors + 10 genuine near-dup pairs."""
    rng = random.Random(11)
    dim = 16
    rows = []
    center = [1.0] * dim
    for i in range(120):
        rows.append((f"h{i}", [c + rng.uniform(-1e-4, 1e-4) for c in center]))
    for i in range(300):
        rows.append((f"s{i}", [rng.gauss(0, 1) for _ in range(dim)]))
    for i in range(10):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((f"q{i}a", v))
        rows.append((f"q{i}b", [x + rng.uniform(-1e-3, 1e-3) for x in v]))
    return spark.createDataFrame(rows, "vec_id string, embedding array<double>"), dim


def test_embedding_lsh_hot_bucket_bounded(hot_embedding_corpus):
    df, dim = hot_embedding_corpus
    from masd_spark.operators.similarity import _bucket_array

    bucketed = df.select(
        "vec_id", F.explode(_bucket_array("embedding", dim, 8, 12, 42)).alias("tb")
    ).select("vec_id", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket"))
    occ = bucketed.groupBy("table", "bucket").agg(F.count(F.lit(1)).alias("n"))
    assert occ.agg(F.max("n")).first()[0] >= 120  # hot bucket is real

    capped = cosine_pairs_bucketed(
        df, threshold=0.999, dim=dim, max_bucket=30
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    expected = {
        (f"q{i}a", f"q{i}b") if f"q{i}a" < f"q{i}b" else (f"q{i}b", f"q{i}a")
        for i in range(10)
    }
    assert expected <= got  # genuine pairs live in small buckets
    assert not any(a.startswith("h") and b.startswith("h") for a, b in got)

    # Cap invariance: on the spread+pairs subset (no overfull bucket),
    # capped == uncapped == exact.
    calm = df.filter(~F.col("vec_id").startswith("h"))
    capped_calm = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in cosine_pairs_bucketed(
            calm, threshold=0.999, dim=dim, max_bucket=30
        ).collect()
    }
    uncapped_calm = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in cosine_pairs_bucketed(calm, threshold=0.999, dim=dim).collect()
    }
    assert capped_calm == uncapped_calm
    exact = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in cosine_pairs(calm, threshold=0.999).collect()
    }
    assert capped_calm == exact
