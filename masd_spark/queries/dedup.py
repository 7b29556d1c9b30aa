"""Deduplication queries over the documents/embeddings tables (north-star
extension operators). Ground truth for the approximate variants is the
exact n-gram Jaccard; the DuckDB oracles recompute the full pipelines
(shingles -> minhash -> bands -> verified pairs) in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from masd_spark.operators.dedup import (
    containment_pairs,
    dedup_exact,
    duplicated_spans,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingle_rows,
    span_duplication,
    strip_duplicated_spans,
)
from masd_spark.operators.similarity import cosine_pairs
from masd_spark.queries import register, scratch_path, valid_embeddings
from masd_spark.sources.tables import load_table

# Memoized materialized shingle sets, keyed per (session, sf_dir): the
# harness runs dedup_ngram_jaccard and dedup_minhash_lsh in one process,
# and both start from the identical (documents -> 3-gram shingle) set —
# the moral equivalent of a shared materialized intermediate table.
_SHINGLE_CACHE: dict = {}

# Memoized corpus row count, same keying — one scalar count job per
# (session, sf_dir), shared by every adaptive cap below.
_DOC_COUNT_CACHE: dict = {}


def _corpus_docs(spark: SparkSession, sf_dir: str) -> int:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _DOC_COUNT_CACHE:
        _DOC_COUNT_CACHE[key] = load_table(spark, sf_dir, "documents").count()
    return _DOC_COUNT_CACHE[key]


def _adaptive_max_df(spark: SparkSession, sf_dir: str) -> int:
    """Corpus-PROPORTIONAL stop-shingle cap: max(50, 1% of n_docs).

    Round-6 SF1 probe finding: a fixed max_df=50 cap loses pairs at SF1
    — this generator's 31-token vocabulary saturates the trigram space,
    so shingle document frequency grows ~linearly with the corpus
    (max df: 7 at sf0.01, 25 at sf0.1, ~250 at SF1) and a fixed cap that
    proves invariant at gate scale silently binds 10x up. The honest
    semantics of a stop-shingle is a FRACTION of the corpus, not a
    count: 1% keeps the cap >= the observed max-df fraction (~0.5%)
    with 2x margin at every SF, so the registered-plan-vs-uncapped-
    oracle invariance the driver re-proves each run keeps holding as
    data grows, while per-shingle join work stays bounded by
    (0.01 * n_docs)^2 — at 100 TB that bound is what a rare/hot
    decomposition needs anyway, and the count() feeding it is parquet
    metadata, not a scan. Floor 50 preserves the behavior (and all
    committed driver evidence) at the sf0.01 gate and sf0.1 bench."""
    return max(50, -(-_corpus_docs(spark, sf_dir) // 100))


def _shared_shingles(spark: SparkSession, sf_dir: str, k: int = 3):
    # applicationId is unique per SparkContext lifetime (unlike id(), which
    # CPython can recycle after a stop/restart and hand back a cache entry
    # whose checkpointed blocks belong to a dead context).
    key = (spark.sparkContext.applicationId, sf_dir, k)
    if key not in _SHINGLE_CACHE:
        docs = load_table(spark, sf_dir, "documents")
        _SHINGLE_CACHE[key] = shingle_rows(docs, "doc_id", "text", k)
    return _SHINGLE_CACHE[key]


# Shared SQL fragments -----------------------------------------------------


def _shingles_sql(k: int) -> str:
    """DuckDB twin of operators/dedup.py:shingle_rows for k-word shingles:
    distinct k-grams per doc + per-doc set size."""
    concat = " || ' ' || ".join(f"ts[i+{j}]" for j in range(k))
    return f"""
    toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct([{concat}
                                     for i in range(1, len(ts) - {k - 2})])) AS shingle
        FROM toks WHERE len(ts) >= {k}
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id)
"""


_SHINGLES_SQL = _shingles_sql(3)


@register(
    "dedup_exact_docs",
    oracle="""
    WITH fp AS (
        SELECT doc_id, source, n_chars,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
        FROM documents
    ),
    keep AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f)
    SELECT d.doc_id, d.source, d.n_chars
    FROM fp d JOIN keep k ON d.doc_id = k.doc_id AND d.f = k.f
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the smallest doc_id per normalized-text
    fingerprint (hash groupBy — one shuffle at any scale).
    """
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs).select("doc_id", "source", "n_chars")


# The uncapped shingle self-join — exact ground truth by construction.
_JACCARD_UNCAPPED_ORACLE = f"""
    WITH {_SHINGLES_SQL},
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_inter AS DOUBLE)
                 / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE ROUND(CAST(n_inter AS DOUBLE)
                / (sa.set_size + sb.set_size - n_inter), 6) >= 0.5
    """


@register(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_UNCAPPED_ORACLE,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5) — ground truth
    for MinHash-LSH. Candidate pairs are bounded by shared shingles, never
    all-pairs. The HEADLINE plan runs with the CORPUS-PROPORTIONAL
    stop-shingle cap max(50, 1% of n_docs) — fixed at 50 it silently
    bound at SF1, where this generator's saturated trigram space pushes
    max df to ~250 (see _adaptive_max_df) — while the ORACLE is the
    uncapped self-join, so every driver check also re-proves the cap's
    result-invariance on this corpus, now at every SF. Per-shingle join
    work stays bounded by max_df^2. ``dedup_ngram_jaccard_uncapped``
    keeps the uncapped plan registered as the explicit ground-truth twin.
    """
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(
        docs, k=3, threshold=0.5,
        shingles=_shared_shingles(spark, sf_dir),
        max_df=_adaptive_max_df(spark, sf_dir),
    )


@register(
    "dedup_span_duplication",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
        FROM documents
        WHERE doc_id IS NOT NULL  -- span_duplication's contract
    ),
    spans AS (
        SELECT doc_id,
               unnest([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                       for i in range(1, len(ts) - 1)]) AS shingle
        FROM toks WHERE len(ts) >= 3
    ),
    docfreq AS (
        SELECT shingle, count(DISTINCT doc_id) AS nd FROM spans GROUP BY 1
    ),
    stats AS (
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_spans
        FROM spans s JOIN docfreq d USING (shingle)
        GROUP BY 1
    )
    SELECT doc_id, n_spans, n_dup_spans,
           ROUND(CAST(n_dup_spans AS DOUBLE) / n_spans, 6) AS dup_fraction
    FROM stats
    """,
)
def dedup_span_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc passage-duplication pressure: fraction of each doc's
    positional 3-gram spans that also occur in >= 2 distinct docs — the
    corpus signal behind substring dedup (boilerplate/template detection
    below the whole-doc Jaccard bar).
    (operators/dedup.py:span_duplication)
    """
    docs = load_table(spark, sf_dir, "documents")
    return span_duplication(docs, k=3, min_docs=2)


# Shared CTE prefix for the substring-dedup (Lee et al. 2107.06499)
# oracles: positional 5-gram anchors -> cross-doc-duplicated anchors ->
# covered-token union -> maximal runs >= 8 tokens. k=5 because this
# generator's 31-token vocabulary saturates the trigram space (df>=2 is
# near-certain for every 3-gram at gate scale, flagging ~90% of all
# tokens); 31^5 = 28.6M possible 5-grams keeps anchors discriminative —
# the same desaturation dedup_minhash_lsh_scaled uses.
_SPAN_RUNS_SQL = r"""toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    pos_spans AS (
        SELECT doc_id, u.i - 1 AS pos,
               ts[u.i] || ' ' || ts[u.i+1] || ' ' || ts[u.i+2]
                       || ' ' || ts[u.i+3] || ' ' || ts[u.i+4] AS shingle
        FROM toks, unnest(range(1, len(ts) - 3)) AS u(i)
        WHERE len(ts) >= 5
    ),
    dupshingle AS (
        SELECT shingle
        FROM (SELECT DISTINCT doc_id, shingle FROM pos_spans)
        GROUP BY shingle HAVING count(*) >= 2
    ),
    covered AS (
        SELECT DISTINCT p.doc_id, p.pos + u.j AS tpos
        FROM pos_spans p JOIN dupshingle USING (shingle),
             unnest(range(0, 5)) AS u(j)
    ),
    runs AS (
        SELECT doc_id, CAST(min(tpos) AS BIGINT) AS span_start,
               CAST(count(*) AS BIGINT) AS span_tokens
        FROM (SELECT doc_id, tpos,
                     tpos - row_number() OVER (PARTITION BY doc_id
                                               ORDER BY tpos) AS grp
              FROM covered)
        GROUP BY doc_id, grp
        HAVING count(*) >= 8
    )"""


@register(
    "dedup_span_extract",
    oracle=f"""
    WITH {_SPAN_RUNS_SQL}
    SELECT r.doc_id, r.span_start, r.span_tokens,
           array_to_string(
               t.ts[r.span_start + 1 : r.span_start + r.span_tokens], ' '
           ) AS span_text
    FROM runs r JOIN toks t USING (doc_id)
    """,
)
def dedup_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication EXTRACTION (token-level analogue of
    suffix-array substring dedup, Lee et al. arXiv:2107.06499): every
    maximal token range >= 8 tokens whose every token lies inside a
    positional 5-gram shared by >= 2 distinct documents — the actual
    duplicated passages with offsets and text, not just pressure stats
    (dedup_span_duplication is the stats twin). All stages keyed and
    linear in corpus tokens; no all-pairs.
    (operators/dedup.py:duplicated_spans)
    """
    docs = load_table(spark, sf_dir, "documents")
    return duplicated_spans(docs, k=5, min_docs=2, min_span_tokens=8)


@register(
    "dedup_span_strip",
    oracle=f"""
    WITH {_SPAN_RUNS_SQL},
    strip_cov AS (
        SELECT doc_id, span_start + u.j AS tpos
        FROM runs, unnest(range(0, span_tokens)) AS u(j)
    ),
    kept AS (
        SELECT t.doc_id, u.i AS tpos, t.ts[u.i + 1] AS tok
        FROM toks t, unnest(range(0, len(t.ts))) AS u(i)
        WHERE NOT EXISTS (SELECT 1 FROM strip_cov s
                          WHERE s.doc_id = t.doc_id AND s.tpos = u.i)
    )
    SELECT t.doc_id,
           CAST(len(t.ts) AS BIGINT) AS n_tokens,
           CAST(len(t.ts) - count(k.tpos) AS BIGINT) AS n_dup_tokens,
           COALESCE(string_agg(k.tok, ' ' ORDER BY k.tpos), '') AS clean_text
    FROM toks t LEFT JOIN kept k USING (doc_id)
    GROUP BY t.doc_id, len(t.ts)
    """,
)
def dedup_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side of substring dedup: normalized text with every
    qualifying duplicated span (>= 8 tokens, 5-gram anchors, >= 2 docs)
    removed, plus before/after token counts. Dropping EVERY occurrence —
    not all-but-one — keeps the operator deterministic per-doc with no
    cross-doc survivor coordination at 100 TB.
    (operators/dedup.py:strip_duplicated_spans)
    """
    docs = load_table(spark, sf_dir, "documents")
    return strip_duplicated_spans(docs, k=5, min_docs=2, min_span_tokens=8)


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_inter AS DOUBLE)
                 / least(sa.set_size, sb.set_size), 6) AS containment
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE ROUND(CAST(n_inter AS DOUBLE)
                / least(sa.set_size, sb.set_size), 6) >= 0.8
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset-duplicate pairs: containment = |A∩B| / min(|A|,|B|) >= 0.8.
    The asymmetric screen Jaccard misses — a short doc embedded in a long
    one (quote, boilerplate wrapper, chunk-of) is near-1.0 containment but
    only ~|A|/|B| Jaccard. Same skew-safe machinery as the jaccard
    headline (shared _pair_counts, corpus-proportional max_df rare/hot
    decomposition — see _adaptive_max_df for the SF1 finding) against the
    uncapped-semantics oracle — the driver check re-proves cap invariance
    here too. (operators/dedup.py:containment_pairs)
    """
    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(
        docs, k=3, threshold=0.8,
        shingles=_shared_shingles(spark, sf_dir),
        max_df=_adaptive_max_df(spark, sf_dir),
    )


@register(
    "dedup_containment_scaled",
    oracle=f"""
    WITH {_shingles_sql(5)},
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_inter AS DOUBLE)
                 / least(sa.set_size, sb.set_size), 6) AS containment
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE ROUND(CAST(n_inter AS DOUBLE)
                / least(sa.set_size, sb.set_size), 6) >= 0.8
    """,
)
def dedup_containment_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_containment_pairs`` with corpus-sized shingles (k=5) — the
    round-7 SF1 sweep made containment the worst remaining
    saturated-vocabulary outlier (18.9x warm wall-time on 10x data: the
    trigram candidate join touches every doc pair sharing any sub-cap
    shingle, and at SF1 that is most pairs). Same root-cause treatment
    as dedup_minhash_lsh_scaled: 5-gram shingles over the ~31-token
    vocabulary give 28.6M possible shingles, so document frequency — and
    with it candidate volume — stays flat as the corpus grows, while
    genuinely contained spans (>= 5 consecutive shared tokens) still
    shingle-match. A short doc quoted inside a long one keeps
    containment ~1.0 at any k; only sub-5-token coincidental overlap
    drops out. Registered against the uncapped k=5 oracle, cap
    invariance re-proven per driver run (the SF1 sweep script and its
    round-7 output are in git history at commit 789eb3a).
    (operators/dedup.py:containment_pairs)
    """
    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(
        docs, k=5, threshold=0.8,
        shingles=_shared_shingles(spark, sf_dir, k=5),
        max_df=_adaptive_max_df(spark, sf_dir),
    )


@register(
    "dedup_ngram_jaccard_uncapped",
    oracle=_JACCARD_UNCAPPED_ORACLE,
)
def dedup_ngram_jaccard_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncapped shingle self-join — the exact ground-truth twin of the
    headline (capped) plan. Skew-exposed to viral shingles at scale, so it
    is the oracle/benchmark reference, not the default.
    """
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, k=3, threshold=0.5, shingles=_shared_shingles(spark, sf_dir))


def _minhash_oracle(
    n_hashes: int = 16, n_bands: int = 4, threshold: float = 0.5, k: int = 3
) -> str:
    rows_per_band = n_hashes // n_bands
    sig_cols = ", ".join(
        f"min(md5('{i}:' || shingle)) AS sig_{i}" for i in range(n_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS band_hash FROM sigs".format(
            b=b,
            concat=" || '|' || ".join(
                f"sig_{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
    WITH {_shingles_sql(k)},
    sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    bands AS ({band_selects}),
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b USING (band, band_hash)
        WHERE a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        FROM candidates c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_inter AS DOUBLE)
                 / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE ROUND(CAST(n_inter AS DOUBLE)
                / (sa.set_size + sb.set_size - n_inter), 6) >= {threshold}
    """


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)-LSH(4 bands) near-dup pairs, exact-Jaccard-verified at
    threshold 0.5. The scale path: signatures + banding are linear in the
    corpus; only band-colliding candidates are verified.

    Registers the SKEW-SAFE plan — max_bucket=50 skips overfull band
    buckets (per-bucket join work <= 50^2) — against the UNCAPPED oracle,
    so every driver run re-proves cap invariance: band occupancy tracks
    duplicate-cluster size, not corpus size (fixture max is 3 at sf0.01,
    4 at sf0.1), so results are bit-identical unless a >50-way
    boilerplate cluster appears, which exact-dedup upstream owns. Same
    registration move as dedup_ngram_jaccard's max_df (VERDICT r3 item 2);
    planted-skew behavior measured in tests/test_skew_soak.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, k=3, n_hashes=16, n_bands=4, threshold=0.5,
        shingles=_shared_shingles(spark, sf_dir), max_bucket=50,
    )


@register(
    "dedup_minhash_lsh_scaled",
    oracle=_minhash_oracle(n_hashes=32, n_bands=8, threshold=0.5, k=5),
)
def dedup_minhash_lsh_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH sized for the SATURATED-VOCABULARY corpus at SF1+ —
    the capacity treatment dedup_simhash_wide got, applied to minhash
    (VERDICT r6 item 4; SF1 bench measured the 16-hash/3-gram headline at
    22x wall-time on 10x data).

    Root cause, measured: the generator's ~31-token vocabulary saturates
    the TRIGRAM space (31^3 = 29,791 possible shingles; df grows
    ~linearly with the corpus — max df 7 at sf0.01, ~250 at SF1), so
    per-hash minima concentrate on a few globally-common shingles and
    band buckets fill with UNRELATED docs; the occupancy cap bounds
    per-bucket work but candidate volume still grows superlinearly.

    Two corpus-sized knobs, per the simhash_wide playbook:

    - shingle k=5 (31^5 = 28.6M possible): document frequency stays ~1
      at SF1 (measured avg df 1.05 at sf0.01 vs 1.61 for trigrams), so
      signature minima are near-unique per doc and buckets track real
      similarity, not vocabulary saturation. This removes the root
      cause; at 100 TB, k is sized so |vocab|^k >> corpus shingle mass.
    - 32 hashes in 8 bands of 4: the same 4-row band selectivity as the
      headline (S-curve midpoint (1/8)^(1/4) ~ 0.6 — recall 0.40 at
      j=0.5, 0.97 at j=0.8) with twice the band diversity, and every
      candidate is still exact-Jaccard verified, so precision is 1.0 at
      any sizing.

    Registered against the uncapped same-parameter oracle: every driver
    run re-proves the max_bucket=50 skip is a no-op on this corpus shape.
    Its SF1 scaling was measured by the round-7 SF1 sweep (the script
    and its output are in git history at commit 789eb3a).
    (operators/dedup.py:minhash_lsh_pairs; ref consumer.py has no dedup —
    engine addition per the LLM-pipeline mandate.)
    """
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, k=5, n_hashes=32, n_bands=8, threshold=0.5,
        shingles=_shared_shingles(spark, sf_dir, k=5), max_bucket=50,
    )


def _simhash_pairs_oracle(
    max_hamming: int = 3, n_bands: int = 4, n_bits: int = 32
) -> str:
    from masd_spark.queries.text import _simhash_oracle, _simhash_wide_oracle

    fp_sql = _simhash_oracle() if n_bits == 32 else _simhash_wide_oracle(n_bits)
    band_bits = n_bits // n_bands
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"(simhash // {2 ** (band_bits * b)}) % {2 ** band_bits} AS val FROM sim"
        for b in range(n_bands)
    )
    return f"""
    WITH sim AS ({fp_sql}),
    bands AS ({band_selects}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b USING (band, val)
        WHERE a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
    FROM cand c
    JOIN sim sa ON sa.doc_id = c.doc_a
    JOIN sim sb ON sb.doc_id = c.doc_b
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {max_hamming}
    """


@register("dedup_simhash", oracle=_simhash_pairs_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3 over 32-bit fingerprints) —
    EXACT via pigeonhole band blocking (4 byte-bands; <=3 differing bits
    leave >=1 band identical, so the banded equi-join has recall 1.0 and
    verification keeps precision 1.0). Linear fingerprinting + occupancy-
    bounded band joins: the cheapest 100 TB near-dup screen — on corpora
    that pass the entropy guard; this fixture's 31-token vocabulary does
    NOT (see dedup_screen_routed), so the guard is explicitly bypassed
    here: this registration is the fixture-scale GROUND TRUTH of the
    band-join algebra, never the production route for this corpus shape.
    """
    from masd_spark.operators.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=3, n_bands=4, entropy_guard=False)


@register("dedup_simhash_wide", oracle=_simhash_pairs_oracle(n_bits=60))
def dedup_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over the 60-BIT fingerprint (Hamming <= 3,
    4 bands of 15 bits) — the registered SCALE sizing of
    ``dedup_simhash``. Round-6 SF1 finding: the 32-bit variant's 8-bit
    bands (256 values) saturate around 10k docs — at 50k docs one hot
    band value held thousands of fingerprints and the 'exact' candidate
    join went quadratic on a single reducer. 15-bit bands (32768 values)
    hold expected occupancy ~1.5 at the same corpus; exactness (recall
    1.0 within the Hamming radius) is width-independent — width only
    buys candidate sparsity. Note the wide pair set is a SUBSET relation
    by radius, not equality: more bits = finer resolution, so pairs at
    Hamming <= 3 of 60 bits are also <= 3 of its low-32 projection, but
    not conversely. (operators/dedup.py:simhash_pairs,
    operators/text.py:simhash_wide)

    Width does NOT fix vocabulary-entropy collapse (the r7 SF10 measured
    finding): on THIS corpus shape the default entry point raises and
    dedup_screen_routed routes to the minhash screen — the guard is
    bypassed here because this registration is the fixture-scale ground
    truth of the wide band-join algebra, excluded from SF10+ probes.
    """
    from masd_spark.operators.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(
        docs, max_hamming=3, n_bands=4, n_bits=60, entropy_guard=False
    )


def _routed_screen_oracle() -> str:
    """Guard verdict + the routed screen's pairs in ONE statement: the
    entropy-guard oracle (registered in queries/text.py, imported before
    this module) computes ``recommended_screen`` in SQL, and every pair
    row carries it. This fixture's 31-token vocabulary routes to
    'kgram_minhash' deterministically at every SF, so the pair half is
    the scaled-minhash oracle; if the Spark side ever routed differently
    the route column (and the pair set) would hash-mismatch."""
    from masd_spark.queries import REGISTRY

    guard_sql = REGISTRY["text_entropy_screen_guard"].oracle
    pairs_sql = _minhash_oracle(n_hashes=32, n_bands=8, threshold=0.5, k=5)
    return f"""
    WITH route AS MATERIALIZED (
        SELECT recommended_screen FROM ({guard_sql}) g
    )
    SELECT r.recommended_screen AS route, p.doc_a, p.doc_b
    FROM ({pairs_sql}) p CROSS JOIN route r
    """


@register("dedup_screen_routed", oracle=_routed_screen_oracle())
def dedup_screen_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEFAULT near-dup screen entry point (VERDICT r7 item 3): run
    the vocabulary-entropy guard once, then execute the screen it
    recommends — the wide simhash band join on corpora whose entropy
    supports fingerprinting, the k=5/32-hash scaled MinHash-LSH on
    collapse-shaped corpora (where simhash_pairs would wedge at scale;
    its default entry now raises SimhashCollapseError on exactly this
    shape). The guard costs one vocab-bounded aggregation — at 100 TB
    that is the price of never launching a band join that degenerates.
    Every pair row carries the route so the oracle hash pins the routing
    decision itself, not just the pair set.
    """
    from masd_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
    from masd_spark.operators.text import vocab_entropy_guard

    docs = load_table(spark, sf_dir, "documents")
    prof = vocab_entropy_guard(docs).collect()
    route = prof[0]["recommended_screen"] if prof else "kgram_minhash"
    if route == "kgram_minhash":
        pairs = minhash_lsh_pairs(
            docs, k=5, n_hashes=32, n_bands=8, threshold=0.5,
            shingles=_shared_shingles(spark, sf_dir, k=5), max_bucket=50,
        ).select("doc_a", "doc_b")
    else:
        pairs = simhash_pairs(
            docs, max_hamming=3, n_bands=4, n_bits=60, entropy_guard=False
        ).select("doc_a", "doc_b")
    return pairs.select(F.lit(route).alias("route"), "doc_a", "doc_b")


@register(
    "dedup_embedding_cosine",
    oracle=valid_embeddings("""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
    """),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup GROUND TRUTH: the exact all-pairs self-join at
    cosine >= 0.35. Fixture-scale only (O(n^2)) — it exists as the oracle
    baseline and recall yardstick for ``dedup_embedding_cosine_bucketed``,
    which is the registered corpus-scale plan.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs(emb, threshold=0.35)


# LSH parameters for the bucketed near-dup (shared by the Spark query, the
# DuckDB oracle generator, and the recall test): 16 OR-ed tables of 4 sign
# bits, matched to the fixture's similarity band (pairs live in
# [0.35, 0.51] cosine; p_same_bit = 1-angle/pi ≈ 0.61 at the 0.35 floor,
# so recall = 1-(1-p^4)^16 ≈ 0.91 there, higher above). Tuning rule for a
# true near-dup corpus (cos >= 0.85, p >= 0.82): raise n_planes (16) and
# lower n_tables (8) — recall stays ~0.97 while random-pair collisions
# drop to ~1e-4 of all pairs, which is where the quadratic term dies.
_EMB_DIM = 64
_EMB_PLANES = 4
_EMB_TABLES = 16
_EMB_SEED = 42
_EMB_THRESHOLD = 0.35
# dedup_semantic_clusters' subset-of-exact verification is quadratic in
# the valid corpus — sound only at harness scale; the query refuses
# larger inputs (between the SF10 fixture's 200k vectors, where the
# ladder intentionally stops for this contract, and SF100's 2M)
_SEMDEDUP_VERIFY_CAP = 500_000


def _bucketed_cosine_oracle() -> str:
    """DuckDB twin of the FULL bucketed pipeline: the hyperplanes are
    deterministic literals, so the oracle recomputes the same sign-bit
    buckets with list_dot_product, the same candidate join, and the same
    exact-cosine verification — a value-level hash check, not rows-only.
    """
    from masd_spark.operators.similarity import _hyperplanes

    table_selects = []
    for t in range(_EMB_TABLES):
        planes = _hyperplanes(_EMB_DIM, _EMB_PLANES, _EMB_SEED + 1000 * t)
        bits = " + ".join(
            "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"[{', '.join(repr(x) for x in p)}]) >= 0 THEN {2**i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        table_selects.append(
            f"SELECT vec_id, {t} AS tbl, CAST({bits} AS BIGINT) AS bucket FROM embeddings"
        )
    buckets_sql = " UNION ALL ".join(table_selects)
    return f"""
    WITH buckets AS ({buckets_sql}),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM buckets a JOIN buckets b USING (tbl, bucket)
        WHERE a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                       CAST(eb.embedding AS DOUBLE[])), 6)
          >= {_EMB_THRESHOLD}
    """


@register(
    "dedup_embedding_cosine_bucketed",
    oracle=valid_embeddings(_bucketed_cosine_oracle()),
)
def dedup_embedding_cosine_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup, corpus-scale plan: OR-amplified sign-bit LSH
    buckets -> per-bucket candidate self-join -> exact-cosine verification
    (operators/similarity.py:cosine_pairs_bucketed). Linear bucketing +
    occupancy-bounded joins — no all-pairs stage; the oracle recomputes
    the identical pipeline in SQL (plane literals shared).
    """
    from masd_spark.operators.similarity import cosine_pairs_bucketed

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_bucketed(
        emb,
        threshold=_EMB_THRESHOLD,
        dim=_EMB_DIM,
        n_planes=_EMB_PLANES,
        n_tables=_EMB_TABLES,
        seed=_EMB_SEED,
    )


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE ROUND(CAST(n_inter AS DOUBLE)
                    / (sa.set_size + sb.set_size - n_inter), 6) >= 0.5
    ),
    bidir AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN bidir e ON r.dst = e.a
    )
    SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS component
    FROM reach GROUP BY src
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over the
    Jaccard>=0.5 pair graph via iterative min-label propagation
    (operators/clustering.py) — transitive chains a>b>c collapse into one
    component where greedy pair-dropping would not. Singletons keep their
    own id; the oracle computes the same closure with a recursive CTE.
    """
    from masd_spark.operators.clustering import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        docs, k=3, threshold=0.5, shingles=_shared_shingles(spark, sf_dir)
    )
    comp = connected_components(
        docs.select("doc_id"),
        pairs,
        id_col="doc_id",
        src_col="doc_a",
        dst_col="doc_b",
    )
    return comp.select(F.col("id").alias("doc_id"), "component")


@register(
    "dedup_semantic_clusters",
    oracle=valid_embeddings(f"""
    WITH alldrop AS MATERIALIZED (
        SELECT DISTINCT b.vec_id
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])),
                    6) >= {_EMB_THRESHOLD}
    )
    SELECT 'n_vectors' AS metric, CAST(count(*) AS BIGINT) AS value,
           TRUE AS ok
    FROM embeddings
    UNION ALL
    SELECT 'dropped_subset_of_exact',
           CAST((SELECT count(*) FROM alldrop) AS BIGINT), TRUE
    UNION ALL SELECT 'kept_count_band', CAST(NULL AS BIGINT), TRUE
    UNION ALL SELECT 'keep_agreement_vs_twin', CAST(NULL AS BIGINT), TRUE
    """),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup, FLOAT kernel: cluster embeddings
    (k=8 float Lloyd), drop the higher id of every intra-cluster pair
    with cosine >= 0.35. The pairwise stage is an equi-join on cluster
    id — sum of per-cluster squares, never corpus^2; k scales with the
    corpus to bound cluster size. This is the 100 TB path; its float
    centroids are not engine-portable, so the result is an error-bound
    contract (VERDICT r7 item 2, sketch_hll_error_bound pattern):

    - n_vectors: one verdict per valid vector (portable count);
    - dropped_subset_of_exact: SemDeDup's defining monotonicity — every
      id the cluster-bounded screen drops is also dropped by the exact
      all-pairs rule (whose drop count is the portable value; the
      all-pairs recompute is harness-only cost, never the scale path);
    - kept_count_band: kept set within [0.75, 1.33]x of the integer-
      Lloyd twin's (dedup_semantic_clusters_exact, independently
      hash-checked; measured ratio 1.027 at the gate);
    - keep_agreement_vs_twin: per-vector verdict agreement >= 0.6
      (measured across the ladder: 0.86 at sf0.001, 0.83 at sf0.01,
      0.69 at sf0.1, 0.92 at SF1 — inits differ and the embeddings are
      near-flat, so clusterings legitimately diverge on boundary
      vectors; a broken kernel lands near 0.1).

    Per-cluster keep/drop counts remain available from the exact twin.
    """
    from masd_spark.operators.clustering import (
        kmeans_exact_longform,
        semantic_dedup,
    )
    from masd_spark.operators.similarity import valid_vectors
    from masd_spark.queries.similarity import (
        _KM_ITER,
        _KM_K,
        _KM_SCALE,
        _KM_SEED,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    va = valid_vectors(emb, "vec_id", "embedding")
    n_valid = va.count()
    if n_valid > _SEMDEDUP_VERIFY_CAP:
        # enforce the docstring's "harness-only" claim mechanically: the
        # subset/agreement verification below recomputes the EXACT
        # all-pairs drop set (corpus^2 candidates), which is sound
        # ground truth at gate/fixture scale and a scale-killer beyond
        # it. At scale, run the kernel itself (operators/clustering.py:
        # semantic_dedup) or the hash-checked twin
        # (dedup_semantic_clusters_exact) — never this contract query.
        raise ValueError(
            f"dedup_semantic_clusters is a verification contract with an "
            f"exact all-pairs stage; refusing {n_valid} valid vectors "
            f"(cap {_SEMDEDUP_VERIFY_CAP}). Use semantic_dedup / "
            f"dedup_semantic_clusters_exact at scale."
        )

    fv = semantic_dedup(
        emb, dim=64, threshold=_EMB_THRESHOLD, k=8, n_iter=5
    ).localCheckpoint(eager=True)
    stats = fv.agg(
        F.count("*").alias("n"),
        F.count_distinct("vec_id").alias("n_ids"),
        F.sum(F.col("keep").cast("bigint")).alias("kept"),
    ).collect()[0]

    # exact all-pairs drop set (ground truth for the subset property) —
    # the same cosine_pairs the pinned subset invariant uses
    from masd_spark.operators.similarity import cosine_pairs

    alldrop = (
        cosine_pairs(emb, threshold=_EMB_THRESHOLD)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        # r8: reused by the count below AND the escaped anti-join —
        # materialize the id list once (guide §2.4)
        .localCheckpoint(eager=True)
    )
    n_alldrop = alldrop.count()
    escaped = (
        fv.filter(~F.col("keep"))
        .select("vec_id")
        .join(alldrop, "vec_id", "left_anti")
        .count()
    )

    # integer-Lloyd twin verdicts (independently hash-checked pipeline)
    ea = kmeans_exact_longform(
        emb, dim=64, k=_KM_K, n_iter=_KM_ITER, seed=_KM_SEED, scale=_KM_SCALE
    ).select("vec_id", "cluster")
    ev = semantic_dedup(emb, dim=64, threshold=_EMB_THRESHOLD, assignment=ea)
    joined = fv.select("vec_id", F.col("keep").alias("fk")).join(
        ev.select("vec_id", F.col("keep").alias("ek")), "vec_id"
    )
    tw = joined.agg(
        F.avg((F.col("fk") == F.col("ek")).cast("double")).alias("agree"),
        F.sum(F.col("ek").cast("bigint")).alias("twin_kept"),
    ).collect()[0]

    empty = n_valid == 0  # degenerate corpus: contracts hold vacuously
    # twin_kept == 0 is only reachable when the corpus is empty: the
    # smallest vec_id in every non-empty cluster is never the higher id
    # of any pair, so each kernel keeps >= 1 vector per non-empty
    # cluster whenever n_valid >= 1. The 1.0 fallback therefore only
    # fires in the `empty` regime where the band is vacuous anyway —
    # it cannot mask a float kernel that wrongly keeps everything.
    kept_ratio = (
        float(stats["kept"] or 0) / float(tw["twin_kept"])
        if tw["twin_kept"]
        else 1.0
    )
    rows = [
        (
            "n_vectors",
            n_valid,
            bool(stats["n"] == n_valid and stats["n_ids"] == n_valid),
        ),
        ("dropped_subset_of_exact", n_alldrop, bool(escaped == 0)),
        ("kept_count_band", None, bool(empty or 0.75 <= kept_ratio <= 1.33)),
        (
            "keep_agreement_vs_twin",
            None,
            bool(empty or (tw["agree"] is not None and tw["agree"] >= 0.6)),
        ),
    ]
    return spark.createDataFrame(rows, "metric string, value bigint, ok boolean")


@register(
    "dedup_survivorship",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE ROUND(CAST(n_inter AS DOUBLE)
                    / (sa.set_size + sb.set_size - n_inter), 6) >= 0.5
    ),
    bidir AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN bidir e ON r.dst = e.a
    ),
    comp AS (
        SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS component
        FROM reach GROUP BY src
    )
    SELECT c.doc_id, c.component,
           first_value(c.doc_id) OVER (
               PARTITION BY c.component
               ORDER BY d.n_chars DESC, c.doc_id
           ) AS canonical_doc_id,
           (c.doc_id = first_value(c.doc_id) OVER (
               PARTITION BY c.component
               ORDER BY d.n_chars DESC, c.doc_id
           )) AS is_canonical
    FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    """,
)
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last mile of dedup: inside every near-dup component, elect ONE
    canonical survivor (longest document, doc_id tiebreak) and mark the
    rest as drops — pairs -> components -> survivorship is the full
    production pipeline (a pair list alone can't be acted on; greedy
    pair-dropping is order-dependent). Election is a first_value window
    over the component partitioning — one extra shuffle on component id
    after the label propagation, deterministic by construction.
    """
    from masd_spark.operators.clustering import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        docs, k=3, threshold=0.5, shingles=_shared_shingles(spark, sf_dir)
    )
    comp = connected_components(
        docs.select("doc_id"),
        pairs,
        id_col="doc_id",
        src_col="doc_a",
        dst_col="doc_b",
    ).select(F.col("id").alias("doc_id"), "component")
    joined = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    canon = F.first("doc_id").over(w)
    return joined.select(
        "doc_id",
        "component",
        canon.alias("canonical_doc_id"),
        (F.col("doc_id") == canon).alias("is_canonical"),
    )


_PREFIX_THRESHOLD = 0.4


@register(
    "dedup_prefix_filter_jaccard",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_inter AS DOUBLE)
                 / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE ROUND(CAST(n_inter AS DOUBLE)
                / (sa.set_size + sb.set_size - n_inter), 6)
          >= {_PREFIX_THRESHOLD}
    """,
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered Jaccard pairs at threshold 0.4. The
    prefix filter is LOSSLESS — candidates only need to share one of each
    doc's rarest (1-t) fraction of shingles — so the oracle is the plain
    brute-force shingle join: the optimized plan must reproduce it
    bit-for-bit. Unlike the max_df cap (the dedup_ngram_jaccard headline), the
    skew bound here costs no recall: hot shingles are simply never in
    anyone's prefix. (operators/dedup.py:prefix_filter_pairs)
    """
    docs = load_table(spark, sf_dir, "documents")
    from masd_spark.operators.dedup import prefix_filter_pairs

    return prefix_filter_pairs(
        docs,
        k=3,
        threshold=_PREFIX_THRESHOLD,
        shingles=_shared_shingles(spark, sf_dir),
    )


@register(
    "dedup_incremental_new_docs",
    oracle="""
    WITH fp AS (
        SELECT doc_id, source, n_chars,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
        FROM documents
    ),
    hist AS (SELECT DISTINCT f FROM fp WHERE source <> 'src0'),
    incoming AS (SELECT * FROM fp WHERE source = 'src0'),
    novel AS (
        SELECT i.* FROM incoming i LEFT JOIN hist h ON i.f = h.f
        WHERE h.f IS NULL
    )
    SELECT doc_id, source, n_chars
    FROM novel
    QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1
    """,
)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-batch) dedup: an incoming batch (source='src0')
    survives only if its fingerprint is (a) absent from the historical
    corpus — an ANTI-join against the history's distinct fingerprints,
    the shape that scales to a fingerprint TABLE maintained across runs
    — and (b) the first occurrence within its own batch (min doc_id per
    fingerprint). This is how exact dedup actually runs in a production
    ingestion loop: history is never rescanned as text, only its
    fingerprint index; the per-batch work is one anti-join + one
    in-batch groupBy, both keyed on the fingerprint.
    """
    from masd_spark.operators.text import fingerprint_md5

    fp = fingerprint_md5(load_table(spark, sf_dir, "documents"), "text")
    hist = fp.filter(F.col("source") != "src0").select("fingerprint").distinct()
    incoming = fp.filter(F.col("source") == "src0")
    novel = incoming.join(hist, "fingerprint", "left_anti")
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        novel.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "source", "n_chars")
    )


_TFIDF_COS_MAX_DF = 250
_TFIDF_COS_TAU = 0.5


@register(
    "dedup_tfidf_cosine",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toked WHERE length(term) > 0 GROUP BY 1, 2
    ),
    dfq AS (
        SELECT term, count(*) AS df FROM tf GROUP BY 1
        HAVING count(*) <= {_TFIDF_COS_MAX_DF}
    ),
    w AS (
        SELECT tf.doc_id, tf.term,
               CAST(ROUND(tf.tf *
                    (ln(((SELECT count(*) FROM documents) + 1.0)
                        / (dfq.df + 1.0)) + 1.0), 6)
                    AS DECIMAL(12,6)) AS w
        FROM tf JOIN dfq USING (term)
    ),
    nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY 1),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dp
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(dp AS DOUBLE) /
                 (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
                 6) AS cos_sim
    FROM dots
    JOIN nrm na ON na.doc_id = doc_a
    JOIN nrm nb ON nb.doc_id = doc_b
    WHERE ROUND(CAST(dp AS DOUBLE) /
                (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
                6) >= {_TFIDF_COS_TAU}
    """,
)
def dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical near-dup pairs by sparse TF-IDF cosine (term-keyed
    self-join, df-capped stopword removal as part of the measure,
    decimal-exact dots/norms). Complements the set-overlap family:
    jaccard weighs every shingle equally; this ranks shared RARE terms.
    The df <= {_TFIDF_COS_MAX_DF} cap bounds reducer work per term by
    max_df^2 — the skew story of the capped jaccard join — and the
    oracle recomputes the identical measure end to end.
    """
    from masd_spark.operators.dedup import tfidf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(
        docs,
        threshold=_TFIDF_COS_TAU,
        max_df=_TFIDF_COS_MAX_DF,
    )


def _incr_minhash_oracle(n_hashes: int = 16, n_bands: int = 4, threshold: float = 0.5) -> str:
    rows_per_band = n_hashes // n_bands
    sig_cols = ", ".join(
        f"min(md5('{i}:' || shingle)) AS sig_{i}" for i in range(n_hashes)
    )

    def band_sel(src: str) -> str:
        return " UNION ALL ".join(
            "SELECT doc_id, {b} AS band, md5({c}) AS band_hash FROM {src}".format(
                b=b,
                c=" || '|' || ".join(
                    f"sig_{b * rows_per_band + r}" for r in range(rows_per_band)
                ),
                src=src,
            )
            for b in range(n_bands)
        )

    return f"""
    WITH toks AS (
        SELECT doc_id, source,
               string_split_regex(lower(trim(text)), '\\s+') AS ts
        FROM documents
    ),
    sh AS (
        SELECT doc_id, source,
               unnest(list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                     for i in range(1, len(ts) - 1)])) AS shingle
        FROM toks WHERE len(ts) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
    sh_i AS (SELECT doc_id, shingle FROM sh WHERE source = 'src0'),
    sh_h AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
    sigs_i AS (SELECT doc_id, {sig_cols} FROM sh_i GROUP BY doc_id),
    sigs_h AS (SELECT doc_id, {sig_cols} FROM sh_h GROUP BY doc_id),
    bands_i AS ({band_sel('sigs_i')}),
    bands_h AS ({band_sel('sigs_h')}),
    candidates AS (
        SELECT DISTINCT i.doc_id AS doc_new, h.doc_id AS doc_hist
        FROM bands_i i JOIN bands_h h USING (band, band_hash)
    ),
    inter AS (
        SELECT c.doc_new, c.doc_hist, count(*) AS n_inter
        FROM candidates c
        JOIN sh_i a ON a.doc_id = c.doc_new
        JOIN sh_h b ON b.doc_id = c.doc_hist AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT doc_new, doc_hist,
           ROUND(CAST(n_inter AS DOUBLE)
                 / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_new = sa.doc_id
    JOIN sizes sb ON doc_hist = sb.doc_id
    WHERE ROUND(CAST(n_inter AS DOUBLE)
                / (sa.set_size + sb.set_size - n_inter), 6) >= {threshold}
    """


@register("dedup_incremental_minhash", oracle=_incr_minhash_oracle())
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch NEAR-dup: incoming batch (source='src0') probed against
    the historical corpus' LSH band index — the approximate twin of
    dedup_incremental_new_docs' exact anti-join. Candidate generation is
    an equi-join of the batch's band rows against the (persistable)
    history index, so per-batch cost is O(|batch| + matches) regardless
    of history size; incoming-vs-incoming pairs are structurally
    excluded. Verification re-shingles only SEMI-JOINED candidate history
    docs (bounded by candidate count).
    (operators/dedup.py:incremental_minhash_pairs)
    """
    from masd_spark.operators.dedup import incremental_minhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    return incremental_minhash_pairs(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
    )


@register("dedup_incremental_minhash_persisted", oracle=_incr_minhash_oracle())
def dedup_incremental_minhash_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental_minhash`` with the history side served from a
    PERSISTED index (operators/dedup.py:build_minhash_index): band rows
    bucketed on the candidate-join key, shingle sets bucketed by doc for
    verification, signing geometry in a params table. The probe touches
    batch text + the index only — history text is never rescanned, which
    at 100 TB is the difference between O(|batch|) per ingest run and
    re-deriving the corpus. Incremental appends reuse the stored
    geometry (append==one-shot-build equality pinned in tests). Same
    semantics as the inline twin, so the same oracle replays it; the
    build runs in-query only because the fixture is rebuilt per run."""
    import hashlib
    import os
    import tempfile

    from masd_spark.operators.dedup import build_minhash_index, minhash_persisted_pairs

    docs = load_table(spark, sf_dir, "documents")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"minhash_band_index_{tag}"
    build_minhash_index(
        docs.filter(F.col("source") != "src0"),
        table,
        path=scratch_path(f"masd_{table}"),
    )
    return minhash_persisted_pairs(
        spark, docs.filter(F.col("source") == "src0"), table
    )


def _semantic_exact_oracle() -> str:
    """Composed oracle: integer-Lloyd assignment CTEs (shared generator
    with the kmeans/IVF oracles) + within-cluster cosine pairs + the
    keep-first verdict, reduced to per-cluster counts."""
    from masd_spark.queries.similarity import (
        _KM_ITER,
        _KM_K,
        _KM_SCALE,
        _KM_SEED,
        _kmeans_exact_ctes,
    )

    n_iter = _KM_ITER
    parts = _kmeans_exact_ctes(n_iter, _KM_K, _KM_SCALE, _KM_SEED, 64)
    parts.append(f"""dfin AS MATERIALIZED (
        SELECT q.vec_id, c.cid,
               CAST(sum((q.x - c.cx) * (q.x - c.cx)) AS BIGINT) AS d
        FROM q JOIN c{n_iter} c USING (dim)
        GROUP BY 1, 2
    ),
    afin AS MATERIALIZED (
        SELECT vec_id, cid FROM dfin
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d, cid) = 1
    ),
    simpairs AS (
        SELECT x.vec_id AS id_a, y.vec_id AS id_b
        FROM afin x
        JOIN afin y ON x.cid = y.cid AND x.vec_id < y.vec_id
        JOIN embeddings ea ON ea.vec_id = x.vec_id
        JOIN embeddings eb ON eb.vec_id = y.vec_id
        WHERE ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                           CAST(eb.embedding AS DOUBLE[])),
                    6) >= {_EMB_THRESHOLD}
    ),
    dropped AS (SELECT DISTINCT id_b AS vec_id FROM simpairs),
    verdicts AS (
        SELECT a.cid AS cluster, a.vec_id,
               d.vec_id IS NULL AS keep
        FROM afin a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    )""")
    return (
        "WITH " + ",\n    ".join(parts)
        + """
    SELECT cluster,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
    FROM verdicts GROUP BY cluster"""
    )


@register(
    "dedup_semantic_clusters_exact",
    oracle=valid_embeddings(_semantic_exact_oracle()),
)
def dedup_semantic_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a PROVABLE block structure: clusters come from the
    integer fixed-point Lloyd (hash-checkable), within-cluster pairs use
    the rounded exact cosine, keep-first verdicts reduce to per-cluster
    counts — so the whole semantic-dedup pipeline, including the index
    build that forced the float variant rows-only, is value-checked by
    one composed SQL statement. The float variant remains the latency
    path. (operators/clustering.py:semantic_dedup with injected
    assignment)
    """
    from masd_spark.operators.clustering import (
        kmeans_exact_longform,
        semantic_dedup,
    )
    from masd_spark.queries.similarity import _KM_ITER, _KM_K, _KM_SCALE, _KM_SEED

    emb = load_table(spark, sf_dir, "embeddings")
    assignment = kmeans_exact_longform(
        emb, dim=64, k=_KM_K, n_iter=_KM_ITER, seed=_KM_SEED, scale=_KM_SCALE
    ).select("vec_id", "cluster")
    verdicts = semantic_dedup(
        emb, dim=64, threshold=_EMB_THRESHOLD, assignment=assignment
    )
    return verdicts.groupBy("cluster").agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
        F.sum((~F.col("keep")).cast("bigint")).alias("n_dropped"),
    )
