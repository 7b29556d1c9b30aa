"""Deduplication operators for training-data pipelines.

Four families, each with a distinct scale profile:

- exact: md5-fingerprint groupBy — one shuffle, keeps the smallest doc_id
  per fingerprint. The only correct answer at any scale for byte-dups.
- n-gram Jaccard (exact near-dup): shingle-explode + self-join on shingle
  + pair aggregation. Exact but candidate-pair-bounded: only documents
  sharing >=1 shingle ever meet, so cost is sum over shingles of df^2 —
  fine when shingles are discriminative (k>=3 words), quadratic-blowup-
  prone for tiny k. The oracle-checkable ground truth for the LSH variant.
- MinHash + LSH (approximate near-dup): per-doc signatures (n_hashes
  mins), banding, bucket self-join, then exact Jaccard verification of
  the candidates only. The 100 TB path: cost is linear in corpus +
  candidates, never all-pairs. Hashes are md5 hex strings (engine-
  portable, lexicographic min == numeric min on fixed-width hex);
  swap in xxhash64 for production speed — same shape.
- embedding cosine (semantic near-dup): see similarity.py — pairs with
  cosine >= threshold.

Shingle weighting: all ops use DISTINCT shingles (set semantics), the
standard choice for Jaccard dedup.

Plan-shape notes (these were measured, not guessed):
- The shingle row-set feeds several consumers (self-join sides,
  signatures, verification). It is cached AND eagerly materialized before
  reuse — a lazily-cached subtree referenced N times within one action is
  recomputed by each consumer racing to fill the cache (observed 4-8x).
  At real scale the same role is played by a persisted intermediate table.
- ``set_size`` rides along on every shingle row (computed inside the one
  per-doc aggregation), so Jaccard needs no extra size-lookup joins —
  sizes reach the pair aggregation map-side via ``first()``.
- Everything downstream of the per-doc aggregation reuses its doc_id
  hash partitioning (collect_set -> explode preserves partitioning), so
  signatures add NO extra shuffle.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from masd_spark.operators.skew import drop_overfull_buckets
from masd_spark.operators.text import fingerprint_md5, simhash32, tokens


def _as_fraction(threshold: float) -> tuple[int, int]:
    """Exact (num, den) for a threshold given as a decimal literal.

    ``str()`` recovers the shortest-roundtrip decimal (0.4 -> "0.4"), so
    the rational is the number the caller actually wrote, not the nearest
    binary double; limit_denominator keeps pathological reprs bounded.
    """
    fr = Fraction(str(threshold)).limit_denominator(10**9)
    return fr.numerator, fr.denominator


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row (smallest id) per normalized-text fingerprint."""
    fp = fingerprint_md5(df, text_col)
    keep = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return keep.join(fp, [id_col, "fingerprint"]).drop("fingerprint")


def shingle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """(id, shingle, set_size) rows — distinct k-word shingles per doc,
    with the doc's distinct-shingle count on every row.

    Built as posexplode(tokens) + window ``lead`` rather than exploding an
    array-of-shingles expression: Catalyst inlines array expressions into
    the explode's implied ``size(...) > 0`` filter, re-evaluating the
    tokenizing regex split per element access (O(tokens^2) per doc,
    interpreted). The row-wise lead form evaluates split once per doc and
    stays in whole-stage codegen.

    ONE shuffle total (keyed by doc): the window sort, the per-doc
    collect_set dedup, and the set_size all share the same partitioning.
    The per-doc set is collected as an in-memory array — fine for bounded
    documents (LLM corpus docs); for multi-million-token inputs, chunk
    upstream first.
    """
    toked = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    sh = toked.select(
        F.col(id_col),
        F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    per_doc = sh.groupBy(id_col).agg(F.collect_set("shingle").alias("_set"))
    out = per_doc.select(
        F.col(id_col),
        F.size("_set").cast("bigint").alias("set_size"),
        F.explode("_set").alias("shingle"),
    )
    if materialize:
        # localCheckpoint, not cache(): broadcast-subquery threads plan
        # independently and were observed BYPASSING the cache, recomputing
        # the whole window+collect_set lineage per broadcast (10x blowup).
        # Checkpointing truncates the lineage — downstream plans, including
        # broadcast subqueries, can only read the materialized blocks.
        out = out.localCheckpoint(eager=True)
    return out


def span_duplication(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Per-doc PASSAGE-duplication stats: of a doc's k-gram positions
    (every position, not the distinct set), what fraction carries a
    shingle that occurs in >= ``min_docs`` distinct documents.

    The corpus-level signal behind substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): documents dominated by cross-doc repeated passages
    (boilerplate, licenses, templates) score high even when no single
    whole-doc pair clears a Jaccard bar. Output: (doc_id, n_spans,
    n_dup_spans, dup_fraction); docs with < k tokens have no spans and no
    row.

    Plan: one doc-keyed shuffle builds positional shingles (posexplode +
    window lead, same codegen-friendly shape as shingle_rows), one
    shingle-keyed aggregation computes distinct-doc frequency, and the
    dup flag returns via a shingle-keyed semi-join; the final per-doc agg
    reuses the doc partitioning. No all-pairs stage anywhere — cost is
    linear in total tokens + one frequency table.

    Invalid-input contract: "occurs in >= min_docs DISTINCT documents"
    needs document identity, so null-id rows are EXCLUDED — Spark's
    distinct() would count a null id as one more document while SQL's
    count(DISTINCT ...) ignores it. Oracle twins filter identically.
    """
    df = df.filter(F.col(id_col).isNotNull())
    toked = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    spans = toked.select(
        F.col(id_col),
        F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    spans = spans.localCheckpoint(eager=True)  # feeds freq AND the join
    dup = (
        spans.select(id_col, "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("shingle")
    )
    flagged = spans.join(dup, "shingle", "left_semi").groupBy(id_col).agg(
        F.count("*").alias("n_dup_spans")
    )
    totals = spans.groupBy(id_col).agg(F.count("*").alias("n_spans"))
    return totals.join(flagged, id_col, "left").select(
        id_col,
        F.col("n_spans").cast("bigint").alias("n_spans"),
        F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
        F.round(
            F.coalesce("n_dup_spans", F.lit(0)) / F.col("n_spans"), 6
        ).alias("dup_fraction"),
    )


def _dup_token_runs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    min_docs: int,
    min_span_tokens: int,
) -> DataFrame:
    """Maximal duplicated token ranges per doc: (id, span_start,
    span_tokens), 0-based token offsets.

    A token is COVERED when it sits inside at least one positional k-gram
    that occurs in >= ``min_docs`` distinct documents; maximal runs of
    covered tokens of length >= ``min_span_tokens`` are the duplicated
    spans. Working on the covered-token UNION (not on runs of anchor
    positions) merges k-grams whose windows overlap without being
    consecutive — the same range-merge the suffix-array method performs
    on character intervals.

    Implementation is an INTERVAL MERGE, not a covered-position explode:
    each duplicated anchor position p is the interval [p, p+k); a
    running-max-of-ends window marks interval starts that clear every
    earlier end (new island) and a conditional running sum numbers the
    islands — one doc-keyed sort, no k-factor position blow-up, no
    distinct. The DuckDB oracle twin deliberately keeps the explicit
    covered-token-explode formulation, so driver parity cross-proves the
    two formulations equivalent.

    Cost: linear in total tokens — one doc-keyed shuffle for positional
    shingles, one shingle-keyed frequency, one semi-join back, and the
    merge window reuses the doc partitioning. No all-pairs stage.
    """
    toked = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    spans = toked.select(
        F.col(id_col),
        F.col("pos"),
        F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    spans = spans.localCheckpoint(eager=True)  # feeds freq AND the join
    dup = (
        spans.select(id_col, "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("shingle")
    )
    anchors = spans.join(dup, "shingle", "left_semi").select(
        id_col, "pos", (F.col("pos") + F.lit(k)).alias("_end")
    )
    ordered = Window.partitionBy(id_col).orderBy("pos")
    before = ordered.rowsBetween(Window.unboundedPreceding, -1)
    merged = anchors.withColumn(
        # a strictly later start than every earlier interval's end opens a
        # new island; end == start is adjacency (contiguous tokens), merge
        "_new",
        F.when(F.col("pos") > F.coalesce(F.max("_end").over(before), F.lit(-1)), 1)
        .otherwise(0),
    ).withColumn("_grp", F.sum("_new").over(ordered))
    return (
        merged.groupBy(id_col, "_grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("_end") - F.min("pos")).cast("bigint").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span_tokens)
        .drop("_grp")
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_docs: int = 2,
    min_span_tokens: int = 5,
) -> DataFrame:
    """EXACT-SUBSTRING duplication extraction (token-level analogue of the
    suffix-array method of Lee et al., "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499): emit every maximal token
    range of length >= ``min_span_tokens`` whose every token lies inside a
    k-gram shared by >= ``min_docs`` distinct documents.

    Output: (id, span_start, span_tokens, span_text) — the actual
    duplicated passages, not just per-doc pressure stats
    (:func:`span_duplication` is the stats twin). Token offsets are
    0-based over the normalized (trimmed, lowercased, whitespace-split)
    token sequence.

    Scale: the suffix-array construction the paper uses is a single-node
    algorithm; the Spark-native equivalent anchors duplication on
    positional k-grams (distributed freq table + semi-join) and merges
    covered-token intervals with a per-doc window — every stage keyed,
    linear in corpus tokens, no all-pairs. Precision relative to true
    substring duplication: a run's every k-window is duplicated somewhere,
    but possibly in different partner docs (same relaxation every k-gram
    anchoring makes); recall is exact for duplicated substrings of length
    >= k.

    Invalid-input contract: null ids are excluded (duplication across
    "distinct documents" needs identity); null texts produce no spans.
    """
    df = df.filter(F.col(id_col).isNotNull())
    runs = _dup_token_runs(df, id_col, text_col, k, min_docs, min_span_tokens)
    toks_by_doc = df.select(F.col(id_col), tokens(text_col).alias("_ts"))
    return runs.join(toks_by_doc, id_col).select(
        F.col(id_col),
        "span_start",
        "span_tokens",
        F.array_join(
            F.slice("_ts", F.col("span_start") + 1, F.col("span_tokens")), " "
        ).alias("span_text"),
    )


def strip_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_docs: int = 2,
    min_span_tokens: int = 5,
) -> DataFrame:
    """Remove the duplicated spans :func:`duplicated_spans` finds — the
    write-side of substring dedup (Lee et al. drop the duplicated range
    from all but one occurrence; this keeps per-doc determinism by
    dropping EVERY occurrence, the conservative training-data choice —
    no cross-doc "which copy survives" coordination at 100 TB).

    Output: one row per doc with non-null text and id —
    (id, n_tokens, n_dup_tokens, clean_text) where clean_text is the
    normalized token sequence minus covered spans ('' when everything was
    duplicated). Docs with no qualifying span pass through with
    n_dup_tokens = 0.

    Plan: the runs table (tiny relative to the corpus) explodes back to
    covered positions; a doc-keyed LEFT ANTI join drops them from the
    positional token rows; one per-doc aggregation rebuilds the text via
    array_sort(collect_list(struct(pos, tok))) — order restored by the
    unique position, partitioning-independent.
    """
    base = df.filter(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
    runs = _dup_token_runs(base, id_col, text_col, k, min_docs, min_span_tokens)
    covered = runs.select(
        F.col(id_col),
        F.explode(
            F.sequence(
                F.col("span_start"),
                F.col("span_start") + F.col("span_tokens") - F.lit(1),
            )
        ).alias("tpos"),
    )
    toked = base.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("tpos", "tok")
    )
    kept = toked.join(covered, [id_col, "tpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = base.select(
        F.col(id_col), F.size(tokens(text_col)).cast("bigint").alias("n_tokens")
    )
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("_n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_dup_tokens"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def _pair_jaccard(pairs: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, shingle-match rows with size_a/size_b) -> thresholded
    Jaccard per pair. Sizes arrive map-side via first() — no extra joins."""
    inter = pairs.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("n_inter"),
        F.first("size_a").alias("size_a"),
        F.first("size_b").alias("size_b"),
    )
    jac = inter.withColumn(
        "jaccard",
        F.round(
            F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
            6,
        ),
    )
    return jac.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (doc_a < doc_b, jaccard >=
    threshold).

    Plan: shingle rows self-join on shingle (shuffle keyed by shingle) ->
    per-pair intersection counts with sizes carried map-side -> jaccard
    filter. Hot shingles create join skew at scale — a single stop-shingle
    with document frequency d contributes d^2 candidate rows to ONE
    reducer. ``max_df`` is the mitigation: shingles with df > max_df are
    excluded from CANDIDATE GENERATION only; verification still counts the
    intersection over the FULL shingle sets, so every emitted pair carries
    its true Jaccard. The semantics are therefore: exact scores, recall
    limited to pairs sharing at least one sub-cap shingle — and the result
    is bit-identical to the uncapped join whenever max_df >= the corpus's
    max document frequency (tests pin both properties). Per-shingle join
    work is bounded by max_df^2.
    """
    counts = _pair_counts(
        shingles if shingles is not None else shingle_rows(df, id_col, text_col, k),
        id_col,
        max_df,
    )
    jac = counts.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("n_inter")
            / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
            6,
        ).alias("jaccard"),
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Subset-duplicate pairs by set CONTAINMENT: n_inter / min(|A|, |B|)
    >= threshold (doc_a < doc_b).

    The asymmetric axis Jaccard misses: a short document wholly embedded
    in a long one (quoted article, boilerplate wrapper, chunk-of) scores
    near 1.0 containment but Jaccard ~ |A|/|B| — the standard second
    screen in training-data dedup. Same candidate/verify machinery as
    :func:`jaccard_pairs` (shared :func:`_pair_counts`): shingle-keyed
    equi-join, never all-pairs, with the same ``max_df`` rare/hot
    decomposition for skew.
    """
    counts = _pair_counts(
        shingles if shingles is not None else shingle_rows(df, id_col, text_col, k),
        id_col,
        max_df,
    )
    cont = counts.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("n_inter") / F.least("size_a", "size_b"), 6
        ).alias("containment"),
    )
    return cont.filter(F.col("containment") >= threshold).select(
        "doc_a", "doc_b", "containment"
    )


def _pair_counts(sh: DataFrame, id_col: str, max_df: int | None) -> DataFrame:
    """(doc_a, doc_b, n_inter, size_a, size_b) for every doc pair sharing
    >= 1 shingle (>= 1 RARE shingle when ``max_df`` is set), doc_a < doc_b.

    The shared core of :func:`jaccard_pairs` / :func:`containment_pairs`.
    Capped path: the true intersection decomposes by document frequency —
    n_inter = |rare ∩| + |hot ∩| (every shingle is exactly one of the
    two) — so the uncapped join+pair-aggregation runs unchanged on the
    RARE rows (skew-bounded by max_df^2, no extra distinct) and the hot
    contribution is added from per-doc HOT-shingle arrays, which are tiny
    (few shingles exceed max_df) and join by doc id, sized by the
    candidate aggregate. Exact counts either way; the cap only limits
    which pairs are generated.
    """
    a = sh.select(
        F.col(id_col).alias("doc_a"), "shingle", F.col("set_size").alias("size_a")
    )
    b = sh.select(
        F.col(id_col).alias("doc_b"), "shingle", F.col("set_size").alias("size_b")
    )
    if max_df is None:
        return (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(
                F.count("*").alias("n_inter"),
                F.first("size_a").alias("size_a"),
                F.first("size_b").alias("size_b"),
            )
        )
    # One document-frequency aggregation, expressed as its HOT complement
    # (optimization r8, guide §2.4/§3.1): the old form joined `rare` into
    # both pair sides and `hot` into both hot-set builds as four DISTINCT
    # filtered subtrees, so Catalyst planned the dfreq aggregation FOUR
    # times (4 exchanges + 4 rescans of the shingle checkpoint; plan-
    # verified). The hot set is the same information and provably TINY:
    # #hot <= sum(df)/max_df = (total shingle rows)/(n_docs/100) = 100 x
    # avg shingles/doc — bounded by document length, independent of
    # corpus size — so it broadcasts safely at any scale, rare-filtering
    # becomes a broadcast ANTI join (no shuffle of the shingle rows), and
    # the ONE identical broadcast subtree is planned once and reused by
    # ReuseExchange across all three consumers.
    # The hot list is materialized once (it is tiny — see bound above) so
    # the df aggregation runs exactly ONE time: the eager hot_sets build
    # below and the main query's three broadcast consumers otherwise each
    # re-planned the full groupBy over the shingle checkpoint
    # (ReuseExchange only dedupes within a single executed plan).
    hot = F.broadcast(
        sh.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("shingle")
        .localCheckpoint(eager=True)
    )
    ra = a.join(hot, "shingle", "left_anti")
    rb = b.join(hot, "shingle", "left_anti")
    rare_agg = (
        ra.join(rb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("_rare_inter"),
            F.first("size_a").alias("size_a"),
            F.first("size_b").alias("size_b"),
        )
    )
    # left_semi + collect_set over the few hot rows; checkpointed because
    # it is referenced twice (doc_a and doc_b attach) and is O(docs-with-
    # a-hot-shingle) rows of <=100-element arrays — without the
    # checkpoint the whole semi-join+agg ran twice.
    hot_sets = (
        sh.join(hot, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("_hot"))
        .localCheckpoint(eager=True)
    )
    empty = F.array().cast("array<string>")
    return (
        rare_agg.join(
            hot_sets.select(F.col(id_col).alias("doc_a"), F.col("_hot").alias("_hot_a")),
            "doc_a",
            "left",
        )
        .join(
            hot_sets.select(F.col(id_col).alias("doc_b"), F.col("_hot").alias("_hot_b")),
            "doc_b",
            "left",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("_rare_inter")
                + F.size(
                    F.array_intersect(
                        F.coalesce("_hot_a", empty), F.coalesce("_hot_b", empty)
                    )
                )
            ).alias("n_inter"),
            "size_a",
            "size_b",
        )
    )


class SimhashCollapseError(ValueError):
    """Raised when simhash_pairs is invoked on a corpus whose vocabulary
    entropy cannot support simhash fingerprints (mean document length
    exceeds the unigram perplexity — the round-7 SF10 measured modal
    collapse). Route such corpora to the k-gram/minhash screens."""


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
    n_bits: int = 32,
    entropy_guard: bool = True,
) -> DataFrame:
    """All pairs of documents whose SimHash fingerprints differ in
    at most ``max_hamming`` bits — EXACT (not approximate), via pigeonhole
    blocking: with ``n_bands`` bands and max_hamming < n_bands, any
    qualifying pair agrees exactly on >= 1 band, so banded equi-join
    candidates have recall 1.0 and the Hamming verification makes
    precision 1.0. Cost: one fingerprint aggregation (linear) + band
    equi-joins bounded by band-value occupancy — never all-pairs. The
    standard 100 TB near-dup screen when Jaccard-grade fidelity isn't
    needed.

    ``n_bits`` is a CAPACITY parameter (round-6 SF1 finding): expected
    band-bucket occupancy is ~n_docs / 2^(n_bits/n_bands), so 32 bits
    (8-bit bands) saturates around 10k docs — the SF1 sweep watched the
    'exact' join go quadratic on one hot band value. Size
    n_bits/n_bands >= log2(n_docs) - ~4 and the join stays linear;
    ``n_bits=60`` (operators/text.py:simhash_wide) covers ~1M docs.
    Exactness (recall 1.0 within max_hamming) holds at ANY width — width
    only buys candidate sparsity.

    ``entropy_guard`` (default ON, VERDICT r7 item 3): width cannot fix
    VOCABULARY-entropy collapse — when mean document length exceeds the
    corpus's unigram perplexity, per-bit sign means grow ~linearly with
    doc length while stddev grows ~sqrt(L), so long documents converge
    to the corpus-modal fingerprint and the band join wedges (measured
    at SF10 on the 31-token fixture vocabulary). The guard runs one
    vocab-bounded profile aggregation (operators/text.py:
    vocab_entropy_guard) and raises :class:`SimhashCollapseError` on a
    collapse-shaped corpus instead of launching a join that degenerates
    at scale. Pass ``entropy_guard=False`` only for fixture-scale ground
    truth/harness runs, or route via the guard's ``recommended_screen``
    (the registered ``dedup_screen_routed`` plan does exactly that).
    """
    if not max_hamming < n_bands:
        raise ValueError(
            f"pigeonhole blocking needs max_hamming < n_bands, got "
            f"{max_hamming} >= {n_bands}"
        )
    if entropy_guard:
        from masd_spark.operators.text import vocab_entropy_guard

        prof = vocab_entropy_guard(df, text_col=text_col).collect()
        if prof and prof[0]["simhash_collapse_risk"]:
            p = prof[0]
            raise SimhashCollapseError(
                f"simhash modal collapse on this corpus: mean doc length "
                f"{p['mean_doc_tokens']} tokens exceeds unigram perplexity "
                f"{p['unigram_perplexity']} (vocab {p['vocab_size']}, "
                f"entropy {p['entropy_bits']} bits) — long docs converge "
                f"to one fingerprint and the band join degenerates at "
                f"scale; use the k-gram/minhash screens "
                f"(minhash_lsh_pairs / jaccard_pairs) or pass "
                f"entropy_guard=False for fixture-scale ground truth"
            )
    band_bits = n_bits // n_bands
    from masd_spark.operators.text import simhash_wide

    fp = (
        simhash32(df, id_col, text_col)
        if n_bits == 32
        else simhash_wide(df, id_col, text_col, n_bits=n_bits)
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.expr(f"simhash div {2 ** (band_bits * b)} % {2 ** band_bits}").alias(
                "val"
            ),
        )
        for b in range(n_bands)
    ]
    banded = fp.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bv")
    ).select(id_col, F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    cand = (
        banded.select(F.col(id_col).alias("doc_a"), "band", "val")
        .join(banded.select(F.col(id_col).alias("doc_b"), "band", "val"), ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    fa = fp.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("_ha"))
    fb = fp.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("_hb"))
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 16,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per doc: sig_i = min over shingles of
    md5(i || ':' || shingle), i in [0, n_hashes).

    The groupBy reuses the shingle set's doc_id partitioning — no extra
    shuffle; the md5s are computed map-side, n_hashes per shingle.
    """
    sh = shingles if shingles is not None else shingle_rows(df, id_col, text_col, k)
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"sig_{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*mins)


def band_rows(
    sigs: DataFrame, id_col: str, n_hashes: int, n_bands: int
) -> DataFrame:
    """LSH banding of a signature table: one (id, band, band_hash) row per
    band, band_hash = md5 of the band's signature slice. This IS the
    persisted index schema of the incremental variant — (band, band_hash)
    is the equi-join key that replaces all-pairs comparison."""
    rows_per_band = n_hashes // n_bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
                )
            ).alias("band_hash"),
        )
        for b in range(n_bands)
    ]
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_hash").alias("band_hash"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact-Jaccard verification.

    banding: n_bands bands of n_hashes/n_bands rows; candidate pairs
    collide in >=1 band (P[collide] = 1-(1-j^r)^b — with 16/4 this is
    ~0.95 at j=0.8, ~0.3 at j=0.5). Candidates are then verified with the
    exact Jaccard, so the threshold is honest; only recall is approximate.

    Scale: signatures are one no-extra-shuffle aggregation over one
    shared, materialized shingle set; banding explodes n_bands rows/doc;
    the bucket self-join only ever joins docs whose band-hash matches;
    verification touches candidates only. No all-pairs stage anywhere.

    ``max_bucket`` bounds the one remaining skew channel: a band bucket
    holding d docs (boilerplate/identical documents all sharing a
    signature slice) contributes d^2 candidate rows to ONE reducer.
    When set, buckets with occupancy > max_bucket are skipped for
    candidate generation (standard LSH overfull-bucket policy), bounding
    per-bucket join work by max_bucket^2; a pair is still found through
    any of its non-overfull bands, and the result is bit-identical to the
    uncapped join whenever max_bucket >= the max bucket occupancy
    (tests/test_skew_soak.py pins both properties under planted skew).
    The pipeline discipline for truly identical docs remains exact dedup
    (``dedup_exact``) upstream — identical docs are overfull in EVERY
    band, which no per-band policy can recover.
    """
    sh = shingles if shingles is not None else shingle_rows(df, id_col, text_col, k)
    sigs = minhash_signatures(df, id_col, text_col, k, n_hashes, shingles=sh)
    banded = drop_overfull_buckets(
        band_rows(sigs, id_col, n_hashes, n_bands),
        ["band", "band_hash"],
        max_bucket,
    )
    # Materialize the banded rows before the self-join (optimization r8,
    # guide §2.4): the candidate join references `banded` on BOTH sides,
    # and Catalyst plans the full signature pipeline (doc-keyed sort
    # aggregation of n_hashes md5 minima + band explode + occupancy
    # window) TWICE — plan-verified as two complete copies feeding the
    # join. The banded table is n_bands rows/doc of (id, band, md5) —
    # linear, tiny next to the shingle set — so one checkpoint halves
    # the whole signature stage at any scale.
    banded = banded.localCheckpoint(eager=True)
    lhs = banded.select(F.col(id_col).alias("doc_a"), "band", "band_hash")
    rhs = banded.select(F.col(id_col).alias("doc_b"), "band", "band_hash")
    candidates = (
        lhs.join(rhs, ["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Exact-Jaccard verification of CANDIDATES ONLY (never all pairs):
    # attach doc_a's shingles, equi-join doc_b's shingles -> intersection.
    sh_a = sh.select(
        F.col(id_col).alias("doc_a"), "shingle", F.col("set_size").alias("size_a")
    )
    sh_b = sh.select(
        F.col(id_col).alias("doc_b"), "shingle", F.col("set_size").alias("size_b")
    )
    pairs = candidates.join(sh_a, "doc_a").join(sh_b, ["doc_b", "shingle"])
    return _pair_jaccard(pairs, threshold)


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (PPJoin-style, lossless).

    Order each doc's shingles by global rarity (document frequency asc,
    shingle asc — one canonical total order for the whole corpus) and keep
    only the first ``|x| - ceil(t*|x|) + 1`` as the doc's *prefix*. Two
    sets with Jaccard >= t must overlap in at least ceil(t*max(|x|,|y|))
    elements, so they cannot disagree on BOTH prefixes — a shared prefix
    shingle is a necessary condition, and candidate generation joins
    prefixes only. Verification then scores candidates on the FULL sets,
    so every emitted pair carries its true Jaccard and the result is
    bit-identical to the brute-force shingle join (pinned in tests).

    Scale shape vs plain ``jaccard_pairs``: the candidate join touches
    ~(1-t) of each doc's shingles, and because the canonical order puts
    RARE shingles first, prefixes systematically avoid the high-df
    shingles that cause quadratic reducer blowup — the skew cap falls out
    of the ordering instead of needing a max_df cutoff (and without the
    cap's recall caveat). df ranking and prefix selection reuse one
    shingle-keyed + one doc-keyed shuffle.
    """
    sh = shingles if shingles is not None else shingle_rows(df, id_col, text_col, k)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    ranked = sh.join(dfreq, "shingle").withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy("_df", "shingle")
        ),
    )
    # ceil(t * size) in EXACT integer arithmetic: binary-float products can
    # land an epsilon above an exact integer (e.g. 0.3*10 -> 3.0000…04,
    # ceil -> 4), silently shortening the prefix / tightening the length
    # filter by one and breaking the losslessness guarantee. Express t as
    # the rational its decimal literal denotes and use bigint div.
    t_num, t_den = _as_fraction(threshold)

    def _ceil_t_times(col: str):
        return F.expr(f"({t_num}L * {col} + {t_den - 1}L) div {t_den}L")

    prefix_len = F.col("set_size") - _ceil_t_times("set_size") + 1
    prefix = ranked.filter(F.col("_rn") <= prefix_len)
    pa = prefix.select(
        F.col(id_col).alias("doc_a"), "shingle", F.col("set_size").alias("_sza")
    )
    pb = prefix.select(
        F.col(id_col).alias("doc_b"), "shingle", F.col("set_size").alias("_szb")
    )
    # length filter (also lossless): J(x,y) >= t forces t*|x| <= |y| <= |x|/t,
    # so size-incompatible prefix collisions are dropped before the distinct
    # — the second PPJoin pruning rule, and it costs only a codegen compare.
    candidates = (
        pa.join(pb, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("_szb") >= _ceil_t_times("_sza"))
            & (F.col("_sza") >= _ceil_t_times("_szb"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verification on per-doc ARRAYS, not the exploded table: the exploded
    # verify join shuffles the full (doc, shingle) table twice; folding to
    # one array row per doc first makes the verify cost proportional to
    # the CANDIDATE set (two id-keyed joins + an array_intersect per
    # pair), which is what the prefix filter just worked to shrink.
    arrays = sh.groupBy(id_col).agg(
        F.collect_set("shingle").alias("_set"),
        F.first("set_size").alias("_sz"),
    )
    a_arr = arrays.select(
        F.col(id_col).alias("doc_a"),
        F.col("_set").alias("_set_a"),
        F.col("_sz").alias("size_a"),
    )
    b_arr = arrays.select(
        F.col(id_col).alias("doc_b"),
        F.col("_set").alias("_set_b"),
        F.col("_sz").alias("size_b"),
    )
    scored = (
        candidates.join(a_arr, "doc_a")
        .join(b_arr, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_set_a", "_set_b")).alias("n_inter"),
            "size_a",
            "size_b",
        )
    )
    jac = scored.withColumn(
        "jaccard",
        F.round(
            F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
            6,
        ),
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs by COSINE over sparse TF-IDF term vectors —
    the lexical-similarity measure the jaccard/minhash/simhash family
    lacks: weighted by term rarity, so two docs sharing a handful of
    distinctive terms outrank two sharing many common ones.

    Measure definition (part of the contract, not an approximation):
    terms with document frequency > ``max_df`` are dropped from the
    VECTORS (classic df-threshold stopword removal); weights are
    ``tf * (ln((N+1)/(df+1)) + 1)`` rounded to 6 dp and quantized to
    DECIMAL(12,6), so dot products and squared norms are exact decimal
    sums — order-independent and engine-portable (the BM25/PQ
    portable-numerics recipe); the final cosine divides doubles and
    rounds to 6.

    Scale shape: one shuffle for (doc, term) counts; the df/idf dim is
    term-vocabulary-sized (sublinear, broadcast); pair scores come from
    a TERM-KEYED equi self-join — never doc x doc — whose reducer work
    is bounded by max_df^2 per term, exactly the ngram-jaccard cap
    argument; norms join back doc-keyed (shuffle join, NOT broadcast —
    norms are corpus-sized). Candidate count is the true pair count
    sharing a surviving term, the standard sparse-vector sim-join bound.
    """
    toked = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    ).filter(F.length("term") > 0)
    tf = toked.groupBy(id_col, "term").agg(F.count("*").alias("_tf"))
    n_docs = docs.select(F.count("*").cast("double").alias("_n"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("_df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("_df") <= max_df)
    w = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            F.round(
                F.col("_tf")
                * (F.log((F.col("_n") + 1) / (F.col("_df") + 1)) + 1),
                6,
            )
            .cast("decimal(12,6)")
            .alias("_w"),
        )
    )
    norms = w.groupBy(id_col).agg(
        F.sum(F.col("_w") * F.col("_w")).alias("_n2")
    )
    a = w.select(
        F.col(id_col).alias("doc_a"), "term", F.col("_w").alias("_wa")
    )
    b = w.select(
        F.col(id_col).alias("doc_b"), "term", F.col("_w").alias("_wb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("_wa") * F.col("_wb")).alias("_dp"))
    )
    scored = (
        dots.join(
            norms.select(
                F.col(id_col).alias("doc_a"), F.col("_n2").alias("_na")
            ),
            "doc_a",
        )
        .join(
            norms.select(
                F.col(id_col).alias("doc_b"), F.col("_n2").alias("_nb")
            ),
            "doc_b",
        )
        .withColumn(
            "cos_sim",
            F.round(
                F.col("_dp").cast("double")
                / (
                    F.sqrt(F.col("_na").cast("double"))
                    * F.sqrt(F.col("_nb").cast("double"))
                ),
                6,
            ),
        )
    )
    return scored.filter(F.col("cos_sim") >= threshold).select(
        "doc_a", "doc_b", "cos_sim"
    )


def incremental_minhash_pairs(
    history: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cross-batch NEAR-dup: which incoming docs near-duplicate the
    historical corpus? Returns (doc_new, doc_hist, jaccard >= threshold).

    The ingestion-loop shape for approximate dedup, complementing
    :func:`dedup_exact`'s anti-join (see dedup_incremental_new_docs):

    - history side: its LSH band index (``band_rows`` schema —
      (id, band, band_hash)) is what a production loop PERSISTS across
      runs; history text is never rescanned for candidate generation.
    - per batch: shingle + sign the incoming docs only, equi-join their
      band rows against the history index — work is O(|batch| + matches),
      independent of history size, and incoming-vs-incoming pairs are
      structurally excluded (in-batch dedup is minhash_lsh_pairs' job).
    - verification: exact Jaccard over shingles, with the HISTORY side
      first semi-joined down to candidate docs — the "fetch candidate
      docs' text" step, bounded by candidate count, not history size.

    ``max_bucket`` bounds the ingestion loop's skew channel: boilerplate
    accumulating in HISTORY grows one band bucket without limit, and a
    batch doc hitting it joins against the whole pile every run. When
    set, history index buckets with occupancy > max_bucket are excluded
    from candidate generation (per-key join work <= max_bucket * |batch
    bucket|) — in production this filter runs ONCE when the persisted
    index is (re)built, not per batch. Results are identical to uncapped
    whenever no history bucket exceeds the cap
    (tests/test_skew_soak.py measures the planted case).
    """
    sh_h = shingle_rows(history, id_col, text_col, k)
    sh_i = shingle_rows(incoming, id_col, text_col, k)
    bands_h = band_rows(
        minhash_signatures(history, id_col, text_col, k, n_hashes, shingles=sh_h),
        id_col, n_hashes, n_bands,
    ).select(F.col(id_col).alias("doc_hist"), "band", "band_hash")
    bands_h = drop_overfull_buckets(bands_h, ["band", "band_hash"], max_bucket)
    bands_i = band_rows(
        minhash_signatures(incoming, id_col, text_col, k, n_hashes, shingles=sh_i),
        id_col, n_hashes, n_bands,
    ).select(F.col(id_col).alias("doc_new"), "band", "band_hash")
    candidates = (
        bands_i.join(bands_h, ["band", "band_hash"])
        .select("doc_new", "doc_hist")
        .distinct()
    )
    sh_a = sh_i.select(
        F.col(id_col).alias("doc_new"), "shingle", F.col("set_size").alias("size_a")
    )
    sh_b = sh_h.join(
        candidates.select(F.col("doc_hist").alias(id_col)).distinct(), id_col, "left_semi"
    ).select(
        F.col(id_col).alias("doc_hist"), "shingle", F.col("set_size").alias("size_b")
    )
    pairs = candidates.join(sh_a, "doc_new").join(sh_b, ["doc_hist", "shingle"])
    agg = pairs.groupBy("doc_new", "doc_hist").agg(
        F.count("*").alias("n_inter"),
        F.first("size_a").alias("size_a"),
        F.first("size_b").alias("size_b"),
    )
    jac = F.round(
        F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
        6,
    )
    return (
        agg.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_new", "doc_hist", "jaccard")
    )


def build_minhash_index(
    history: DataFrame,
    table_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    n_buckets: int = 32,
    max_bucket: int | None = None,
    path: str | None = None,
) -> None:
    """Persist the history side of :func:`incremental_minhash_pairs` as
    THREE tables — the production ingestion-loop shape, where the index
    is an asset maintained across batches instead of being re-derived
    from history text on every run:

    - ``<table_name>``: the LSH band index (doc_id, band, band_hash),
      BUCKETED on band_hash — the candidate equi-join key, so the
      per-batch probe join reads matching buckets co-located;
    - ``<table_name>_shingles``: (doc_id, shingle, set_size) BUCKETED on
      doc_id — the verification side ("fetch candidate docs' shingle
      sets") served from the index, never by rescanning history text;
    - ``<table_name>_params``: one row (k, n_hashes, n_bands,
      max_bucket) making the index self-describing — appends and probes
      read the signing geometry from here, so every row ever written
      agrees on it.

    ``max_bucket`` applies the overfull-bucket skew policy ONCE at
    (re)build time (boilerplate accumulating in history grows one bucket
    without limit); probes then inherit the bound for free. Pass
    ``path`` for an EXTERNAL table (scratch outside the warehouse dir)."""
    spark = history.sparkSession
    sh = shingle_rows(history, id_col, text_col, k)
    bands = band_rows(
        minhash_signatures(history, id_col, text_col, k, n_hashes, shingles=sh),
        id_col, n_hashes, n_bands,
    )
    bands = drop_overfull_buckets(bands, ["band", "band_hash"], max_bucket)
    w = bands.write.mode("overwrite").bucketBy(n_buckets, "band_hash")
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)
    ws = sh.write.mode("overwrite").bucketBy(n_buckets, id_col)
    if path is not None:
        ws = ws.option("path", path + "_shingles")
    ws.saveAsTable(table_name + "_shingles")
    params = spark.createDataFrame(
        [(k, n_hashes, n_bands, max_bucket)],
        schema="k INT, n_hashes INT, n_bands INT, max_bucket INT",
    )
    wp = params.write.mode("overwrite")
    if path is not None:
        wp = wp.option("path", path + "_params")
    wp.saveAsTable(table_name + "_params")


def load_minhash_params(spark, table_name: str) -> dict:
    """Index geometry back from the params table — one bounded row."""
    row = spark.table(table_name + "_params").collect()[0]
    return {
        "k": int(row["k"]),
        "n_hashes": int(row["n_hashes"]),
        "n_bands": int(row["n_bands"]),
        "max_bucket": None if row["max_bucket"] is None else int(row["max_bucket"]),
    }


def append_minhash_index(
    new_docs: DataFrame,
    table_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 32,
) -> None:
    """Incremental index maintenance: shingle + sign NEW history docs
    with the geometry persisted in ``<table_name>_params`` and append
    bucket-aligned band/shingle rows — per-batch cost O(|batch|),
    independent of history size. Reusing the stored (k, n_hashes,
    n_bands) means a probe over (build + appends) is bit-identical to a
    one-shot build over the union (pinned in tests). The build-time
    ``max_bucket`` policy is NOT re-applied per append (a bucket can
    temporarily exceed the cap between rebuilds — the documented
    production trade); rebuild to re-cap."""
    spark = new_docs.sparkSession
    p = load_minhash_params(spark, table_name)
    sh = shingle_rows(new_docs, id_col, text_col, p["k"])
    bands = band_rows(
        minhash_signatures(
            new_docs, id_col, text_col, p["k"], p["n_hashes"], shingles=sh
        ),
        id_col, p["n_hashes"], p["n_bands"],
    )
    bands.write.mode("append").bucketBy(n_buckets, "band_hash").saveAsTable(table_name)
    sh.write.mode("append").bucketBy(n_buckets, id_col).saveAsTable(
        table_name + "_shingles"
    )


def minhash_persisted_pairs(
    spark,
    incoming: DataFrame,
    table_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-batch near-dup probe against a PERSISTED band index
    (build_minhash_index): shingle + sign the incoming batch only, equi-
    join its band rows against the bucketed index, verify candidates
    with exact Jaccard over the persisted shingle table (semi-joined
    down to candidate docs first). History text is never touched —
    value-identical to :func:`incremental_minhash_pairs` over the same
    corpus split (same signing geometry, loaded from the params table),
    so the same oracle SQL checks both."""
    p = load_minhash_params(spark, table_name)
    sh_i = shingle_rows(incoming, id_col, text_col, p["k"])
    bands_i = band_rows(
        minhash_signatures(
            incoming, id_col, text_col, p["k"], p["n_hashes"], shingles=sh_i
        ),
        id_col, p["n_hashes"], p["n_bands"],
    ).select(F.col(id_col).alias("doc_new"), "band", "band_hash")
    bands_h = spark.table(table_name).select(
        F.col(id_col).alias("doc_hist"), "band", "band_hash"
    )
    candidates = (
        bands_i.join(bands_h, ["band", "band_hash"])
        .select("doc_new", "doc_hist")
        .distinct()
    )
    sh_a = sh_i.select(
        F.col(id_col).alias("doc_new"), "shingle", F.col("set_size").alias("size_a")
    )
    sh_b = spark.table(table_name + "_shingles").join(
        candidates.select(F.col("doc_hist").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    ).select(
        F.col(id_col).alias("doc_hist"), "shingle", F.col("set_size").alias("size_b")
    )
    pairs = candidates.join(sh_a, "doc_new").join(sh_b, ["doc_hist", "shingle"])
    agg = pairs.groupBy("doc_new", "doc_hist").agg(
        F.count("*").alias("n_inter"),
        F.first("size_a").alias("size_a"),
        F.first("size_b").alias("size_b"),
    )
    jac = F.round(
        F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
        6,
    )
    return (
        agg.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_new", "doc_hist", "jaccard")
    )


def shingle_rows_mapside(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """Shuffle-FREE twin of :func:`shingle_rows`: same (id, shingle,
    set_size) rows, built entirely map-side.

    The window-lead form pays one doc-keyed sort shuffle purely to dodge
    Catalyst's project-collapse trap (an array expression referenced by
    explode AND size() gets inlined and re-evaluated). This variant
    dodges it differently: each intermediate array is passed through
    ``explode(array(...))`` — a Generate evaluates its child ONCE per
    row and emits the result as a bound ATTRIBUTE, which downstream
    expressions reference by slot instead of re-inlining. Three chained
    Generates (token array -> distinct-shingle array -> shingle rows),
    zero exchanges; positional shingles come from slice() over the
    materialized token attribute, never from re-split text.

    Measured head-to-head at sf0.1 (warm): build 0.56s vs 0.69s for the
    window-lead form — but its checkpoint inherits the SCAN's partition
    count (3 files here), so downstream consumers start less parallel
    than from the lead form's 32 shuffle partitions (jaccard 1.8s vs
    1.1s). At fixture scale the lead form therefore stays the default;
    at real scale the trade flips — input splits provide parallelism and
    this form shuffles NOTHING, while the lead form shuffles the
    exploded token rows (k x corpus tokens), its single biggest cost.
    Equality with shingle_rows is pinned by test (exact multiset).
    """
    toks = df.select(
        F.col(id_col), F.explode(F.array(tokens(text_col))).alias("_toks")
    )
    n_spans = F.size("_toks") - (k - 1)
    sh_arr = F.when(
        n_spans >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_spans, F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice("_toks", i, k)),
            )
        ),
    )
    per_doc = toks.select(
        F.col(id_col), F.explode(F.array(sh_arr)).alias("_set")
    ).filter(F.col("_set").isNotNull())
    out = per_doc.select(
        F.col(id_col),
        F.size("_set").cast("bigint").alias("set_size"),
        F.explode("_set").alias("shingle"),
    )
    if materialize:
        out = out.localCheckpoint(eager=True)
    return out
