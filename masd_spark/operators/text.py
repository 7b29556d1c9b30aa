"""Text-analysis operators for a training-data pipeline over a
``documents(doc_id, text, ...)`` table: tokenization, shingling, token
counting, quality scoring, language ID, fingerprinting.

All expressions are built-in (split/transform/aggregate/md5 higher-order
functions) — JVM-side, codegen'd, no Python in the row path. Hash-based
ops use md5 hex strings as the portable hash (identical in any engine);
at production scale swap ``hash_fn='xxhash64'`` for the cheaper 64-bit
JVM hash — same pipeline shape, one expression changed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small and deterministic — the operator's value is
# the scalable shape (explode + broadcast join + argmax), not the lexicon.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "es": ["el", "la", "los", "y", "es", "un"],
    "fr": ["le", "les", "et", "est", "une", "du"],
    "zh": ["de", "shi", "le", "zai", "he", "you"],
}


def tokens(text: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization of trimmed text -> array<string>."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.trim(c)
    if lowercase:
        c = F.lower(c)
    return F.split(c, r"\s+")


def kgrams(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Positional k-grams of every input row: ``(id, kgrams)``, one row
    per input row, where ``kgrams[i]`` is tokens i..i+k-1 of
    :func:`tokens` joined by one space (empty for fewer than k tokens or
    null text). The one k-gram construction of the package: shingle sets,
    positional spans, n-gram counts and repetition scores all start here.

    Map-side: each array is bound once by an ``explode(array(...))``
    Generate, so ``slice`` reads the tokens by slot. Without the binding
    Catalyst inlines the tokenizer into the array expression's consumers
    and re-runs the regex split per element access, O(tokens^2) per row
    (ARCHITECTURE.md, finding 1). Rows never mix: a k-gram never crosses
    an input row, whatever its id (duplicate or null ids included).

    The input rows are always hash-partitioned by ``id_col`` to
    ``defaultParallelism`` first. A single-row-group parquet file is read
    by one task however many splits it has, so the scan's partition count
    says nothing about the spread; one shuffle of the raw rows (not of
    the k-grams) fixes it, and a per-id aggregation straight over the
    k-grams reuses it.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    bound = df.repartition(par, id_col).select(
        F.col(id_col), F.explode(F.array(tokens(text_col))).alias("_toks")
    )
    n = F.size("_toks") - (k - 1)
    grams = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n), lambda i: F.concat_ws(" ", F.slice("_toks", i, k))
        ),
    ).otherwise(F.array().cast("array<string>"))
    return bound.select(F.col(id_col), F.explode(F.array(grams)).alias("kgrams"))


def token_count(text: Column | str) -> Column:
    """Whitespace token count (empty text -> 0)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(c), r"\s+"))
    ).cast("bigint")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document-quality features: char/token counts, mean token
    length, alpha ratio, stopword ratio — the standard cheap pre-filters of
    an LLM data pipeline. Pure column math; scales linearly, no shuffle.
    """
    t = F.col(text_col)
    toks = tokens(text_col)
    n_tok = token_count(text_col)
    alpha_chars = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    stop = F.array([F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(toks, stop)).cast("bigint")
    # Ratios are guarded: empty/whitespace-only docs have n_tokens = 0 and
    # possibly length 0, and Spark 4's default ANSI mode turns a zero
    # divisor into DIVIDE_BY_ZERO instead of null — emit null explicitly.
    return (
        df.withColumn("n_chars_obs", F.length(t).cast("bigint"))
        .withColumn("n_tokens", n_tok)
        .withColumn(
            "mean_token_len",
            F.when(
                n_tok > 0,
                F.round((F.length(F.regexp_replace(F.trim(t), r"\s+", ""))) / n_tok, 6),
            ),
        )
        .withColumn(
            "alpha_ratio",
            F.when(F.length(t) > 0, F.round(alpha_chars / F.length(t), 6)),
        )
        .withColumn("distinct_stopwords", n_stop)
    )


# Cleaning / scrubbing regexes (RE2-safe, shared verbatim with the DuckDB
# oracle). Order matters: tags out first, then PII masks, then whitespace.
HTML_TAG_RE = r"<[^>]+>"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_DIGITS_RE = r"[0-9][0-9 ()+.-]{6,}[0-9]"
MULTI_WS_RE = r"\s+"


def clean_text(text: Column | str) -> Column:
    """Pre-training scrub: strip markup tags, mask emails and long digit
    runs (phone/account-shaped PII) with typed placeholders, collapse
    whitespace. Pure chained regexp_replace — codegen'd, linear, no
    shuffle; the standard cleaning stage before quality scoring.
    """
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, HTML_TAG_RE, " ")
    c = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, LONG_DIGITS_RE, "<NUMBER>")
    c = F.regexp_replace(c, MULTI_WS_RE, " ")
    return F.trim(c)


# BPE-ish pre-tokenizer: the GPT-2-style split of text into word /
# number / punctuation-run pieces with their leading space. Counting these
# pieces approximates (within ~10-15%) a real BPE token count without a
# vocab — the standard cheap budget estimator in LLM data pipelines. The
# pattern is RE2-safe (no lookarounds) so any engine reproduces it.
BPE_SPLIT_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_count(text: Column | str) -> Column:
    """Count of BPE-ish pieces (see BPE_SPLIT_PATTERN) — vectorized
    regexp_extract_all + size, no UDF."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_SPLIT_PATTERN), 0)).cast("bigint")


def _with_md5_digit_blocks(df: DataFrame, tok_col: str) -> DataFrame:
    """md5 hex digits 0..31 of ``tok_col``, pre-decoded into three BIGINT
    blocks (digits 0-14, 15-29, 30-31). Optimization r8 (guide §1.2
    per-task work): the simhash bit predicates used to decode each hex
    digit with its own substring+conv — 60 string expressions per token
    dominated the whole fingerprint pass. Three block convs (15 hex
    digits = 60 bits < 2^63, exact in BIGINT) plus integer shift/mask
    reads per digit yield the IDENTICAL digit values — the md5 hex
    string is the same; only how digits are read out changes — so the
    fingerprints (and their DuckDB-oracle hashes) are unchanged."""
    h = F.md5(F.col(tok_col))
    return df.withColumns(
        {
            "_d0": F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint"),
            "_d1": F.conv(F.substring(h, 16, 15), 16, 10).cast("bigint"),
            "_d2": F.conv(F.substring(h, 31, 2), 16, 10).cast("bigint"),
        }
    )


def _block_digit(j: int):
    """Value 0..15 of md5 hex digit ``j`` from the _d0/_d1/_d2 blocks."""
    if j < 15:
        return F.shiftright(F.col("_d0"), 4 * (14 - j)).bitwiseAND(F.lit(15))
    if j < 30:
        return F.shiftright(F.col("_d1"), 4 * (29 - j)).bitwiseAND(F.lit(15))
    return F.shiftright(F.col("_d2"), 4 * (31 - j)).bitwiseAND(F.lit(15))


def simhash32(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash fingerprint per document.

    Portable construction: bit j of a token's hash is the top bit of hex
    digit j of md5(token) (32 hex digits -> 32 bits). The document
    fingerprint sets bit j when the sum over tokens of (+1/-1) is positive.

    Plan shape: explode tokens -> one md5 per token -> 32 narrow sums in a
    single partial+final aggregation (one shuffle keyed by doc, map-side
    combine). At 100 TB this is the cheapest near-dup fingerprint: no
    pairwise work, fingerprints join/bucket afterwards.
    """
    toked = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    hashed = _with_md5_digit_blocks(toked, "tok")
    digit = _block_digit
    bit_sums = [
        F.sum(
            F.when(digit(j) >= 8, 1).otherwise(-1)
        ).alias(f"_b{j}")
        for j in range(32)
    ]
    agg = hashed.groupBy(id_col).agg(*bit_sums)
    fp = None
    for j in range(32):
        term = F.when(F.col(f"_b{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 60,
) -> DataFrame:
    """Wide (default 60-bit) SimHash fingerprint — the SCALE sizing of
    :func:`simhash32`.

    Round-6 SF1 probe finding: fingerprint width is a CAPACITY parameter,
    not a constant. The pigeonhole band join's per-bucket occupancy is
    ~n_docs / 2^band_bits, so 32 bits (8-bit bands, 256 values) saturates
    around 10k docs — at the 50k-doc SF1 fixture one hot band value held
    thousands of fingerprints and the 'exact' candidate join went
    quadratic. 60 bits (15-bit bands, 32768 values) holds expected
    occupancy ~1.5 at 50k docs and stays sub-quadratic to ~1M docs; at
    100 TB, size band_bits >= log2(n_docs / target_occupancy) and
    partition by a band prefix.

    Round-7 SF10 probe caveat (500k docs): the occupancy rule assumes
    per-bit signs are ~Bernoulli(0.5) ACROSS DOCS, which holds for
    natural-vocabulary corpora (per-bit means ~0). On a low-entropy
    vocabulary (this generator's ~31 tokens), each bit's token-count
    random walk has a mean that grows ~linearly with doc length while
    its stddev grows ~sqrt(length), so long docs deterministically
    converge to the same corpus-modal signs — fingerprints MODAL-
    COLLAPSE into hot band buckets and NO width fixes it (measured: the
    60-bit band join wedges on two hot buckets at SF10). SimHash is the
    right screen when vocabulary entropy is high; for saturated-vocab
    corpora use the k-gram/minhash family (dedup_minhash_lsh_scaled,
    dedup_containment_scaled — both measured ~4-5x on 10x data at SF10).

    Construction stays md5-portable (the DuckDB oracle replays it): bit
    j < 32 is the TOP bit of hex digit j (same as simhash32 — the wide
    fingerprint's low 32 bits equal the narrow fingerprint's); bit
    32 <= j < 60 is the SECOND bit (value & 4) of hex digit j - 32.
    60, not 64, so the fingerprint fits a signed BIGINT in both engines
    (2^63 would overflow the sum-of-powers construction). Same plan
    shape: one md5 per token, n_bits narrow sums in a single partial+
    final aggregation, one shuffle keyed by doc."""
    if not 0 < n_bits <= 60:
        raise ValueError(f"n_bits must be in (0, 60], got {n_bits}")
    toked = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    hashed = _with_md5_digit_blocks(toked, "tok")
    digit = _block_digit

    def bit_pred(j: int):
        if j < 32:
            return digit(j) >= 8
        return (digit(j - 32) % 8) >= 4

    bit_sums = [
        F.sum(F.when(bit_pred(j), 1).otherwise(-1)).alias(f"_b{j}")
        for j in range(n_bits)
    ]
    agg = hashed.groupBy(id_col).agg(*bit_sums)
    fp = None
    for j in range(n_bits):
        term = F.when(F.col(f"_b{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return agg.select(F.col(id_col), fp.alias("simhash"))


def vocab_entropy_guard(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary-entropy profile + fingerprint-screen router
    (one summary row).

    Operationalizes the round-7 SF10 measured finding (see
    :func:`simhash_wide`): SimHash modal-collapses when documents are
    long relative to the vocabulary's information content. Each SimHash
    bit is the sign of a token-count random walk; on a unigram
    distribution with entropy H bits, the walk's per-token mean bias is
    on the order of 1/sqrt(2^H) while its stddev per token is ~1, so
    over L tokens drift (~L / sqrt(2^H)) overtakes noise (~sqrt(L))
    once L exceeds ~2^H — the unigram PERPLEXITY. Documents beyond that
    length converge to the corpus-modal fingerprint and the band join
    degenerates. The guard therefore flags ``simhash_collapse_risk``
    when ``mean_doc_tokens > unigram_perplexity`` and recommends the
    k-gram/minhash screen family instead (exact-verified, entropy-
    independent). Run it once per corpus BEFORE choosing a near-dup
    screen — at 100 TB a wedged simhash band join costs hours; this
    profile costs one vocab-keyed aggregation.

    Output columns: n_docs, total_tokens, vocab_size, entropy_bits,
    unigram_perplexity, mean_doc_tokens, simhash_collapse_risk,
    recommended_screen. The decision is computed from the ROUNDED
    profile columns on both engine sides, so oracle hash parity of the
    profile implies parity of the decision.

    Plan shape: one map-side scan for (n_docs, total_tokens); one
    vocab-bounded token-frequency shuffle (partial+final, map-side
    combine; state O(vocab)); per-term entropy contributions quantized
    to DECIMAL(18,8) so the fold is order-independent and cross-engine
    exact (parity recipe); the two scalar aggregates meet in 1x1
    broadcast crossJoins.
    """
    import math

    ln2 = math.log(2.0)
    d = df.filter(F.length(F.trim(F.col(text_col))) > 0)
    doc_stats = d.select(token_count(text_col).alias("n_tok")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    )
    freq = (
        d.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    p = F.col("c").cast("double") / F.col("total_tokens").cast("double")
    ent = (
        freq.crossJoin(F.broadcast(doc_stats))
        .select((-p * F.log(p)).cast("decimal(18,8)").alias("h_term"))
        .agg(
            F.sum("h_term").cast("double").alias("h_nats"),
            F.count("*").alias("vocab_size"),
        )
    )
    prof = doc_stats.crossJoin(F.broadcast(ent)).select(
        "n_docs",
        "total_tokens",
        "vocab_size",
        F.round(F.col("h_nats") / ln2, 6).alias("entropy_bits"),
        F.round(F.pow(F.lit(2.0), F.col("h_nats") / ln2), 4).alias(
            "unigram_perplexity"
        ),
        F.round(
            F.col("total_tokens").cast("double") / F.col("n_docs"), 6
        ).alias("mean_doc_tokens"),
    )
    risk = F.col("mean_doc_tokens") > F.col("unigram_perplexity")
    return prof.select(
        "*",
        risk.alias("simhash_collapse_risk"),
        F.when(risk, F.lit("kgram_minhash"))
        .otherwise(F.lit("simhash"))
        .alias("recommended_screen"),
    )


def fingerprint_md5(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Exact content fingerprint: md5 of whitespace-normalized lowercase
    text. The join key for exact dedup at any scale.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn(out_col, F.md5(norm))


def language_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword-vote language ID: explode tokens, join the (broadcast)
    stopword lexicon, argmax matches per doc with deterministic tiebreak
    (count desc, lang asc); docs with zero hits -> 'und'.
    """
    spark = df.sparkSession
    lex = spark.createDataFrame(
        [(lang, w) for lang, ws in LANG_STOPWORDS.items() for w in ws],
        ["lang_cand", "tok"],
    )
    toked = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    votes = (
        toked.join(F.broadcast(lex), "tok")
        .groupBy(id_col, "lang_cand")
        .agg(F.count("*").alias("votes"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.col("votes").desc(), F.col("lang_cand"))
    best = votes.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return (
        df.select(id_col)
        .join(best.select(id_col, "lang_cand", "votes"), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("lang_cand"), F.lit("und")).alias("lang_pred"),
            F.coalesce(F.col("votes"), F.lit(0)).cast("bigint").alias("lang_votes"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Top-``top_k`` TF-IDF terms per document (keyword extraction).

    tf = term count within the doc; idf = ln((N+1)/(df+1)) + 1 (smoothed,
    always positive); ranking is on the 6-dp ROUNDED score (ties break by
    term asc) so ranks are reproducible across engines computing the same
    formula. Scale shape: one shuffle for (doc, term) counts; document
    frequencies aggregate from those counts (partial+final, no second
    corpus pass) and come back as a BROADCAST term->idf dim — term
    vocabulary is sublinear in corpus size; the corpus-size scalar N rides
    a 1-row broadcast cross join, never a driver round-trip. Top-k is one
    window over the doc-keyed counts.
    """
    from pyspark.sql import Window

    toked = df.select(
        id_col, F.explode(tokens(text_col)).alias("term")
    ).filter(F.length("term") > 0)
    tf = toked.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    n_docs = df.select(
        F.count("*").cast("double").alias("_n")
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").cast("double").alias("_df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            (F.log((F.col("_n") + 1) / (F.col("_df") + 1)) + 1).alias("idf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_tfidf").desc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .withColumn("_tfidf", F.round(F.col("tf") * F.col("idf"), 6))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= top_k)
        .select(
            id_col,
            "rank",
            "term",
            F.col("_tfidf").alias("tfidf"),
        )
    )


def ngram_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Corpus-wide n-gram occurrence counts -> (ngram, n_occurrences).

    The n-grams come from :func:`kgrams`, per input row, so rows sharing
    an id (duplicate or null ids) never mix their token streams. One
    global count keyed by ngram; it is partial+final, so hot n-grams
    (Zipf head) combine map-side before they shuffle.
    """
    if n < 2:
        raise ValueError("n must be >= 2 (unigrams: count tokens() directly)")
    grams = kgrams(df, id_col, text_col, n).select(F.explode("kgrams").alias("ngram"))
    return grams.groupBy("ngram").agg(F.count("*").alias("n_occurrences"))
