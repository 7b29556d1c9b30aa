"""Text-analysis queries over the documents table (north-star extension
operators: SURVEY.md §7.2 step 5 / BASELINE.json)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from masd_spark.operators.text import (
    BPE_SPLIT_PATTERN,
    EMAIL_RE,
    HTML_TAG_RE,
    LANG_STOPWORDS,
    LONG_DIGITS_RE,
    MULTI_WS_RE,
    bpe_token_count,
    clean_text,
    fingerprint_md5,
    language_id,
    quality_features,
    simhash32,
    token_count,
    tokens,
)
from masd_spark.queries import register
from masd_spark.sources.tables import load_table

_EN_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"]) + "]"


@register(
    "text_quality_features",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, text,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok
        FROM documents
    )
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_obs,
           CAST(n_tok AS BIGINT) AS n_tokens,
           CASE WHEN n_tok > 0 THEN
               ROUND(CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
                     / n_tok, 6) END AS mean_token_len,
           CASE WHEN length(text) > 0 THEN
               ROUND(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                     / length(text), 6) END AS alpha_ratio,
           CAST(len(list_distinct(list_intersect(
                list_distinct(string_split_regex(lower(trim(text)), '\\s+')),
                {_EN_STOP_SQL}))) AS BIGINT) AS distinct_stopwords
    FROM q
    """,
)
def text_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features (length, token stats, alpha ratio,
    stopword hits) — the cheap pre-filters of an LLM data pipeline.
    """
    docs = load_table(spark, sf_dir, "documents")
    out = quality_features(docs)
    return out.select(
        "doc_id",
        "n_chars_obs",
        "n_tokens",
        "mean_token_len",
        "alpha_ratio",
        "distinct_stopwords",
    )


@register(
    "text_token_stats",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, text,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_ws,
               len(regexp_extract_all(text, '{BPE_SPLIT_PATTERN}')) AS n_bpe
        FROM documents
    )
    SELECT doc_id,
           CAST(n_ws AS BIGINT) AS n_ws_tokens,
           CAST(n_bpe AS BIGINT) AS n_bpe_tokens,
           CASE WHEN n_bpe > 0
                THEN ROUND(CAST(length(text) AS DOUBLE) / n_bpe, 6)
                END AS chars_per_bpe_token
    FROM q
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways an LLM pipeline needs it: whitespace words
    and BPE-ish pieces (GPT-2-style word/number/punct split — the cheap
    token-budget estimator). Pure regexp column math, no UDF, no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = bpe_token_count("text")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.when(
            n_bpe > 0, F.round(F.length("text") / n_bpe, 6)
        ).alias("chars_per_bpe_token"),
    )


@register(
    "text_clean_scrub",
    oracle=f"""
    WITH dirty AS (
        SELECT doc_id,
               '<p class="x">' || text || '</p> Contact user' ||
               CAST(doc_id AS VARCHAR) || '@mail.example.com or +39 075 55' ||
               lpad(CAST(doc_id AS VARCHAR), 4, '0') || ' now.' AS raw
        FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace(
                   regexp_replace(
                       regexp_replace(raw, '{HTML_TAG_RE}', ' ', 'g'),
                       '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{LONG_DIGITS_RE}', '<NUMBER>', 'g'),
               '{MULTI_WS_RE}', ' ', 'g')) AS cleaned,
           contains(trim(regexp_replace(
               regexp_replace(
                   regexp_replace(
                       regexp_replace(raw, '{HTML_TAG_RE}', ' ', 'g'),
                       '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{LONG_DIGITS_RE}', '<NUMBER>', 'g'),
               '{MULTI_WS_RE}', ' ', 'g')), '<EMAIL>') AS has_email_mask,
           contains(trim(regexp_replace(
               regexp_replace(
                   regexp_replace(
                       regexp_replace(raw, '{HTML_TAG_RE}', ' ', 'g'),
                       '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{LONG_DIGITS_RE}', '<NUMBER>', 'g'),
               '{MULTI_WS_RE}', ' ', 'g')), '<NUMBER>') AS has_number_mask
    FROM dirty
    """,
)
def text_clean_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning / PII-scrub stage: markup stripped, emails and long digit
    runs masked with typed placeholders, whitespace collapsed. The fixture
    text is clean, so deterministic dirt (tags + an email + a phone
    number derived from doc_id) is injected identically in both engines
    and the scrubbed output is hash-checked.
    """
    docs = load_table(spark, sf_dir, "documents")
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.lit('<p class="x">'),
            F.col("text"),
            F.lit("</p> Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +39 075 55"),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
            F.lit(" now."),
        ).alias("raw"),
    )
    cleaned = clean_text("raw")
    return dirty.select(
        "doc_id",
        cleaned.alias("cleaned"),
        cleaned.contains("<EMAIL>").alias("has_email_mask"),
        cleaned.contains("<NUMBER>").alias("has_number_mask"),
    )


def _lex_values_sql() -> str:
    rows = [
        f"('{lang}', '{w}')"
        for lang, ws in LANG_STOPWORDS.items()
        for w in ws
    ]
    return ", ".join(rows)


@register(
    "text_language_id",
    oracle=f"""
    WITH lex(lang_cand, tok) AS (VALUES {_lex_values_sql()}),
    toked AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    ),
    votes AS (
        SELECT doc_id, lang_cand, count(*) AS votes
        FROM toked JOIN lex USING (tok) GROUP BY doc_id, lang_cand
    ),
    best AS (
        SELECT doc_id, lang_cand, votes,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY votes DESC, lang_cand) AS rn
        FROM votes
    )
    SELECT d.doc_id,
           COALESCE(b.lang_cand, 'und') AS lang_pred,
           CAST(COALESCE(b.votes, 0) AS BIGINT) AS lang_votes
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID with deterministic argmax tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    return language_id(docs)


def _simhash_oracle() -> str:
    bit_sums = ", ".join(
        "SUM(CASE WHEN strpos('0123456789abcdef', substr(h, {p}, 1)) - 1 >= 8 "
        "THEN 1 ELSE -1 END) AS b_{j}".format(p=j + 1, j=j)
        for j in range(32)
    )
    fp = " + ".join(
        f"(CASE WHEN b_{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    ),
    hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
    bits AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits
    """


def _simhash_wide_oracle(n_bits: int = 60) -> str:
    """DuckDB replay of operators/text.py:simhash_wide — bit j < 32 is
    the top bit of hex digit j, bit 32 <= j is the second bit (value & 4)
    of hex digit j - 32."""

    def pred(j: int) -> str:
        d = (
            f"(strpos('0123456789abcdef', substr(h, {j + 1}, 1)) - 1)"
            if j < 32
            else f"(strpos('0123456789abcdef', substr(h, {j - 31}, 1)) - 1)"
        )
        return f"{d} >= 8" if j < 32 else f"({d} % 8) >= 4"

    bit_sums = ", ".join(
        f"SUM(CASE WHEN {pred(j)} THEN 1 ELSE -1 END) AS b_{j}"
        for j in range(n_bits)
    )
    fp = " + ".join(
        f"(CASE WHEN b_{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
        for j in range(n_bits)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    ),
    hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
    bits AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits
    """


# NOTE: the 60-bit fingerprint (operators/text.py:simhash_wide) is
# deliberately NOT a separate registered query — its construction is
# value-checked end-to-end inside dedup_simhash_wide's oracle (the sim
# CTE).


@register("text_simhash", oracle=_simhash_oracle())
def text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document (portable md5-hex-digit bit
    construction; see operators/text.py:simhash32).
    """
    docs = load_table(spark, sf_dir, "documents")
    return simhash32(docs)


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content fingerprint (normalized md5) — the exact-dedup key."""
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint_md5(docs).select("doc_id", "fingerprint")


@register(
    "text_repetition_score",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               CASE WHEN len(ts) >= 3 THEN len(ts) - 2 ELSE 0 END AS n_total,
               CASE WHEN len(ts) >= 3 THEN
                   len(list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                      for i in range(1, len(ts) - 1)]))
               ELSE 0 END AS n_distinct
        FROM t
    )
    SELECT doc_id,
           CAST(n_total AS BIGINT) AS n_shingles,
           CASE WHEN n_total > 0
                THEN ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_total, 6)
                END AS repetition_ratio
    FROM s
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (the Gopher-rules quality signal):
    1 - distinct/total 3-gram shingles. High ratio = boilerplate/looping
    text. Per-row array math over operators/text.py:kgrams — no explode
    of the k-grams, no aggregation.
    """
    from masd_spark.operators.text import kgrams

    docs = load_table(spark, sf_dir, "documents")
    grams = kgrams(docs, "doc_id", "text", 3)
    n_total = F.size("kgrams").cast("bigint")
    n_distinct = F.size(F.array_distinct("kgrams")).cast("bigint")
    return grams.select(
        "doc_id",
        n_total.alias("n_shingles"),
        F.when(
            n_total > 0,
            F.round(1.0 - n_distinct.cast("double") / n_total, 6),
        ).alias("repetition_ratio"),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH toked AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toked WHERE length(term) > 0 GROUP BY 1, 2
    ),
    idf AS (
        SELECT term,
               ln(((SELECT count(*) FROM documents) + 1.0) / (count(*) + 1.0))
                   + 1.0 AS idf
        FROM tf GROUP BY term
    ),
    scored AS (
        SELECT tf.doc_id, tf.term, ROUND(tf.tf * idf.idf, 6) AS tfidf
        FROM tf JOIN idf USING (term)
    )
    SELECT doc_id, rank, term, tfidf FROM (
        SELECT doc_id, term, tfidf,
               CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: top-3 TF-IDF terms per document. The idf dim
    (term vocabulary, sublinear in corpus size) is built from the tf
    counts themselves and BROADCAST back — one shuffle for (doc, term)
    counts, one window for top-k; the corpus-size scalar rides a 1-row
    broadcast cross join, never a driver round-trip.
    """
    from masd_spark.operators.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, id_col="doc_id", text_col="text", top_k=3)


@register(
    "corpus_ngram_topk",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
    ),
    grams AS (
        SELECT unnest([toks[i] || ' ' || toks[i+1]
                       for i in range(1, len(toks))]) AS ngram
        FROM t
    )
    SELECT ngram, count(*) AS n_occurrences
    FROM grams GROUP BY 1
    ORDER BY n_occurrences DESC, ngram
    LIMIT 20
    """,
)
def corpus_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-20 bigrams by occurrence count — the
    boilerplate detector of a training-data pipeline (viral header/footer
    lines surface here before any dedup runs). Map-side partial counts
    absorb the Zipf head before the ngram shuffle; top-k is
    TakeOrderedAndProject (per-partition heaps, no global sort).
    """
    from masd_spark.operators.text import ngram_counts

    docs = load_table(spark, sf_dir, "documents")
    return (
        ngram_counts(docs, n=2)
        .orderBy(F.col("n_occurrences").desc(), "ngram")
        .limit(20)
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents WHERE length(trim(text)) > 0
    ),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq),
    scored AS (
        SELECT t.doc_id,
               CAST(ln(CAST(f.c AS DOUBLE) / (SELECT n FROM tot))
                    AS DECIMAL(18,8)) AS lp
        FROM toks t JOIN freq f USING (tok)
    )
    SELECT doc_id,
           ROUND(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM scored GROUP BY 1
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram language-model score per document: mean ln p(token)
    under the corpus's own unigram distribution — the cheap fluency /
    outlier signal (gibberish and off-domain docs score low) that stands
    in for model perplexity in a first-pass quality gate. Two shuffles
    (token frequency agg; token->freq equi-join, skew-bounded by the
    corpus vocabulary) + per-doc re-agg. Per-token logprobs are
    decimal-quantized before summing so the fold is order-independent
    and cross-engine exact (parity recipe).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").cast("double").alias("n"))
    scored = (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.log(F.col("c").cast("double") / F.col("n"))
            .cast("decimal(18,8)")
            .alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("lp").cast("double") / F.count("*"), 6).alias("avg_logprob"),
        F.count("*").alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# BM25 full-text retrieval
# --------------------------------------------------------------------------

_BM25_QUERIES = [
    (0, "hash join merge"),
    (1, "window agg batch"),
    (2, "slow scan filter vector"),
]
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10

_BM25_QUERY_SQL = " UNION ALL ".join(
    f"SELECT {qid} AS query_id, unnest(string_split('{q}', ' ')) AS term"
    for qid, q in _BM25_QUERIES
)


@register(
    "text_bm25_search",
    oracle=f"""
    WITH q AS (SELECT DISTINCT query_id, term FROM ({_BM25_QUERY_SQL})),
    toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        FROM documents
    ),
    dl AS (
        SELECT doc_id,
               len(string_split_regex(lower(trim(text)), '\\s+')) AS dl
        FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks
        WHERE term IN (SELECT term FROM q)
        GROUP BY 1, 2
    ),
    dft AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1),
    scored AS (
        SELECT q.query_id, tf.doc_id,
               CAST(ln((stats.n_docs - dft.dft + 0.5) / (dft.dft + 0.5) + 1.0)
                    * tf.tf * ({_BM25_K1} + 1.0)
                    / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                       + {_BM25_B} * dl.dl / stats.avgdl))
                    AS DECIMAL(18,6)) AS contrib
        FROM tf
        JOIN q USING (term)
        JOIN dft USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
    ),
    agg AS (
        SELECT query_id, doc_id,
               ROUND(CAST(sum(contrib) AS DOUBLE), 6) AS bm25
        FROM scored GROUP BY 1, 2
    )
    SELECT query_id, doc_id, bm25,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY bm25 DESC, doc_id) AS BIGINT)
               AS rank
    FROM agg
    QUALIFY rank <= {_BM25_TOPK}
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval for a fixed query set over the documents
    table (k1=1.2, b=0.75, the Robertson idf with +1 smoothing).

    Scale shape: the token stream is FILTERED TO QUERY TERMS before the
    tf aggregation — the tiny query-term set broadcasts into the explode
    stage, so the per-term work is proportional to postings of queried
    terms, not corpus tokens (an inverted-index probe expressed
    relationally). Document lengths come from ``size(split(...))`` per
    row (no explode), corpus stats are a broadcast scalar, and idf/df
    attach via broadcast joins; the only fact-sized shuffle is the
    (doc, term) tf groupBy on candidate postings. Per-(query, doc)
    contributions are decimal-quantized before summing so scores are
    addition-order-independent and portable; ranking ties break on
    doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    qterms = spark.createDataFrame(
        sorted({(qid, t) for qid, q in _BM25_QUERIES for t in q.split(" ")}),
        "query_id int, term string",
    )
    terms_only = qterms.select("term").distinct()

    toked = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    dl = docs.select("doc_id", F.size(tokens("text")).alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toked.join(F.broadcast(terms_only), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count("*").alias("dft"))
    k1, b = float(_BM25_K1), float(_BM25_B)
    contrib = (
        F.log(
            (F.col("n_docs") - F.col("dft") + F.lit(0.5))
            / (F.col("dft") + F.lit(0.5))
            + F.lit(1.0)
        )
        * F.col("tf")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    ).cast("decimal(18,6)")
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dft), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", contrib.alias("contrib"))
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("contrib").cast("double"), 6).alias("bm25")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _BM25_TOPK)
    )


_ZIPF_TOP_N = 200


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH toked AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        FROM documents
    ),
    freq AS (
        SELECT term, count(*) AS f FROM toked
        WHERE length(term) > 0 GROUP BY 1
    ),
    top AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, term ASC) AS r
        FROM freq ORDER BY f DESC, term ASC LIMIT {_ZIPF_TOP_N}
    ),
    pts AS (
        SELECT CAST(ROUND(ln(r), 9) AS DECIMAL(20,9)) AS x,
               CAST(ROUND(ln(f), 9) AS DECIMAL(20,9)) AS y
        FROM top
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM pts
    )
    SELECT n AS n_terms,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                 6) AS zipf_slope,
           ROUND((CAST(sy AS DOUBLE) - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / n,
                 6) AS zipf_intercept
    FROM s
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit for the corpus: least-squares slope of
    ln(frequency) against ln(rank) over the top-200 terms — the
    one-number diagnostic of whether a text source has natural
    token statistics (natural language sits near slope -1; templated or
    synthetic text flattens or steepens it). The log points are
    quantized to DECIMAL(20,9) so all four regression sums are exact and
    order-independent (the portable-numerics recipe); only the final
    slope/intercept divisions run in doubles, with identical expression
    order in the oracle. Scale: term counting is the usual one-shuffle
    agg; top-200 is TakeOrdered (distributed), and the regression runs
    over 200 rows.
    """
    from masd_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens("text")).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count("*").alias("f"))
    )
    top = (
        freq.orderBy(F.col("f").desc(), F.col("term").asc())
        .limit(_ZIPF_TOP_N)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.col("f").desc(), F.col("term").asc())
            ),
        )
    )
    pts = top.select(
        F.round(F.log("r"), 9).cast("decimal(20,9)").alias("x"),
        F.round(F.log("f"), 9).cast("decimal(20,9)").alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("zipf_intercept"),
    )

# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of two lexical rankings
# --------------------------------------------------------------------------

_RRF_C = 60
_RRF_TOPK = 10

_QL_ORACLE = f"""
    WITH q AS (SELECT DISTINCT query_id, term FROM ({_BM25_QUERY_SQL})),
    toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        FROM documents
    ),
    dl AS (
        SELECT doc_id,
               len(string_split_regex(lower(trim(text)), '\\s+')) AS dl
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks WHERE term IN (SELECT term FROM q)
        GROUP BY 1, 2
    ),
    ql AS (
        SELECT q.query_id, tf.doc_id,
               CAST(ROUND(1000000.0 * sum(tf.tf) / any_value(dl.dl))
                    AS BIGINT) AS ql6
        FROM tf JOIN q USING (term) JOIN dl USING (doc_id)
        GROUP BY 1, 2
    )
    SELECT query_id, doc_id, ql6,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY ql6 DESC, doc_id) AS BIGINT)
               AS rank
    FROM ql QUALIFY rank <= {_BM25_TOPK}
"""


def _ql_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood (length-normalized term frequency) top-k for the
    same fixed query set BM25 uses: ql6 = round(1e6 * sum(tf)/dl) —
    integer micro-units, ties on doc_id. The deliberately-different
    second ranking RRF fuses with BM25."""
    docs = load_table(spark, sf_dir, "documents")
    qterms = spark.createDataFrame(
        sorted({(qid, t) for qid, q in _BM25_QUERIES for t in q.split(" ")}),
        "query_id int, term string",
    )
    terms_only = qterms.select("term").distinct()
    toked = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    dl = docs.select("doc_id", F.size(tokens("text")).cast("bigint").alias("dl"))
    tf = (
        toked.join(F.broadcast(terms_only), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    ql = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(F.lit(1000000.0) * F.sum("tf") / F.any_value("dl"))
            .cast("bigint")
            .alias("ql6")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("ql6").desc(), F.col("doc_id"))
    return (
        ql.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _BM25_TOPK)
    )


def _rrf_oracle() -> str:
    from masd_spark.queries import REGISTRY

    bm25_sql = REGISTRY["text_bm25_search"].oracle
    return f"""
    WITH bm25_ranked AS MATERIALIZED (
        SELECT query_id, doc_id, rank FROM ({bm25_sql})
    ),
    ql_ranked AS MATERIALIZED (
        SELECT query_id, doc_id, rank FROM ({_QL_ORACLE})
    ),
    fused AS (
        SELECT coalesce(b.query_id, s.query_id) AS query_id,
               coalesce(b.doc_id, s.doc_id) AS doc_id,
               CAST(ROUND(1000000.0 *
                    (coalesce(1.0 / ({_RRF_C} + b.rank), 0.0)
                     + coalesce(1.0 / ({_RRF_C} + s.rank), 0.0))) AS BIGINT)
                   AS rrf6,
               b.rank IS NOT NULL AS in_bm25,
               s.rank IS NOT NULL AS in_ql
        FROM bm25_ranked b
        FULL OUTER JOIN ql_ranked s
          ON b.query_id = s.query_id AND b.doc_id = s.doc_id
    )
    SELECT query_id, doc_id, rrf6, in_bm25, in_ql,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf6 DESC, doc_id) AS BIGINT)
               AS rank
    FROM fused QUALIFY rank <= {_RRF_TOPK}
    """


@register("text_rrf_hybrid_search", oracle=_rrf_oracle())
def text_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two rankings
    over the same fixed query set: BM25 and length-normalized query
    likelihood. RRF works on RANKS only — 1/(c + rank), c=60 — so fusing
    needs no score calibration between the lists; docs appearing in one
    list still contribute (FULL OUTER). Fused scores snap to integer
    micro-units computed from integer ranks, so the ordering is
    bit-deterministic (ties on doc_id). The oracle composes the
    registered BM25 oracle as a subquery (composed-oracle pattern).

    Scale: each input ranking is already top-k per query; fusion is a
    FULL OUTER equi-join + window over <= 2k rows per query. Any ranking
    source slots in — this is the standard hybrid (lexical + vector)
    retrieval combiner.
    """
    bm25 = text_bm25_search(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("rank_b")
    )
    ql = _ql_topk(spark, sf_dir).select(
        F.col("query_id").alias("_qs"),
        F.col("doc_id").alias("_ds"),
        F.col("rank").alias("rank_s"),
    )
    fused = bm25.join(
        ql,
        (F.col("query_id") == F.col("_qs")) & (F.col("doc_id") == F.col("_ds")),
        "full_outer",
    ).select(
        F.coalesce("query_id", "_qs").alias("query_id"),
        F.coalesce("doc_id", "_ds").alias("doc_id"),
        F.round(
            F.lit(1000000.0)
            * (
                F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("rank_b")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("rank_s")), F.lit(0.0))
            )
        )
        .cast("bigint")
        .alias("rrf6"),
        F.col("rank_b").isNotNull().alias("in_bm25"),
        F.col("rank_s").isNotNull().alias("in_ql"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rrf6").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _RRF_TOPK)
    )


# --------------------------------------------------------------------------
# Corpus mixture diagnostics: source shares, entropy, Gini
# --------------------------------------------------------------------------


@register(
    "corpus_mixture_report",
    oracle="""
    WITH per_src AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split_regex(lower(trim(text)), '\\s+')))
                    AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t,
                   CAST(count(*) AS BIGINT) AS n_src
            FROM per_src),
    ent AS (
        SELECT CAST(sum(CAST(ROUND(-1000000.0
                   * (CAST(n_tokens AS DOUBLE) / t)
                   * ln(CAST(n_tokens AS DOUBLE) / t)) AS BIGINT))
               AS BIGINT) AS entropy6
        FROM per_src CROSS JOIN tot
    ),
    gin AS (
        SELECT CAST(ROUND(1000000.0 * sum(abs(a.n_tokens - b.n_tokens))
                    / (2.0 * tot.n_src * tot.t)) AS BIGINT) AS gini6
        FROM per_src a CROSS JOIN per_src b CROSS JOIN tot
        GROUP BY tot.n_src, tot.t
    )
    SELECT p.source, p.n_docs, p.n_tokens,
           ROUND(CAST(p.n_tokens AS DOUBLE) / tot.t, 6) AS token_share,
           ent.entropy6, gin.gini6
    FROM per_src p CROSS JOIN tot CROSS JOIN ent CROSS JOIN gin
    """,
)
def corpus_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture diagnostics — the one-page answer to "what is this
    corpus made of and how concentrated is it": per-source doc/token
    counts and token share, plus two corpus-level concentration numbers
    repeated on every row — Shannon entropy of the source token
    distribution and the Gini coefficient (mean absolute pairwise
    difference form). Both are computed from exact integer token counts;
    entropy quantizes each source's -p*ln(p) term to integer micro-units
    BEFORE summing (exact integer total), Gini is one exact integer
    pairwise sum over |sources|^2 rows.

    Scale: token counts come from size(split(...)) per row — NO explode,
    one partial agg to |sources| rows; everything else (entropy, the
    pairwise Gini self-join) runs on the materialized tiny aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text")).cast("bigint")).alias("n_tokens"),
    ).localCheckpoint(eager=True)
    tot = per_src.agg(
        F.sum("n_tokens").alias("t"), F.count("*").alias("n_src")
    )
    p = F.col("n_tokens").cast("double") / F.col("t")
    ent = (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            F.round(F.lit(-1000000.0) * p * F.log(p)).cast("bigint").alias("e6")
        )
        .agg(F.sum("e6").cast("bigint").alias("entropy6"))
    )
    a = per_src.select(F.col("n_tokens").alias("xa"))
    b = per_src.select(F.col("n_tokens").alias("xb"))
    gin = (
        a.crossJoin(b)
        .crossJoin(F.broadcast(tot))
        .groupBy("n_src", "t")
        .agg(F.sum(F.abs(F.col("xa") - F.col("xb"))).alias("sad"))
        .select(
            F.round(
                F.lit(1000000.0) * F.col("sad")
                / (F.lit(2.0) * F.col("n_src") * F.col("t"))
            )
            .cast("bigint")
            .alias("gini6")
        )
    )
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(p, 6).alias("token_share"),
        )
        .crossJoin(F.broadcast(ent))
        .crossJoin(F.broadcast(gin))
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d{1,3} \d{2,4} \d{4,8}"

_PII_ORACLE = """
    WITH dirty AS (
        SELECT doc_id,
               text || ' Contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com or +39 075 55'
                    || lpad(CAST(doc_id AS VARCHAR), 4, '0')
                    || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' now.'
               AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '@E@')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '@P@')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(raw, '@I@')) AS BIGINT) AS n_ipv4,
           (len(regexp_extract_all(raw, '@E@'))
            + len(regexp_extract_all(raw, '@P@'))
            + len(regexp_extract_all(raw, '@I@'))) > 0 AS has_pii
    FROM dirty
""".replace("@E@", _PII_EMAIL).replace("@P@", _PII_PHONE).replace("@I@", _PII_IPV4)


@register("text_pii_report", oracle=_PII_ORACLE)
def text_pii_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection report — the audit step in front of text_clean_scrub's
    redaction: per document, counts of email / phone / IPv4 matches and a
    has_pii verdict. PII is INJECTED deterministically per doc_id (same
    recipe as text_clean_scrub) so the detector provably fires and both
    engines scan the identical composed string; the patterns are the
    portable common subset of Java regex and RE2 (character classes,
    bounded repetition, word boundaries — no lookarounds). Map-side
    column math over one scan, no shuffle; at 100 TB the verdict column
    is the partition key of a quarantine-split write, same shape as
    dq_quarantine_readings.
    """
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +39 075 55"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" now."),
    )
    n_e = F.size(F.regexp_extract_all(raw, F.lit(_PII_EMAIL), 0))
    n_p = F.size(F.regexp_extract_all(raw, F.lit(_PII_PHONE), 0))
    n_i = F.size(F.regexp_extract_all(raw, F.lit(_PII_IPV4), 0))
    return docs.select(
        "doc_id",
        n_e.cast("bigint").alias("n_emails"),
        n_p.cast("bigint").alias("n_phones"),
        n_i.cast("bigint").alias("n_ipv4"),
        ((n_e + n_p + n_i) > 0).alias("has_pii"),
    )


@register(
    "text_entropy_screen_guard",
    oracle="""
    WITH d AS (
        SELECT lower(trim(text)) AS t FROM documents
        WHERE length(trim(text)) > 0
    ),
    ds AS (
        SELECT count(*) AS n_docs,
               CAST(sum(len(string_split_regex(t, '\\s+'))) AS BIGINT)
                   AS total_tokens
        FROM d
    ),
    freq AS (
        SELECT tok, count(*) AS c
        FROM (SELECT unnest(string_split_regex(t, '\\s+')) AS tok FROM d)
        GROUP BY 1
    ),
    ent AS (
        SELECT CAST(sum(CAST(
                   -(CAST(c AS DOUBLE)
                     / (SELECT CAST(total_tokens AS DOUBLE) FROM ds))
                   * ln(CAST(c AS DOUBLE)
                        / (SELECT CAST(total_tokens AS DOUBLE) FROM ds))
               AS DECIMAL(18,8))) AS DOUBLE) AS h_nats,
               CAST(count(*) AS BIGINT) AS vocab_size
        FROM freq
    ),
    prof AS (
        SELECT n_docs, total_tokens, vocab_size,
               ROUND(h_nats / ln(2), 6) AS entropy_bits,
               ROUND(power(2, h_nats / ln(2)), 4) AS unigram_perplexity,
               ROUND(CAST(total_tokens AS DOUBLE) / n_docs, 6)
                   AS mean_doc_tokens
        FROM ds, ent
    )
    SELECT n_docs, total_tokens, vocab_size, entropy_bits,
           unigram_perplexity, mean_doc_tokens,
           mean_doc_tokens > unigram_perplexity AS simhash_collapse_risk,
           CASE WHEN mean_doc_tokens > unigram_perplexity
                THEN 'kgram_minhash' ELSE 'simhash' END
               AS recommended_screen
    FROM prof
    """,
)
def text_entropy_screen_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-dedup screen router: corpus vocabulary-entropy profile with a
    simhash-modal-collapse verdict (the round-7 SF10 measured finding as
    a first-class operator — see operators/text.py:vocab_entropy_guard
    and simhash_wide's caveat). One vocab-bounded shuffle; run once per
    corpus before committing a 100 TB near-dup screen: flags corpora
    whose mean document length exceeds the unigram perplexity, where
    simhash fingerprints converge to the corpus mode and the band join
    degenerates, and routes them to the k-gram/minhash family."""
    from masd_spark.operators.text import vocab_entropy_guard

    docs = load_table(spark, sf_dir, "documents")
    return vocab_entropy_guard(docs)
