"""Text analysis operators — stats, token counting, language ID, quality
scoring, fingerprinting (north-star LLM-data ops, SURVEY.md §2.3).

Everything here is built-in Catalyst expressions over the `documents`
table: per-document maps are embarrassingly parallel (no shuffle at all —
the 100 TB-friendly shape), aggregations shuffle only tiny group keys.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exactagg import (
    count_d_sql,
    covn_sql,
    fgrid_sql,
    ln_from_km_sql,
    ln_k_sql,
    ln_m_sql,
    sum_d_sql,
    varn_sql,
)
from ..functions.textfns import fingerprint, tokens
from ..plans.registry import query
from ..sources import load_table, spread, table_rowcount

# Shared token regex for "BPE-ish" counting: letter runs, digit runs, or
# single non-space symbols. ASCII-only so Java regex (Spark) and RE2
# (DuckDB) agree.
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

# Tiny English stopword list for the language-ID heuristic.
EN_STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it", "for", "on"]


@query(
    "text_stats",
    """
    SELECT doc_id,
           len(string_split(text, ' '))                       AS n_tokens,
           length(text)                                       AS n_chars_calc,
           len(list_distinct(string_split(text, ' ')))        AS n_distinct_tokens,
           round(length(replace(text, ' ', ''))::DOUBLE
                 / len(string_split(text, ' ')), 4)           AS avg_token_len
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics. Pure map — no shuffle."""
    d = load_table(spark, "documents", sf_dir)
    toks = tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_calc"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(toks),
            4,
        ).alias("avg_token_len"),
    )


@query(
    "text_stats_by_lang",
    """
    SELECT lang,
           count(*)                                            AS n_docs,
           round(avg(len(string_split(text, ' '))), 4)         AS avg_tokens,
           CAST(sum(n_chars) AS BIGINT)                        AS total_chars,
           count(DISTINCT source)                              AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup by language — the monitoring query of a training-data
    pipeline (token budget per language)."""
    d = load_table(spark, "documents", sf_dir)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.size(tokens(F.col("text")))), 4).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "token_count",
    f"""
    SELECT source,
           CAST(sum(len(regexp_extract_all(text, '{TOKEN_RE}'))) AS BIGINT) AS total_tokens,
           round(avg(len(regexp_extract_all(text, '{TOKEN_RE}'))), 4) AS avg_tokens_per_doc
    FROM documents
    GROUP BY source
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex tokenizer (BPE-ish pre-tokenization shape: letter runs /
    digit runs / single symbols) aggregated per source — the "how many
    tokens am I buying from this source" query."""
    d = spread(load_table(spark, "documents", sf_dir))
    n = F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0)))
    return d.groupBy("source").agg(
        F.sum(n).alias("total_tokens"),
        F.round(F.avg(n), 4).alias("avg_tokens_per_doc"),
    )


_STOP_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


@query(
    "lang_id_heuristic",
    f"""
    SELECT doc_id,
           round(len(list_intersect(list_distinct(string_split(text, ' ')),
                                    {_STOP_LIST_SQL}))::DOUBLE
                 / len(list_distinct(string_split(text, ' '))), 4) AS en_stopword_ratio,
           CASE WHEN len(list_intersect(list_distinct(string_split(text, ' ')),
                                        {_STOP_LIST_SQL}))::DOUBLE
                     / len(list_distinct(string_split(text, ' '))) >= 0.05
                THEN 'en' ELSE 'und' END                           AS pred_lang
    FROM documents
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language-ID heuristic: ratio of distinct tokens
    that are English stopwords -> 'en' vs 'und'. (The testdata text is
    synthetic word salad, so this demonstrates the operator mechanism —
    the stopword table is where real per-language profiles plug in.)"""
    d = load_table(spark, "documents", sf_dir)
    toks = F.array_distinct(tokens(F.col("text")))
    stop = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    ratio = F.size(F.array_intersect(toks, stop)).cast("double") / F.size(toks)
    return d.select(
        "doc_id",
        F.round(ratio, 4).alias("en_stopword_ratio"),
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("und")).alias("pred_lang"),
    )


@query(
    "quality_score",
    """
    SELECT doc_id,
           length(text)                                              AS n_chars_calc,
           round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                 / len(string_split(text, ' ')), 4)                  AS uniq_ratio,
           CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1 ELSE 0 END AS len_ok,
           round(0.5 * (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1 ELSE 0 END)
                 + 0.5 * (len(list_distinct(string_split(text, ' ')))::DOUBLE
                          / len(string_split(text, ' '))), 4)        AS quality
    FROM documents
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score from cheap signals (length band + lexical
    diversity). Filters like `quality >= x` are sargable map-side
    predicates — the shape used to gate documents into a training set."""
    d = load_table(spark, "documents", sf_dir)
    toks = tokens(F.col("text"))
    uniq = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    len_ok = F.when(F.length("text").between(100, 2000), 1).otherwise(0)
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        F.round(uniq, 4).alias("uniq_ratio"),
        len_ok.alias("len_ok"),
        F.round(0.5 * len_ok + 0.5 * uniq, 4).alias("quality"),
    )


@query(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized md5 fingerprint per document — engine-portable identity
    for exact dedup and incremental-ingest dedup joins."""
    d = load_table(spark, "documents", sf_dir)
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


WINNOW_K = 5   # char k-gram size
WINNOW_W = 8   # winnowing window (guarantee: any match >= w+k-1 chars shares a fingerprint)


@query(
    "doc_winnow_fingerprint",
    f"""
    WITH norm AS (
      SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
      FROM documents),
    grams AS (
      SELECT doc_id,
             list_transform(range(1, length(t) - {WINNOW_K} + 2),
                 i -> ('0x' || substr(md5(substring(t, i, {WINNOW_K})), 1, 8))::BIGINT) AS hs
      FROM norm WHERE length(t) >= {WINNOW_K}),
    wins AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(hs) - {WINNOW_W} + 2),
                 j -> list_aggregate(hs[j:j+{WINNOW_W - 1}], 'min'))) AS fps
      FROM grams WHERE len(hs) >= {WINNOW_W})
    SELECT doc_id, unnest(fps) AS fingerprint FROM wins
    """,
)
def doc_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    MOSS local fingerprinting scheme; public literature, no code reused):
    rolling char-{WINNOW_K}-gram hashes, minimum per sliding window of
    {WINNOW_W}. Guarantee: any shared substring of length >=
    {WINNOW_W + WINNOW_K - 1} chars yields a shared fingerprint — the
    PARTIAL-overlap detector that whole-document md5 (doc_fingerprint)
    cannot provide. Hashes are md5-prefix-derived so the DuckDB oracle is
    bit-identical. Pure map + explode; the fingerprint inverted index
    then powers copy-detection joins exactly like the shingle index."""
    d = spread(load_table(spark, "documents", sf_dir))
    return winnow_fingerprints(d, WINNOW_K, WINNOW_W)


def winnow_fingerprints(docs: DataFrame, k: int, w: int) -> DataFrame:
    """Winnowing core shared by `doc_winnow_fingerprint` (k=5: short-match
    sensitivity) and `winnow_dup_pairs` (k=20: discriminative for the
    self-join — 5-char grams collapse to ~700 distinct fingerprints
    corpus-wide and pair everything with everything). Input needs
    (doc_id, text); output (doc_id, fingerprint) distinct."""
    from pyspark.sql import Window

    t = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    norm = docs.select("doc_id", t.alias("t")).filter(F.length("t") >= k)
    # Position-explode, then hash per exploded row: exploding an
    # inline-built hash ARRAY makes Generate re-evaluate the whole
    # transform per output row — O(len^2) md5 calls per document
    # (measured ~40x slower on this exact path).
    ex = norm.select(
        "doc_id",
        "t",
        F.posexplode(F.expr(f"sequence(1, length(t) - {k} + 1)")).alias(
            "pos", "i"
        ),
    )
    grams = ex.select(
        "doc_id",
        "pos",
        F.expr(
            f"cast(conv(substring(md5(substring(t, i, {k})), 1, 8), 16, 10) AS BIGINT)"
        ).alias("h"),
    )
    w_min = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    w_doc = Window.partitionBy("doc_id")
    mins = grams.select(
        "doc_id",
        "pos",
        F.min("h").over(w_min).alias("fingerprint"),
        F.count(F.lit(1)).over(w_doc).alias("n"),
    )
    return (
        mins.filter(F.col("pos") <= F.col("n") - w)
        .select("doc_id", "fingerprint")
        .distinct()
    )


@query(
    "text_clean",
    """
    WITH dirty AS (
      SELECT doc_id, text,
             '<p id="' || doc_id || '">' || text ||
             '</p>' || chr(10) || '&amp; <br/>&lt;tail&gt;' AS raw
      FROM documents)
    SELECT doc_id,
           trim(regexp_replace(
             replace(replace(replace(
               regexp_replace(raw, '<[^>]*>', ' ', 'g'),
               '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
             '\\s+', ' ', 'g')) AS clean_text,
           trim(regexp_replace(
             replace(replace(replace(
               regexp_replace(raw, '<[^>]*>', ' ', 'g'),
               '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
             '\\s+', ' ', 'g')) = (text || ' & <tail>') AS roundtrip_ok
    FROM dirty
    """,
)
def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/markup stripping — the first stage of any crawl-text
    pipeline: tag removal, entity decoding, whitespace normalization.
    The query deterministically WRAPS each doc in markup and then cleans
    it, so the oracle verifies the cleaning logic itself (roundtrip_ok
    must be true for every row). All regex/replace — map-side, no
    shuffle, sargable."""
    d = spread(load_table(spark, "documents", sf_dir))
    raw = F.concat(
        F.lit('<p id="'),
        F.col("doc_id").cast("string"),
        F.lit('">'),
        F.col("text"),
        F.lit("</p>\n&amp; <br/>&lt;tail&gt;"),
    )
    cleaned = F.trim(
        F.regexp_replace(
            F.replace(
                F.replace(
                    F.replace(
                        F.regexp_replace(raw, "<[^>]*>", " "),
                        F.lit("&amp;"),
                        F.lit("&"),
                    ),
                    F.lit("&lt;"),
                    F.lit("<"),
                ),
                F.lit("&gt;"),
                F.lit(">"),
            ),
            r"\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        cleaned.alias("clean_text"),
        (cleaned == F.concat(F.col("text"), F.lit(" & <tail>"))).alias("roundtrip_ok"),
    )


PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PII_URL_RE = "https?://[^ ]+"


@query(
    "text_pii_scrub",
    f"""
    WITH dirty AS (
      SELECT doc_id, text,
             text || ' contact user' || doc_id || '@example.com or http://site'
                  || doc_id || '.example/page?id=' || doc_id AS raw
      FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(raw, '{PII_URL_RE}', '<URL>', 'g'),
                          '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS scrubbed,
           regexp_replace(regexp_replace(raw, '{PII_URL_RE}', '<URL>', 'g'),
                          '{PII_EMAIL_RE}', '<EMAIL>', 'g')
             = (text || ' contact <EMAIL> or <URL>') AS scrub_ok
    FROM dirty
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — emails and URLs replaced with typed placeholders,
    the compliance pass of a training-data pipeline. Deterministic
    synthetic PII is appended per doc so the oracle verifies the
    scrubbing logic itself (scrub_ok must be true everywhere). Patterns
    are ASCII-only so Java regex (Spark) and RE2 (DuckDB) agree.
    Map-side, no shuffle; real deployments chain more patterns (phone,
    SSN, IP) through the same shape."""
    d = spread(load_table(spark, "documents", sf_dir))
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or http://site"),
        F.col("doc_id").cast("string"),
        F.lit(".example/page?id="),
        F.col("doc_id").cast("string"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, PII_URL_RE, "<URL>"), PII_EMAIL_RE, "<EMAIL>"
    )
    return d.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        (scrubbed == F.concat(F.col("text"), F.lit(" contact <EMAIL> or <URL>"))).alias(
            "scrub_ok"
        ),
    )


@query(
    "tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.term,
             round(t.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf t JOIN df d USING (term) CROSS JOIN n)
    SELECT doc_id, term, tfidf, rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))+1,
    the scikit-learn convention) — the classic keyword/feature extraction
    pass of a text pipeline.

    Scale shape: tf is a (doc_id, term) groupBy off one explode; the df
    table is term-keyed (vocabulary-sized, zipf-bounded) and joins back
    by term; the corpus-count scalar rides along as a broadcast 1-row
    crossJoin, NOT a driver collect. Ranking uses the ROUNDED score with
    a term tie-break so top-3 is engine-portable."""
    from pyspark.sql import Window

    d = spread(load_table(spark, "documents", sf_dir))
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    # tf rows are unique (doc_id, term) pairs, so df = count(DISTINCT
    # doc_id) per term over the token stream IS count(*) per term over
    # tf — identical integers. Deriving df from tf (optimization r11,
    # guide §1.2) drops the second tokenize+explode pass over the corpus
    # AND the two-phase distinct aggregation; tf is materialized once
    # because it now feeds both the df re-agg and the scoring join.
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


TOP_NGRAMS = 20


@query(
    "ngram_counts",
    f"""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT unnest(list_transform(range(len(t) - 2),
                 i -> concat_ws(' ', t[i+1], t[i+2], t[i+3]))) AS gram
      FROM toks WHERE len(t) >= 3)
    SELECT gram, count(*) AS n
    FROM grams GROUP BY gram
    ORDER BY n DESC, gram LIMIT {TOP_NGRAMS}
    """,
)
def ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level trigram counts, top-{TOP_NGRAMS} — the n-gram LM /
    boilerplate-detection statistic. Unlike dedup shingles these count
    OCCURRENCES (no per-doc distinct). Position-explode keeps the gram
    build linear (see shingle_rows); the count is one map-side-combined
    groupBy and the top-k is TakeOrderedAndProject (no global sort);
    (n DESC, gram) is a total order so the cut is engine-portable."""
    d = spread(load_table(spark, "documents", sf_dir))
    base = d.select(tokens(F.col("text")).alias("t")).filter(F.size("t") >= 3)
    ex = base.select("t", F.explode(F.expr("sequence(1, size(t) - 2)")).alias("i"))
    grams = ex.select(F.expr("array_join(slice(t, i, 3), ' ')").alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "gram")
        .limit(TOP_NGRAMS)
    )


MAX_DUP_TOKEN_FRAC = 0.6   # Gopher-style: drop if too few distinct tokens
MAX_TOP_BIGRAM_FRAC = 0.1  # drop if one bigram dominates the doc


@query(
    "repetition_filter",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    bg AS (
      SELECT doc_id, len(tk) AS n_tokens, len(list_distinct(tk)) AS n_distinct,
             unnest(list_transform(range(len(tk) - 1),
                 i -> concat_ws(' ', tk[i+1], tk[i+2]))) AS bigram
      FROM t WHERE len(tk) >= 2),
    c AS (
      SELECT doc_id, n_tokens, n_distinct, bigram, count(*) AS c
      FROM bg GROUP BY doc_id, n_tokens, n_distinct, bigram),
    m AS (
      SELECT doc_id, n_tokens, n_distinct, max(c) AS top_bigram_count
      FROM c GROUP BY doc_id, n_tokens, n_distinct)
    SELECT doc_id,
           round(1 - n_distinct::DOUBLE / n_tokens, 4)          AS dup_token_frac,
           CAST(top_bigram_count AS BIGINT)                     AS top_bigram_count,
           round(2.0 * top_bigram_count / n_tokens, 4)          AS top_bigram_frac,
           CASE WHEN round(1 - n_distinct::DOUBLE / n_tokens, 4)
                     <= {MAX_DUP_TOKEN_FRAC}
                 AND round(2.0 * top_bigram_count / n_tokens, 4)
                     <= {MAX_TOP_BIGRAM_FRAC}
                THEN 'keep' ELSE 'drop' END                     AS verdict
    FROM m
    """,
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher/MassiveText rules,
    token-level): flag documents that are internally repetitive —
    low distinct-token fraction, or one bigram covering too much of the
    text. Catches boilerplate, keyword stuffing, and template spam that
    a length/diversity score alone misses.

    Scale shape: the top-bigram mode is a grouped count, not a per-doc
    quadratic HOF — position-explode bigrams (linear; see
    dedup.shingle_rows on why explode-the-positions matters), count per
    (doc, bigram) with map-side partial aggregation, then max per doc.
    Two shuffles, both keyed by doc_id and carrying only small ints.
    Both fractions are rounded to the same 4-decimal grid on both
    engines before the threshold compare, so the keep/drop boundary is
    portable."""
    d = spread(load_table(spark, "documents", sf_dir))
    base = d.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    ex = base.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
        "t",
        F.explode(F.expr("sequence(1, size(t) - 1)")).alias("i"),
    )
    bg = ex.select(
        "doc_id", "n_tokens", "n_distinct",
        F.expr("concat_ws(' ', t[i-1], t[i])").alias("bigram"),
    )
    counts = bg.groupBy("doc_id", "n_tokens", "n_distinct", "bigram").agg(
        F.count(F.lit(1)).alias("c")
    )
    m = counts.groupBy("doc_id", "n_tokens", "n_distinct").agg(
        F.max("c").alias("top_bigram_count")
    )
    dup = F.round(1 - F.col("n_distinct").cast("double") / F.col("n_tokens"), 4)
    tbf = F.round(2.0 * F.col("top_bigram_count") / F.col("n_tokens"), 4)
    return m.select(
        "doc_id",
        dup.alias("dup_token_frac"),
        F.col("top_bigram_count").cast("bigint").alias("top_bigram_count"),
        tbf.alias("top_bigram_frac"),
        F.when(
            (dup <= MAX_DUP_TOKEN_FRAC) & (tbf <= MAX_TOP_BIGRAM_FRAC), "keep"
        )
        .otherwise("drop")
        .alias("verdict"),
    )


HH_SUPPORT = 0.00005  # report trigrams with frequency > HH_SUPPORT of all
# heavy_hitters fans `documents` out (spread) only from this many rows on;
# below it one task per input partition is faster (see its docstring).
HH_SPREAD_ROWS = 10_000


@query(
    "heavy_hitters",
    f"""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT unnest(list_transform(range(len(t) - 2),
                 i -> concat_ws(' ', t[i+1], t[i+2], t[i+3]))) AS gram
      FROM toks WHERE len(t) >= 3)
    SELECT gram, count(*) AS n
    FROM grams GROUP BY gram
    HAVING count(*) > (SELECT count(*) FROM grams) * {HH_SUPPORT}
    """,
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequent trigrams (> {HH_SUPPORT:.1%} of all gram
    occurrences) via a two-pass Misra-Gries sketch — the
    boilerplate/template detector that does NOT shuffle the full gram
    population like `ngram_counts` does:

    pass 1: every partition runs a Misra-Gries summary with capacity
    1/support. Pigeonhole guarantees any GLOBALLY heavy gram is LOCALLY
    heavy in at least one partition, so the union of per-partition
    survivors is a complete candidate set (at most partitions/support
    strings — a bounded driver-side constant), no matter how many
    trillions of grams flow by.
    pass 2: exact counts for candidates only (broadcast-joined against
    the gram stream — NOT an isin literal, which at sketch capacity
    would bloat the plan), strict > threshold — output identical to the
    full groupBy, which is what the oracle runs.

    The sketch is the MERGEABLE-SUMMARIES shape (Agarwal et al., TODS'13)
    next to HLL (`approx_distinct`) and GK (`approx_quantiles`) — here
    used for candidate pruning so the final answer stays exact.

    The candidate set is complete for ANY partitioning, so the query
    reads `documents` as it lies, one task per input partition, and
    `spread()`s it only from HH_SPREAD_ROWS rows (parquet footer count,
    no Spark job) on. Below that the fan-out costs more than it saves:
    each added Python task pays the fixed worker cost `spread()`
    documents, and each consumer (sketch, `total`, pass 2) a round-robin
    shuffle, while one core counts 5,000 documents in ~0.08 s. Measured
    on single-row-group corpora (one input partition), 4 cores, 10+
    interleaved pairs each: without the fan-out, 500 and 5,000
    documents ran 18 % and 12 % faster at 44 % and 45 % less CPU;
    10,000, 20,000 and 80,000 documents ran 8 %, 26 % and 77 % slower
    at 42 %, 36 % and 17 % less CPU. An input that is already
    default-parallelism wide (many files or row groups) is not fanned
    out at any size."""
    import pandas as pd

    cap = int(1 / HH_SUPPORT)
    d = load_table(spark, "documents", sf_dir)
    if table_rowcount("documents", sf_dir) >= HH_SPREAD_ROWS:
        d = spread(d)

    def mg_partial(batches):
        # Batched Misra-Gries (optimization r10): exact-count each Arrow
        # batch with a C-speed Counter, MERGE into the running summary,
        # and prune with the mergeable-summaries merge step (Agarwal et
        # al., TODS'13: subtract the (cap+1)-th largest count from all,
        # drop non-positive) instead of the per-gram decrement-all loop
        # (~4M interpreted dict operations per partition at sf0.1 made
        # that form the whole query's hot spot; this one counts sf0.1's
        # 5,000 documents in ~0.08 s). The guarantee is unchanged: after any
        # sequence of merges+prunes every gram's counter undercounts by
        # at most N_partition/(cap+1), so any gram with partition
        # frequency > 1/cap survives — the same locally-heavy superset
        # the row-by-row form keeps, and pass 2's exact counts make the
        # final output identical for ANY candidate superset.
        from collections import Counter

        counters: Counter = Counter()

        def prune(c: Counter) -> Counter:
            # a full sort beats heapq.nlargest(cap + 1, ...) here: 4-7x faster
            # at cap = 20,000 over 2*cap + 1 counts (timsort vs a Python heap)
            sub = sorted(c.values(), reverse=True)[cap]
            return Counter({g: n - sub for g, n in c.items() if n > sub})

        # Transient bound (r11, advisor note): the merged counter is
        # pruned as soon as it exceeds 2*cap — INSIDE the document loop,
        # not only per Arrow batch — so peak memory is O(cap) plus one
        # document's grams, never O(distinct grams per batch). The prune
        # schedule doesn't affect the guarantee: every prune subtracts
        # the (cap+1)-th largest count s from all survivors while >= cap+1
        # counters hold >= s, so Σ s <= N_partition/(cap+1) regardless of
        # when prunes fire — the same locally-heavy superset survives.
        for pdf in batches:
            for text in pdf["text"]:
                t = text.split(" ")
                counters.update(map(" ".join, zip(t, t[1:], t[2:])))
                if len(counters) > 2 * cap:
                    counters = prune(counters)
        if len(counters) > cap:
            counters = prune(counters)
        yield pd.DataFrame({"gram": list(counters)})

    cands = (
        d.select("text").mapInPandas(mg_partial, "gram string").distinct()
    )
    base = d.select(tokens(F.col("text")).alias("t")).filter(F.size("t") >= 3)
    total = base.select(
        F.sum(F.size("t") - 2).alias("n")
    ).collect()[0].n
    ex = base.select("t", F.explode(F.expr("sequence(1, size(t) - 2)")).alias("i"))
    grams = ex.select(F.expr("array_join(slice(t, i, 3), ' ')").alias("gram"))
    return (
        grams.join(F.broadcast(cands), "gram")
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > total * HH_SUPPORT)
    )


# BM25 retrieval constants (Robertson/Sparck Jones defaults) and a fixed
# demo query over the synthetic vocabulary.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ["spark", "stream", "join"]
BM25_TOPK = 20

_BM25_Q_SQL = ", ".join(f"'{w}'" for w in BM25_QUERY)


@query(
    "bm25_score",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM t),
    tok AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM t),
    q AS (SELECT * FROM tok WHERE term IN ({_BM25_Q_SQL})),
    tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM q GROUP BY 1, 2, 3),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM q GROUP BY 1)
    SELECT doc_id,
           round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                     * tf * ({BM25_K1} + 1)
                     / (tf + {BM25_K1} * (1 - {BM25_B}
                                          + {BM25_B} * dl / avgdl))), 4) AS bm25
    FROM tf JOIN df USING (term) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOPK}
    """,
)
def bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{BM25_TOPK} retrieval for a fixed term query — the
    lexical-retrieval scorer of a dedup/decontamination pipeline (and the
    standard baseline next to embedding search `sim_search_topk`).
    idf = ln(1 + (N - df + .5)/(df + .5)), k1={BM25_K1}, b={BM25_B}.

    Scale shape: the corpus-wide stats (N, avgdl) are ONE aggregate row
    broadcast via crossJoin, not a driver collect; tokens are filtered to
    the query vocabulary BEFORE any shuffle, so tf/df aggregate only the
    matching (doc, term) pairs (query-sized, not corpus-sized); df is a
    |Q|-row broadcast join; the top-k is TakeOrderedAndProject on the
    ROUNDED score with doc_id tie-break (engine-portable cut, no global
    sort, no single-partition window)."""
    d = spread(load_table(spark, "documents", sf_dir))
    # ONE tokenize pass over a narrow materialized per-doc row
    # (optimization r11, guide §1.2): the r1-r10 shape ran the corpus
    # scan+tokenize twice (stats consumer + token consumer) and the
    # exploded q stream twice more (tf + df). Now: explode(array(tokens))
    # binds the token array ONCE per row as a Generate output attribute
    # (sibling projections of an inline array re-evaluate it per
    # reference on Spark 4.1 — the shingle-pipeline gotcha — but
    # attribute reads don't), the per-doc row keeps only (doc_id, dl,
    # query-term hits) — a few bytes per document — and is checkpointed
    # for its two consumers. df derives from tf (tf rows are unique per
    # (doc_id, term), so count(*) per term == count(DISTINCT doc_id) —
    # identical integers).
    bound = d.select(
        "doc_id", F.explode(F.array(tokens(F.col("text")))).alias("t")
    )
    perdoc = bound.select(
        "doc_id",
        F.size("t").alias("dl"),
        F.filter("t", lambda x: x.isin(BM25_QUERY)).alias("qt"),
    ).localCheckpoint(eager=False)
    stats = perdoc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    q = perdoc.select("doc_id", "dl", F.explode("qt").alias("term"))
    tf = q.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    score = (
        idf
        * F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(score), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


PMI_MIN_FRAC = 1e-4  # keep pairs covering > this fraction of all bigrams
PMI_TOPK = 30


@query(
    "word_pmi",
    f"""
    WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents
               WHERE len(string_split(text, ' ')) >= 2),
    tot AS (SELECT CAST(sum(len(tk)) AS BIGINT)     AS tu,
                   CAST(sum(len(tk) - 1) AS BIGINT) AS tb FROM t),
    uni AS (SELECT unnest(tk) AS w FROM t),
    cu  AS (SELECT w, count(*) AS c_w FROM uni GROUP BY w),
    bg AS (
      SELECT unnest(list_transform(range(len(tk) - 1),
                 i -> [tk[i+1], tk[i+2]])) AS pair
      FROM t),
    cb AS (SELECT pair[1] AS x, pair[2] AS y, count(*) AS c_xy
           FROM bg GROUP BY 1, 2)
    SELECT x, y, CAST(c_xy AS BIGINT) AS c_xy,
           round(ln((CAST(c_xy AS DOUBLE) * tu * tu)
                    / (CAST(cx.c_w AS DOUBLE) * cy.c_w * tb)), 4) AS pmi
    FROM cb JOIN cu cx ON cb.x = cx.w
            JOIN cu cy ON cb.y = cy.w
            CROSS JOIN tot
    WHERE c_xy >= tb * {PMI_MIN_FRAC}
    ORDER BY pmi DESC, x, y LIMIT {PMI_TOPK}
    """,
)
def word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOPK} bigram collocations by pointwise mutual information
    (Church & Hanks, CL'90): pmi = ln(p(x,y) / (p(x) p(y))) with unigram
    and bigram MLE probabilities — the phrase-mining / tokenizer-merge
    statistic of a corpus analysis pass, restricted to pairs covering
    > {PMI_MIN_FRAC:.2%} of all bigram occurrences.

    Scale shape: unigram counts are a vocabulary-sized (zipf-bounded)
    table joined by word — twice, once per side of the pair; corpus
    totals ride along as a broadcast one-row crossJoin. The support
    filter applies BEFORE the joins feed the sort, and the top-k is
    TakeOrderedAndProject on the rounded score with (x, y) tie-break.
    The pmi expression keeps the exact same operation order on both
    engines so the double math agrees before rounding."""
    d = spread(load_table(spark, "documents", sf_dir))
    base = d.select(tokens(F.col("text")).alias("tk")).filter(F.size("tk") >= 2)
    # ONE corpus pass (optimization r11, guide §1.2/§2.3): the r1-r10
    # shape ran the tokenize pipeline THREE times (corpus totals, unigram
    # counts, bigram counts). Every statistic derives from one exploded
    # stream of (token, successor-or-NULL) pairs — each token occupies
    # exactly one position, so its successor-padded pair count is its
    # unigram count: c_w(x) = Σ_y c(x, y incl NULL), tu = Σ c, tb = Σ
    # non-NULL c. The (x, y) count table is vocabulary²-bounded and
    # checkpointed once for its three tiny re-aggregations — identical
    # integers everywhere, so the pmi doubles are bit-identical.
    ex = base.select("tk", F.explode(F.expr("sequence(1, size(tk))")).alias("i"))
    cbx = (
        ex.select(
            F.expr("tk[i-1]").alias("x"),
            F.expr("IF(i < size(tk), tk[i], NULL)").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = cbx.agg(
        F.sum("c").cast("bigint").alias("tu"),
        F.sum(F.when(F.col("y").isNotNull(), F.col("c"))).cast("bigint").alias("tb"),
    )
    cu = cbx.groupBy("x").agg(F.sum("c").alias("c_w")).withColumnRenamed("x", "w")
    cb = cbx.filter(F.col("y").isNotNull()).select(
        "x", "y", F.col("c").alias("c_xy")
    )
    cx = cu.select(F.col("w").alias("x"), F.col("c_w").alias("cx_c"))
    cy = cu.select(F.col("w").alias("y"), F.col("c_w").alias("cy_c"))
    pmi = F.round(
        F.log(
            (F.col("c_xy").cast("double") * F.col("tu") * F.col("tu"))
            / (F.col("cx_c").cast("double") * F.col("cy_c") * F.col("tb"))
        ),
        4,
    )
    return (
        cb.join(cx, "x")
        .join(cy, "y")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("c_xy") >= F.col("tb") * PMI_MIN_FRAC)
        .select("x", "y", F.col("c_xy").cast("bigint").alias("c_xy"), pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "x", "y")
        .limit(PMI_TOPK)
    )


HIST_BUCKET_CHARS = 50


@query(
    "length_histogram",
    f"""
    SELECT source,
           CAST(floor(n_chars / {HIST_BUCKET_CHARS}) AS BIGINT)
             * {HIST_BUCKET_CHARS}              AS bucket_lo,
           count(*)                             AS n_docs,
           CAST(sum(n_chars) AS BIGINT)         AS total_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length histogram ({HIST_BUCKET_CHARS}-char
    fixed-width buckets) — the distribution every curation run eyeballs
    before setting length gates (quality_score's band came from one).
    Integer floor bucketing is engine-exact; one map-side-combined
    groupBy over (source, bucket) — tiny keys, one shuffle."""
    d = load_table(spark, "documents", sf_dir)
    bucket = (
        F.floor(F.col("n_chars") / HIST_BUCKET_CHARS).cast("bigint")
        * HIST_BUCKET_CHARS
    )
    return d.groupBy("source", bucket.alias("bucket_lo")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@query(
    "lm_score",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
               WHERE len(string_split(text, ' ')) >= 2),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(len(tk) - 1),
                 i -> [tk[i+1], tk[i+2]])) AS pair
      FROM t),
    db AS (SELECT doc_id, pair[1] AS x, pair[2] AS y FROM bg),
    cxy AS (SELECT x, y, count(*) AS c_xy FROM db GROUP BY x, y),
    cx  AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_x FROM cxy GROUP BY x)
    SELECT d.doc_id,
           count(*)                                            AS n_bigrams,
           round(avg(ln(CAST(c.c_xy AS DOUBLE) / u.c_x)), 4)   AS avg_logprob
    FROM db d JOIN cxy c USING (x, y) JOIN cx u USING (x)
    GROUP BY d.doc_id
    """,
)
def lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM quality score: each document's mean log
    P(y|x) = c(x,y)/c(x·) under the corpus's own bigram MLE — the
    CCNet-style perplexity filter (docs far below the corpus mean read
    as noise; far above as boilerplate), with the corpus itself as the
    language model so no external KenLM artifact is needed.

    Scale shape: one bigram explode feeds BOTH the count model and the
    scoring join; the model tables are vocabulary-bounded (zipf), joined
    by word keys; the per-doc aggregate shuffles (doc_id, logprob)
    partials only. The count model is the cached/persisted artifact in
    production — score new snapshots against last snapshot's counts by
    swapping the cxy/cx inputs."""
    d = spread(load_table(spark, "documents", sf_dir))
    base = d.select("doc_id", tokens(F.col("text")).alias("tk")).filter(
        F.size("tk") >= 2
    )
    ex = base.select(
        "doc_id", "tk", F.explode(F.expr("sequence(1, size(tk) - 1)")).alias("i")
    )
    # Examined r11, kept the two-consumer shape: sharing the bigram
    # stream through ONE explicit repartition("x","y") exchange (reused
    # by the groupBy and the scoring join) measured 0.75-0.81x in the
    # interleaved A/B — the count model's groupBy normally ships only
    # map-side partials (distinct (x,y) per task), so the "shared"
    # exchange upgraded a small shuffle to a full-stream shuffle; the
    # duplicated tokenize+explode is cheaper than that.
    db = ex.select(
        "doc_id", F.expr("tk[i-1]").alias("x"), F.expr("tk[i]").alias("y")
    )
    cxy = db.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    # context counts derive from the PAIR counts (vocab-sized re-agg), not
    # from a third pass over the corpus-sized bigram stream: c(x·) = Σ_y
    # c(x,y). The bigram explode then has two consumers (count model +
    # scoring join) instead of three, and both shuffle on the same (x, y)
    # key so the exchange is reusable.
    cx = cxy.groupBy("x").agg(F.sum("c_xy").cast("bigint").alias("c_x"))
    return (
        db.join(cxy, ["x", "y"])
        .join(cx, "x")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("c_xy").cast("double") / F.col("c_x"))), 4
            ).alias("avg_logprob"),
        )
    )


@query(
    "source_entropy",
    """
    WITH c AS (
      SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
    t AS (
      SELECT source, count(*) AS n_langs,
             CAST(sum(n) AS BIGINT) AS total_docs,
             CAST(sum(n) AS DOUBLE) AS tot,
             sum(n * log2(n)) AS sum_nlogn
      FROM c GROUP BY 1)
    SELECT source, n_langs, total_docs,
           round(log2(tot) - sum_nlogn / tot, 6) AS lang_entropy
    FROM t
    """,
)
def source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the language mix per source — the diversity
    diagnostic a corpus-mixing pipeline monitors (a source collapsing to
    one language shows up as entropy -> 0). Algebraic form
    ``log2(N) - sum(n*log2(n))/N`` instead of ``-sum(p*log2(p))``: one
    less division per term, and the single-language case is exactly
    ``x - x = +0.0`` on both engines (the p*log2(p) form yields -0.0,
    which hash-compares unequal to 0.0). Two tiny-key aggregations:
    (source, lang) partials then source — network O(sources x langs)."""
    d = load_table(spark, "documents", sf_dir)
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_langs"),
        F.sum("n").alias("total_docs"),
        F.sum("n").cast("double").alias("tot"),
        F.sum(F.col("n") * F.log2("n")).alias("sum_nlogn"),
    )
    return t.select(
        "source",
        "n_langs",
        "total_docs",
        F.round(F.log2("tot") - F.col("sum_nlogn") / F.col("tot"), 6).alias(
            "lang_entropy"
        ),
    )


# winnow_dup_pairs: longer k-grams than doc_winnow_fingerprint — with k=5,
# the corpus collapses to ~700 distinct fingerprints and EVERY doc pair
# shares some (measured: 52k of 125k possible pairs matched at sf0.01).
# k=20/w=16 (guarantee: shared substring >= 35 chars -> shared fingerprint)
# is bimodal on the same corpus: chance pairs share <= 2, true near-dups
# share >= 10. The df cap drops boilerplate fingerprints before the
# self-join; MIN_SHARED sits in the gap between the modes.
PAIR_WINNOW_K = 20
PAIR_WINNOW_W = 16
WINNOW_MAX_DF = 10
WINNOW_MIN_SHARED = 5


@query(
    "winnow_dup_pairs",
    f"""
    WITH norm AS (
      SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
      FROM documents),
    grams AS (
      SELECT doc_id,
             list_transform(range(1, length(t) - {PAIR_WINNOW_K} + 2),
                 i -> ('0x' || substr(md5(substring(t, i, {PAIR_WINNOW_K})), 1, 8))::BIGINT) AS hs
      FROM norm WHERE length(t) >= {PAIR_WINNOW_K}),
    wins AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(hs) - {PAIR_WINNOW_W} + 2),
                 j -> list_aggregate(hs[j:j+{PAIR_WINNOW_W - 1}], 'min'))) AS fps
      FROM grams WHERE len(hs) >= {PAIR_WINNOW_W}),
    fp AS (SELECT doc_id, unnest(fps) AS fingerprint FROM wins),
    rare AS (
      SELECT fingerprint FROM fp GROUP BY 1
      HAVING count(*) <= {WINNOW_MAX_DF}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM fp a JOIN rare r ON a.fingerprint = r.fingerprint
                JOIN fp b ON b.fingerprint = a.fingerprint
      WHERE a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, count(*) AS n_shared
    FROM pairs GROUP BY 1, 2
    HAVING count(*) >= {WINNOW_MIN_SHARED}
    """,
)
def winnow_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document copy detection: pairs of documents sharing >=
    {WINNOW_MIN_SHARED} winnowing fingerprints — the MOSS-style
    PARTIAL-overlap join that whole-document hashing cannot do (a doc
    that copies one paragraph still pairs up). Built on the same
    fingerprint pass as `doc_winnow_fingerprint` (SIGMOD'03), then the
    standard inverted-index self-join with a document-frequency cap:
    fingerprints appearing in > {WINNOW_MAX_DF} docs are boilerplate and
    are dropped BEFORE the self-join, bounding the join fan-out at
    sum(df^2) over rare fingerprints — the same hot-key discipline as
    `dedup_ngram_jaccard`. At 100 TB the df cap is what keeps this from
    quadratic blowup on template text; the pair agg shuffles only
    (id, id) pairs."""
    d = spread(load_table(spark, "documents", sf_dir))
    # Materialize the fingerprint table once (optimization r10): it feeds
    # THREE consumers (the df-cap aggregate and both sides of the
    # self-join), and each re-ran the ~N_chars md5-per-document winnowing
    # pipeline from scratch (measured 3x the fingerprint cost, 4.6 s of
    # the query's 6.8 s profile). One pass + checkpoint is the multi-
    # consumer rule every other index-shaped operator here follows.
    fp = winnow_fingerprints(d, PAIR_WINNOW_K, PAIR_WINNOW_W).localCheckpoint(
        eager=False
    )
    rare = (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WINNOW_MAX_DF)
        .select("fingerprint")
    )
    kept = fp.join(rare, "fingerprint")
    b = kept.select(
        F.col("fingerprint").alias("b_fp"), F.col("doc_id").alias("doc_b")
    )
    pairs = kept.join(
        b,
        (F.col("fingerprint") == F.col("b_fp"))
        & (F.col("doc_id") < F.col("doc_b")),
    ).select(F.col("doc_id").alias("doc_a"), "doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


@query(
    "udtf_sentence_split",
    """
    WITH s AS (
      SELECT doc_id, string_split(text, '. ') AS ss FROM documents),
    e AS (
      SELECT doc_id,
             unnest(range(len(ss)))                       AS sent_idx,
             unnest(list_transform(ss, x -> length(x)))   AS n_sent_chars
      FROM s)
    SELECT doc_id, CAST(sent_idx AS INTEGER) AS sent_idx,
           CAST(n_sent_chars AS INTEGER) AS n_sent_chars
    FROM e
    """,
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 3.5+/4.x table function API): one input
    row -> many output rows with per-row Python logic, consumed via
    LATERAL join. The logic here (sentence split + per-sentence length)
    is deliberately SQL-expressible so the DuckDB oracle fully checks the
    UDTF plumbing — the point is the API class, which `udf_surface`
    (scalar pandas UDF) and `multimodal_decode` (mapInPandas) don't
    cover. UDTFs are row-at-a-time Python: the slow path by design.
    Production guidance in this engine: reach for a UDTF only when the
    per-row fan-out logic is genuinely imperative; otherwise
    split+posexplode (pure Catalyst) is ~10-100x faster — pinned by the
    parity test in tests/test_properties.py."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="sent_idx: int, n_sent_chars: int")
    class SentenceSplit:
        def eval(self, text: str):
            for i, sent in enumerate((text or "").split(". ")):
                yield i, len(sent)

    spark.udtf.register("sentence_split", SentenceSplit)
    d = load_table(spark, "documents", sf_dir)
    d.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.n_sent_chars
        FROM __udtf_docs d, LATERAL sentence_split(d.text) s
        """
    )


@query(
    "bpe_merge_step",
    """
    WITH words AS (
      SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
      FROM documents),
    w2 AS (SELECT w FROM words WHERE length(w) >= 2),
    idx AS (
      SELECT w, unnest(generate_series(1, length(w) - 1)) AS i FROM w2),
    pairs AS (SELECT substr(w, CAST(i AS INTEGER), 2) AS pair FROM idx)
    SELECT pair, count(*) AS n
    FROM pairs GROUP BY 1
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge iteration at character level: count every adjacent
    symbol pair inside words across the corpus and rank the top merge
    candidates — the inner loop of byte-pair-encoding vocabulary
    induction (tokenizer training), run distributed. A full trainer
    repeats this with the winning pair merged into the symbol stream;
    one step exercises the whole distributed shape.

    Shape: explode words, then explode each word's length-1 adjacent
    pair list via a Catalyst `transform(sequence(...))` — no Python in
    the loop. The pair space is bounded (<= 26^2 for a-z), so the
    count aggregation collapses map-side to a few hundred partials per
    task regardless of corpus size, and the global top-20 is a
    TakeOrderedAndProject, not a full sort. This is why BPE counting
    scales to 100 TB: the shuffle carries |alphabet|^2 rows per task,
    never the corpus."""
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


VOCAB_THRESHOLDS = [100, 500, 1000, 5000]
_VOCAB_TH_SQL = "[" + ", ".join(str(t) for t in VOCAB_THRESHOLDS) + "]"


@query(
    "vocab_coverage",
    f"""
    WITH t AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    counts AS (SELECT tok, count(*) AS n FROM t GROUP BY 1),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rnk FROM counts),
    th AS (SELECT unnest({_VOCAB_TH_SQL}) AS top_n)
    SELECT th.top_n,
           CAST(sum(CASE WHEN r.rnk <= th.top_n THEN r.n ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           CAST(sum(r.n) AS BIGINT) AS total_tokens,
           round(sum(CASE WHEN r.rnk <= th.top_n THEN r.n ELSE 0 END)::DOUBLE
                 / sum(r.n), 6) AS coverage
    FROM ranked r CROSS JOIN th
    GROUP BY th.top_n
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all token occurrences
    a top-N frequency-ranked vocabulary explains, at several N — the
    question a tokenizer/vocab-size decision hangs on (coverage at 32k
    vs 50k entries), evaluated corpus-wide.

    Shape: the corpus crosses the wire ONCE, pre-aggregated map-side
    into per-token partial counts (vocabulary-sized, orders of magnitude
    below token count). Ranking is a window over the distinct-token
    table; at this corpus's vocab size a single-partition sort of the
    count table is trivial, and at web-scale vocab (~1e8 tokens) the
    same rank comes from the two-pass range-partitioned prefix-sum used
    by running_total — the plan below is unchanged above that node. The
    threshold table is a 4-row literal cross join; the final aggregate
    is |thresholds| rows."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    wr = Window.orderBy(F.col("n").desc(), F.col("tok"))
    ranked = counts.select("n", F.row_number().over(wr).alias("rnk"))
    th = spark.createDataFrame([(t,) for t in VOCAB_THRESHOLDS], "top_n int")
    covered = F.sum(F.when(F.col("rnk") <= F.col("top_n"), F.col("n")).otherwise(0))
    return (
        ranked.crossJoin(F.broadcast(th))
        .groupBy("top_n")
        .agg(
            covered.cast("bigint").alias("covered_tokens"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            F.round(covered.cast("double") / F.sum("n"), 6).alias("coverage"),
        )
    )


LM_TOP_BIGRAMS = 30
LM_ADD_K = 0.5


@query(
    "bigram_lm_probs",
    f"""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT unnest(list_transform(range(len(t) - 1),
                 i -> concat_ws(' ', t[i+1], t[i+2]))) AS gram
      FROM toks WHERE len(t) >= 2),
    bg AS (SELECT gram, count(*) AS n FROM grams GROUP BY 1),
    top AS (SELECT gram, n FROM bg ORDER BY n DESC, gram LIMIT {LM_TOP_BIGRAMS}),
    u AS (SELECT unnest(t) AS w FROM toks),
    uc AS (SELECT w, count(*) AS cw FROM u GROUP BY 1),
    vocab AS (SELECT count(*) AS v FROM uc)
    SELECT split_part(top.gram, ' ', 1) AS w1,
           split_part(top.gram, ' ', 2) AS w2,
           top.n,
           round((top.n + {LM_ADD_K}) / (uc.cw + {LM_ADD_K} * vocab.v), 6)
             AS p_smooth
    FROM top
    JOIN uc ON uc.w = split_part(top.gram, ' ', 1)
    CROSS JOIN vocab
    """,
)
def bigram_lm_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-k-smoothed bigram LM estimation for the corpus's top
    bigrams: P(w2|w1) = (c(w1 w2) + k) / (c(w1) + k|V|) — the model-
    build half of n-gram perplexity filtering (lm_score is the scoring
    half; this produces the conditional table a scorer would read).

    Shape: three aggregations, each collapsing map-side (bigram space,
    unigram space, and a 1-row vocab count); the top-{LM_TOP_BIGRAMS}
    cut is TakeOrderedAndProject. The tiny winner set then BROADCASTS
    against the vocabulary-sized unigram table, and |V| rides along as
    a broadcast 1-row cross join — no data-sized shuffle after the
    counts. At 100 TB the full conditional table (no LIMIT) is the same
    plan with the broadcast flipped (unigram marginals are the smaller
    side) — the smoothing arithmetic is unchanged."""
    d = spread(load_table(spark, "documents", sf_dir))
    t = d.select(tokens(F.col("text")).alias("t"))
    grams = (
        t.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1)))"
                )
            ).alias("gram")
        )
    )
    top = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "gram")
        .limit(LM_TOP_BIGRAMS)
        .select(
            F.split_part(F.col("gram"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("gram"), F.lit(" "), F.lit(2)).alias("w2"),
            "n",
        )
    )
    uc = (
        t.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    vocab = uc.agg(F.count(F.lit(1)).alias("v"))
    joined = uc.join(F.broadcast(top), uc.w == top.w1).crossJoin(
        F.broadcast(vocab)
    )
    p = F.round(
        (F.col("n") + F.lit(LM_ADD_K))
        / (F.col("cw") + F.lit(LM_ADD_K) * F.col("v")),
        6,
    )
    return joined.select("w1", "w2", "n", p.alias("p_smooth"))


# ---------------------------------------------------------------- zipf_fit


ZIPF_HEAD = 1000  # fit over the head of the frequency table

# zipf_fit exact-OLS contract (r7 kernel purge — same recipe as
# heaps_law_fit above, same regr_* kernel class as the r5 driver FAIL):
# quantize ln(rank), ln(count) to the 1e-6 grid (floor form, pure IEEE),
# sum the five moments as exact int64 over the <= ZIPF_HEAD fit rows,
# and derive slope/r2 in one shared double expression over identical
# integers. Budgets: xq = ln(rnk)*1e6 <= 6.91e6, yq = ln(cnt)*1e6 <=
# ~2.8e7 at 1e12 tokens; xq*yq <= 2e14 < 2^53 per row, moment sums over
# 1000 rows <= 2e17 < 2^63 — all direct int64, no hi/lo needed.
#
# r9: the former residual libm kernel (ln()) is RETIRED — ln is now the
# shared-series expansion from functions/exactagg.py (ln_k/ln_m staged
# columns + ln_from_km polynomial): basic IEEE ops in a text-fixed order,
# bit-identical cross-engine by construction, so the 1e-6-grid quantizer
# cannot flip on a JVM-Math.log-vs-glibc-log ulp again (OPERATORS.md
# "Residual libm kernel" patch, applied per the r8 verdict #4).
_ZF_XQ = f"CAST(floor({ln_from_km_sql('kx', 'mx')} * 1e6 + 0.5) AS BIGINT)"
_ZF_YQ = f"CAST(floor({ln_from_km_sql('ky', 'my')} * 1e6 + 0.5) AS BIGINT)"
_ZF_VARX = varn_sql("sn", "sxx", "sx")
_ZF_VARY = varn_sql("sn", "syy", "sy")
_ZF_COV = covn_sql("sn", "sxy", "sx", "sy")
# slope/r2 are invariant to the common 1e6 grid scale; the exponent is
# the negated slope of ln cnt on ln rank.
_ZF_EXP = (
    f"CASE WHEN {_ZF_VARX} > 0.0 THEN "
    + fgrid_sql(f"-({_ZF_COV}) / {_ZF_VARX}", 4)
    + " END"
)
_ZF_R2 = (
    f"CASE WHEN {_ZF_VARX} > 0.0 AND {_ZF_VARY} > 0.0 THEN "
    + fgrid_sql(f"{_ZF_COV} * {_ZF_COV} / ({_ZF_VARX} * {_ZF_VARY})", 4)
    + " END"
)


@query(
    "zipf_fit",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    cnt AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt
      FROM tok WHERE token <> '' GROUP BY 1),
    ranked AS (
      SELECT token, cnt,
             row_number() OVER (ORDER BY cnt DESC, token) AS rnk
      FROM cnt),
    ptskm AS (
      SELECT {ln_k_sql('rnk')} AS kx, {ln_m_sql('rnk')} AS mx,
             {ln_k_sql('cnt')} AS ky, {ln_m_sql('cnt')} AS my
      FROM ranked WHERE rnk <= {ZIPF_HEAD}),
    pts AS (
      SELECT {_ZF_XQ} AS xq, {_ZF_YQ} AS yq
      FROM ptskm),
    g AS (
      SELECT {count_d_sql('xq')} AS sn,
             {sum_d_sql('xq')} AS sx, {sum_d_sql('yq')} AS sy,
             {sum_d_sql('xq * xq')} AS sxx, {sum_d_sql('yq * yq')} AS syy,
             {sum_d_sql('xq * yq')} AS sxy
      FROM pts)
    SELECT CAST(sn AS BIGINT) AS n_fit,
           {_ZF_EXP} AS zipf_exponent,
           {_ZF_R2}  AS r2
    FROM g
    """,
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent of the corpus token-frequency distribution via
    log-log least squares over the top-{ZIPF_HEAD} ranks (ln cnt ≈
    c − s·ln rank; natural text gives s ≈ 1) — the corpus-health
    diagnostic that catches boilerplate-flooded or synthetic-looking
    crawls before training. Token counts collapse map-side to the
    vocabulary lattice (zipf-bounded, like `ngram_counts`); the global
    rank window runs over that lattice with (count desc, token)
    tie-break so both engines rank identically; the OLS is the exact
    quantized-moment contract (module constants above — NO regr_*
    kernels, the r5 heaps FAIL class) over {ZIPF_HEAD} rows; ln itself
    is the shared-series expansion (exactagg.ln_from_km_sql), so NO
    libm kernel remains anywhere on the hashed surface."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    cnt = tok.groupBy("token").agg(F.count("*").cast("bigint").alias("cnt"))
    wr = Window.orderBy(F.desc("cnt"), F.asc("token"))
    pts = (
        cnt.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= ZIPF_HEAD)
        .select(
            F.expr(ln_k_sql("rnk")).alias("kx"),
            F.expr(ln_m_sql("rnk")).alias("mx"),
            F.expr(ln_k_sql("cnt")).alias("ky"),
            F.expr(ln_m_sql("cnt")).alias("my"),
        )
        .select(F.expr(_ZF_XQ).alias("xq"), F.expr(_ZF_YQ).alias("yq"))
    )
    g = pts.agg(
        F.expr(count_d_sql("xq")).alias("sn"),
        F.expr(sum_d_sql("xq")).alias("sx"),
        F.expr(sum_d_sql("yq")).alias("sy"),
        F.expr(sum_d_sql("xq * xq")).alias("sxx"),
        F.expr(sum_d_sql("yq * yq")).alias("syy"),
        F.expr(sum_d_sql("xq * yq")).alias("sxy"),
    )
    return g.select(
        F.col("sn").cast("bigint").alias("n_fit"),
        F.expr(_ZF_EXP).alias("zipf_exponent"),
        F.expr(_ZF_R2).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Corpus novelty: share of a doc's n-grams it contributed first
# ---------------------------------------------------------------------------
@query(
    "ngram_novelty_score",
    """
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest(list_transform(range(len(toks) - 2),
                 i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
    SELECT sh.doc_id, count(*)::BIGINT AS n_shingles,
           sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)::BIGINT
             AS n_novel,
           round(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 4) AS novel_frac
    FROM sh JOIN f USING (shingle)
    GROUP BY sh.doc_id
    """,
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of its distinct word trigrams
    whose EARLIEST corpus occurrence (min doc_id under the ingest order)
    is the document itself. The incremental-curation read-out between
    exact dedup (all-or-nothing) and Jaccard pairs (quadratic in
    candidates): a crawl pipeline drops low-novelty docs without ever
    forming pairs.

    Shape: linear in total shingles — one groupBy(shingle) min() builds
    the first-occurrence index (the same inverted index the dedup family
    shuffles), one join back, one groupBy(doc). No self-join: the cost
    at 100 TB is two shuffles keyed by shingle-hash and doc_id. Hot
    boilerplate shingles skew the shingle key — AQE skew-join handles
    the index build; the join fan-out is |doc's shingles|, bounded per
    doc."""
    docs = spread(load_table(spark, "documents", sf_dir))
    from .dedup import shingle_rows

    # No checkpoint (r11 revert of the r10 one): shingle_rows kept its
    # explode + DISTINCT shape, so its distinct Exchange IS a reusable
    # subtree across the two consumers — the r10 checkpoint only added a
    # materialization job on top. Settled by the interleaved in-session
    # A/B (5 samples each way: checkpointed 0.98x of this shape by both
    # min and median), the same instrument that kept the other four
    # disputed r10 rewrites.
    sh = shingle_rows(docs, 3)
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
            F.round(F.sum(novel) / F.count("*"), 4).alias("novel_frac"),
        )
    )


# ------------------------------------------------------ js_divergence_sources


@query(
    "js_divergence_sources",
    """
    WITH wc AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY 1, 2),
    tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS nn FROM wc GROUP BY 1),
    p AS (
      SELECT wc.source, wc.w, wc.n * 1.0 / tot.nn AS p
      FROM wc JOIN tot USING (source)),
    pair AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_common_words,
             sum(a.p) AS pa, sum(b.p) AS pb,
             sum(a.p * ln(2 * a.p / (a.p + b.p))) AS ta,
             sum(b.p * ln(2 * b.p / (a.p + b.p))) AS tb
      FROM p a JOIN p b ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2)
    SELECT src_a, src_b, n_common_words,
           round(0.5 * (ta + (1 - pa) * ln(2))
                 + 0.5 * (tb + (1 - pb) * ln(2)), 6) AS jsd
    FROM pair
    """,
)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram
    distributions of every source pair — the corpus-mixture diagnostic
    ("which sources are interchangeable, which add diversity?") that
    drives mixture_interleave's weights. JSD is symmetric, bounded by
    ln 2, and zero iff the distributions match.

    The disjoint-support mass never joins: for words present in only
    one side, the JSD term is exactly p·ln 2/2, so those contributions
    collapse to (1 − Σ_common p)·ln 2 — the pair join only touches
    words the sources SHARE, and the whole query is one vocab-keyed
    inverted-index self-join (the word_pmi shape: fan-out bounded by
    sources-per-word², never documents²) plus one hash agg to the
    source-pair lattice. Probabilities are exact-integer ratios, ln
    terms sum per pair with round(6) absorbing order noise."""
    d = load_table(spark, "documents", sf_dir)
    wc = (
        d.select("source", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = wc.groupBy("source").agg(F.sum("n").alias("nn"))
    p = wc.join(tot, "source").select(
        "source", "w", (F.col("n") * 1.0 / F.col("nn")).alias("p")
    )
    a, b = p.alias("a"), p.alias("b")
    pair = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_common_words"),
            F.sum("a.p").alias("pa"),
            F.sum("b.p").alias("pb"),
            F.sum(
                F.col("a.p")
                * F.log(2 * F.col("a.p") / (F.col("a.p") + F.col("b.p")))
            ).alias("ta"),
            F.sum(
                F.col("b.p")
                * F.log(2 * F.col("b.p") / (F.col("a.p") + F.col("b.p")))
            ).alias("tb"),
        )
    )
    ln2 = math.log(2.0)
    return pair.select(
        "src_a",
        "src_b",
        "n_common_words",
        F.round(
            0.5 * (F.col("ta") + (1 - F.col("pa")) * F.lit(ln2))
            + 0.5 * (F.col("tb") + (1 - F.col("pb")) * F.lit(ln2)),
            6,
        ).alias("jsd"),
    )


# --------------------------------------------------------- collocation_g2

G2_TOPK = 30
G2_MIN_COUNT = 20  # bigram support floor before scoring


@query(
    "collocation_g2",
    f"""
    WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents
               WHERE len(string_split(text, ' ')) >= 2),
    bg AS (
      SELECT unnest(list_transform(range(len(tk) - 1),
                 i -> [tk[i+1], tk[i+2]])) AS pair
      FROM t),
    cb AS (SELECT pair[1] AS x, pair[2] AS y,
                  CAST(count(*) AS BIGINT) AS c_xy
           FROM bg GROUP BY 1, 2),
    mx AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS rx FROM cb GROUP BY 1),
    my AS (SELECT y, CAST(sum(c_xy) AS BIGINT) AS cy FROM cb GROUP BY 1),
    tot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS nb FROM cb),
    k AS (
      SELECT cb.x, cb.y, c_xy AS k11,
             rx - c_xy AS k12, cy - c_xy AS k21,
             nb - rx - cy + c_xy AS k22,
             rx, cy, nb
      FROM cb JOIN mx ON cb.x = mx.x JOIN my ON cb.y = my.y CROSS JOIN tot
      WHERE c_xy >= {G2_MIN_COUNT}),
    s AS (
      SELECT x, y, k11,
             2 * ((CASE WHEN k11 > 0 THEN k11 * ln(CAST(k11 AS DOUBLE) * nb
                    / (CAST(rx AS DOUBLE) * cy)) ELSE 0 END)
                + (CASE WHEN k12 > 0 THEN k12 * ln(CAST(k12 AS DOUBLE) * nb
                    / (CAST(rx AS DOUBLE) * (nb - cy))) ELSE 0 END)
                + (CASE WHEN k21 > 0 THEN k21 * ln(CAST(k21 AS DOUBLE) * nb
                    / (CAST(nb - rx AS DOUBLE) * cy)) ELSE 0 END)
                + (CASE WHEN k22 > 0 THEN k22 * ln(CAST(k22 AS DOUBLE) * nb
                    / (CAST(nb - rx AS DOUBLE) * (nb - cy))) ELSE 0 END)) AS g2
      FROM k)
    SELECT x, y, k11 AS c_xy, round(g2, 4) AS g2
    FROM s ORDER BY round(g2, 4) DESC, x, y LIMIT {G2_TOPK}
    """,
)
def collocation_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{G2_TOPK} bigram collocations by Dunning's log-likelihood
    ratio (G^2, CL'93) — the phrase-mining statistic that, unlike
    `word_pmi`, stays calibrated at LOW counts (PMI explodes for rare
    pairs; G^2 weights evidence by how many observations back it). The
    2x2 contingency table per pair uses bigram-derived marginals
    (row = x-as-left-word, col = y-as-right-word), so margins sum to
    the table total exactly.

    Shape: one bigram count (position-explode, linear), two
    vocabulary-bounded marginal aggregations joined back by word, the
    grand total as a broadcast one-row crossJoin — no row-level rank
    or sort; the top-k is TakeOrderedAndProject on the ROUNDED score
    (4dp) with (x, y) tie-break so ordering is engine-portable. The
    support floor ({G2_MIN_COUNT}) prunes the pair table BEFORE the
    joins feed the sort. Every k_ij is exact int64 on both engines;
    the 0*ln(0) = 0 guard is an explicit CASE, not an engine-specific
    null propagation.

    Reference provenance: generalizes the reference's text split
    surface (cassandra_sink.scala:107-111) to corpus statistics."""
    d = spread(load_table(spark, "documents", sf_dir))
    base = d.select(tokens(F.col("text")).alias("tk")).filter(F.size("tk") >= 2)
    ex = base.select("tk", F.explode(F.expr("sequence(1, size(tk) - 1)")).alias("i"))
    # cb feeds FOUR consumers (both marginals, the grand total, and the
    # scored join): materialize the vocabulary²-bounded count table once
    # (optimization r11, guide §1.2) instead of re-running the corpus
    # explode+count per consumer.
    cb = (
        ex.select(F.expr("tk[i-1]").alias("x"), F.expr("tk[i]").alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .localCheckpoint(eager=False)
    )
    mx = cb.groupBy("x").agg(F.sum("c_xy").alias("rx"))
    my = cb.groupBy("y").agg(F.sum("c_xy").alias("cy"))
    tot = cb.agg(F.sum("c_xy").alias("nb"))
    k = (
        cb.filter(F.col("c_xy") >= G2_MIN_COUNT)
        .join(mx, "x")
        .join(my, "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            F.col("c_xy").alias("k11"),
            (F.col("rx") - F.col("c_xy")).alias("k12"),
            (F.col("cy") - F.col("c_xy")).alias("k21"),
            (F.col("nb") - F.col("rx") - F.col("cy") + F.col("c_xy")).alias("k22"),
            "rx",
            "cy",
            "nb",
        )
    )

    def term(kc, num_r, num_c):
        return F.when(
            kc > 0,
            kc * F.log(kc.cast("double") * F.col("nb") / (num_r.cast("double") * num_c)),
        ).otherwise(0.0)

    g2 = 2 * (
        term(F.col("k11"), F.col("rx"), F.col("cy"))
        + term(F.col("k12"), F.col("rx"), F.col("nb") - F.col("cy"))
        + term(F.col("k21"), F.col("nb") - F.col("rx"), F.col("cy"))
        + term(F.col("k22"), F.col("nb") - F.col("rx"), F.col("nb") - F.col("cy"))
    )
    return (
        k.select("x", "y", F.col("k11").alias("c_xy"), F.round(g2, 4).alias("g2"))
        .orderBy(F.col("g2").desc(), "x", "y")
        .limit(G2_TOPK)
    )


# ---------------------------------------------------------- heaps_law_fit

HEAPS_BUCKET = 100  # docs per vocabulary-growth checkpoint

# Cross-engine-exact OLS in ln-space (the r5 driver FAIL fix). The engines'
# regr_slope/intercept/r2 kernels accumulate huge float sums in
# engine-specific order, so their last ulps differ — and a result landing
# within that ulp noise of a round(,6) boundary hashes differently per
# environment (every local sweep was green; the driver's env flipped one).
# Contract v2 (functions/exactagg.py discipline): quantize ln(N), ln(V) to
# a 1e-6 grid with floor(x*q+0.5) (pure IEEE, bit-identical everywhere),
# sum the moments as EXACT int64 (order-independent), then both engines run
# the IDENTICAL double expression over identical integers — bit-identical
# slope/intercept/r2 by construction, no kernel in the loop.
#
# Overflow budget (int64 moments): xq = ln(big_n)*1e6 <= 2.8e7 even at
# 1e12 tokens/source; xq^2 <= 7.8e14; the checkpoint lattice is held at
# ~1e3 points/source by scaling HEAPS_BUCKET with the corpus (docstring),
# so each moment sum <= ~7.8e17 — 11x under 2^63. Slope is invariant to
# the common 1e6 scale; the intercept divides it back out.
#
# r9: ln() retired as a libm kernel (r8 verdict #4 — the OPERATORS.md
# "Residual libm kernel" patch). ln is the shared-series expansion
# (exactagg ln_k/ln_m staged columns + ln_from_km polynomial): basic IEEE
# ops in a text-fixed order, bit-identical cross-engine, so the replay
# test below now covers the FULL pipeline including the former kernel —
# a JVM-side Math.log intrinsic flip is no longer reachable.
_HEAPS_Q = "1e6"
_HEAPS_XQ = f"CAST(floor({ln_from_km_sql('kx', 'mx')} * 1e6 + 0.5) AS BIGINT)"
_HEAPS_YQ = f"CAST(floor({ln_from_km_sql('ky', 'my')} * 1e6 + 0.5) AS BIGINT)"
_H_SN = "CAST(count(xq) AS DOUBLE)"
_H_SX = "CAST(sum(xq) AS DOUBLE)"
_H_SY = "CAST(sum(yq) AS DOUBLE)"
_H_SXX = "CAST(sum(xq * xq) AS DOUBLE)"
_H_SXY = "CAST(sum(xq * yq) AS DOUBLE)"
_H_SYY = "CAST(sum(yq * yq) AS DOUBLE)"
_H_COV = f"({_H_SN} * {_H_SXY} - {_H_SX} * {_H_SY})"
_H_VARX = f"({_H_SN} * {_H_SXX} - {_H_SX} * {_H_SX})"
_H_VARY = f"({_H_SN} * {_H_SYY} - {_H_SY} * {_H_SY})"
_HEAPS_BETA = (
    f"CASE WHEN {_H_VARX} = 0.0 THEN NULL ELSE "
    f"floor({_H_COV} / {_H_VARX} * 1e6 + 0.5) / 1e6 END"
)
_HEAPS_LNK = (
    f"CASE WHEN {_H_VARX} = 0.0 THEN NULL ELSE "
    f"floor(({_H_SY} - {_H_COV} / {_H_VARX} * {_H_SX}) / {_H_SN}"
    f" / {_HEAPS_Q} * 1e4 + 0.5) / 1e4 END"
)
_HEAPS_R2 = (
    f"CASE WHEN max(v) * 100 < min(v) * 101 OR {_H_VARX} = 0.0"
    f" OR {_H_VARY} = 0.0 THEN NULL ELSE "
    f"floor({_H_COV} * {_H_COV} / ({_H_VARX} * {_H_VARY})"
    f" * 1e6 + 0.5) / 1e6 END"
)


@query(
    "heaps_law_fit",
    f"""
    WITH toks AS (
      SELECT source, doc_id // {HEAPS_BUCKET} AS bucket,
             string_split(text, ' ') AS tk
      FROM documents),
    nt AS (
      SELECT source, bucket, CAST(sum(len(tk)) AS BIGINT) AS n_tok
      FROM toks GROUP BY 1, 2),
    firsts AS (
      SELECT source, w, min(bucket) AS first_bucket
      FROM (SELECT source, bucket, unnest(tk) AS w FROM toks)
      GROUP BY 1, 2),
    nv AS (
      SELECT source, first_bucket AS bucket,
             CAST(count(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY 1, 2),
    cum AS (
      SELECT nt.source, nt.bucket,
             sum(nt.n_tok) OVER (PARTITION BY nt.source ORDER BY nt.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS big_n,
             sum(COALESCE(nv.n_new, 0)) OVER (PARTITION BY nt.source
               ORDER BY nt.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      FROM nt LEFT JOIN nv ON nt.source = nv.source AND nt.bucket = nv.bucket),
    ptskm AS (
      SELECT source, v,
             {ln_k_sql('big_n')} AS kx, {ln_m_sql('big_n')} AS mx,
             {ln_k_sql('v')} AS ky, {ln_m_sql('v')} AS my
      FROM cum WHERE v > 0 AND big_n > 0),
    pts AS (
      SELECT source, v,
             {_HEAPS_XQ} AS xq,
             {_HEAPS_YQ} AS yq
      FROM ptskm)
    SELECT source, CAST(count(*) AS BIGINT) AS n_points,
           {_HEAPS_BETA} AS beta,
           {_HEAPS_LNK}  AS ln_k,
           {_HEAPS_R2}   AS r2
    FROM pts
    GROUP BY source
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit per source: vocabulary growth V(N) ~ K * N^beta,
    estimated by OLS on (ln N, ln V) over corpus-position checkpoints —
    the curve that predicts how much NEW vocabulary another 10x of crawl
    will add (tokenizer sizing, dedup-rate forecasting). beta well below
    1 is the signature of natural language; ~1 flags synthetic/ID-heavy
    sources.

    Shape: a word's first occurrence is min(bucket) per (source, word)
    — one vocabulary-bounded aggregation, NEVER a running distinct over
    rows; new-word and token counts collapse to the (source, bucket)
    checkpoint lattice ({HEAPS_BUCKET} docs per bucket, so the lattice
    is corpus_size/{HEAPS_BUCKET} points); the cumulative windows and
    the OLS moments run per source over that bounded lattice. At 100 TB
    the bucket width scales with the corpus so the lattice stays ~10^3
    points; the plan is unchanged.

    Cross-engine contract (r5 driver-FAIL postmortem): the regression is
    NOT the engines' regr_* kernels — those accumulate double moments in
    engine-specific order and their trailing ulps flip round(,6)
    boundaries per environment. Instead ln N / ln V are quantized to a
    1e-6 grid, the five moments are summed as exact int64 (order-free),
    and slope/intercept/r2 are one shared double expression over those
    integers (module constants above, same text in the oracle) —
    bit-identical across engines by construction. r2 additionally NULLs
    when total vocabulary growth is < 1% (integer-exact predicate):
    ln-space OLS on a near-constant response measures float noise, not
    fit.

    Reference provenance: generalizes the reference's text split
    surface (cassandra_sink.scala:107-111) to corpus-growth law
    estimation."""
    d = spread(load_table(spark, "documents", sf_dir))
    # Examined r11, kept the two-pass shape: deriving both aggregates
    # from one checkpointed (source, bucket, word) count table measured
    # 0.89-0.91x in the interleaved A/B — the (source, bucket, word)
    # shuffle is strictly wider than the (source, word) one, and the
    # whitespace split it saves is cheap.
    toks = d.select(
        "source",
        F.expr(f"doc_id div {HEAPS_BUCKET}").alias("bucket"),
        tokens(F.col("text")).alias("tk"),
    )
    nt = toks.groupBy("source", "bucket").agg(F.sum(F.size("tk")).alias("n_tok"))
    firsts = (
        toks.select("source", "bucket", F.explode("tk").alias("w"))
        .groupBy("source", "w")
        .agg(F.min("bucket").alias("bucket"))
    )
    nv = firsts.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("n_new"))
    w = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pts = (
        nt.join(nv, ["source", "bucket"], "left")
        .select(
            "source",
            "bucket",
            F.sum("n_tok").over(w).alias("big_n"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0))).over(w).alias("v"),
        )
        .filter((F.col("v") > 0) & (F.col("big_n") > 0))
        .select(
            "source",
            "v",
            F.expr(ln_k_sql("big_n")).alias("kx"),
            F.expr(ln_m_sql("big_n")).alias("mx"),
            F.expr(ln_k_sql("v")).alias("ky"),
            F.expr(ln_m_sql("v")).alias("my"),
        )
        .select(
            "source",
            "v",
            F.expr(_HEAPS_XQ).alias("xq"),
            F.expr(_HEAPS_YQ).alias("yq"),
        )
    )
    return pts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.expr(_HEAPS_BETA).alias("beta"),
        F.expr(_HEAPS_LNK).alias("ln_k"),
        F.expr(_HEAPS_R2).alias("r2"),
    )
