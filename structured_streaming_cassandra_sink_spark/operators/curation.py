"""Training-data curation operators — deterministic splits, stratified
sampling, and the end-to-end corpus-curation pipeline.

The ops a 100 TB pretraining pipeline runs after per-doc analysis
(operators/text.py) and dedup (operators/dedup.py):

- ``train_val_split`` — content-hash bucketing into train/val/test. Hash
  of the TEXT (not doc_id) so re-ingesting the same document under a new
  id lands in the same split — no train/val leakage across snapshots.
- ``stratified_sample`` — per-language sampling rates via the same hash
  buckets: deterministic, reproducible, no RNG state anywhere (rand()
  changes under retries/repartitioning; hash sampling never does).
- ``curation_pipeline`` — quality gate -> exact dedup (keep lowest
  doc_id) -> split assignment, composed from the same expressions the
  standalone queries use. Everything is map-side except the dedup
  shuffle on the 128-bit fingerprint.

All hashes are md5-derived (portable, engine-stable) — xxhash64/murmur
differ between engines, md5 is bit-identical everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textfns import fingerprint, tokens
from ..plans.registry import query
from ..sources import load_table, spread

TRAIN_PCT = 90   # buckets [0,90) -> train
VAL_PCT = 5      # [90,95) -> val, [95,100) -> test

# per-language sampling rate in buckets-of-100 (languages not listed: 100%)
SAMPLE_RATES = {"en": 50, "de": 80}

MIN_QUALITY = 0.5


def quality_expr() -> Column:
    """THE quality score: 0.5·(length in [100, 2000]) + 0.5·(unique-token
    ratio), rounded to the shared 4-decimal oracle grid. Single source of
    truth — the batch pipeline, the per-language quantile filter, and
    the streaming curation sink all call this, so the pinned
    stream==batch equality can't drift through a hand-synced copy."""
    toks = tokens(F.col("text"))
    uniq = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    len_ok = F.when(F.length("text").between(100, 2000), 1).otherwise(0)
    return F.round(0.5 * len_ok + 0.5 * uniq, 4)


def hash_bucket(col: Column, buckets: int = 100) -> Column:
    """Deterministic [0, buckets) bucket from the md5 of a column — the
    first 8 hex chars as an integer, mod buckets. Engine-portable
    (DuckDB: ('0x' || substr(md5(x),1,8))::BIGINT)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % buckets
    ).cast("int")


def _bucket_sql(col: str = "text") -> str:
    return f"(('0x' || substr(md5({col}), 1, 8))::BIGINT % 100)::INT"


def hash_unif(col: Column, offset: float = 0.0) -> Column:
    """Deterministic uniform in [offset/2^32, 1): first 8 md5 hex chars
    scaled by 2^32. ``offset=0.5`` centers the lattice away from 0
    (safe under ln(), used by weighted sampling); 0.0 is the plain
    CDF-style uniform. SINGLE owner of the md5-to-uniform convention —
    mirror with `_unif_sql` so the engine pair can't drift."""
    h = F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
    return (h + F.lit(offset)) / F.lit(4294967296.0)


def _unif_sql(col: str, offset: str = "0") -> str:
    """DuckDB twin of `hash_unif` — same hash, same offset, same scale."""
    return (
        f"((('0x' || substr(md5({col}), 1, 8))::BIGINT + {offset})"
        f" / 4294967296.0)"
    )


def split_of(bucket: Column) -> Column:
    return (
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )


def _split_sql(bucket_sql: str) -> str:
    return (
        f"CASE WHEN {bucket_sql} < {TRAIN_PCT} THEN 'train' "
        f"WHEN {bucket_sql} < {TRAIN_PCT + VAL_PCT} THEN 'val' "
        f"ELSE 'test' END"
    )


@query(
    "train_val_split",
    f"""
    SELECT doc_id,
           {_bucket_sql()} AS bucket,
           {_split_sql(_bucket_sql())} AS split
    FROM documents
    """,
)
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash train/val/test assignment ({TRAIN_PCT}/{VAL_PCT}/
    {100 - TRAIN_PCT - VAL_PCT}). Pure map — no shuffle, no RNG."""
    d = load_table(spark, "documents", sf_dir)
    bucket = hash_bucket(F.col("text"))
    return d.select(
        "doc_id", bucket.alias("bucket"), split_of(bucket).alias("split")
    )


_RATE_SQL = "CASE " + " ".join(
    f"WHEN lang = '{l}' THEN {r}" for l, r in SAMPLE_RATES.items()
) + " ELSE 100 END"


@query(
    "stratified_sample",
    f"""
    SELECT lang, count(*) AS n_sampled
    FROM documents
    WHERE {_bucket_sql()} < {_RATE_SQL}
    GROUP BY lang
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (en 50%, de 80%, rest
    100%) via hash buckets — the mix-rebalancing op of a pretraining
    corpus. Sampling is a sargable map-side predicate; only the tiny
    per-language counts shuffle."""
    d = load_table(spark, "documents", sf_dir)
    rate = F.lit(100)
    for lang, r in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    sampled = d.filter(hash_bucket(F.col("text")) < rate)
    return sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))


@query(
    "curation_pipeline",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, text,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
             round(0.5 * (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1 ELSE 0 END)
                   + 0.5 * (len(list_distinct(string_split(text, ' ')))::DOUBLE
                            / len(string_split(text, ' '))), 4) AS quality
      FROM documents),
    gated AS (SELECT * FROM scored WHERE quality >= {MIN_QUALITY}),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM gated) WHERE rn = 1)
    SELECT doc_id, lang, quality,
           {_split_sql(_bucket_sql())} AS split
    FROM deduped
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: quality gate -> exact dedup keep-lowest-id ->
    content-hash split. The composed form of quality_score + dedup_exact
    + train_val_split, as one lazy plan: Catalyst collapses the gate into
    the scan (sargable), and only the dedup's fingerprint shuffle
    remains."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    scored = d.select(
        "doc_id",
        "lang",
        "text",
        fingerprint(F.col("text")).alias("fp"),
        quality_expr().alias("quality"),
    )
    gated = scored.filter(F.col("quality") >= MIN_QUALITY)
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = gated.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    bucket = hash_bucket(F.col("text"))
    return deduped.select(
        "doc_id", "lang", "quality", split_of(bucket).alias("split")
    )


@query(
    "dedup_incremental",
    """
    WITH hist AS (
      SELECT DISTINCT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id % 5 != 0),
    batch AS (
      SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id % 5 = 0),
    fresh AS (
      SELECT b.doc_id, b.fp FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp))
    SELECT fp, min(doc_id) AS keep_doc_id
    FROM fresh GROUP BY fp
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a new batch (doc_id % 5 == 0 stands in
    for "today's crawl") is deduped against the historical fingerprint
    set (anti-join) and then within itself (keep lowest doc_id) — the
    daily-snapshot shape of a corpus pipeline. The historical side needs
    only the 16-byte fingerprint column, so at 100 TB the anti-join
    shuffles fingerprints, never text."""
    d = load_table(spark, "documents", sf_dir)
    fp = fingerprint(F.col("text"))
    hist = d.filter(F.col("doc_id") % 5 != 0).select(fp.alias("fp")).distinct()
    batch = d.filter(F.col("doc_id") % 5 == 0).select("doc_id", fp.alias("fp"))
    fresh = batch.join(hist, "fp", "left_anti")
    return fresh.groupBy("fp").agg(F.min("doc_id").alias("keep_doc_id"))


CHUNK_TOKENS = 64     # tokens per training chunk
CHUNK_OVERLAP = 16    # tokens shared between consecutive chunks
PACK_BUDGET = 512     # tokens per packed training sequence


@query(
    "doc_chunking",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    idx AS (
      SELECT doc_id, t,
             unnest(range(0, greatest(len(t) - {CHUNK_OVERLAP}, 1),
                          {CHUNK_TOKENS - CHUNK_OVERLAP})) AS start
      FROM toks)
    SELECT doc_id,
           CAST(start / {CHUNK_TOKENS - CHUNK_OVERLAP} AS BIGINT) AS chunk_id,
           len(t[start + 1 : least(start + {CHUNK_TOKENS}, len(t))]) AS n_tokens,
           array_to_string(list_slice(t, start + 1,
                     least(start + {CHUNK_TOKENS}, len(t))), ' ') AS chunk_text
    FROM idx
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: overlapping {CHUNK_TOKENS}-token windows
    with stride {CHUNK_TOKENS - CHUNK_OVERLAP} — the doc->training-sample
    op of a pretraining pipeline. Position-explode then slice per row
    (the linear explode shape; see dedup.shingle_rows). Pure map, no
    shuffle; at 100 TB this runs as fast as the text can be read."""
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    d = spread(load_table(spark, "documents", sf_dir))
    base = d.select("doc_id", tokens(F.col("text")).alias("t"))
    ex = base.select(
        "doc_id",
        "t",
        F.explode(
            F.expr(f"sequence(0, greatest(size(t) - {CHUNK_OVERLAP} - 1, 0), {stride})")
        ).alias("start"),
    )
    return ex.select(
        "doc_id",
        (F.col("start") / stride).cast("bigint").alias("chunk_id"),
        F.expr(
            f"size(slice(t, start + 1, least({CHUNK_TOKENS}, size(t) - start)))"
        ).alias("n_tokens"),
        F.expr(
            f"array_join(slice(t, start + 1, least({CHUNK_TOKENS}, size(t) - start)), ' ')"
        ).alias("chunk_text"),
    )


@query(
    "sequence_packing",
    f"""
    WITH sized AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents),
    packed AS (
      SELECT doc_id, n_tokens,
             CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) - n_tokens)
                        / {PACK_BUDGET}) AS BIGINT) AS pack_id
      FROM sized)
    SELECT pack_id,
           count(*)      AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY pack_id
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: documents in doc_id order are
    binned by running token count into ~{PACK_BUDGET}-token packs
    (cumulative-sum div budget). Order-based packing is the
    shuffle-friendly form — true first-fit-decreasing is sequential and
    cannot scale-out. The running sum is the DISTRIBUTED two-pass prefix
    scan (operators/timeseries.py:running_total), not a single-partition
    global window; equality between the two is pinned in tests."""
    from .timeseries import running_total

    d = load_table(spark, "documents", sf_dir)
    sized = d.select("doc_id", F.size(tokens(F.col("text"))).alias("n_tokens"))
    packed = running_total(sized, "doc_id", "n_tokens", "rt").withColumn(
        "pack_id",
        F.floor((F.col("rt") - F.col("n_tokens")) / PACK_BUDGET).cast("bigint"),
    )
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


SAMPLE_N = 100


@query(
    "fixed_size_sample",
    f"""
    SELECT doc_id, lang
    FROM documents
    ORDER BY md5(text), doc_id
    LIMIT {SAMPLE_N}
    """,
)
def fixed_size_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-SIZE sample (the reservoir-sampling use case,
    RNG-free): order by content hash, keep the first {SAMPLE_N}. The
    hash order is uniform and stable across runs/engines, and Spark
    plans the hash-order limit as TakeOrderedAndProject — per-partition
    top-N heaps, no global sort, so a 100-row sample of 100 TB costs one
    scan. Complements `stratified_sample` (fixed RATE) for eval-set
    construction."""
    d = load_table(spark, "documents", sf_dir)
    return (
        d.select("doc_id", "lang", F.md5("text").alias("h"))
        .orderBy("h", "doc_id")
        .limit(SAMPLE_N)
        .select("doc_id", "lang")
    )


CONTAM_N = 4       # tokens per contamination shingle
EVAL_MOD = 50      # doc_id % EVAL_MOD == 0 -> held-out eval doc


@query(
    "contamination_check",
    f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(len(toks) - {CONTAM_N - 1}),
                 i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3],
                                toks[i+4]))) AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      WHERE len(toks) >= {CONTAM_N}),
    ev AS (
      SELECT list_distinct(flatten(list(shingles))) AS evs
      FROM sh WHERE doc_id % {EVAL_MOD} = 0)
    SELECT t.doc_id,
           len(list_intersect(t.shingles, ev.evs))        AS n_overlap,
           len(t.shingles)                                AS n_shingles,
           round(len(list_intersect(t.shingles, ev.evs))::DOUBLE
                 / len(t.shingles), 4)                    AS contam_frac
    FROM sh t CROSS JOIN ev
    WHERE t.doc_id % {EVAL_MOD} != 0
      AND len(list_intersect(t.shingles, ev.evs)) > 0
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination scan: which training documents share a
    {CONTAM_N}-token shingle with the held-out eval set (doc_id %
    {EVAL_MOD} == 0 stands in for "the benchmark suite"). The standard
    pre-training hygiene pass (n-gram-overlap decontamination).

    Scale shape: the eval side is tiny by construction (benchmarks are
    thousands of docs, not billions), so its distinct-shingle set is
    BROADCAST and the training corpus is ONE scan — shingle, hash-join
    against the broadcast set map-side, then a per-doc count aggregate.
    No shuffle ever carries eval×train pairs; the only exchange is the
    per-doc hit counts. At 100 TB the broadcast set would be a Bloom
    filter over the same shingles — identical plan shape.
    """
    from .dedup import shingle_rows, shingle_table

    d = spread(load_table(spark, "documents", sf_dir))
    ev_docs = d.filter(F.col("doc_id") % EVAL_MOD == 0)
    tr_docs = d.filter(F.col("doc_id") % EVAL_MOD != 0)
    ev_sh = shingle_rows(ev_docs, CONTAM_N).select("shingle").distinct()
    tr_sh = shingle_table(tr_docs, CONTAM_N)  # (doc_id, sz, shingle)
    hits = (
        tr_sh.join(F.broadcast(ev_sh), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            F.max("sz").cast("bigint").alias("n_shingles"),
        )
    )
    return hits.select(
        "doc_id",
        "n_overlap",
        "n_shingles",
        F.round(F.col("n_overlap").cast("double") / F.col("n_shingles"), 4).alias(
            "contam_frac"
        ),
    )


@query(
    "quality_quantile_filter",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             round(0.5 * (CASE WHEN length(text) BETWEEN 100 AND 2000
                          THEN 1 ELSE 0 END)
                   + 0.5 * (len(list_distinct(string_split(text, ' ')))::DOUBLE
                            / len(string_split(text, ' '))), 4) AS quality
      FROM documents),
    thresh AS (
      SELECT lang, round(quantile_cont(quality, 0.25), 4) AS q25
      FROM scored GROUP BY lang)
    SELECT s.doc_id, s.lang, s.quality
    FROM scored s JOIN thresh t USING (lang)
    WHERE s.quality >= t.q25
    """,
)
def quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-gated quality filter: keep each language's top 75% by
    quality score — thresholding RELATIVE to the stratum, the standard
    curation move when absolute score cut-offs would starve low-resource
    languages.

    Scale shape: score is a pure map (same expression as quality_score);
    the per-language threshold table is n_langs rows — computed with
    exact interpolated percentile here (oracle-checkable; swap in
    percentile_approx at 100 TB exactly like approx_quantiles) and
    broadcast back, so the filter costs one corpus scan + a broadcast
    join. Score and threshold are rounded to the same grid on both
    engines so the >= boundary is portable."""
    d = spread(load_table(spark, "documents", sf_dir))
    scored = d.select("doc_id", "lang", quality_expr().alias("quality"))
    thresh = scored.groupBy("lang").agg(
        F.round(F.expr("percentile(quality, 0.25)"), 4).alias("q25")
    )
    return (
        scored.join(F.broadcast(thresh), "lang")
        .filter(F.col("quality") >= F.col("q25"))
        .select("doc_id", "lang", "quality")
    )


SOURCE_TOKEN_BUDGET = 500   # target token cap per source after sampling


@query(
    "source_budget_sample",
    f"""
    WITH sized AS (
      SELECT doc_id, source, text,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents),
    tot AS (
      SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM sized GROUP BY source),
    rated AS (
      SELECT source, total_tokens,
             least(CAST(10000 AS BIGINT),
                   CAST(floor(10000.0 * {SOURCE_TOKEN_BUDGET} / total_tokens)
                        AS BIGINT)) AS rate_permyriad
      FROM tot),
    kept AS (
      SELECT s.source, s.n_tokens, r.rate_permyriad, r.total_tokens
      FROM sized s JOIN rated r USING (source)
      WHERE (('0x' || substr(md5(s.text), 1, 8))::BIGINT % 10000)
            < r.rate_permyriad)
    SELECT source, rate_permyriad, total_tokens,
           count(*)                      AS n_sampled,
           CAST(sum(n_tokens) AS BIGINT) AS sampled_tokens
    FROM kept GROUP BY source, rate_permyriad, total_tokens
    """,
)
def source_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture control by token budget: cap every source at
    ~{SOURCE_TOKEN_BUDGET} tokens by computing a per-source sampling rate
    = budget / current-tokens, then applying it with the same
    deterministic content-hash buckets as stratified_sample (finer
    1/10000 grid). This is the "rebalance the pretraining mix" op —
    rates are DERIVED FROM THE DATA (two-pass), not config like
    stratified_sample's.

    Scale shape: pass 1 is a per-source token-count aggregate (tiny
    result: one row per source); the rate table is broadcast back and
    pass 2 is a map-side hash filter + final per-source rollup. Two
    corpus scans, no wide shuffle — at 100 TB the scans dominate and
    both parallelize perfectly; Catalyst reuses the cached scan if the
    source is persisted."""
    d = spread(load_table(spark, "documents", sf_dir))
    sized = d.select(
        "doc_id", "source", "text", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    tot = sized.groupBy("source").agg(F.sum("n_tokens").alias("total_tokens"))
    rated = tot.select(
        "source",
        "total_tokens",
        F.least(
            F.lit(10000).cast("bigint"),
            F.floor(10000.0 * SOURCE_TOKEN_BUDGET / F.col("total_tokens")).cast(
                "bigint"
            ),
        ).alias("rate_permyriad"),
    )
    kept = sized.join(F.broadcast(rated), "source").filter(
        hash_bucket(F.col("text"), 10000).cast("bigint") < F.col("rate_permyriad")
    )
    return kept.groupBy("source", "rate_permyriad", "total_tokens").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("n_tokens").alias("sampled_tokens"),
    )


NEG_K = 4  # negatives per anchor document


@query(
    "negative_sample",
    f"""
    WITH m AS (SELECT max(doc_id) + 1 AS md FROM documents),
    cand AS (
      SELECT d.doc_id, j.j,
             ('0x' || substr(md5(d.doc_id || ':' || j.j), 1, 8))::BIGINT % m.md
               AS neg_id
      FROM documents d
      CROSS JOIN m
      CROSS JOIN (SELECT unnest(range(1, {NEG_K + 3})) AS j) j),
    picked AS (
      SELECT doc_id, j, neg_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY j) AS neg_rank
      FROM cand WHERE neg_id != doc_id)
    SELECT p.doc_id, p.neg_rank, p.neg_id, b.source AS neg_source
    FROM picked p JOIN documents b ON p.neg_id = b.doc_id
    WHERE p.neg_rank <= {NEG_K}
    """,
)
def negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor document draws {NEG_K} pseudo-random partners via md5 mixing
    of (doc_id, draw index) modulo the id space — RNG-free, so retries,
    repartitioning, and re-runs produce byte-identical pairs (the same
    reproducibility argument as `train_val_split`). Two spare draws
    absorb self-collisions; the final join back to `documents` validates
    existence (and carries partner attributes), so id-space gaps shrink
    a draw instead of fabricating a pair.

    Scale shape: candidate generation is a map-side explode of
    {NEG_K}+2 rows per anchor (id-space size rides along as one
    broadcast scalar); the only shuffles are the per-anchor top-k window
    (keyed by doc_id) and the existence join (keyed by neg_id) — both
    linear in corpus x K, no sampling pass over the full corpus per
    anchor."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    m = d.agg((F.max("doc_id") + 1).alias("md"))
    cand = (
        d.select("doc_id")
        .crossJoin(F.broadcast(m))
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(1, {NEG_K + 2})")).alias("j"),
            F.col("md"),
        )
        .select(
            "doc_id",
            "j",
            (
                F.expr(
                    "cast(conv(substring(md5(concat(cast(doc_id as string), ':', "
                    "cast(j as string))), 1, 8), 16, 10) as bigint)"
                )
                % F.col("md")
            ).alias("neg_id"),
        )
        .filter(F.col("neg_id") != F.col("doc_id"))
    )
    w = Window.partitionBy("doc_id").orderBy("j")
    picked = cand.withColumn("neg_rank", F.row_number().over(w)).filter(
        F.col("neg_rank") <= NEG_K
    )
    b = d.select(F.col("doc_id").alias("neg_id"), F.col("source").alias("neg_source"))
    return picked.join(b, "neg_id").select("doc_id", "neg_rank", "neg_id", "neg_source")


@query(
    "tokenize_to_ids",
    """
    WITH tok AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) AS pos,
             unnest(string_split(text, ' '))                 AS term
      FROM documents),
    v AS (
      SELECT term,
             row_number() OVER (ORDER BY count(*) DESC, term) AS token_id
      FROM tok GROUP BY term)
    SELECT t.doc_id,
           count(*)                         AS n_tokens,
           array_to_string(list_transform(list(v.token_id ORDER BY t.pos),
                                          x -> CAST(x AS VARCHAR)), ',')
                                            AS token_ids_csv
    FROM tok t JOIN v USING (term)
    GROUP BY t.doc_id
    """,
)
def tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-derived tokenizer: build the vocabulary by frequency rank
    (most frequent term = id 1; ties broken lexically so the id
    assignment is engine-portable), then encode every document as its
    ordered token-id sequence — the text -> integer-sequence step that
    feeds `doc_chunking` / `sequence_packing`. Emitted comma-joined
    (``token_ids_csv``) rather than ``array<bigint>`` because the
    driver's pandas canonicalizer cannot hash list cells; int→string
    formatting is deterministic on both engines.

    Scale shape: the frequency ranking runs AFTER the vocabulary
    groupBy, so the single-partition row_number window orders only the
    zipf-bounded vocabulary, never the corpus (same bounded-window
    argument as the IVF centroid ranking). Encoding is one join keyed
    by term (skew on hot terms is bounded by vocab frequency — salt or
    broadcast the head of the vocabulary at 100 TB) and one per-doc
    collect_list reassembled in token order."""
    from pyspark.sql import Window

    d = spread(load_table(spark, "documents", sf_dir))
    tok = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "term")
    )
    w = Window.orderBy(F.col("n").desc(), "term")
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("term", F.row_number().over(w).cast("bigint").alias("token_id"))
    )
    return (
        tok.join(vocab, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token_id"))),
                    lambda s: s["token_id"].cast("string"),
                ),
                ",",
            ).alias("token_ids_csv"),
        )
    )


# ---------------------------------------------------------------------------
# Key-skew profiling (the diagnostic that decides salting / AQE skew-join)
# ---------------------------------------------------------------------------
SKEW_TOP_N = 10


@query(
    "skew_profile",
    f"""
    WITH per_key AS (
      SELECT user_id, count(*) AS n_rows
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT sum(n_rows) AS total, avg(n_rows) AS mean_rows FROM per_key)
    SELECT user_id, n_rows,
           round(n_rows / total, 6)     AS share,
           round(n_rows / mean_rows, 4) AS skew_ratio
    FROM per_key, tot
    ORDER BY n_rows DESC, user_id
    LIMIT {SKEW_TOP_N}
    """,
)
def skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N hottest keys with their share of the table and ratio to the
    mean key size — the measurement that justifies (or vetoes) salting a
    join key or relying on AQE skew splitting, run BEFORE the expensive
    join rather than after it straggles. Plan: one groupBy shuffle of
    (key, count) partials, a single-row global aggregate broadcast back,
    TakeOrderedAndProject for the top-N — nothing here grows with table
    width, so it's the cheap pre-flight at 100 TB. The skewed-user
    `join_skew_salted` query is the paired remediation."""
    per_key = (
        load_table(spark, "events", sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    tot = per_key.agg(
        F.sum("n_rows").alias("total"), F.avg("n_rows").alias("mean_rows")
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n_rows",
            F.round(F.col("n_rows") / F.col("total"), 6).alias("share"),
            F.round(F.col("n_rows") / F.col("mean_rows"), 4).alias("skew_ratio"),
        )
        .orderBy(F.col("n_rows").desc(), "user_id")
        .limit(SKEW_TOP_N)
    )


@query(
    "dedup_rate_by_source",
    """
    SELECT source,
           count(*)                                           AS n_docs,
           count(DISTINCT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))))
                                                              AS n_unique,
           round(1.0 - count(DISTINCT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))))
                     / count(*), 4)                           AS dup_rate
    FROM documents
    GROUP BY source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication report per source — the curation dashboard number
    that decides which crawl slices are worth re-ingesting. One
    aggregate: count + count(DISTINCT md5 fingerprint) per source (the
    distinct triggers Spark's two-phase Expand plan, keyed by source —
    fine because the fingerprint is 16 bytes, the ONLY thing wider than
    the key that ships). The md5-of-normalized-text fingerprint is the
    same portable one dedup_exact groups on."""
    d = load_table(spark, "documents", sf_dir)
    fp = fingerprint(F.col("text"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(fp).alias("n_unique"),
        F.round(1.0 - F.countDistinct(fp) / F.count(F.lit(1)), 4).alias("dup_rate"),
    )


@query(
    "mixture_interleave",
    """
    WITH sz AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    ranked AS (
      SELECT d.doc_id, d.source,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
                 AS rn,
             sqrt(s.n) AS w
      FROM documents d JOIN sz s USING (source)
    )
    SELECT doc_id, source, round(rn / w, 6) AS interleave_key
    FROM ranked
    """,
)
def mixture_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order mixing: each doc gets an
    interleave_key = (its shuffled rank within its source) / weight,
    with weight = sqrt(source size) — reading the corpus in
    interleave_key order yields sources blended at sqrt-proportional
    rates (the temperature-style mixing a pretraining run wants) instead
    of source-by-source blocks. All RNG-free: the within-source shuffle
    is an md5 sort (portable), so re-runs produce byte-identical
    curricula. One shuffle on source for the rank window, a broadcast of
    the per-source sizes; the consumer materializes the order with
    repartitionByRange(interleave_key) + sortWithinPartitions at write
    time — never a global sort in this query."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    sz = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.join(F.broadcast(sz), "source")
        .select(
            "doc_id",
            "source",
            F.round(
                F.row_number().over(w) / F.sqrt(F.col("n")), 6
            ).alias("interleave_key"),
        )
    )


@query(
    "split_leakage_safe",
    f"""
    WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
    assigned AS (
      SELECT doc_id, fp, {_split_sql(_bucket_sql("fp"))} AS split FROM fp
    )
    SELECT split, count(*) AS n_docs, count(DISTINCT fp) AS n_clusters,
           count(*) - count(DISTINCT fp) AS n_dup_docs
    FROM assigned GROUP BY split
    """,
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split: hash the duplicate-cluster key (the exact
    content fingerprint), not the document, so every copy of a text
    lands in the SAME split — the guard against val/test contamination
    when dedup keeps more than one copy (or runs after splitting).
    Per-split output counts docs vs distinct clusters; n_dup_docs > 0 is
    exactly the leakage train_val_split's per-doc hash would have let
    cross splits had the copies hashed apart. Pure map + Spark's
    two-phase distinct-agg expansion: a shuffle of (split, fp) partials,
    then a 3-row per-split rollup — both bounded by distinct
    fingerprints, never raw text, at any scale. The near-dup variant
    swaps fp for dedup_cluster_assign's component label — same plan
    shape, iterative label computation (operators/dedup.py) instead of
    md5."""
    d = load_table(spark, "documents", sf_dir)
    fp = d.select("doc_id", F.md5("text").alias("fp"))
    assigned = fp.select(
        "doc_id", "fp", split_of(hash_bucket(F.col("fp"))).alias("split")
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_clusters"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_dup_docs"),
    )


WSAMPLE_K = 10  # kept per source


@query(
    "weighted_sample_topk",
    f"""
    WITH keyed AS (
      SELECT source, doc_id, n_chars AS w,
             ln({_unif_sql("CAST(doc_id AS VARCHAR)", "0.5")}) / n_chars AS k
      FROM documents
    )
    SELECT source, doc_id, w,
           row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id)
             AS rnk
    FROM keyed QUALIFY rnk <= {WSAMPLE_K}
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, RNG-free: the
    Efraimidis-Spirakis exponential-key trick with the uniform drawn
    from an md5 hash of the doc id — each doc gets key ln(u)/w (w =
    n_chars here; any positive quality weight works) and the top-{WSAMPLE_K}
    keys per source ARE a weighted sample. Deterministic under retries
    and repartitioning (the property rand() lacks), mergeable (the union
    of two partitions' top-k re-topped is the global top-k — so it's
    also the streaming/incremental form), and one window shuffle on
    source at any scale. The float key stays INTERNAL to the ranking
    (output carries the exact-integer weight and rank) so cross-engine
    libm ulps can't leak into the hash compare; key collisions closer
    than an ulp are probability ~0, and doc_id breaks exact ties."""
    d = load_table(spark, "documents", sf_dir)
    u = hash_unif(F.col("doc_id").cast("string"), offset=0.5)
    keyed = d.select(
        "source",
        "doc_id",
        F.col("n_chars").alias("w"),
        (F.log(u) / F.col("n_chars")).alias("k"),
    )
    from pyspark.sql import Window

    win = Window.partitionBy("source").orderBy(F.col("k").desc(), "doc_id")
    return (
        keyed.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= WSAMPLE_K)
        .select("source", "doc_id", "w", "rnk")
    )


COMPACT_TARGET = 64_000  # target output-file payload (chars stand in for bytes)


@query(
    "compaction_plan",
    f"""
    WITH sized AS (
      SELECT source, doc_id, n_chars,
             coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS bytes_before
      FROM documents)
    SELECT source,
           CAST(floor(bytes_before / {COMPACT_TARGET}) AS INT) AS bin,
           count(*)                       AS file_count,
           CAST(sum(n_chars) AS BIGINT)   AS bin_bytes
    FROM sized
    GROUP BY source, bin
    """,
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the table-maintenance operator every
    100 TB lakehouse needs: pack each partition's small files into
    ~target-size output bins. Files (here: docs, n_chars as payload
    size) are binned by the CUMULATIVE size before them, so bin k holds
    a contiguous run totalling ~{COMPACT_TARGET}; the assignment is one
    running-sum window per partition + one hash agg — two exchanges
    total, and the window parallelizes across partitions (per-partition
    file manifests are thousands of entries, not billions, so a
    sequential scan per `source` is the right regime). Deterministic:
    bin ids depend only on (source, doc_id) order, never on RNG or
    cluster layout."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sized = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("bytes_before"),
    )
    return (
        sized.withColumn(
            "bin", F.floor(F.col("bytes_before") / COMPACT_TARGET).cast("int")
        )
        .groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("file_count"),
            F.sum("n_chars").alias("bin_bytes"),
        )
    )


DP_EPSILON = 1.0  # per-release privacy budget; b = sensitivity/epsilon = 1


@query(
    "dp_noisy_counts",
    f"""
    WITH c AS (
      SELECT event_type, count(*) AS n FROM events GROUP BY 1),
    u AS (
      SELECT event_type, n,
             {_unif_sql("event_type")} AS unif
      FROM c)
    SELECT event_type,
           round(n + (unif - 0.5) * 2.0 / {DP_EPSILON}, 4) AS n_noisy
    FROM u
    """,
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noise-perturbed count release — the shape of a differentially-
    private histogram publish (count + additive noise scaled by
    sensitivity/epsilon, sensitivity 1 for a count).

    DETERMINISM CAVEAT, stated loudly: real DP draws Laplace noise from
    a secure RNG; an oracle-checkable query can't. This uses a uniform
    perturbation in [-1/eps, +1/eps] derived from md5(group_key) — the
    same cross-engine hash-uniform used by train_val_split — so the
    release pipeline SHAPE (group, count, perturb, round, never expose
    the raw count column) is exercised and verified end-to-end, while a
    production deployment swaps one expression for
    `rand_laplace(scale)`. ln()-based Laplace inversion is deliberately
    avoided: libm ulp skew across engines would make the hash compare
    flaky.

    Plan: one map-side-collapsed count shuffle over |event_types|
    groups; the perturbation is a pure projection. Scale-free."""
    e = load_table(spark, "events", sf_dir)
    c = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    unif = hash_unif(F.col("event_type"))
    return c.select(
        "event_type",
        F.round(
            F.col("n") + (unif - 0.5) * 2.0 / DP_EPSILON, 4
        ).alias("n_noisy"),
    )


@query(
    "right_to_erasure_apply",
    """
    WITH del AS (
      SELECT DISTINCT user_id FROM events
      WHERE user_id % 53 = 7),
    kept AS (
      SELECT e.event_type,
             count(*) AS n_kept
      FROM events e ANTI JOIN del d ON e.user_id = d.user_id
      GROUP BY 1),
    audit AS (
      SELECT e.event_type,
             count(*) AS n_erased,
             count(DISTINCT e.user_id) AS n_subjects
      FROM events e SEMI JOIN del d ON e.user_id = d.user_id
      GROUP BY 1)
    SELECT k.event_type, k.n_kept,
           coalesce(a.n_erased, 0)   AS n_erased,
           coalesce(a.n_subjects, 0) AS n_subjects
    FROM kept k LEFT JOIN audit a ON k.event_type = a.event_type
    """,
)
def right_to_erasure_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure (GDPR art. 17) application pass: given a
    deletion-request list of data subjects, produce the retained table
    and the compliance audit (how many records and distinct subjects
    were erased, per category). The request list here derives
    deterministically from the data (user_id % 53 = 7) so the oracle
    sees identical inputs; in production it is a small keyed table.

    Shape: the deletion list broadcasts against ONE scan each for the
    keep (anti join) and audit (semi join) sides — the fact table never
    shuffles for either; both joins prune to the key column before
    anything wide moves. At 100 TB pair this with a versioned table
    format (Delta/Iceberg): the retained table is a new committed
    version, the audit row is the log entry, and old versions age out by
    retention policy (erasure becomes effective when the last retaining
    snapshot is GC'd — exactly how Delta/Iceberg vacuum interacts with
    GDPR)."""
    e = load_table(spark, "events", sf_dir)
    del_list = (
        e.filter(F.col("user_id") % 53 == 7).select("user_id").distinct()
    )
    kept = (
        e.join(F.broadcast(del_list), "user_id", "left_anti")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    audit = (
        e.join(F.broadcast(del_list), "user_id", "left_semi")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_erased"),
            F.count_distinct(F.col("user_id")).alias("n_subjects"),
        )
    )
    return kept.join(audit, "event_type", "left").select(
        "event_type",
        "n_kept",
        F.coalesce("n_erased", F.lit(0)).alias("n_erased"),
        F.coalesce("n_subjects", F.lit(0)).alias("n_subjects"),
    )


@query(
    "pseudonymize_keys",
    """
    SELECT event_id,
           md5('v1:' || CAST(user_id AS VARCHAR)) AS user_token,
           event_type, value
    FROM events
    """,
)
def pseudonymize_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization of the subject key: user_id is
    replaced by a salted-hash token that preserves JOIN-ability and
    groupBy semantics (same user -> same token, ever) while removing
    the raw identifier from the analytical surface — the standard
    privacy tier between raw data and dp_noisy_counts' released
    aggregates. The 'v1:' prefix is the rotation salt: bump it and
    every token rotates at once (re-keying = one pure-map pass).

    Production notes in-code: md5 here is the cross-engine-checkable
    stand-in for a KEYED hash (HMAC with a secret salt) — an unkeyed
    hash of a small id space is re-identifiable by enumeration; swap
    the expression, keep the plan. Pure projection, zero shuffle,
    whole-stage codegen."""
    e = load_table(spark, "events", sf_dir)
    return e.select(
        "event_id",
        F.md5(F.concat(F.lit("v1:"), F.col("user_id").cast("string"))).alias(
            "user_token"
        ),
        "event_type",
        "value",
    )


AB_SALT = "exp42:"  # experiment namespace — new salt = fresh assignment


@query(
    "ab_test_readout",
    f"""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN (('0x' || substr(md5('{AB_SALT}' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 50
                  THEN 'treatment' ELSE 'control' END AS variant,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY 1, 2),
    arms AS (
      SELECT variant, count(*) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_converted,
             round(avg(CAST(converted AS DOUBLE)), 6) AS conv_rate
      FROM assigned GROUP BY 1)
    SELECT t.n_users  AS n_treat, t.n_converted AS conv_treat, t.conv_rate AS rate_treat,
           c.n_users  AS n_ctrl,  c.n_converted AS conv_ctrl,  c.conv_rate AS rate_ctrl,
           round(t.conv_rate - c.conv_rate, 6) AS uplift,
           CASE WHEN sqrt( (CAST(t.n_converted + c.n_converted AS DOUBLE) / (t.n_users + c.n_users))
                        * (1 - CAST(t.n_converted + c.n_converted AS DOUBLE) / (t.n_users + c.n_users))
                        * (1.0 / t.n_users + 1.0 / c.n_users) ) > 0
                THEN round((t.conv_rate - c.conv_rate)
                 / sqrt( (CAST(t.n_converted + c.n_converted AS DOUBLE) / (t.n_users + c.n_users))
                        * (1 - CAST(t.n_converted + c.n_converted AS DOUBLE) / (t.n_users + c.n_users))
                        * (1.0 / t.n_users + 1.0 / c.n_users) ), 4)
           END AS z_score
    FROM (SELECT * FROM arms WHERE variant = 'treatment') t
    CROSS JOIN (SELECT * FROM arms WHERE variant = 'control') c
    """,
)
def ab_test_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: deterministic 50/50 hash assignment of users
    to arms (salted per experiment — the same trick production
    experimentation platforms use, so a user's arm is stable across
    sessions and re-runs without an assignment table), per-arm
    conversion to 'purchase', uplift, and the two-proportion pooled
    z-score. The full A/B analysis loop as one declarative query.

    Shape: one pass computes per-user conversion (map-side collapsed on
    user_id), one tiny aggregate per arm, and the readout is a 1x1
    cross join of two single-row sides. The z arithmetic mirrors the
    oracle token-for-token so the rounded score hash-matches. At 100 TB
    only the per-user collapse is data-sized — a single shuffle."""
    e = load_table(spark, "events", sf_dir)
    variant = F.when(
        hash_bucket(F.concat(F.lit(AB_SALT), F.col("user_id").cast("string"))) < 50,
        "treatment",
    ).otherwise("control")
    assigned = e.groupBy(F.col("user_id"), variant.alias("variant")).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    arms = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.round(F.avg(F.col("converted").cast("double")), 6).alias("conv_rate"),
    )
    t = arms.filter(F.col("variant") == "treatment").alias("t")
    c = arms.filter(F.col("variant") == "control").alias("c")
    pooled = (
        F.col("t.n_converted") + F.col("c.n_converted")
    ).cast("double") / (F.col("t.n_users") + F.col("c.n_users"))
    se = F.sqrt(
        pooled
        * (1 - pooled)
        * (1.0 / F.col("t.n_users") + 1.0 / F.col("c.n_users"))
    )
    # degenerate arms (0% or 100% pooled conversion) have zero standard
    # error: z is undefined -> NULL on both engines (ANSI Spark would
    # otherwise raise DIVIDE_BY_ZERO)
    return t.crossJoin(c).select(
        F.col("t.n_users").alias("n_treat"),
        F.col("t.n_converted").alias("conv_treat"),
        F.col("t.conv_rate").alias("rate_treat"),
        F.col("c.n_users").alias("n_ctrl"),
        F.col("c.n_converted").alias("conv_ctrl"),
        F.col("c.conv_rate").alias("rate_ctrl"),
        F.round(F.col("t.conv_rate") - F.col("c.conv_rate"), 6).alias("uplift"),
        F.when(se > 0, F.round((F.col("t.conv_rate") - F.col("c.conv_rate")) / se, 4)).alias("z_score"),
    )


EMBARGO_DAYS = 7


@query(
    "temporal_split_embargo",
    f"""
    WITH bounds AS (
      SELECT epoch_us(min(ts)) AS lo_us, epoch_us(max(ts)) AS hi_us
      FROM events),
    marked AS (
      SELECT e.event_type,
             CASE
               WHEN epoch_us(e.ts) <  b.lo_us + (b.hi_us - b.lo_us) * 0.7
                 THEN 'train'
               WHEN epoch_us(e.ts) >= b.lo_us + (b.hi_us - b.lo_us) * 0.7
                    + CAST({EMBARGO_DAYS} AS BIGINT) * 86400 * 1000000
                 THEN 'test'
               ELSE 'embargo'
             END AS split
      FROM events e CROSS JOIN bounds b)
    SELECT event_type, split, count(*) AS n
    FROM marked GROUP BY 1, 2
    """,
)
def temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/test split with an embargo gap: everything
    before the 70% timeline point trains, everything after cutoff +
    {EMBARGO_DAYS} days tests, and the gap rows are EMBARGOED (dropped
    from both) — the leakage control for forecasting/behavioral models,
    where a random split (train_val_split) leaks future information
    through temporally-correlated rows. The split is a pure function of
    the timestamp, so it is stable under retries and reshuffles.

    Shape: one 1-row bounds aggregate broadcast back over the scan; the
    assignment is a codegen CASE and the report a map-side-collapsed
    count. The interval arithmetic runs on both engines' native
    timestamp type with identical 0.7 scaling on integer microsecond
    deltas."""
    e = load_table(spark, "events", sf_dir)
    b = e.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    lo_us = F.unix_micros(F.col("lo").cast("timestamp"))
    hi_us = F.unix_micros(F.col("hi").cast("timestamp"))
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    cutoff = lo_us + (hi_us - lo_us) * 0.7
    test_from = cutoff + EMBARGO_DAYS * 86400 * 1_000_000
    split = (
        F.when(ts_us < cutoff, "train")
        .when(ts_us >= test_from, "test")
        .otherwise("embargo")
    )
    return (
        e.crossJoin(F.broadcast(b))
        .select("event_type", split.alias("split"))
        .groupBy("event_type", "split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Privacy-risk audits: k-anonymity / l-diversity over quasi-identifiers
# ---------------------------------------------------------------------------
# Thresholds sized so violations EXIST at every test sf (93/125/125 rows
# at sf0.001/0.01/0.1): an audit whose green state is "0 rows" would be
# a vacuous correctness row.
K_ANON = 12  # minimum safe equivalence-class size
L_DIV = 6    # minimum distinct sensitive values per class
ACB_BAND = 3000.0  # sensitive attribute = account-balance band


@query(
    "k_anonymity_check",
    f"""
    SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS class_sz,
           count(*) < {K_ANON} AS k_violation,
           count(DISTINCT floor(c_acctbal / {ACB_BAND})::BIGINT)::BIGINT
             AS sensitive_distinct,
           count(DISTINCT floor(c_acctbal / {ACB_BAND})::BIGINT) < {L_DIV}
             AS l_violation
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    HAVING count(*) < {K_ANON}
        OR count(DISTINCT floor(c_acctbal / {ACB_BAND})::BIGINT) < {L_DIV}
    """,
)
def k_anonymity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification audit before a data release: every
    quasi-identifier equivalence class (nation x market segment) that
    violates k-anonymity (fewer than {K_ANON} members) or l-diversity
    (fewer than {L_DIV} distinct sensitive balance bands — a k-safe
    class is still disclosive if everyone in it shares the sensitive
    value). The release-gate complement to `pseudonymize_keys` (which
    hides direct identifiers but not quasi-identifier joins).

    Shape: one hash aggregation keyed by the quasi-identifier tuple —
    class count and distinct-band count collapse map-side, so the audit
    is a single shuffle of |classes| rows at any table size."""
    cust = spread(load_table(spark, "customer", sf_dir))
    band = F.floor(F.col("c_acctbal") / ACB_BAND)
    agg = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("class_sz"),
        F.count_distinct(band).alias("sensitive_distinct"),
    )
    return agg.select(
        "c_nationkey",
        "c_mktsegment",
        "class_sz",
        (F.col("class_sz") < K_ANON).alias("k_violation"),
        "sensitive_distinct",
        (F.col("sensitive_distinct") < L_DIV).alias("l_violation"),
    ).filter(F.col("k_violation") | F.col("l_violation"))


# ---------------------------------------------------------------------------
# Incremental view maintenance: merge a delta batch into a mergeable agg
# ---------------------------------------------------------------------------
IVM_SPLIT_DAY = "2024-01-25"  # base snapshot = events strictly before


@query(
    "ivm_delta_apply",
    f"""
    SELECT event_type, ts::DATE AS day,
           count(*)::BIGINT AS n, round(sum(value), 4) AS total
    FROM events
    GROUP BY event_type, ts::DATE
    """,
)
def ivm_delta_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a (type, day) count/sum rollup:
    the view is maintained by AGGREGATING ONLY THE DELTA (events on or
    after {IVM_SPLIT_DAY}) and merging partials into the base snapshot
    by addition — never rescanning the base. The oracle recomputes from
    scratch; equality proves count/sum are self-maintainable (the
    foundation the streaming `update`-mode sinks and `cdc_apply` rely
    on; avg/min/max need auxiliary state, distinct needs sketches —
    see `hll_partial_merge`).

    Shape at 100 TB: the base aggregate is a stored table in production;
    here both sides are one filtered scan + one hash agg each, then a
    UNION + re-agg whose input is 2x |view| rows, not |events|. The
    split predicate pushes to the parquet scan on both branches."""
    ev = spread(load_table(spark, "events", sf_dir))
    split = F.lit(IVM_SPLIT_DAY).cast("timestamp")
    day = F.col("ts").cast("date").alias("day")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", day).agg(
            F.count("*").alias("n"), F.sum("value").alias("total")
        )

    base = rollup(ev.filter(F.col("ts") < split))
    delta = rollup(ev.filter(F.col("ts") >= split))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type", "day")
        .agg(F.sum("n").alias("n"), F.round(F.sum("total"), 4).alias("total"))
    )
    return merged


# ---------------------------------------------------------------------------
# t-closeness — third leg of the privacy release gate
# ---------------------------------------------------------------------------
T_CLOSE = 0.2  # max allowed EMD between class and global sensitive dists


@query(
    "t_closeness_check",
    f"""
    WITH pts AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / {ACB_BAND}) AS BIGINT) AS b
      FROM customer),
    cls AS (SELECT c_nationkey, c_mktsegment, b, count(*) AS n
            FROM pts GROUP BY 1, 2, 3),
    tot AS (SELECT c_nationkey, c_mktsegment, CAST(sum(n) AS BIGINT) AS nc
            FROM cls GROUP BY 1, 2),
    gl  AS (SELECT b, count(*) AS ng FROM pts GROUP BY 1),
    -- CONTIGUOUS band lattice min..max: an interior band empty
    -- table-wide still carries its |CDF-gap| term (the emd_drift
    -- dropped-bin lesson — a bare GROUP BY under-counts W1)
    glf AS (
      SELECT r.b, coalesce(gl.ng, 0) AS ng
      FROM (SELECT unnest(range((SELECT min(b) FROM gl),
                                (SELECT max(b) FROM gl) + 1)) AS b) r
      LEFT JOIN gl USING (b)),
    n   AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM pts),
    lattice AS (
      SELECT t.c_nationkey, t.c_mktsegment, t.nc, g.b, g.ng
      FROM tot t CROSS JOIN glf g),
    p AS (
      SELECT l.c_nationkey, l.c_mktsegment, l.b,
             coalesce(c.n, 0) * 1.0 / l.nc AS p_cls,
             l.ng * 1.0 / n.nn             AS p_gl
      FROM lattice l
      LEFT JOIN cls c
        ON c.c_nationkey = l.c_nationkey
       AND c.c_mktsegment = l.c_mktsegment AND c.b = l.b
      CROSS JOIN n),
    f1 AS (
      SELECT c_nationkey, c_mktsegment, b,
             sum(p_cls - p_gl) OVER w AS cdf_gap
      FROM p
      WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    f AS (
      SELECT c_nationkey, c_mktsegment, b,
             sum(abs(cdf_gap)) OVER w AS running
      FROM f1
      WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT c_nationkey, c_mktsegment,
           round(max(running), 6)       AS emd,
           round(max(running), 6) > {T_CLOSE} AS t_violation
    FROM f
    GROUP BY 1, 2
    """,
)
def t_closeness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third leg of the release gate after
    k-anonymity and l-diversity (`k_anonymity_check`): a class can be
    k-large and l-diverse yet still disclosive if its SENSITIVE
    DISTRIBUTION differs sharply from the table's. Per quasi-identifier
    class, the 1-D EMD (in band-width units) between the class's and
    the global balance-band distribution: cumulate (p_cls − p_gl) over
    the ordered band lattice, |CDF gap| running-sum, whose LAST value is
    the EMD. Cross-engine determinism trick: the running |gap| sum is
    MONOTONE, so per-class max(running) == the total — max is
    order-independent where a float sum aggregate is not, and the
    window cumsums themselves are sequential over identical doubles in
    identical band order (same contract as emd_drift). Scale: two hash
    aggs over one scan + a |classes|×|bands| lattice window — the
    lattice is tiny at any table size."""
    pts = load_table(spark, "customer", sf_dir).select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / ACB_BAND).cast("bigint").alias("b"),
    )
    cls = pts.groupBy("c_nationkey", "c_mktsegment", "b").agg(
        F.count("*").alias("n")
    )
    tot = cls.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("n").cast("bigint").alias("nc")
    )
    gl = pts.groupBy("b").agg(F.count("*").alias("ng"))
    # contiguous min..max band lattice (mirrors the oracle's range()):
    # a band empty table-wide still emits its CDF-gap term
    mm = gl.agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
    bands = mm.select(F.explode(F.sequence("lo", "hi")).alias("b"))
    gl_full = bands.join(gl, "b", "left").select(
        "b", F.coalesce("ng", F.lit(0)).alias("ng")
    )
    nn = pts.agg(F.count("*").cast("bigint").alias("nn"))
    lattice = tot.crossJoin(F.broadcast(gl_full))
    p = (
        lattice.join(cls, ["c_nationkey", "c_mktsegment", "b"], "left")
        .crossJoin(F.broadcast(nn))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "b",
            (F.coalesce(F.col("n"), F.lit(0)) * 1.0 / F.col("nc")).alias("p_cls"),
            (F.col("ng") * 1.0 / F.col("nn")).alias("p_gl"),
        )
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    f = p.withColumn(
        "cdf_gap", F.sum(F.col("p_cls") - F.col("p_gl")).over(w)
    ).withColumn("running", F.sum(F.abs(F.col("cdf_gap"))).over(w))
    emd = F.round(F.max("running"), 6)
    return f.groupBy("c_nationkey", "c_mktsegment").agg(
        emd.alias("emd"), (emd > T_CLOSE).alias("t_violation")
    )


# ------------------------------------------------------ epoch_shuffle_assign


N_EPOCHS = 3
N_SHARDS = 8


@query(
    "epoch_shuffle_assign",
    f"""
    WITH e AS (SELECT unnest(range({N_EPOCHS})) AS epoch),
    keyed AS (
      SELECT e.epoch, d.doc_id,
             md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR))
               AS k
      FROM documents d CROSS JOIN e)
    SELECT epoch,
           CAST(('0x' || substr(k, 1, 8))::BIGINT % {N_SHARDS} AS INT)
             AS shard,
           CAST(row_number() OVER (
             PARTITION BY epoch,
                          ('0x' || substr(k, 1, 8))::BIGINT % {N_SHARDS}
             ORDER BY k, doc_id) AS BIGINT) AS position,
           doc_id
    FROM keyed
    """,
)
def epoch_shuffle_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-epoch shuffle plan: for each of {N_EPOCHS} epochs, every
    document gets a fresh pseudo-random (shard, position) — the
    deterministic, RNG-free re-shuffle a multi-epoch pretraining run
    needs so that epoch 2's batch order is decorrelated from epoch 1's
    while staying bit-reproducible across restarts. The shuffle key is
    md5(doc_id:epoch): shard = first-8-hex mod {N_SHARDS} (the repo's
    portable hash-bucket convention), position = rank of the hex digest
    within the shard.

    Scale shape: the cross join with the {N_EPOCHS}-row epoch lattice
    is a broadcast Expand (×{N_EPOCHS} map-side, no shuffle); the only
    shuffle is the (epoch, shard) window sort, whose partition count —
    epochs × shards — is the unit of parallelism: production sizes
    {N_SHARDS} to the cluster (e.g. 4k shards → ~25M-row sorts per
    task at 100 TB), exactly how training-data loaders shard anyway.
    No RNG: reshuffling is pure recomputation, and a doc's placement
    can be answered point-wise without materializing the plan."""
    d = load_table(spark, "documents", sf_dir)
    epochs = spark.range(N_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    keyed = d.select("doc_id").crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(":"), F.col("epoch").cast("string")
            )
        ).alias("k"),
    )
    shard = (
        F.conv(F.substring(F.col("k"), 1, 8), 16, 10).cast("bigint") % N_SHARDS
    ).cast("int")
    w = Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
    return (
        keyed.withColumn("shard", shard)
        .withColumn("position", F.row_number().over(w).cast("bigint"))
        .select("epoch", "shard", "position", "doc_id")
    )


# ------------------------------------------------------ span_corruption_mask


SPAN_LEN = 3        # masked span length (tokens)
SPAN_MIN_TOKENS = 8  # docs shorter than this are left unmasked (skipped)
SENTINEL = "<extra_id_0>"


@query(
    "span_corruption_mask",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents),
    ok AS (SELECT * FROM toks WHERE n >= {SPAN_MIN_TOKENS}),
    pick AS (
      SELECT doc_id, t, n,
             1 + CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      ::BIGINT % (n - {SPAN_LEN} + 1) AS BIGINT) AS s
      FROM ok)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(s AS INT)    AS span_start,
           array_to_string(
             list_concat(list_concat(t[1:s-1], ['{SENTINEL}']),
                         t[s+{SPAN_LEN}:n]), ' ') AS input_text,
           '{SENTINEL} ' || array_to_string(t[s:s+{SPAN_LEN}-1], ' ')
             AS target_text
    FROM pick
    """,
)
def span_corruption_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption: every long-enough document yields one
    (input, target) training pair with a {SPAN_LEN}-token span replaced
    by a sentinel — the denoising-objective construction step of a
    pretraining pipeline, downstream of curation and upstream of
    `sequence_packing`. Span position is the md5 hash of the doc id
    (the repo's RNG-free convention): reproducible across restarts,
    re-derivable per document without materializing the corpus, and a
    fresh epoch seed just concatenates an epoch suffix (the
    `epoch_shuffle_assign` trick).

    Shape: PURE MAP — split, hash, slice, concat, join, all Catalyst
    codegen on one scan, zero shuffles, trivially scale-free. The
    oracle spells the identical 1-based slice arithmetic; both engines
    emit byte-identical strings."""
    d = load_table(spark, "documents", sf_dir)
    t = F.split(F.col("text"), " ")
    toks = d.select("doc_id", t.alias("t"), F.size(t).alias("n")).filter(
        F.col("n") >= SPAN_MIN_TOKENS
    )
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    pick = toks.withColumn("s", (1 + h % (F.col("n") - SPAN_LEN + 1)).cast("bigint"))
    before = F.slice(F.col("t"), 1, (F.col("s") - 1).cast("int"))
    after = F.slice(
        F.col("t"),
        (F.col("s") + SPAN_LEN).cast("int"),
        (F.col("n") - F.col("s") - SPAN_LEN + 1).cast("int"),
    )
    span = F.slice(F.col("t"), F.col("s").cast("int"), SPAN_LEN)
    return pick.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("s").cast("int").alias("span_start"),
        F.array_join(
            F.concat(F.concat(before, F.array(F.lit(SENTINEL))), after), " "
        ).alias("input_text"),
        F.concat(F.lit(SENTINEL + " "), F.array_join(span, " ")).alias("target_text"),
    )


# ------------------------------------------------------ ips_offpolicy_eval

IPS_SALT = "policy7:"   # logging-policy namespace (independent of AB_SALT)
IPS_ACT_MIN = 10        # target policy: treat iff activity >= this


@query(
    "ips_offpolicy_eval",
    f"""
    WITH logs AS (
      SELECT user_id,
             CASE WHEN (('0x' || substr(md5('{IPS_SALT}' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 50
                  THEN 1 ELSE 0 END AS logged_arm,
             CAST(count(*) AS BIGINT) AS activity,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS r
      FROM events GROUP BY 1),
    scored AS (
      SELECT *,
             CASE WHEN activity >= {IPS_ACT_MIN} THEN 1 ELSE 0 END AS target_arm
      FROM logs)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN target_arm = logged_arm THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
           round(avg(CAST(r AS DOUBLE)), 6) AS v_logged,
           round(sum(CASE WHEN target_arm = logged_arm
                          THEN r / 0.5 ELSE 0.0 END) / count(*), 6) AS v_ips,
           round(sum(CASE WHEN target_arm = logged_arm THEN CAST(r AS DOUBLE)
                          ELSE 0.0 END)
                 / sum(CASE WHEN target_arm = logged_arm THEN 1 ELSE 0 END),
                 6) AS v_snips
    FROM scored
    """,
)
def ips_offpolicy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation by inverse propensity scoring: estimate how
    a NEW targeting rule (treat iff first-month activity >=
    {IPS_ACT_MIN}) would have performed from logs collected under a
    uniform 50/50 hash policy — without running the new experiment.
    v_ips is the unbiased Horvitz-Thompson estimate sum[1{{pi(x)=a}} r /
    p(a)]/n; v_snips is the self-normalized variant (biased, lower
    variance — with uniform logging it reduces to the matched-subset
    conversion rate); v_logged is the behavior policy's realized value.
    The counterfactual read-out that precedes every `ab_test_readout`.

    Shape: ONE pass collapses events to per-user (arm, activity,
    converted) — map-side combinable on user_id — then a single scalar
    aggregation; no joins at all. The logging propensity is an exact
    literal (0.5) because assignment is the deterministic salted-md5
    hash (`hash_bucket`), so the estimate is reproducible and the
    weights exact on both engines. At 100 TB nothing here is more than
    one shuffle of user states.

    Reference provenance: generalizes the aggregate surface of
    cassandra_sink.scala:113-120 to counterfactual policy evaluation."""
    e = load_table(spark, "events", sf_dir)
    arm = F.when(
        hash_bucket(F.concat(F.lit(IPS_SALT), F.col("user_id").cast("string"))) < 50,
        1,
    ).otherwise(0)
    logs = e.groupBy("user_id", arm.alias("logged_arm")).agg(
        F.count(F.lit(1)).alias("activity"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("r"),
    )
    scored = logs.select(
        "*",
        F.when(F.col("activity") >= IPS_ACT_MIN, 1).otherwise(0).alias("target_arm"),
    )
    match = F.col("target_arm") == F.col("logged_arm")
    return scored.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(match, 1).otherwise(0)).alias("n_matched"),
        F.round(F.avg(F.col("r").cast("double")), 6).alias("v_logged"),
        F.round(
            F.sum(F.when(match, F.col("r") / 0.5).otherwise(0.0)) / F.count(F.lit(1)),
            6,
        ).alias("v_ips"),
        F.round(
            F.sum(F.when(match, F.col("r").cast("double")).otherwise(0.0))
            / F.sum(F.when(match, 1).otherwise(0)),
            6,
        ).alias("v_snips"),
    )
