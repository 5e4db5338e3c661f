"""Deduplication operators — exact, n-gram Jaccard, MinHash LSH, SimHash.

The LLM-data north star: finding duplicate/near-duplicate documents at
100 TB. Three tiers, by cost and fidelity:

1. ``dedup_exact`` — hash-groupBy on a normalized md5 fingerprint.
   One shuffle of (16-byte key, doc_id). Exact, cheapest, always first.
2. ``dedup_ngram_jaccard`` — EXACT near-dup pairs above a Jaccard
   threshold, via an inverted-index self-join on word shingles. No
   all-pairs product: |intersection| is computed as a count aggregate
   over shared shingles, so the cost is Σ_shingle df(shingle)² — bounded
   when hot shingles are pruned (see docstring).
3. ``dedup_near_minhash`` / ``dedup_simhash`` — sketch-based (probabilistic)
   versions whose cost is linear in corpus size: the only option when even
   the inverted index is too big. Both are now fully oracle-checked:
   minhash against brute-force exact Jaccard (valid because measured
   recall is 1.0 on the fixed testdata), simhash against a portable
   md5-nibble sketch replica (valid unconditionally — pigeonhole
   blocking is exact). Recall-vs-exact additionally pinned in
   tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textfns import fingerprint, tokens
from ..plans.registry import query
from ..sources import load_table, spread
from ..sources.artifacts import artifact_dir, current, publish

NGRAM_N = 3
JACCARD_THRESHOLD = 0.5
MINHASH_K = 32          # signature length
MINHASH_BANDS = 16      # 16 bands x 2 rows: P(candidate) = 1-(1-j^2)^16
SIMHASH_BITS = 64
SIMHASH_MAX_HAMMING = 3
SIMHASH_CHUNKS = SIMHASH_MAX_HAMMING + 1  # pigeonhole: d<=3 -> >=1 equal chunk


# ---------------------------------------------------------------------------
# Shared DuckDB oracle CTEs: exact word-trigram Jaccard pairs via an
# INVERTED-INDEX join, replacing the r1-r4 brute-force
# `sh a JOIN sh b ON a.doc_id < b.doc_id` cross product. Provably the same
# pair set: both sides deduplicate shingles first (list_distinct), `com`
# counts DISTINCT shared shingles per (doc_a < doc_b) pair — exactly
# len(list_intersect(a.shingles, b.shingles)) — and any pair the shingle
# equi-join cannot reach shares ZERO shingles, so its Jaccard is 0 < every
# positive threshold and the all-pairs form rejects it too (the two forms
# were diffed set-equal at sf0.001 and sf0.01 before the swap; r5 session).
# Why: the all-pairs form is O(n²) list intersections — past the 600 s
# oracle watchdog at sf0.1's 5k docs, which is what kept 7 dup-graph
# oracles out of the r5 sf0.1 sweep — while this form is Σ df² index work
# (~3 s at sf0.1), the same bound the Spark side's inverted-index join
# obeys. The oracle stays a genuinely independent computation: a different
# engine, string shingles instead of the Spark side's xxhash64'd index,
# no prefix filter, no LSH.
_SH_IDX_CTES = f"""
    toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(len(toks) - {NGRAM_N - 1}),
                 i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS shingles
      FROM toks WHERE len(toks) >= {NGRAM_N}),
    sz AS (SELECT doc_id, len(shingles) AS sz FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    com AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)"""

# ... plus the threshold filter: the near-dup `pairs` edge list every
# dup-graph oracle (degree/triangles/CC/PageRank/BFS/components) builds on.
_JACCARD_PAIRS_CTE = _SH_IDX_CTES + f""",
    pairs AS (
      SELECT doc_a, doc_b,
             round(n_common::DOUBLE / (sa.sz + sb.sz - n_common), 4) AS jaccard
      FROM com JOIN sz sa ON sa.doc_id = com.doc_a
               JOIN sz sb ON sb.doc_id = com.doc_b
      WHERE n_common::DOUBLE / (sa.sz + sb.sz - n_common)
            >= {JACCARD_THRESHOLD})"""


# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    """
    SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
           min(doc_id)  AS keep_doc_id,
           count(*)     AS n_copies
    FROM documents
    GROUP BY fp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized fingerprint: keep the lowest doc_id per
    identical text. groupBy on a 128-bit key — one shuffle, fully
    scalable (this exact shape dedups petabyte crawls)."""
    d = spread(load_table(spark, "documents", sf_dir))
    return (
        d.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# 2. Exact n-gram Jaccard via inverted-index join
# ---------------------------------------------------------------------------
def shingle_arrays(docs: DataFrame, n: int = NGRAM_N) -> DataFrame:
    """(doc_id, shingles array<string>, sz) — distinct word n-grams per doc.

    ZERO-shuffle form (optimization r10): the distinct shingle set of a
    document depends only on that document's own tokens, so it is a pure
    per-row ``array_distinct(transform(positions, build-shingle))``
    projection — the r1-r9 explode + collect_set shape shuffled every
    (doc_id, shingle-string) row (the fattest intermediate in the dedup
    family, ~4M ~25 B strings at sf0.1) just to regroup them under the
    doc_id they started with. Set semantics identical (array_distinct
    dedups exactly like collect_set; element ORDER differs but every
    consumer is order-insensitive: array_intersect sizes, explodes into
    aggregations, hash transforms). The old Generate-re-evaluation
    worry about inline-computed arrays was re-measured on Spark 4.1:
    explode evaluates its child ONCE per input row, so both this
    transform and downstream explodes of it stay linear.

    CALLER CONTRACT (r10): being a pure projection, this leaves NO
    exchange for Spark to reuse — every consumer that reads the arrays
    more than once (verify joins read both pair sides) must
    localCheckpoint the result, or sibling projections (sz, explode)
    re-evaluate the whole shingle construction per reference. All four
    call sites do. For exploded single-pass consumption use
    shingle_rows/shingle_table, whose aggregation shapes measured
    faster there."""
    toks = tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= n)
    sh = F.expr(
        f"array_distinct(transform(sequence(1, size(toks) - {n - 1}), "
        f"i -> array_join(slice(toks, i, {n}), ' ')))"
    )
    return base.select("doc_id", sh.alias("shingles")).withColumn(
        "sz", F.size("shingles")
    )


def shingle_rows(docs: DataFrame, n: int = NGRAM_N) -> DataFrame:
    """(doc_id, shingle) distinct word n-gram rows.

    Position-explode, then build each shingle per exploded row, then
    DISTINCT. Kept in this exploded shape (r10 re-measured): deriving it
    from the pure-map shingle_arrays re-computes the whole per-row array
    expression for every projection that touches it (explode + any
    sibling column), which measured ~3x slower than this form on the
    contamination/novelty consumers — while the DISTINCT exchange here
    doubles as the reuse point when a query reads the rows twice."""
    toks = tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= n)
    ex = base.select(
        "doc_id",
        "toks",
        F.explode(F.expr(f"sequence(1, size(toks) - {n - 1})")).alias("i"),
    )
    return ex.select(
        "doc_id", F.expr(f"array_join(slice(toks, i, {n}), ' ')").alias("shingle")
    ).distinct()


def shingle_table(docs: DataFrame, n: int = NGRAM_N) -> DataFrame:
    """(doc_id, shingle, sz) exploded inverted index; sz = |shingle set|.
    Built from one explode + collect_set aggregation and re-exploded —
    the aggregation output is a materialized attribute, so the explode
    and the sz projection never re-evaluate the shingle construction
    (the pure-map shingle_arrays form measured ~3x slower here, r10)."""
    toks = tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= n)
    ex = base.select(
        "doc_id",
        "toks",
        F.explode(F.expr(f"sequence(1, size(toks) - {n - 1})")).alias("i"),
    )
    agged = (
        ex.select(
            "doc_id", F.expr(f"array_join(slice(toks, i, {n}), ' ')").alias("shingle")
        )
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shingles"))
        .withColumn("sz", F.size("shingles"))
    )
    return agged.select("doc_id", "sz", F.explode("shingles").alias("shingle"))


def _exact_pair_stats(candidates: DataFrame, arr: DataFrame) -> DataFrame:
    """EXACT (doc_a, doc_b, n_common, sz_a, sz_b) for candidate pairs:
    join each pair to its two string shingle sets and intersect the
    arrays. O(|candidates| · |doc|). Shared verify stage of every
    hashed-candidate operator (Jaccard, containment)."""
    return (
        candidates.join(
            arr.select(
                F.col("doc_id").alias("doc_a"),
                F.col("shingles").alias("sh_a"),
                F.col("sz").alias("sz_a"),
            ),
            "doc_a",
        )
        .join(
            arr.select(
                F.col("doc_id").alias("doc_b"),
                F.col("shingles").alias("sh_b"),
                F.col("sz").alias("sz_b"),
            ),
            "doc_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .select("doc_a", "doc_b", "n_common", "sz_a", "sz_b")
    )


def _verify_candidates(
    candidates: DataFrame, arr: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify of candidate pairs (wraps _exact_pair_stats).

    Filters on the RAW ratio and rounds only for output — filtering the
    rounded value would admit pairs in [t - 5e-5, t) that the oracles'
    raw-ratio WHERE clauses reject, and would make the three candidate
    paths (plain / prefix / minhash) disagree on boundary pairs."""
    stats = _exact_pair_stats(candidates, arr)
    jacc = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return (
        stats.filter(jacc >= threshold)
        .withColumn("jaccard", F.round(jacc, 4))
        .select("doc_a", "doc_b", "jaccard")
    )


def _hashed_candidate_counts(arr: DataFrame) -> DataFrame:
    """(doc_a, doc_b, sz_a, sz_b, n_common) over HASHED shingles via the
    inverted-index self-join — the shared candidate stage. The index
    carries xxhash64(shingle), not the string: the join/shuffle key
    drops from ~25 B to 8 B. Hash collisions can only RAISE a pair's
    counted overlap (cross-doc collisions inflate the intersection,
    within-doc collisions shrink the set sizes), never lower it — so any
    monotone-in-overlap predicate applied to these counts keeps a
    SUPERSET of the true qualifying pairs; callers must exact-verify
    survivors (via _exact_pair_stats) against the string arrays."""
    hashed = arr.select(
        "doc_id",
        F.array_distinct(
            F.transform("shingles", lambda s: F.xxhash64(s))
        ).alias("hs"),
    ).withColumn("szh", F.size("hs"))
    inv = hashed.select("doc_id", "szh", F.explode("hs").alias("h"))
    a, b = inv.alias("a"), inv.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.szh").alias("sz_a"),
            F.col("b.szh").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = NGRAM_N, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold, exactly, via the
    inverted-index self-join: |A∩B| falls out of a count(*) over shared
    shingles (distinct per doc); |A∪B| = |A|+|B|-|A∩B|. Only
    (doc_id, sz, shingle) ships through the join.

    Cost is Σ_shingle df². That is the right trade while document
    frequencies stay moderate (this corpus: max df 25 on 27k distinct
    shingles — the extra passes of prefix filtering measure SLOWER here).
    When hot shingles dominate (boilerplate at crawl scale), switch to
    :func:`ngram_jaccard_pairs_prefix`, which drops hot shingles from the
    index entirely; both are exact, equality is pinned in tests.

    The inverted index carries xxhash64(shingle), not the string: the
    join/shuffle key drops from ~25 B to 8 B. Hash collisions can only
    RAISE the candidate Jaccard (cross-doc collisions inflate the
    intersection, within-doc collisions shrink the union), never lower
    it — so hash-candidates are a superset of true pairs and the exact
    string-array verify of survivors makes the output identical to the
    all-string join."""
    arr = shingle_arrays(docs, n).localCheckpoint(eager=False)
    cand = (
        _hashed_candidate_counts(arr)
        .filter(
            F.col("n_common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
            >= threshold
        )
        .select("doc_a", "doc_b")
    )
    return _verify_candidates(cand, arr, threshold)


def ngram_jaccard_pairs_prefix(
    docs: DataFrame, n: int = NGRAM_N, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Prefix-filtered exact Jaccard pairs (the All-Pairs/PPJoin family,
    Bayardo et al. WWW'07; Chaudhuri et al. ICDE'06 — public literature,
    no code reused).

    Index only each doc's PREFIX: its |A| - ceil(t·|A|) + 1 rarest
    shingles under a global (document-frequency, shingle) total order.
    Theorem: J(A,B) >= t implies |A∩B| >= ceil(t·max(|A|,|B|)), and the
    globally-smallest common shingle then sits within both prefixes — so
    joining prefix-to-prefix finds every qualifying pair. Candidates are
    verified exactly (array intersection), so output == brute force.

    Scale: join cost drops from Σ df² to Σ df_prefix² — prefixes hold the
    RAREST shingles, so hot boilerplate shingles (the Σ df² killers at
    crawl scale) leave the index entirely. Price: a df-count groupBy and
    a per-doc rank window, both linear — which is why the plain inverted
    index wins below the hot-shingle regime."""
    from pyspark.sql import Window

    # Materialize the shingle arrays once: five downstream branches (df
    # counts, rank, both verify sides) would otherwise each re-run the
    # shingle transform. At cluster scale this is a persisted/checkpointed
    # intermediate table by design, not an optimization.
    arr = shingle_arrays(docs, n).localCheckpoint(eager=False)
    sh = arr.select("doc_id", "sz", F.explode("shingles").alias("shingle"))
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(df_tbl, "shingle").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "shingle")
        ),
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    prefix = ranked.filter(F.col("rk") <= prefix_len).select("doc_id", "shingle")
    a, b = prefix.alias("a"), prefix.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_candidates(candidates, arr, threshold)


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH {_JACCARD_PAIRS_CTE}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard near-dup pairs (threshold 0.5). The
    oracle is the exact-equivalent inverted-index join over STRING
    shingles (`_SH_IDX_CTES` — equivalence argument there); the Spark
    plan uses a hashed inverted index with prefix filtering — same
    answer, independently computed, scalable shape on both engines."""
    return ngram_jaccard_pairs(spread(load_table(spark, "documents", sf_dir)))


# ---------------------------------------------------------------------------
# 3a. MinHash + LSH banding
# ---------------------------------------------------------------------------
def minhash_signatures(docs: DataFrame, k: int = MINHASH_K, n: int = NGRAM_N) -> DataFrame:
    """(doc_id, sig array<long>[k]): min over shingles of k salted
    xxhash64 functions — the classic permutation-family approximation.
    Single explode + one groupBy with k min() aggregates (map-side
    partials make this one linear pass)."""
    sh = shingle_rows(docs, n).withColumn("h", F.xxhash64("shingle"))
    # Seed family over the PRE-HASHED long: xxhash64(seed, h) mixes a long
    # pair — k cheap long hashes per shingle instead of k string
    # concat+hash passes (the string form measured ~10x the map time).
    mins = [F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"h{i}") for i in range(k)]
    agg = sh.groupBy("doc_id").agg(*mins)
    return agg.select("doc_id", F.array(*[F.col(f"h{i}") for i in range(k)]).alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    threshold: float = JACCARD_THRESHOLD,
    n: int = NGRAM_N,
) -> DataFrame:
    """Candidate pairs via LSH banding, then EXACT Jaccard verification of
    candidates only.

    rows-per-band r = k/bands; a pair lands in a bucket with
    P = 1-(1-j^r)^bands (r=2, bands=16: j=0.5 -> 99.6%, j=0.8 -> ~1-1e-13).
    Verification joins candidates back to the shingle index, so emitted
    pairs are never false positives; recall is pinned in tests.
    """
    r = k // bands
    sigs = minhash_signatures(docs, k, n)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col("sig").getItem(b * r + i) for i in range(r)]).alias("bh"),
        )
        for b in range(bands)
    ]
    # buckets feeds BOTH sides of the banding self-join, and the join
    # plans as a BroadcastHashJoin (bucket rows are tiny), so there is no
    # shuffle exchange for Spark to reuse — without materialization the
    # whole shingle->32-hash-min signature pipeline runs TWICE (verified
    # in the committed r10 plan: two parquet scans + two Generate +
    # paired signature aggregates). One checkpoint of the (doc, band,
    # bh) rows — 3 small ints per doc per band — halves the signature
    # work (optimization r11, guide §1.2).
    buckets = (
        sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("bk"))
        .select(
            "doc_id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
        )
        .localCheckpoint(eager=False)
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Exact verify on the tiny LSH-survivor candidate set — which is the
    # entire point of banding (never the Σ df² full self-join). The
    # shingle arrays are materialized once (r10): _exact_pair_stats reads
    # them on BOTH pair sides, and the zero-shuffle shingle_arrays no
    # longer leaves an exchange for Spark to reuse across consumers.
    arr = shingle_arrays(docs, n).localCheckpoint(eager=False)
    return _verify_candidates(candidates, arr, threshold)


@query(
    "dedup_near_minhash",
    f"""
    WITH {_JACCARD_PAIRS_CTE}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, oracle-checked against exact Jaccard
    (inverted-index form, `_SH_IDX_CTES`). The oracle is valid because the emitted set IS the
    exact set on this data: LSH candidates are exact-verified (never a
    false positive), and banding recall is measured 1.0 at sf0.001 /
    sf0.01 / sf0.1 with the deterministic xxhash64 seed family
    (k={MINHASH_K}, bands={MINHASH_BANDS}: P(miss) at the j=0.5
    threshold boundary is (1-0.25)^16 ≈ 1%% per pair, and no boundary
    pair in the fixed testdata is missed — verified empirically, and
    `minhash_recall_report` re-asserts recall/fp flags every run).
    tests/test_dedup.py additionally pins LSH==exact set equality."""
    return minhash_lsh_pairs(spread(load_table(spark, "documents", sf_dir)))


# ---------------------------------------------------------------------------
# 3b. SimHash
# ---------------------------------------------------------------------------
def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """64-bit SimHash per doc, emitted as {SIMHASH_CHUNKS} 16-bit chunk
    columns c0..c3: bit j of the sketch is the sign of
    Σ_tokens (±1 per token's hash bit j).

    The per-token hash is md5 (bit-identical across engines, like
    `fingerprint`), with bit j read from hex nibble j//4 — so the whole
    sketch is portable and a DuckDB oracle can replicate it exactly,
    unlike the xxhash64 family (engine-internal).

    Spark-side spelling (optimization r11, guide §1.2 per-task work —
    the oracle keeps the original nibble spelling, results provably
    identical): the 16 hex nibbles are parsed with TWO conv() calls (8
    hex chars -> one int64 each, va = nibbles 0-7, vb = nibbles 8-15;
    conv parses big-endian, so nibble k sits at bit 4*(7-k) of its
    word), and each sign sum becomes a shiftright-and-mask bit count —
    b_j = Σ(±1) = 2*Σ bit_j - n_tokens, all exact int64, so the sign
    test b_j > 0 is spelled 2*s_j > n. The r1-r10 form ran 16
    instr(substring(hex)) string scans plus 64 CASE/floor-div/modulo
    sums per token (~64 M interpreted-ish expression evaluations at
    sf0.1 — the whole query's hot spot, measured 3.3-3.5 s); integer
    shifts codegen to single instructions. Plan shape is unchanged: one
    explode, one groupBy with map-side partials, one shuffle of
    (doc_id, 64 ints)."""
    if bits != 64:
        raise ValueError(f"simhash bits must be 64 (two-word nibble parse), got {bits}")
    # conv(hex, 16, 10) returns a decimal STRING; 8 hex chars <= 2^32-1
    # always fits bigint. md5() is CSE'd by codegen across the two refs.
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).select(
        "doc_id",
        F.expr("CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT)").alias("va"),
        F.expr("CAST(conv(substring(md5(tok), 9, 8), 16, 10) AS BIGINT)").alias("vb"),
    )

    def _bit(j: int) -> str:
        k, s = j // 4, j % 4
        word = "va" if k < 8 else "vb"
        return f"(shiftright({word}, {4 * (7 - (k % 8)) + s}) & 1)"

    sums = [
        F.sum(F.expr(_bit(j))).alias(f"s{j}") for j in range(bits)
    ] + [F.count(F.lit(1)).alias("nt")]
    agg = tok.groupBy("doc_id").agg(*sums)
    width = bits // SIMHASH_CHUNKS
    # b_j = 2*s_j - nt; b_j > 0 <=> 2*s_j > nt (exact integers).
    chunk_exprs = [
        F.expr(
            " + ".join(
                f"(CASE WHEN 2 * s{j} > nt THEN {1 << (j - c * width)} ELSE 0 END)"
                for j in range(c * width, (c + 1) * width)
            )
        ).cast("int").alias(f"c{c}")
        for c in range(SIMHASH_CHUNKS)
    ]
    return agg.select("doc_id", *chunk_exprs)


def simhash_pairs(docs: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Blocking by pigeonhole: the sketch is already stored as
    max_hamming+1 chunks; a pair within distance d <= max_hamming must
    agree on >= 1 chunk, so an equi-join per chunk finds ALL of them
    (guaranteed, not probabilistic) — no all-pairs scan. The chunks
    double as both join keys and the hamming computation inputs."""
    if max_hamming != SIMHASH_MAX_HAMMING:
        raise ValueError(f"max_hamming must be {SIMHASH_MAX_HAMMING} (sketch chunking), got {max_hamming}")
    sk = simhash(docs)
    cols = [f"c{c}" for c in range(SIMHASH_CHUNKS)]
    ex = sk.select(
        "doc_id",
        *cols,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("cid"), F.col(f"c{c}").alias("cv"))
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", *cols, F.col("ck.cid").alias("cid"), F.col("ck.cv").alias("cv"))
    a, b = ex.alias("a"), ex.alias("b")
    ham = sum(
        F.bit_count(F.col(f"a.{c}").bitwiseXOR(F.col(f"b.{c}"))) for c in cols
    )
    return (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _simhash_oracle() -> str:
    """DuckDB replica of the md5-nibble simhash: identical per-token
    bits, identical sign sums, but brute-force all-pairs hamming (the
    oracle runs at sf0.01 where 500 docs -> 125k pairs; Spark keeps the
    pigeonhole blocking, which is exact, so the sets must be equal)."""
    nibs = ",\n             ".join(
        f"instr('0123456789abcdef', substring(h, {k + 1}, 1)) - 1 AS n{k}"
        for k in range(SIMHASH_BITS // 4)
    )
    sums = ",\n             ".join(
        f"sum(CASE WHEN CAST(floor(n{j // 4} / {1 << (j % 4)}) AS INT) % 2 = 1"
        f" THEN 1 ELSE -1 END) AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    ham = " + ".join(
        f"(CASE WHEN (a.b{j} > 0) <> (b.b{j} > 0) THEN 1 ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents
    ),
    nib AS (SELECT doc_id,
             {nibs}
            FROM tok),
    sums AS (SELECT doc_id,
             {sums}
            FROM nib GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({ham} AS INT) AS hamming
    FROM sums a JOIN sums b ON a.doc_id < b.doc_id
    WHERE {ham} <= {SIMHASH_MAX_HAMMING}
    """


@query("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — now fully oracle-checked (upgraded from
    rows-only): the md5-nibble sketch is engine-portable, and pigeonhole
    blocking over 4 chunks is EXACT for hamming <= 3, so Spark's blocked
    pair set provably equals the oracle's all-pairs set — no recall
    caveat, unlike the minhash oracle's measured-recall argument."""
    return simhash_pairs(spread(load_table(spark, "documents", sf_dir)))


# ---------------------------------------------------------------------------
# 4. Duplicate-cluster assignment (connected components over the pair graph)
# ---------------------------------------------------------------------------
def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 50) -> DataFrame:
    """(node, comp) where comp = min node id reachable in the undirected
    graph — iterative min-label propagation, one hop per round.

    Driver loop of DataFrame joins: converges in O(graph diameter) rounds
    (dup clusters are shallow — near-dup graphs are cliques-ish, diameter
    2-3). Each round is one shuffle join + groupBy min. Rounds are
    localCheckpoint'ed so the lineage (and thus the plan) stays O(1)
    instead of growing by two joins per round — without it, round N
    re-executes rounds 1..N-1.
    """
    sym = edges.selectExpr(f"{src} AS node", f"{dst} AS nbr").unionAll(
        edges.selectExpr(f"{dst} AS node", f"{src} AS nbr")
    )
    # Materialize the edge list once — every round joins against it, and
    # without this each round would re-run the (possibly expensive)
    # pair-generation pipeline that produced `edges`.
    sym = sym.localCheckpoint(eager=False)
    # Fused init + first hop: label(node) = min(node, min(nbr)) is ONE
    # shuffle — replaces the separate distinct-node round plus a join.
    labels = sym.groupBy("node").agg(
        F.least(F.col("node"), F.min("nbr")).alias("comp")
    )
    labels = labels.localCheckpoint(eager=False)
    # Min-propagation is monotone (labels only decrease), so the sum of
    # labels is a fixpoint witness: unchanged sum == converged. One cheap
    # aggregate per round instead of a join-based diff.
    prev_sum = labels.agg(F.sum("comp")).first()[0]
    for _ in range(max_iter):
        # Hop: neighbor-min propagation (one edge of reach).
        hop = (
            sym.join(labels, "node")
            .select(F.col("nbr").alias("node"), "comp")
            .unionAll(labels)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # Jump: pointer-doubling comp <- comp(comp). Every comp value is
        # itself a node id (min-reachable-so-far), so the self-join is
        # total; reach doubles per round => O(log diameter) rounds
        # instead of O(diameter). Per-round cost: 2 shuffles instead of
        # 1, but each round replaces two — and the fixed per-round price
        # (checkpoint + fixpoint aggregate + scheduling) halves.
        left, right = hop.alias("l"), hop.alias("r")
        jumped = left.join(right, F.col("l.comp") == F.col("r.node")).select(
            F.col("l.node").alias("node"), F.col("r.comp").alias("comp")
        )
        labels = jumped.localCheckpoint(eager=False)
        cur_sum = labels.agg(F.sum("comp")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


_CLUSTER_ORACLE = f"""
    WITH {_JACCARD_PAIRS_CTE},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT a AS node, a AS m FROM edges
      UNION
      SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node, min(m) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """


@query("dedup_cluster_assign", "WITH RECURSIVE" + _CLUSTER_ORACLE.split("WITH", 1)[1])
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document mapped to its duplicate-cluster id (min doc_id of
    its near-dup component; itself when unique). The canonical-keep rule
    of a crawl dedup pass: keep rows where doc_id == cluster_id.

    Oracle: DuckDB recursive CTE computes the same transitive closure."""
    docs = spread(load_table(spark, "documents", sf_dir))
    pairs = dup_pairs(spark, sf_dir)
    comp = connected_components(pairs, "doc_a", "doc_b")
    return docs.select("doc_id").join(
        comp, docs.doc_id == comp.node, "left"
    ).select(
        "doc_id", F.coalesce(F.col("comp"), F.col("doc_id")).alias("cluster_id")
    )


def dupgraph_build(spark: SparkSession, sf_dir: str, out_dir: str | None = None) -> str:
    """Once-per-snapshot materialization of the near-dup pair graph —
    the build half of a build/probe split, same pattern as ivf_build /
    lsh_build / dpp_build: pair GENERATION (the inverted-index Jaccard
    join) runs once per corpus snapshot, and every graph-analytics
    probe (degree, triangles, PageRank, connected components,
    keep-canonical) reads the materialized edge list. That is exactly
    how a production crawl pipeline runs it: the dup graph is an
    artifact of the dedup pass, not something each downstream query
    recomputes. dedup_ngram_jaccard itself still computes from scratch
    (it IS the generation operator); every consumer's ORACLE also still
    recomputes from raw text, so the driver compare proves build+probe
    end-to-end. Published through `sources.artifacts.publish`, so readers
    never see a half-built graph."""
    import os

    docs = spread(load_table(spark, "documents", sf_dir))

    def write(tmp: str) -> None:
        ngram_jaccard_pairs(docs).write.mode("overwrite").parquet(
            os.path.join(tmp, "pairs")
        )

    return publish(
        out_dir or artifact_dir("dupgraph", sf_dir), sf_dir, ("documents",), write
    )


def dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) from the materialized dup graph,
    building it lazily on first use (like the ANN indexes) and
    REBUILDING when the source corpus fingerprint changed (the driver
    regenerates testdata between rounds — a stale edge list would feed
    every downstream graph probe)."""
    import os

    gdir = artifact_dir("dupgraph", sf_dir)
    if not current(gdir, sf_dir, ("documents",)):
        dupgraph_build(spark, sf_dir, gdir)
    return spark.read.parquet(os.path.join(gdir, "pairs"))


OVERLAP_N = 4  # tokens per cross-source overlap shingle


@query(
    "source_overlap_matrix",
    f"""
    WITH sh AS (
      SELECT DISTINCT source,
             unnest(list_distinct(list_transform(range(len(tk) - {OVERLAP_N - 1}),
                 i -> concat_ws(' ', tk[i+1], tk[i+2], tk[i+3], tk[i+4])))) AS shingle
      FROM (SELECT source, string_split(text, ' ') AS tk FROM documents)
      WHERE len(tk) >= {OVERLAP_N}),
    sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
    pair AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT p.source_a, p.source_b, p.n_shared,
           round(p.n_shared::DOUBLE / least(za.n, zb.n), 4) AS overlap
    FROM pair p
    JOIN sz za ON za.source = p.source_a
    JOIN sz zb ON zb.source = p.source_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE content overlap matrix: for every source pair, how
    many distinct {OVERLAP_N}-gram shingles they share and the overlap
    coefficient |A∩B| / min(|A|,|B|) — the "which feeds mirror each
    other" observability query that decides whether two crawls should be
    deduped jointly before mixing.

    Scale shape: ONE wide shuffle total. Instead of the earlier
    shingle-equality SELF-JOIN (which ran the whole shingle pipeline
    twice and shuffled both copies), the distinct source set per
    shingle is built with one map-side-deduped collect_set, and the
    source PAIRS are expanded JVM-side with higher-order array
    functions — fan-out per shingle is C(k,2) where k <= n_sources
    (hundreds at most, never documents). Output is n_sources² rows
    max: tiny at any SF."""
    d = spread(load_table(spark, "documents", sf_dir))
    toks = tokens(F.col("text"))
    base = d.select("source", toks.alias("tk")).filter(F.size("tk") >= OVERLAP_N)
    ex = base.select(
        "source",
        "tk",
        F.explode(F.expr(f"sequence(1, size(tk) - {OVERLAP_N - 1})")).alias("i"),
    )
    sh = ex.select(
        "source", F.expr(f"array_join(slice(tk, i, {OVERLAP_N}), ' ')").alias("shingle")
    )
    per_sh = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    )
    sz = (
        per_sh.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pair_structs = F.expr(
        "flatten(transform(srcs, (x, i) ->"
        " transform(slice(srcs, i + 2, size(srcs)), y ->"
        " struct(x AS source_a, y AS source_b))))"
    )
    pair = (
        per_sh.filter(F.size("srcs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.source_a").alias("source_a"), F.col("p.source_b").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    za = sz.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    zb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        pair.join(F.broadcast(za), "source_a")
        .join(F.broadcast(zb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.least("na", "nb"), 4
            ).alias("overlap"),
        )
    )


# ---------------------------------------------------------------------------
# 5. Containment (asymmetric near-dup: A mostly inside B) + edit distance
# ---------------------------------------------------------------------------
CONTAIN_THRESHOLD = 0.6


@query(
    "shingle_containment",
    f"""
    WITH {_SH_IDX_CTES},
    pairs AS (
      SELECT doc_a AS da, doc_b AS db, n_common,
             sa.sz AS sz_a, sb.sz AS sz_b
      FROM com JOIN sz sa ON sa.doc_id = com.doc_a
               JOIN sz sb ON sb.doc_id = com.doc_b
    )
    SELECT da AS doc_inner, db AS doc_outer,
           round(n_common / sz_a, 4) AS containment
    FROM pairs WHERE n_common / sz_a >= {CONTAIN_THRESHOLD}
    UNION ALL
    SELECT db, da, round(n_common / sz_b, 4)
    FROM pairs WHERE n_common / sz_b >= {CONTAIN_THRESHOLD}
    """,
)
def shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment pairs: C(A,B) = |A∩B| / |A| >= t means most
    of A's shingles appear in B — the ASYMMETRIC near-dup relation
    Jaccard misses (a paragraph quoted inside a long page scores low
    Jaccard but containment ~1; the canonical sub-document-dup case in
    crawl curation). Same hashed inverted-index join as
    ngram_jaccard_pairs — |A∩B| falls out of one count per colliding
    pair, each UNORDERED pair scored once and emitted in 0/1/2
    directions — then exact string-array verify of survivors. Cost is
    the same Σ df² as the Jaccard path; at boilerplate scale swap in the
    prefix-filtered index (containment admits the same rarest-shingle
    prefix bound on the CONTAINED side)."""
    docs = spread(load_table(spark, "documents", sf_dir))
    arr = shingle_arrays(docs, NGRAM_N).localCheckpoint(eager=False)
    # hashed counts are a SUPERSET under any monotone-in-overlap
    # predicate (see _hashed_candidate_counts) — exact verify follows
    cand = (
        _hashed_candidate_counts(arr)
        .filter(
            (F.col("n_common") / F.col("sz_a") >= CONTAIN_THRESHOLD)
            | (F.col("n_common") / F.col("sz_b") >= CONTAIN_THRESHOLD)
        )
        .select("doc_a", "doc_b")
    )
    exact = _exact_pair_stats(cand, arr)
    # filter on the RAW ratio (matching the oracle's WHERE) and round
    # only for output — filtering the rounded value would admit pairs in
    # [t - 5e-5, t) that the oracle rejects
    fwd = exact.filter(
        F.col("n_common") / F.col("sz_a") >= CONTAIN_THRESHOLD
    ).select(
        F.col("doc_a").alias("doc_inner"),
        F.col("doc_b").alias("doc_outer"),
        F.round(F.col("n_common") / F.col("sz_a"), 4).alias("containment"),
    )
    rev = exact.filter(
        F.col("n_common") / F.col("sz_b") >= CONTAIN_THRESHOLD
    ).select(
        F.col("doc_b").alias("doc_inner"),
        F.col("doc_a").alias("doc_outer"),
        F.round(F.col("n_common") / F.col("sz_b"), 4).alias("containment"),
    )
    return fwd.unionAll(rev)


EDIT_PREFIX = 80     # chars of text compared
EDIT_MAX_D = 20      # max edit distance emitted
EDIT_LEN_TOL = 10    # |n_chars delta| block tolerance
EDIT_BAND = 20       # length-band width; EDIT_LEN_TOL <= EDIT_BAND so
                     # qualifying pairs sit in the same or adjacent band


@query(
    "edit_distance_pairs",
    f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(substr(a.text, 1, {EDIT_PREFIX}),
                       substr(b.text, 1, {EDIT_PREFIX})) AS edit_dist
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= {EDIT_LEN_TOL}
    WHERE levenshtein(substr(a.text, 1, {EDIT_PREFIX}),
                      substr(b.text, 1, {EDIT_PREFIX})) <= {EDIT_MAX_D}
    """,
)
def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup pairs, blocked so the O(len²)-per-pair DP
    never runs on an all-pairs product: candidates must share lang AND
    sit within {EDIT_LEN_TOL} chars of each other — expressed as an
    EQUI-join on (lang, length-band): each left row probes its own band
    and both neighbors (3 keys), which exactly covers |Δlen| <= band
    width with no range join and no duplicate candidates (a pair meets
    at precisely one probe key, b's band). Survivors run the bounded
    3-arg levenshtein — the threshold arg makes the DP O(d·len), and
    ≈all non-dup pairs exit early. At crawl scale the band join keys the
    shuffle, Σ band² replaces n²."""
    docs = spread(load_table(spark, "documents", sf_dir)).select(
        "doc_id", "lang", "n_chars", F.substring("text", 1, EDIT_PREFIX).alias("head")
    )
    band = (F.col("n_chars") / EDIT_BAND).cast("int")
    probe = docs.select(
        "*",
        F.explode(
            F.array(band - 1, band, band + 1)
        ).alias("probe_band"),
    )
    target = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("n_chars").alias("n_chars_b"),
        F.col("head").alias("head_b"),
        band.alias("band_b"),
    )
    cand = probe.join(
        target,
        (F.col("lang") == F.col("lang_b"))
        & (F.col("probe_band") == F.col("band_b"))
        & (F.col("doc_id") < F.col("doc_b")),
    ).filter(F.abs(F.col("n_chars") - F.col("n_chars_b")) <= EDIT_LEN_TOL)
    d = F.levenshtein(F.col("head"), F.col("head_b"), EDIT_MAX_D)
    return (
        cand.withColumn("edit_dist", d)
        .filter(F.col("edit_dist") >= 0)  # 3-arg form returns -1 past the bound
        .select(F.col("doc_id").alias("doc_a"), "doc_b", "edit_dist")
    )


@query(
    "dup_graph_degree",
    f"""
    WITH {_JACCARD_PAIRS_CTE},
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT doc_a AS node FROM pairs UNION ALL SELECT doc_b FROM pairs)
      GROUP BY node
    )
    SELECT degree, count(*) AS n_docs
    FROM deg GROUP BY degree
    """,
)
def dup_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup pair graph — the shape
    diagnostic run BEFORE connected components: a heavy tail here means
    boilerplate hubs (one template matching thousands of pages) that
    will chain unrelated docs into one giant component; the remediation
    is dropping hot shingles (the prefix-filter index) or capping
    degree. Cost beyond the pair generation is two tiny aggregates;
    the pair pipeline is the same inverted-index join as
    dedup_ngram_jaccard."""
    pairs = dup_pairs(spark, sf_dir)
    nodes = pairs.select(F.col("doc_a").alias("node")).unionAll(
        pairs.select(F.col("doc_b").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


_KEEP_CANONICAL_ORACLE = (
    "WITH RECURSIVE" + _CLUSTER_ORACLE.split("WITH", 1)[1].rsplit("SELECT", 1)[0]
    + """
    SELECT d.doc_id, d.source, d.lang, d.n_chars
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    WHERE coalesce(c.cluster_id, d.doc_id) = d.doc_id
    """
)


@query("dedup_pipeline_keep_canonical", _KEEP_CANONICAL_ORACLE)
def dedup_pipeline_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dedup WRITE path end-to-end: pair generation
    (inverted-index Jaccard) → connected components → keep exactly one
    canonical doc per duplicate cluster (min doc_id — a deterministic
    rule; production swaps in quality-ranked keep). Output is the
    cleaned corpus a crawl round actually persists. Composes the same
    audited stages as dedup_cluster_assign, plus one broadcast-size
    semi-filter: only CLUSTERED doc ids (a tiny fraction of the corpus)
    join back, every unclustered doc passes untouched — so the final
    filter costs one scan, not a shuffle of the corpus."""
    docs = spread(load_table(spark, "documents", sf_dir))
    pairs = dup_pairs(spark, sf_dir)
    comp = connected_components(pairs, "doc_a", "doc_b")
    # non-canonical members: clustered nodes whose comp != themselves
    drop = comp.filter(F.col("comp") != F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(drop, "doc_id", "left_anti").select(
        "doc_id", "source", "lang", "n_chars"
    )


@query(
    "dup_graph_triangles",
    f"""
    WITH {_JACCARD_PAIRS_CTE},
    uv AS (SELECT doc_a AS u, doc_b AS v FROM pairs)
    SELECT count(*) AS n_triangles FROM uv e1
    JOIN uv e2 ON e2.u = e1.u AND e2.v > e1.v
    JOIN uv e3 ON e3.u = e1.v AND e3.v = e2.v
    """,
)
def dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the near-dup graph — the clustering-coefficient
    numerator that separates template FAMILIES (dense, triangle-rich
    clusters: true dup groups) from hub CHAINS (boilerplate shingles
    linking unrelated docs: triangle-poor stars). The join is the
    node-iterator form on ID-ORIENTED edges (u < v, from the pair
    generator): wedges join on the low endpoint, the closing edge joins
    on (v1, v2) — each a plain equi-shuffle. At crawl scale the
    orientation must switch to DEGREE ordering (low-degree endpoint
    first) so a hub's wedge count is bounded by its low-degree
    neighbors, not its own degree² — same plan, one extra degree join;
    ID orientation is enough here because `dup_graph_degree` gates hubs
    upstream."""
    pairs = dup_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    wedges = e1.join(
        e2,
        (F.col("e2.u") == F.col("e1.u")) & (F.col("e2.v") > F.col("e1.v")),
    ).select(F.col("e1.v").alias("w1"), F.col("e2.v").alias("w2"))
    closed = wedges.join(
        e3,
        (F.col("e3.u") == F.col("w1")) & (F.col("e3.v") == F.col("w2")),
        "inner",
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


@query(
    "edit_distance_clusters",
    f"""
    WITH RECURSIVE pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM documents a JOIN documents b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
       AND abs(a.n_chars - b.n_chars) <= {EDIT_LEN_TOL}
      WHERE levenshtein(substr(a.text, 1, {EDIT_PREFIX}),
                        substr(b.text, 1, {EDIT_PREFIX})) <= {EDIT_MAX_D}
    ),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT a AS node, a AS m FROM edges
      UNION
      SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node, min(m) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
)
def edit_distance_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters under the EDIT-DISTANCE relation — the same
    connected_components engine as dedup_cluster_assign running on a
    different pair generator (edit_distance_pairs' banded levenshtein
    instead of shingle Jaccard), demonstrating the CC operator is
    generator-agnostic: any near-dup relation that emits (a, b) pairs
    plugs in. Near-identical short docs (typo-level edits) chain into
    one cluster; every untouched doc is its own singleton."""
    docs = spread(load_table(spark, "documents", sf_dir))
    # the @query decorator registers and returns the function unchanged,
    # so the pair generator is directly callable
    pairs = edit_distance_pairs(spark, sf_dir)
    comp = connected_components(pairs.select("doc_a", "doc_b"), "doc_a", "doc_b")
    return docs.select("doc_id").join(
        comp, docs.doc_id == comp.node, "left"
    ).select(
        "doc_id", F.coalesce(F.col("comp"), F.col("doc_id")).alias("cluster_id")
    )


@query(
    "minhash_recall_report",
    f"""
    WITH {_JACCARD_PAIRS_CTE}
    SELECT count(*) AS n_true_pairs,
           round(avg(jaccard), 4) AS mean_true_jaccard,
           TRUE AS recall_ok, TRUE AS no_false_positives
    FROM pairs
    """,
)
def minhash_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH quality contract as a driver-checkable row (the
    pattern of ann_recall_report / pca_variance_report): the TRUE
    near-dup pair count and mean Jaccard come from the exact
    inverted-index pairs and are recomputed independently by the
    oracle's string-shingle index CTE (genuine cross-engine content); the Spark
    side additionally joins the MinHash-LSH pairs against that truth and
    asserts (a) recall >= 0.9 — banding theory gives P(candidate) =
    1-(1-j^2)^16 >= 0.996 at j = {JACCARD_THRESHOLD} so a miss means
    broken signatures, and (b) ZERO false positives — emitted pairs are
    exact-verified, so any FP means the verification join regressed.
    Either failure turns the driver row red. Costs one exact pair pass +
    one LSH pass over the same shingle index."""
    docs = spread(load_table(spark, "documents", sf_dir))
    t = dup_pairs(spark, sf_dir).withColumn("is_true", F.lit(1))
    m = (
        minhash_lsh_pairs(docs)
        .select("doc_a", "doc_b")
        .withColumn("is_mh", F.lit(1))
    )
    j = t.join(m, ["doc_a", "doc_b"], "full_outer")
    n_true = F.sum(F.coalesce(F.col("is_true"), F.lit(0)))
    n_hit = F.sum(
        F.when(F.col("is_true").isNotNull() & F.col("is_mh").isNotNull(), 1).otherwise(0)
    )
    n_fp = F.sum(
        F.when(F.col("is_true").isNull() & F.col("is_mh").isNotNull(), 1).otherwise(0)
    )
    return j.agg(
        n_true.alias("n_true_pairs"),
        F.round(F.avg("jaccard"), 4).alias("mean_true_jaccard"),
        F.when(n_true == 0, F.lit(True))
        .otherwise(n_hit / n_true >= 0.9)
        .alias("recall_ok"),
        (n_fp == F.lit(0)).alias("no_false_positives"),
    )


PR_DAMP = 0.85
PR_ITERS = 3

# reuse the shared shingle->pairs CTE prefix (toks, sh, pairs) verbatim so
# the PageRank oracle runs on the IDENTICAL graph as the CC/degree oracles
_PR_PREFIX = _CLUSTER_ORACLE.split("edges AS")[0]

_PR_ITER_TMPL = """
    r{i} AS (
      SELECT e.dst AS node,
             round(0.15 / (SELECT nd FROM nv)
                   + {damp} * sum(r.r / d.deg), 9) AS r
      FROM edges e
      JOIN r{prev} r ON r.node = e.src
      JOIN deg d     ON d.node = e.src
      GROUP BY e.dst),"""

_PR_ORACLE = (
    _PR_PREFIX
    + """edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
    nv AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM deg),
    r0 AS (SELECT node, round(1.0 / (SELECT nd FROM nv), 9) AS r FROM deg),"""
    + "".join(
        _PR_ITER_TMPL.format(i=i, prev=i - 1, damp=PR_DAMP)
        for i in range(1, PR_ITERS + 1)
    ).rstrip(",")
    + f"""
    SELECT node AS doc_id, r AS pagerank FROM r{PR_ITERS}
    """
)


@query("dup_graph_pagerank", _PR_ORACLE)
def dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the near-dup pair graph — ranks the
    'hub' documents (templates matching many pages) that degree counts
    only hint at. The iterative-join shape is the general message-
    passing template (label propagation, HITS, belief prop): per
    iteration ONE shuffle (edges ⋈ ranks on src, re-agg on dst); the
    edge list is localCheckpointed once so the shingle pipeline never
    re-runs, and rank state is one row per clustered node. At 100 TB
    the iteration count is fixed (not until-convergence), so the plan
    is {PR_ITERS} bounded shuffles, and the rank table stays
    partitioned by node between iterations.

    Symmetric graph, min degree 1 → no dangling-mass term needed.
    Cross-engine FP parity: ranks are quantized to the 1e-9 grid each
    iteration (the ewma_smooth trick), so both engines feed bit-
    identical state into the next iteration and the sum-order noise
    (~1e-15) can't accumulate across iterations."""
    pairs = dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = float(deg.count())  # bounded driver scalar: one number, like text.py's corpus count
    ranks = deg.select(
        F.col("src").alias("node"), F.round(F.lit(1.0) / F.lit(n), 9).alias("r")
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .select(F.col("dst"), (F.col("r") / F.col("deg")).alias("c"))
        )
        ranks = contrib.groupBy("dst").agg(
            F.round(
                F.lit(1 - PR_DAMP) / F.lit(n) + F.lit(PR_DAMP) * F.sum("c"), 9
            ).alias("r")
        ).select(F.col("dst").alias("node"), "r")
    return ranks.select(F.col("node").alias("doc_id"), F.col("r").alias("pagerank"))


@query(
    "dedup_survivorship_merge",
    """
    WITH fp AS (
      SELECT doc_id, text, lang, source, n_chars,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
      FROM documents)
    SELECT fp,
           count(*)                          AS n_members,
           min(doc_id)                       AS golden_id,
           max(n_chars)                      AS best_n_chars,
           arg_min(lang, doc_id)             AS lang,
           arg_min(source, doc_id)           AS source
    FROM fp
    GROUP BY fp
    """,
)
def dedup_survivorship_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record construction (survivorship): exact-dup clusters
    merge into ONE record whose fields come from DIFFERENT members by
    per-field rules — smallest id as the stable golden key, the LONGEST
    char count (best-content rule), first-seen lang/source (min-doc_id
    rule). This is the master-data-management step past
    dedup_pipeline_keep_canonical, which picks one whole ROW; real
    curation merges field-wise (keep the longest text but the earliest
    provenance).

    Shape: ONE hash aggregate on the 128-bit fingerprint; every
    survivorship rule is an associative aggregate (min/max/min_by), so
    the merge is fully map-side combinable and skew-free — the same
    cost as dedup_exact regardless of how the rules mix. min_by's
    deterministic tie-break is doc_id, mirrored by DuckDB's arg_min."""
    docs = spread(load_table(spark, "documents", sf_dir))
    d = docs.select(
        "doc_id", "lang", "source", "n_chars", fingerprint(F.col("text")).alias("fp")
    )
    return d.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("doc_id").alias("golden_id"),
        F.max("n_chars").alias("best_n_chars"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.min_by("source", "doc_id").alias("source"),
    )


BFS_MAX_HOPS = 3
BFS_SEED_MOD = 97


@query(
    "dup_graph_bfs_depth",
    f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTE},
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs),
    walk AS (
      SELECT doc_id AS node, 0 AS dist FROM documents
      WHERE doc_id % {BFS_SEED_MOD} = 0
      UNION ALL
      SELECT e.d, w.dist + 1
      FROM walk w JOIN edges e ON e.s = w.node
      WHERE w.dist < {BFS_MAX_HOPS})
    SELECT node, CAST(min(dist) AS INTEGER) AS dist
    FROM walk GROUP BY node
    """,
)
def dup_graph_bfs_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS over the near-dup graph: min hop distance from
    a seed set (known-bad documents) within {BFS_MAX_HOPS} hops — the
    contamination-spread / guilt-by-association query (how far does a
    flagged template's dup neighborhood reach?). Completes the graph
    battery: degree (shape), triangles (density), CC (membership),
    PageRank (centrality), BFS (reachability).

    Shape: frontier-expansion BFS — per hop, ONE join of the frontier
    against the materialized symmetric edge list, an anti-join against
    visited, `localCheckpoint` to cut the growing lineage (the CC/
    PageRank discipline). Visited-set semantics mean each node's FIRST
    visit is its min distance, so no per-path explosion — contrast the
    oracle's recursive CTE, which walks every path and min-aggregates;
    the frontier form is the one that scales. Fixed hop budget keeps
    the driver loop bounded at any data size."""
    docs = load_table(spark, "documents", sf_dir)
    p = dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = p.select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    ).unionAll(p.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d")))
    edges = edges.localCheckpoint(eager=False)
    dist = (
        docs.filter(F.col("doc_id") % BFS_SEED_MOD == 0)
        .select(F.col("doc_id").alias("node"))
        .withColumn("dist", F.lit(0))
    )
    frontier = dist.select("node")
    for k in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.s)
            .select(F.col("d").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(k))
            .localCheckpoint(eager=False)
        )
        dist = dist.unionAll(nxt)
        frontier = nxt.select("node")
    return dist.select("node", F.col("dist").cast("int").alias("dist"))


# ---------------------------------------------------------------------------
# 6. Sparse all-pairs cosine over TF-IDF shingle vectors
# ---------------------------------------------------------------------------
TFIDF_COS_THRESHOLD = 0.5


@query(
    "tfidf_cosine_pairs",
    f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= {NGRAM_N}
    ),
    sh AS (
      SELECT doc_id, unnest(list_transform(range(len(toks) - {NGRAM_N - 1}),
                 i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS t
      FROM base
    ),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM sh GROUP BY doc_id, t),
    dft AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    nd AS (SELECT count(*) AS n_docs FROM base),
    w AS (SELECT doc_id, t,
                 tf * ln(1.0 + (SELECT n_docs FROM nd) / CAST(df AS DOUBLE)) AS w
          FROM tf JOIN dft USING (t)),
    nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
    dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
             FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
    SELECT doc_a, doc_b, round(dot / (na.nrm * nb.nrm), 4) AS cosine
    FROM dots
    JOIN nrm na ON doc_a = na.doc_id
    JOIN nrm nb ON doc_b = nb.doc_id
    WHERE round(dot / (na.nrm * nb.nrm), 4) >= {TFIDF_COS_THRESHOLD}
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with TF-IDF cosine similarity >= threshold —
    the weighted complement to ``dedup_ngram_jaccard``'s set-based
    measure (Bayardo et al., "Scaling Up All Pairs Similarity Search"):
    terms are word {NGRAM_N}-grams, tf counts occurrences (not distinct),
    idf = ln(1 + N/df), cosine = <wa, wb> / (|wa||wb|).

    Scale shape: identical inverted-index self-join skeleton as
    ngram_jaccard — the dot product falls out of a sum aggregate over
    shared terms, so only (doc_id, term, weight) ships through the join
    and the cost is Σ_term df². On this corpus max shingle df is ~25 so
    the plain index is exact AND cheapest; at crawl scale the same two
    exact-preserving cuts apply as for jaccard: drop boilerplate-hot
    terms from the index (they carry near-zero idf weight, so a weight
    floor is the cosine-native prefix filter) and length/norm-band the
    candidates. The corpus-count scalar rides along as a broadcast 1-row
    crossJoin, never a driver collect; the df table joins by term — the
    same key as the self-join, so AQE coalesces the exchanges."""
    d = spread(load_table(spark, "documents", sf_dir))
    toks = tokens(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= NGRAM_N)
    # Terms are xxhash64(w1, w2, w3) FROM THE START (optimization r10):
    # the r1-r9 shape built every ~25 B trigram string, shuffled the
    # strings through the tf and df aggregations, and only then hashed
    # for the self-join. Hashing the three token columns directly skips
    # the string construction entirely and makes every downstream
    # shuffle key 8 B. Collision surface is the same documented trade as
    # before (P ~ |vocab|²/2^65, ~1e-11 here; idf-weighting makes any
    # collided term near-noise) — it merely moves from the join to the
    # tf count; oracle-hash equality at all driver scales pins that no
    # collision exists on this corpus.
    sh = base.select(
        "doc_id",
        "toks",
        F.explode(F.expr(f"sequence(1, size(toks) - {NGRAM_N - 1})")).alias("i"),
    ).select(
        "doc_id",
        F.expr("xxhash64(toks[i-1], toks[i], toks[i+1])").alias("t"),
    )
    tf = sh.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    dft = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    nd = base.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(dft, "t")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "t",
            (
                F.col("tf")
                * F.log(F.lit(1.0) + F.col("n_docs") / F.col("df").cast("double"))
            ).alias("w"),
        )
        # the weight index feeds FOUR consumers (norms twice via na/nb,
        # both self-join sides): materialize once or the whole
        # tokenize→tf→df pipeline re-executes per consumer
        .localCheckpoint(eager=False)
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(b, (F.col("a.t") == F.col("b.t")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    na, nb = nrm.alias("na"), nrm.alias("nb")
    cos = F.col("dot") / (F.col("na.nrm") * F.col("nb.nrm"))
    # membership gates on the ROUNDED cosine (both engines): the raw
    # dot-product sum is association-order dependent, so an unrounded
    # threshold compare could flip a boundary pair between engines —
    # the same round-before-compare convention as kmeans/bm25 ranking.
    return (
        dots.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .filter(F.round(cos, 4) >= TFIDF_COS_THRESHOLD)
        .select("doc_a", "doc_b", F.round(cos, 4).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# 7. Content-defined chunking (rolling-hash cut points) — storage-layer dedup
# ---------------------------------------------------------------------------
CDC_K = 5     # rolling char-gram width (same recipe as winnowing)
CDC_MOD = 16  # cut when gram-hash % MOD == 0 -> expected chunk ~MOD chars


@query(
    "cdc_chunk_dedup",
    f"""
    WITH norm AS (
      SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
      FROM documents),
    cuts AS (
      SELECT doc_id, t,
             list_prepend(1, list_filter(range(1, length(t) - {CDC_K} + 2),
                 i -> ('0x' || substr(md5(substring(t, i, {CDC_K})), 1, 8))::BIGINT
                      % {CDC_MOD} = 0 AND i > 1)) AS bs
      FROM norm WHERE length(t) >= {CDC_K}),
    withend AS (
      SELECT doc_id, t, list_append(bs, length(t) + 1) AS bs FROM cuts),
    chunks AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(bs)),
                 j -> substring(t, bs[j], bs[j+1] - bs[j]))) AS chunk
      FROM withend)
    SELECT md5(chunk) AS chunk_fp,
           min(length(chunk)) AS chunk_len,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occ
    FROM chunks
    GROUP BY chunk_fp
    HAVING count(DISTINCT doc_id) >= 2
    """,
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the rsync/LBFS/backup-storage
    trick): cut each document where a rolling k-gram hash ≡ 0 mod
    {CDC_MOD}, so chunk boundaries follow CONTENT, not offsets — an
    insertion shifts at most one chunk instead of re-aligning every
    fixed-size block (the failure mode of `doc_chunking`'s fixed
    windows for storage dedup). Emitted: chunks appearing in >= 2 docs
    — the shared spans a content-addressed store writes once.

    Scale shape: cut detection is the winnowing gram pipeline (position
    explode THEN hash per row — hashing inside a to-be-exploded array
    re-evaluates the transform per output row, measured ~40x slower on
    the winnow path); boundaries reassemble per doc with one lead()
    window keyed by doc_id; the dedup itself is a hash aggregate on the
    16-byte chunk fingerprint — only (fp, doc_id) shuffles, never chunk
    text. Same portable md5-prefix hash as winnowing, so the oracle
    replicates cut points exactly. Production refinement (documented,
    not modeled): min/max chunk-size clamps to bound the chunk-length
    tail."""
    from pyspark.sql import Window

    t = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    docs = spread(load_table(spark, "documents", sf_dir))
    norm = docs.select("doc_id", t.alias("t")).filter(F.length("t") >= CDC_K)
    ex = norm.select(
        "doc_id",
        "t",
        F.posexplode(F.expr(f"sequence(1, length(t) - {CDC_K} + 1)")).alias(
            "pos", "i"
        ),
    )
    # boundary rows carry OFFSETS ONLY — an earlier draft kept the full
    # text column on every boundary row, shipping one copy of the doc
    # per cut point through the lead() shuffle (O(len²/MOD) bytes per
    # doc; review finding). Text now rejoins ONCE per doc after the
    # span computation.
    cuts = ex.filter(
        (
            F.expr(
                f"cast(conv(substring(md5(substring(t, i, {CDC_K})), 1, 8), 16, 10) AS BIGINT)"
                f" % {CDC_MOD}"
            )
            == 0
        )
        & (F.col("i") > 1)
    ).select("doc_id", F.col("i").alias("b"))
    starts = norm.select("doc_id", F.lit(1).alias("b"))
    bounds = starts.unionAll(cuts)
    w = Window.partitionBy("doc_id").orderBy("b")
    spans = bounds.withColumn("nb", F.lead("b").over(w))
    chunks = spans.join(norm, "doc_id").select(
        "doc_id",
        F.expr("substring(t, b, coalesce(nb, length(t) + 1) - b)").alias("chunk"),
    )
    return (
        chunks.groupBy(F.md5("chunk").alias("chunk_fp"))
        .agg(
            F.min(F.length("chunk")).alias("chunk_len"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# Record linkage (Fellegi-Sunter scoring) — entity resolution ACROSS
# records, the probabilistic cousin of the exact/near dedup above
# ---------------------------------------------------------------------------
FS_BAL_BAND = 500.0
# log2(m/u)-style agreement / disagreement weights per comparison field
# (literature-conventional magnitudes; literals so both engines add the
# exact same doubles)
FS_W = {
    "name": (4.17, -3.25),
    "bal": (2.0, -1.5),
    "band": (1.2, -0.8),
}
FS_MATCH_T = 4.0


def _deletion_variants(col):
    """All ≤2-deletion variants of a length-5 string (SymSpell
    neighborhood): 1 original + 5 single + 10 double deletions = 16.
    ed(a,b) ≤ 2  ⟹  the neighborhoods intersect, so joining on a shared
    variant is a LOSSLESS candidate filter for the ≤2 comparator."""
    out = [col]
    for i in range(1, 6):
        out.append(F.concat(F.substring(col, 1, i - 1), F.substring(col, i + 1, 5)))
    for i in range(1, 6):
        for j in range(i + 1, 6):
            out.append(
                F.concat(
                    F.substring(col, 1, i - 1),
                    F.substring(col, i + 1, j - i - 1),
                    F.substring(col, j + 1, 5),
                )
            )
    return F.array(*out)



@query(
    "record_linkage_fs",
    f"""
    WITH b AS (
      SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal, c_name,
             CAST(floor(c_acctbal / {FS_BAL_BAND}) AS INT) AS bal_band
      FROM customer),
    scored AS (
      SELECT a.c_custkey AS cust_a, c.c_custkey AS cust_b,
             round(CAST(
               (CASE WHEN levenshtein(substr(a.c_name, 14), substr(c.c_name, 14)) <= 2
                     THEN {FS_W["name"][0]} ELSE {FS_W["name"][1]} END)
             + (CASE WHEN abs(a.c_acctbal - c.c_acctbal) < 100.0
                     THEN {FS_W["bal"][0]} ELSE {FS_W["bal"][1]} END)
             + (CASE WHEN a.bal_band = c.bal_band
                     THEN {FS_W["band"][0]} ELSE {FS_W["band"][1]} END) AS DOUBLE), 4) AS score
      FROM b a JOIN b c
        ON a.c_nationkey = c.c_nationkey
       AND a.c_mktsegment = c.c_mktsegment
       AND a.c_custkey < c.c_custkey)
    SELECT cust_a, cust_b, score,
           -- two-valued on purpose: the score >= 0 filter already
           -- excludes non-matches (see blocking precondition)
           CASE WHEN score >= {FS_MATCH_T} THEN 'match'
                ELSE 'possible' END AS match_class
    FROM scored
    WHERE score >= 0.0
    """,
)
def record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage scoring: field comparators
    (name-digit edit distance ≤2, balance within 100, same balance
    band) summed as agreement/disagreement log-weights and classified
    by threshold — the blocking -> comparators -> log-likelihood-sum ->
    match-class machinery production entity resolution runs.

    Scale design (the part that matters at 100 TB): a plain
    (nation, segment) block grows linearly with data, so in-block pairs
    grow QUADRATICALLY — measured 7.3x wall over 100x data before this
    plan. The weight structure makes the fix exact: the best score a
    pair can reach WITHOUT name agreement is
    name_dis + bal_agr + band_agr = -0.05 < 0, so every output row
    (score ≥ 0) has name edit distance ≤ 2 — and ed ≤ 2 pairs are
    EXACTLY what a SymSpell ≤2-deletion neighborhood join finds
    (16 variants per record, join on (nation, segment, variant),
    lossless). Candidates are high-cardinality-blocked (variant
    carries ~5 digits of entropy), deduped, then scored EXACTLY — the
    same block-then-verify contract as the near-dup family, with the
    brute-force oracle proving zero recall loss at sf0.01. Edit
    distances are exact ints in both engines; weights are shared
    literals, so the score grid is bit-identical. (substr(name, 14) =
    the last 5 digits of 'Customer#000012345'.)"""
    # blocking-completeness precondition (documented above): if the
    # weights ever change so a name-disagree pair can score >= 0, the
    # deletion-neighborhood block is no longer lossless
    assert FS_W["name"][1] + FS_W["bal"][0] + FS_W["band"][0] < 0.0

    # spread(): the customer parquet is a single row group, so without a
    # fan-out BOTH sides of the variant self-join run their 16-way
    # explode + hash partials on ONE task each (profiled r11: 9 tasks
    # total for the whole query) — the same single-row-group trap as
    # knn/winsorize in r10 (guide §6 scan parallelism).
    b = spread(load_table(spark, "customer", sf_dir)).select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        "c_acctbal",
        F.substring(F.col("c_name"), 14, 5).alias("digits"),
        F.floor(F.col("c_acctbal") / F.lit(FS_BAL_BAND)).cast("int").alias(
            "bal_band"
        ),
    )
    ex = b.withColumn("v", F.explode(_deletion_variants(F.col("digits"))))
    a, c = ex.alias("a"), ex.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.c_nationkey") == F.col("c.c_nationkey"))
            & (F.col("a.c_mktsegment") == F.col("c.c_mktsegment"))
            & (F.col("a.v") == F.col("c.v"))
            & (F.col("a.c_custkey") < F.col("c.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("cust_a"),
            F.col("c.c_custkey").alias("cust_b"),
            F.col("a.digits").alias("dig_a"),
            F.col("c.digits").alias("dig_b"),
            F.col("a.c_acctbal").alias("bal_a"),
            F.col("c.c_acctbal").alias("bal_b"),
            F.col("a.bal_band").alias("band_a"),
            F.col("c.bal_band").alias("band_b"),
        )
        # shared-variant multiplicity: one candidate row per pair
        .dropDuplicates(["cust_a", "cust_b"])
    )

    def w(agree, pair):
        return F.when(agree, F.lit(pair[0])).otherwise(F.lit(pair[1]))

    score = F.round(
        w(F.levenshtein(F.col("dig_a"), F.col("dig_b")) <= 2, FS_W["name"])
        + w(F.abs(F.col("bal_a") - F.col("bal_b")) < 100.0, FS_W["bal"])
        + w(F.col("band_a") == F.col("band_b"), FS_W["band"]),
        4,
    )
    return (
        cand.select("cust_a", "cust_b", score.alias("score"))
        .filter(F.col("score") >= 0.0)
        .withColumn(
            "match_class",
            F.when(F.col("score") >= FS_MATCH_T, "match").otherwise("possible"),
        )
    )


# ------------------------------------------------- graph_clustering_coeff

CC_TOPK = 10


@query(
    "graph_clustering_coeff",
    f"""
    WITH {_JACCARD_PAIRS_CTE},
    uv AS (SELECT doc_a AS u, doc_b AS v FROM pairs),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM uv UNION ALL SELECT v FROM uv)
      GROUP BY 1),
    tri AS (
      SELECT unnest([e1.u, e1.v, e2.v]) AS node
      FROM uv e1
      JOIN uv e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN uv e3 ON e3.u = e1.v AND e3.v = e2.v),
    tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM tri GROUP BY 1)
    SELECT deg.node, degree,
           COALESCE(n_tri, 0)       AS n_triangles,
           round(2.0 * COALESCE(n_tri, 0) / (degree * (degree - 1)), 6)
                                    AS local_cc
    FROM deg LEFT JOIN tn ON deg.node = tn.node
    WHERE degree >= 2
    ORDER BY degree DESC, deg.node
    LIMIT {CC_TOPK}
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient of the near-dup graph's top-{CC_TOPK}
    highest-degree nodes: cc(v) = 2*T(v) / (deg(v) * (deg(v)-1)) — the
    per-node refinement of `dup_graph_triangles`'s global count that
    tells template FAMILIES (cc -> 1: my duplicates duplicate each
    other) from boilerplate HUBS (cc -> 0: a shared footer stitching
    unrelated docs) — precisely the nodes a dedup run should treat
    differently (collapse families, ignore hub edges).

    Shape: the same node-iterator wedge join as dup_graph_triangles
    (each leg a plain equi-shuffle on one endpoint), but each closed
    triangle explodes to its THREE member nodes and collapses into a
    per-node count — no per-node neighborhood materialization. Degrees
    are one explode+count; the top-k is TakeOrderedAndProject with node
    tie-break. Same 100 TB caveat as the triangle count: switch edge
    orientation from id-order to degree-order so hub wedges are bounded
    by their low-degree endpoints."""
    pairs = dup_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    wedges = e1.join(
        e2,
        (F.col("e2.u") == F.col("e1.u")) & (F.col("e2.v") > F.col("e1.v")),
    ).select(
        F.col("e1.u").alias("a"), F.col("e1.v").alias("w1"), F.col("e2.v").alias("w2")
    )
    closed = wedges.join(
        e3,
        (F.col("e3.u") == F.col("w1")) & (F.col("e3.v") == F.col("w2")),
        "inner",
    )
    tn = (
        closed.select(
            F.explode(F.array(F.col("a"), F.col("w1"), F.col("w2"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.join(tn, "node", "left")
        .filter(F.col("degree") >= 2)
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_triangles"),
            F.round(
                2.0
                * F.coalesce(F.col("n_tri"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("local_cc"),
        )
        .orderBy(F.col("degree").desc(), "node")
        .limit(CC_TOPK)
    )
