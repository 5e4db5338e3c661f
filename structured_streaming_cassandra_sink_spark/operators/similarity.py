"""Similarity search over embeddings — brute-force top-k, LSH-bucketed ANN,
cosine near-dup pairs (north-star LLM-data ops).

Three shapes:
- ``sim_search_topk``: exact cosine top-k, query side broadcast. The
  baseline; at 100 TB this is ONE scan of the corpus per query batch
  (not per query) — queries ride along as a broadcast literal/table and
  the per-partition heap (window row_number) avoids a global sort.
- ``sim_search_ann_lsh``: random-hyperplane signatures bucket the corpus;
  probes touch only matching buckets. Linear-scan-free; probabilistic
  (recall pinned in tests vs brute force).
- ``dedup_embedding_cosine``: pairwise near-dup detection, blocked by
  label (the provided partition key) to avoid the all-pairs product.

All dot products are Catalyst higher-order functions in DOUBLE (see
functions/vectorfns.py) — reproducible vs the oracle and JVM-side. A
pandas-UDF batched-matmul variant exists for the genuinely compute-bound
case (the `udf_surface` query below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exactagg import (
    count_d_sql,
    fgrid_sql,
    hilo_sum_sql,
    qlong_sql,
    sum_d_sql,
    varn_sql,
)
from ..functions.vectorfns import as_double, dot, norm
from ..plans.registry import query
from ..sources import load_table, spread, table_rowcount
from ..sources.artifacts import artifact_dir, current, publish

N_QUERIES = 5      # vec_id < 5 are the probe vectors
TOP_K = 10
LSH_PLANES = 6     # bits per hash table (2^6 = 64 buckets)
LSH_TABLES = 4     # independent tables; candidates = union of bucket hits
COS_THRESHOLD = 0.4

# dedup_embedding_lsh regime constants (ADVICE r8: named, not magic).
# Demo regime (<= LSH_DEDUP_DEMO_MAX_N vectors): the registered
# driver-scale configuration — COS_THRESHOLD, fixed-4-bit signatures,
# candidate volume ~L(B+1)/2^B of all pairs (fine at 2k, quadratic at
# 200k). Production regime (above the cutoff): dedup-realistic
# threshold, occupancy held ~constant by B = log2(n/occupancy) →
# candidates linear in n. The cutoff sits where the demo regime's
# candidate volume (~1.25 * n^2/2 pairs) crosses ~15M comparisons —
# past that the demo config measurably grinds (r8 fifth-decade curve).
LSH_DEDUP_DEMO_MAX_N = 5000
LSH_DEDUP_DEMO_BITS = 4
LSH_DEDUP_TABLES = 4
LSH_DEDUP_PROD_THRESHOLD = 0.9
LSH_DEDUP_PROD_OCCUPANCY = 64


def _corpus_and_queries(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    emb = load_table(spark, "embeddings", sf_dir)
    # Only the CORPUS side gets spread(): the probe batch is N_QUERIES
    # rows that every consumer broadcasts or collects driver-side, so a
    # fan-out shuffle there is a wasted exchange per probe branch (r8 —
    # ann_recall_report carried one spread per branch, 15 exchanges
    # total for a 4-branch report).
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = spread(emb.filter(F.col("vec_id") >= N_QUERIES))
    return corpus, queries_df




@query(
    "sim_search_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {N_QUERIES}),
         sims AS (
           SELECT q.query_id, c.vec_id,
                  round(list_cosine_similarity(qvec::DOUBLE[], embedding::DOUBLE[]), 6) AS cos_sim
           FROM q, c)
    SELECT query_id, vec_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id) AS rnk
    FROM sims
    QUALIFY rnk <= {TOP_K}
    """,
)
def sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-{TOP_K} for {N_QUERIES} probe vectors.

    Plan shape: BroadcastNestedLoopJoin (queries are tiny) over one corpus
    scan, then a per-query window top-k. Ranking uses the ROUNDED cosine
    (6 dp) with vec_id tie-break so ordering is engine-portable."""
    corpus, queries_df = _corpus_and_queries(spark, sf_dir)
    # Norms computed ONCE per row (corpus-linear), not once per pair:
    # same expression tree as cosine() so values are bit-identical.
    c = corpus.select(
        "vec_id", as_double(F.col("embedding")).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    q = queries_df.select(
        "query_id", as_double(F.col("qvec")).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    sim = F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6)
    joined = c.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", sim.alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rnk")
    )


def hyperplane_signature(vec_col: str, planes: list[list[float]]):
    """Sign-bit signature: bit p = (vec . plane_p) >= 0. Planes are a
    deterministic driver-side constant (seeded numpy), shipped as
    literals — at scale they'd be a broadcast variable.

    Two deliberate shape choices, both measured:
    - the dot is a higher-order FOLD (unrolling tables x planes x dim
      literal terms OOMs codegen under a default-heap driver);
    - the whole signature is ONE SQL string handed to F.expr — building
      it from per-literal Column objects costs thousands of py4j round
      trips and dominated wall time as driver-side plan construction.
    """
    def plane_dot(p: list[float]) -> str:
        arr = ",".join(f"{x!r}D" for x in p)
        return (
            f"aggregate(zip_with(cast({vec_col} AS array<double>), array({arr}), "
            f"(a, b) -> a * b), 0D, (acc, x) -> acc + x)"
        )

    bits = " + ".join(
        f"IF({plane_dot(p)} >= 0, {1 << i}, 0)" for i, p in enumerate(planes)
    )
    return F.expr(bits)


def _planes(dim: int = 64, n: int = LSH_PLANES, table: int = 0) -> list[list[float]]:
    import numpy as np

    rng = np.random.default_rng(12345 + table)
    return rng.standard_normal((n, dim)).astype(float).tolist()


def with_hyperplane_sigs(df: DataFrame, vec_col: str, all_planes) -> DataFrame:
    """Add (t, sig) rows per input row — one row per hash table.

    Explode the TABLE ID, then pick that table's signature with a lazy
    CASE — exploding an inline array of all L signature structs makes
    Generate re-evaluate every signature per output row (L× waste; see
    operators/dedup.py shingle_rows for the same rule)."""
    ex = df.select(
        "*", F.explode(F.array(*[F.lit(t) for t in range(len(all_planes))])).alias("t")
    )
    sig = None
    for t, planes in enumerate(all_planes):
        s = hyperplane_signature(vec_col, planes)
        sig = F.when(F.col("t") == t, s) if sig is None else sig.when(F.col("t") == t, s)
    return ex.select(*df.columns, "t", sig.alias("sig"))


def signature_rows(batch: DataFrame) -> DataFrame:
    """(vec_id, v, t, sig, nv) signature rows for a vector batch — the
    SINGLE owner of the index row layout, shared by the snapshot build
    (lsh_build) and the incremental refresh (streaming/index_refresh),
    so the two index paths stay row-identical by construction."""
    all_planes = [_planes(table=t) for t in range(LSH_TABLES)]
    return (
        with_hyperplane_sigs(batch, "embedding", all_planes)
        .select(
            "vec_id",
            as_double(F.col("embedding")).alias("v"),
            "t",
            "sig",
        )
        .withColumn("nv", norm(F.col("v")))
    )


def lsh_build(spark: SparkSession, sf_dir: str, index_dir: str | None = None) -> str:
    """LSH index build: signature every corpus vector for all
    {LSH_TABLES} tables and persist parquet PARTITIONED BY (t, sig) with
    precomputed norms — the once-per-snapshot job that turns a probe
    into a partition-pruned scan of ~L/2^bits of the data."""
    import os

    corpus, _ = _corpus_and_queries(spark, sf_dir)
    csig = signature_rows(corpus)

    def write(tmp: str) -> None:
        # Cluster rows by bucket BEFORE the partitioned write: without it
        # every input task writes a sliver into every (t, sig) dir it
        # touches — tasks x buckets tiny files whose listing/open cost
        # dominates the probe (measured 5000 files -> 2.8 s probe at sf0.1).
        # After: one file per bucket. At 100 TB add maxRecordsPerFile.
        csig.repartition(LSH_TABLES * (1 << LSH_PLANES), "t", "sig").write.mode(
            "overwrite"
        ).partitionBy("t", "sig").parquet(os.path.join(tmp, "corpus"))

    return publish(
        index_dir or artifact_dir("lsh_index", sf_dir), sf_dir, ("embeddings",), write
    )


def lsh_probe(
    spark: SparkSession, sf_dir: str, index_dir: str | None = None
) -> DataFrame:
    """LSH probe: signature the (small) query batch, statically prune
    the bucketed index to the probed (t, sig) partitions, exact-cosine
    re-rank the bucket union."""
    import os

    import numpy as np

    index_dir = index_dir or artifact_dir("lsh_index", sf_dir)
    _, queries_df = _corpus_and_queries(spark, sf_dir)
    # Query signatures are computed DRIVER-side (numpy sign bits): the
    # probe batch is small and the giant literal signature expression is
    # worth planning only for the corpus-sized build. A sign flip at the
    # |dot| ~ ulp boundary vs the Catalyst fold would merely move that
    # query's probe bucket (one table of recall), never correctness —
    # survivors are exact re-ranked.
    qrows = queries_df.collect()
    plane_mats = [np.array(_planes(table=t), dtype=np.float64) for t in range(LSH_TABLES)]
    qsig_rows = []
    for r in qrows:
        qv = np.asarray(r.qvec, dtype=np.float64)
        for t, pm in enumerate(plane_mats):
            bits = (pm @ qv) >= 0
            sig = int(sum(1 << i for i, b in enumerate(bits) if b))
            qsig_rows.append((r.query_id, [float(x) for x in r.qvec], t, sig))
    qsig = spark.createDataFrame(
        qsig_rows, "query_id long, qvec array<double>, t int, sig int"
    ).withColumn("qn", norm(as_double(F.col("qvec"))))
    # Static (t, sig) partition pruning by DIRECT PATH (r7): listing the
    # whole L*2^bits partition tree and pruning it with an OR-chain cost
    # ~2 s of planning per probe at sf0.1 (the probe itself runs in
    # ~0.1 s); enumerating exactly the probed bucket dirs keeps the
    # FileIndex to |queries|*L directories — at any corpus size the
    # probe's planning cost is O(buckets probed), not O(buckets built).
    # basePath keeps the partition columns; a bucket no query hashed to
    # may not exist on disk, so only present dirs are listed. Two
    # layouts share the probe: the snapshot build writes corpus/t=/sig=,
    # the incremental refresher corpus/epoch=<id>/t=/sig= (epoch is an
    # extra partition column the select below never touches).
    import glob as _glob

    corpus_dir = os.path.join(index_dir, "corpus")
    pairs = {(t, s) for _, _, t, s in qsig_rows}
    snapshot = [
        p
        for t, s in sorted(pairs)
        if os.path.isdir(p := os.path.join(corpus_dir, f"t={t}", f"sig={s}"))
    ]
    epochs = [
        p
        for t, s in sorted(pairs)
        for p in sorted(
            _glob.glob(os.path.join(corpus_dir, "epoch=*", f"t={t}", f"sig={s}"))
        )
    ]
    # one layout per index (snapshot XOR refreshed); mixing would give
    # the reader inconsistent partition schemas
    paths = snapshot or epochs
    if paths:
        idx = spark.read.option("basePath", corpus_dir).parquet(*paths)
    else:
        # No probed bucket materialized — empty candidate set. Built
        # from the known index schema (signature_rows is the single
        # owner of the row layout), NOT by scanning corpus_dir: a root
        # scan re-lists the whole L*2^bits partition tree (the exact
        # O(buckets built) planning cost the direct-path probe removes)
        # and throws if the corpus dir is empty (ADVICE r7).
        idx = spark.createDataFrame(
            [], "vec_id long, v array<double>, nv double, t int, sig int"
        )
    candidates = (
        idx.join(F.broadcast(qsig), ["t", "sig"])
        .select("query_id", "vec_id", "qvec", "qn", "v", "nv")
        .dropDuplicates(["query_id", "vec_id"])  # a pair may collide in several tables
    )
    sim = F.round(
        dot(as_double(F.col("qvec")), F.col("v")) / (F.col("qn") * F.col("nv")), 6
    )
    scored = candidates.select("query_id", "vec_id", sim.alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rnk")
    )


@query("sim_search_ann_lsh")  # rows-only: bucketing is probabilistic machinery;
# recall vs sim_search_topk is pinned in tests/test_similarity.py
def sim_search_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table random-hyperplane LSH, probe path: L
    independent signatures bucket the corpus; a query's candidates are
    the union of its L bucket hits; exact cosine re-ranks. Touches
    ~L/2^bits of the corpus instead of all of it. Like IVF, the index is
    a build/probe split: `lsh_build` persists the corpus PARTITIONED BY
    (t, sig) once per snapshot (lazy here), and the probe is a
    statically partition-pruned scan — the plan shows the (t, sig)
    PartitionFilters."""
    index_dir = artifact_dir("lsh_index", sf_dir)
    if not current(index_dir, sf_dir, ("embeddings",)):
        lsh_build(spark, sf_dir, index_dir)
    return lsh_probe(spark, sf_dir, index_dir)


@query(
    "dedup_embedding_cosine",
    f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= {COS_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks. The label
    equi-join keys the shuffle, so the pairwise product happens only
    inside blocks — the blocked/banded pattern that replaces O(n²) at
    scale (with LSH signatures as blocks when no natural key exists)."""
    emb = spread(load_table(spark, "embeddings", sf_dir))
    # Per-row norm precompute: the pairwise stage does ONE dot fold per
    # pair instead of three (dot + both norms) — measured ~8x on the
    # blocked self-join. Same fold order, so values are bit-identical.
    e = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    ).withColumn("nv", norm(F.col("v")))
    a = e.alias("a")
    b = e.alias("b")
    sim = F.round(
        dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv")), 6
    )
    return (
        # No broadcast hint: under the autoBroadcastJoinThreshold Catalyst
        # broadcasts on its own; at corpus scale this must stay a shuffle
        # hash join on label (hinting broadcast would OOM a real cluster).
        a.join(
            b,
            (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= COS_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Pandas-UDF escape hatch (the documented slow path, used when the math
# genuinely needs numpy — here: batched matmul top-k)
# ---------------------------------------------------------------------------
@query(
    "udf_surface",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {N_QUERIES}),
         sims AS (
           SELECT c.vec_id, q.query_id,
                  round(list_cosine_similarity(qvec::DOUBLE[], embedding::DOUBLE[]), 6) AS s
           FROM c, q)
    SELECT vec_id, query_id AS best_query_id, s AS best_cos
    FROM sims
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, query_id) = 1
    """,
)
def udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas batched cosine: each Arrow batch of corpus vectors is
    one numpy matmul against the (broadcast) query matrix. ~10-100x a
    row-at-a-time Python UDF; still slower than the Catalyst expression
    path for dim=64 — kept as the template for heavy per-row math.
    Deterministic, so fully oracle-checked (unlike the probabilistic LSH
    machinery): queries sort by id and the argmax runs on the rounded
    similarity grid, so ties break to the lowest query_id on both
    engines."""
    import numpy as np
    import pandas as pd

    corpus, queries_df = _corpus_and_queries(spark, sf_dir)
    qrows = queries_df.collect()  # N_QUERIES rows — driver-side tiny constant
    qrows.sort(key=lambda r: r.query_id)
    qids = np.array([r.query_id for r in qrows])
    qmat = np.array([r.qvec for r in qrows], dtype=np.float64)
    qnorm = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)

    def best_query(batches):
        for pdf in batches:
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = np.round(mat @ qnorm.T, 6)  # (batch, n_queries)
            best = sims.argmax(axis=1)  # first max = lowest query_id
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "best_query_id": qids[best],
                    "best_cos": sims[np.arange(len(best)), best],
                }
            )

    return corpus.mapInPandas(
        best_query, "vec_id long, best_query_id long, best_cos double"
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — KMeans-partitioned corpus, nprobe cell scan.
# Build and probe are SEPARATE: the index (cell-partitioned corpus with
# precomputed norms + centroid table) is persisted once and amortized over
# every probe, exactly like a production vector index. `ivf_build` /
# `ivf_probe` are the public pair; the registered query is probe-only
# (building lazily on first touch of a dataset).
# ---------------------------------------------------------------------------
IVF_NLIST = 16   # centroids / cells
IVF_NPROBE = 4   # cells scanned per query


# Collected centroid tables per index dir — immutable once built (a tiny
# <=nlist-row array; rebuilt indexes invalidate their entry in ivf_build).
_CENTROID_CACHE: dict[str, tuple] = {}


IVF_FIT_SAMPLE = 200_000  # vectors collected to fit centroids driver-side


def _fit_centroids(X, nlist: int, iters: int = 5, seed: int = 42):
    """Seeded Lloyd iterations on a numpy sample — the faiss idiom:
    centroid training runs on a bounded sample wherever it's cheapest
    (here: the driver), only ASSIGNMENT is data-sized. Empty cells keep
    their previous centroid (deterministic)."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=nlist, replace=False)].copy()
    for _ in range(iters):
        d2 = (X * X).sum(1)[:, None] - 2.0 * X @ C.T + (C * C).sum(1)[None, :]
        a = d2.argmin(1)
        for k in range(nlist):
            members = X[a == k]
            if len(members):
                C[k] = members.mean(0)
    return C


def ivf_build(
    spark: SparkSession, sf_dir: str, index_dir: str | None = None, nlist: int = IVF_NLIST
) -> str:
    """IVF index build (the amortized cost): fit centroids on a driver
    sample, assign every corpus vector with one Arrow-batched scan, then
    persist
    (a) the corpus parquet PARTITIONED BY cell id, with each vector's norm
        precomputed — a probe reads only nprobe/nlist of the files and
        never re-folds corpus norms;
    (b) the nlist-row centroid table.
    At 100 TB this is the once-per-snapshot indexing job; probes are
    partition-pruned scans.

    Training deliberately does NOT use distributed KMeans: Spark ML's
    .fit launches several driver-coordinated jobs per Lloyd round, whose
    fixed scheduling cost dominates at any corpus size (measured 14 s at
    sf0.1 for 5 rounds on 5k vectors). The production shape (faiss)
    trains on a bounded deterministic sample ({IVF_FIT_SAMPLE} vectors,
    hash-chosen) driver-side in numpy — milliseconds — and spends the
    cluster only on the single assignment pass, which IS linear in the
    corpus. 5 Lloyd rounds: centroid quality barely moves after a few
    iterations for bucketing purposes (recall pinned in tests)."""
    import os

    import numpy as np
    import pandas as pd

    index_dir = index_dir or artifact_dir("ivf_index", sf_dir)
    corpus, _ = _corpus_and_queries(spark, sf_dir)
    n = corpus.count()
    # deterministic hash sample of ~IVF_FIT_SAMPLE vectors (no RNG, no
    # limit(): limit's partition order is layout-dependent)
    every = max(1, n // IVF_FIT_SAMPLE)
    sample = [
        r.embedding
        for r in corpus.filter(F.col("vec_id") % every == 0)
        .select("embedding")
        .collect()
    ]
    C = _fit_centroids(sample, nlist)
    c2 = (C * C).sum(1)

    def assign(batches):
        # closure ships C (nlist x dim) with the function — a few MB at
        # production nlist; use an explicit broadcast beyond that. One
        # numpy matmul per Arrow batch; x^2 is constant per row so
        # argmin needs only c^2 - 2xC.
        for pdf in batches:
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            d = c2[None, :] - 2.0 * X @ C.T
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    # float32 -> float64 is exact, so these doubles match
                    # as_double(embedding) bit-for-bit
                    "v": [list(row) for row in X],
                    "cell": d.argmin(1).astype("int32"),
                }
            )

    assigned = corpus.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, v array<double>, cell int"
    ).withColumn("nv", norm(F.col("v")))

    def write(tmp: str) -> None:
        # One file per cell (see lsh_build: unclustered partitioned writes
        # leave tasks x cells tiny files; at 100 TB add maxRecordsPerFile).
        assigned.repartition(nlist, "cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(os.path.join(tmp, "corpus"))
        centroids = [(cid, [float(x) for x in c]) for cid, c in enumerate(C)]
        spark.createDataFrame(centroids, "cell int, centroid array<double>").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(tmp, "centroids"))

    # corpus + centroids appear in ONE swap
    publish(index_dir, sf_dir, ("embeddings",), write)
    _CENTROID_CACHE.pop(index_dir, None)
    return index_dir


def ivf_probe(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str | None = None,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF probe (the per-query-batch cost): rank cells per query against
    the broadcast centroid table, statically prune the corpus scan to the
    probed cells (a tiny <=nlist-value IN-list collected from the ranked
    cells — partition pruning at the parquet scan, visible as
    PartitionFilters), then exact-cosine re-rank using the precomputed
    corpus norms."""
    import os

    import numpy as np

    index_dir = index_dir or artifact_dir("ivf_index", sf_dir)
    _, queries_df = _corpus_and_queries(spark, sf_dir)
    # Cell ranking happens DRIVER-side, like a production IVF client: the
    # centroid table is <= nlist rows BY CONSTRUCTION (that is the IVF
    # contract) and the probe batch is small, so ranking is an
    # O(batch x nlist x dim) matvec — not worth a distributed job. Only
    # the corpus scan is data-sized and it stays distributed. (For a huge
    # offline query batch, broadcast the centroids and rank with the
    # zip_with fold + window instead.)
    qrows = queries_df.collect()
    cached = _CENTROID_CACHE.get(index_dir)
    if cached is None:
        crows = sorted(
            spark.read.parquet(os.path.join(index_dir, "centroids")).collect(),
            key=lambda r: r.cell,
        )
        cached = (
            np.array([r.centroid for r in crows], dtype=np.float64),
            np.array([r.cell for r in crows]),
        )
        _CENTROID_CACHE[index_dir] = cached
    cmat, cell_ids = cached
    probe_rows = []
    for r in qrows:
        d2 = ((cmat - np.asarray(r.qvec, dtype=np.float64)) ** 2).sum(axis=1)
        # argmin of euclidean == argmax of cosine on normalized data;
        # (dist2, cell) lexsort matches the old window tie-break.
        for c in cell_ids[np.lexsort((cell_ids, d2))[:nprobe]]:
            probe_rows.append((r.query_id, [float(x) for x in r.qvec], int(c)))
    cells = sorted({c for _, _, c in probe_rows})
    # qn via the SAME Catalyst fold as the corpus norms, so cos_sim is
    # bit-identical to the brute-force path (no numpy/JVM ulp skew).
    probes = spark.createDataFrame(
        probe_rows, "query_id long, qvec array<double>, cell int"
    ).withColumn("qn", norm(as_double(F.col("qvec"))))
    idx = spark.read.parquet(os.path.join(index_dir, "corpus")).filter(
        F.col("cell").isin(cells)
    )
    candidates = idx.join(F.broadcast(probes), "cell")
    sim = F.round(
        dot(as_double(F.col("qvec")), F.col("v")) / (F.col("qn") * F.col("nv")), 6
    )
    scored = candidates.select("query_id", "vec_id", sim.alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rnk")
    )


@query("sim_search_ann_ivf")  # rows-only: index structure is probabilistic
# machinery; recall vs brute force is pinned in tests/test_similarity.py
def sim_search_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, probe path: scans only the {IVF_NPROBE}/{IVF_NLIST}
    nearest cells of the persisted index and exact-cosine re-ranks. The
    second standard ANN family next to hyperplane LSH
    (`sim_search_ann_lsh`): LSH needs no training and handles inserts
    trivially; IVF adapts to the data distribution and scans a tunable
    fraction of the corpus. The index is built lazily once per dataset
    (`ivf_build`) and reused — the amortization a production ANN service
    relies on; `bench.py` reports build and probe separately."""
    index_dir = artifact_dir("ivf_index", sf_dir)
    if not current(index_dir, sf_dir, ("embeddings",)):
        ivf_build(spark, sf_dir, index_dir)
    return ivf_probe(spark, sf_dir, index_dir)


@query("dedup_embedding_lsh")  # rows-only: LSH blocking is probabilistic;
# recall vs driver-side exact ground truth is pinned in tests
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs WITHOUT a natural blocking key — the
    common case for real corpora. Random-hyperplane signatures become the
    block key: vectors pair only within a (table, signature) bucket, so
    the candidate count is Σ bucket² instead of n², then exact cosine
    (precomputed norms) keeps pairs >= {COS_THRESHOLD}. Recall comes from
    L independent tables, exactly like `sim_search_ann_lsh`; at 100 TB
    the bucket id is the shuffle key."""
    # Recall math (random-hyperplane LSH): a pair at angle θ collides on
    # one plane w.p. p = 1-θ/π; on a whole B-bit signature w.p. p^B; with
    # Hamming<=1 MULTI-PROBE (query the bucket plus its B one-bit flips)
    # w.p. m = p^B + B·p^(B-1)(1-p); across L tables recall = 1-(1-m)^L.
    # At the registered {COS_THRESHOLD} threshold (θ≈66°, p≈0.631) the
    # round-1 setting 4 bits × 8 tables gave ≈0.75 — too lossy for dedup.
    # 4 bits × 4 tables + multi-probe gives m≈0.529, recall≈0.95 with
    # HALF the signature computation; candidate volume ≈ L(B+1)/2^B of
    # all pairs on random data (1.25 here). tests/test_similarity.py pins
    # measured recall >= 0.9.
    #
    # SCALE REGIME (r8 — found by the fifth-decade curve, not theorized;
    # constants hoisted to module level per ADVICE r8):
    # "≈1.25 of all pairs" is a fine demo at <=2k vectors and a
    # quadratic grind at 200k (the sf10eq cell ran 25+ min before the
    # re-plan). A FIXED B cannot scale: candidates = L(B+1)·n·occ/2 with
    # occ = n/2^B, so occupancy must be held ~constant by growing B with
    # log2(n). But at the demo threshold 0.4 (θ≈66°, p≈0.631 — barely
    # better than the 90° of random pairs) growing B collapses recall
    # (B=10 → recall 0.25 at L=4): thresholds that close to random are
    # information-theoretically not LSH-blockable — which is why real
    # dedup runs at ~0.9. So past LSH_DEDUP_DEMO_MAX_N the query
    # switches to the PRODUCTION regime: threshold
    # {LSH_DEDUP_PROD_THRESHOLD} (θ≈26°, p≈0.856), B =
    # log2(n/{LSH_DEDUP_PROD_OCCUPANCY}), same L + multi-probe →
    # candidates ~n·occ, linear in n times the documented L(B+1)·occ
    # work factor. Production-regime recall is MEASURED, not derived
    # (r9): tools/measure_lsh_recall.py over planted >=0.9 twins (exact
    # full ground truth at sf1eq) and
    # tests/test_similarity.py::test_embedding_lsh_production_regime_recall
    # pin the >=0.9 floor; SCALING_CURVES.md records the figures.
    # Driver scales (<=2k vectors) keep the registered demo regime
    # bit-for-bit (recall pin and driver rows unchanged). n_corpus comes
    # from parquet footer metadata — no per-call count() job (ADVICE
    # r8). The emitted `regime` column makes the active regime visible
    # to consumers comparing outputs across scales.
    planes_per_table, n_tables, thr = (
        LSH_DEDUP_DEMO_BITS,
        LSH_DEDUP_TABLES,
        COS_THRESHOLD,
    )
    regime = "demo"
    n_corpus = table_rowcount("embeddings", sf_dir)
    emb = spread(load_table(spark, "embeddings", sf_dir))
    if n_corpus > LSH_DEDUP_DEMO_MAX_N:
        import math

        planes_per_table = max(
            LSH_DEDUP_DEMO_BITS,
            math.ceil(math.log2(n_corpus / LSH_DEDUP_PROD_OCCUPANCY)),
        )
        thr = LSH_DEDUP_PROD_THRESHOLD
        regime = "production"
    e = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    ).withColumn("nv", norm(F.col("v")))
    all_planes = [
        _planes(n=planes_per_table, table=100 + t) for t in range(n_tables)
    ]
    ex = e.select(
        "*", F.explode(F.array(*[F.lit(t) for t in range(n_tables)])).alias("t")
    )
    sig = None
    for t, planes in enumerate(all_planes):
        s = hyperplane_signature("v", planes)
        sig = F.when(F.col("t") == t, s) if sig is None else sig.when(F.col("t") == t, s)
    buckets = ex.select("vec_id", "v", "nv", "t", sig.alias("sig"))
    # Multi-probe side: each vector also probes the B buckets one bit-flip
    # away. Only ONE side expands (pairs at Hamming<=1 are found when the
    # smaller vec_id probes the larger's home bucket) — candidate growth
    # is (B+1)x on the probe side, not (B+1)² .
    probe_sigs = F.array(
        F.col("sig"),
        *[
            F.col("sig").bitwiseXOR(F.lit(1 << i))
            for i in range(planes_per_table)
        ],
    )
    # Per-bucket VECTORIZED verification (optimization r10, guide §4.2).
    # The candidate volume is Σ_bucket |probes|·|homes| dot products
    # (~2.5M at sf0.1 demo regime); evaluating them as per-pair Catalyst
    # folds inside the bucket join costs ~1.4 µs/pair interpreted
    # (measured — the whole query was 6.9 s, ~5 s of it the folds).
    # Instead the probe and home rows of each (table, bucket) group meet
    # in ONE applyInPandas and the group's full candidate block is one
    # numpy gram matrix (Va @ Vb.T): identical shuffle bytes (the join
    # shuffled the same expanded rows on the same key), ~50x cheaper
    # verification, and each bucket's pairs are produced exactly once
    # instead of once per probe hit. Raw cosines come back UNROUNDED and
    # the round(6)/threshold/dropDuplicates pipeline is unchanged, so
    # the emitted pair set is the same (raw float64 bits may differ from
    # the sequential fold at ~1e-16 relative — far below the 6dp grid;
    # old-vs-new outputs diffed set-equal at sf0.001/0.01/0.1).
    # Group sizes are bounded by design (demo: n <= LSH_DEDUP_DEMO_MAX_N;
    # production: occupancy held ~constant by B = log2(n/occ)), so no
    # pandas group can blow up at scale.
    probes = buckets.select(
        "vec_id", "v", "nv", "t",
        F.explode(probe_sigs).alias("bkt"),
        F.lit(0).alias("side"),
    )
    homes = buckets.select(
        "vec_id", "v", "nv", "t", F.col("sig").alias("bkt"), F.lit(1).alias("side")
    )
    import numpy as np
    import pandas as pd

    # Conservative in-batch prefilter: round(raw, 6) >= thr implies
    # raw >= thr - 5e-7, so raw >= thr - 1e-6 keeps every pair the exact
    # JVM-side round/threshold can accept while shrinking the Arrow
    # return path from |candidates| (~2.5M at sf0.1) to |near-matches|
    # (~1k) rows. The authoritative filter stays in the JVM, unchanged.
    pre_thr = thr - 1e-6

    def _gram_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "raw": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "raw": "float64"}
            )
        va = np.vstack(a["v"].to_numpy())
        vb = np.vstack(b["v"].to_numpy())
        ia = a["vec_id"].to_numpy()
        ib = b["vec_id"].to_numpy()
        g = (va @ vb.T) / np.outer(a["nv"].to_numpy(), b["nv"].to_numpy())
        ai, bi = np.nonzero((ia[:, None] < ib[None, :]) & (g >= pre_thr))
        return pd.DataFrame(
            {"vec_a": ia[ai], "vec_b": ib[bi], "raw": g[ai, bi]}
        )

    cand = (
        probes.unionByName(homes)
        .groupBy("t", "bkt")
        .applyInPandas(_gram_pairs, "vec_a long, vec_b long, raw double")
    )
    return (
        cand.select(
            "vec_a", "vec_b", F.round(F.col("raw"), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= thr)
        # groupBy/min instead of dropDuplicates: the rounded cosine is
        # identical across a pair's <= L rediscoveries, so min == any,
        # but the aggregate is DETERMINISTIC (dropDuplicates keeps an
        # arbitrary duplicate) and avoids a Catalyst Deduplicate-node
        # rewrite bug under exceptAll observed on Spark 4.1.
        .groupBy("vec_a", "vec_b")
        .agg(F.min("cos_sim").alias("cos_sim"))
        .withColumn("regime", F.lit(regime))
    )


@query(
    "embedding_centroid",
    """
    SELECT label,
           CAST(dim0 AS INTEGER) AS dim,
           round(avg(e), 6)  AS avg_e,
           count(*)          AS n_vecs
    FROM (SELECT label, generate_subscripts(embedding, 1) AS dim0,
                 unnest(embedding) AS e
          FROM embeddings) ex
    GROUP BY label, dim0
    """,
)
def embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding — the class-centroid / cluster-summary
    primitive (seed centroids, drift monitoring, nearest-class baselines).

    Scale shape: posexplode to (label, dim, value) and aggregate per
    (label, dim) — dimension-wise partial aggregation, fully map-side
    combinable, shuffling only n_labels x dim tiny rows. No vector ever
    needs a single reducer.

    The registered result is the exploded (label, dim, avg_e, n_vecs)
    form rather than a reassembled array column: the driver's pandas
    canonicalizer cannot sort/hash list-typed cells (round-2 FAIL), and
    scalar rows avoid any cross-engine float-formatting dependency. The
    array form is one collect_list away (`embedding_cluster_assign`
    builds it internally from this same per-dim aggregate).

    posexplode runs on the RAW embedding attribute — exploding an
    inline-computed array (posexplode(transform(...))) makes Generate
    re-evaluate the transform per OUTPUT row, O(dim²) casts per vector
    (measured ~5x on this query); the scalar cast after the explode is
    linear."""
    emb = spread(load_table(spark, "embeddings", sf_dir))
    return (
        emb.select("label", F.posexplode(F.col("embedding")).alias("i", "e"))
        .groupBy("label", "i")
        .agg(
            F.round(F.avg(F.col("e").cast("double")), 6).alias("avg_e"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .select("label", (F.col("i") + F.lit(1)).alias("dim"), "avg_e", "n_vecs")
    )


@query(
    "embedding_quantize",
    """
    WITH s AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
               AS scale
      FROM embeddings)
    SELECT vec_id,
           round(scale, 6) AS scale_r,
           array_to_string(list_transform(v, x -> CAST(CAST(least(127,
               greatest(-127, floor(x / scale + 0.5))) AS INTEGER)
               AS VARCHAR)), ',')                               AS qvec_csv,
           round(list_aggregate(list_transform(v, x ->
               pow(x - scale * least(127, greatest(-127,
                   floor(x / scale + 0.5))), 2)), 'sum')
               / len(v), 8)                                     AS mse
    FROM s
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (the ANN-index compression
    step: 4x smaller than float32, dot products in integer SIMD):
    scale = max|x|/127, q_i = clamp(round(x_i/scale)), plus the
    reconstruction MSE that tells you whether the index can afford it.

    Pure map, zero shuffle — at 100 TB this is a rewrite pass limited by
    scan+write bandwidth. Rounding is floor(x+0.5) on BOTH engines
    (engine round() half-rules differ: Spark HALF_UP vs DuckDB's
    banker-ish variants); all math is double with the same sequential
    fold order, so q vectors and MSE are bit-identical cross-engine
    before the final display rounding.

    The quantized vector is emitted as a comma-joined int string
    (``qvec_csv``) rather than ``array<int>``: the driver's pandas
    canonicalizer cannot hash list cells (round-2 FAIL), and int→string
    formatting is deterministic on both engines (unlike floats)."""
    emb = spread(load_table(spark, "embeddings", sf_dir))
    v = as_double(F.col("embedding"))
    s = emb.select("vec_id", v.alias("v")).withColumn(
        "scale", F.array_max(F.transform("v", lambda x: F.abs(x))) / 127.0
    )
    qof = lambda x: F.least(  # noqa: E731
        F.lit(127.0), F.greatest(F.lit(-127.0), F.floor(x / F.col("scale") + 0.5))
    )
    return s.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.array_join(
            F.transform("v", lambda x: qof(x).cast("int").cast("string")), ","
        ).alias("qvec_csv"),
        F.round(
            F.aggregate(
                F.transform("v", lambda x: F.pow(x - F.col("scale") * qof(x), 2)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.size("v"),
            8,
        ).alias("mse"),
    )


@query(
    "embedding_cluster_assign",
    """
    WITH ex AS (
      SELECT label, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS e
      FROM embeddings),
    cents AS (
      SELECT label, list(avg_e ORDER BY i) AS cvec
      FROM (SELECT label, i, round(avg(e), 6) AS avg_e FROM ex GROUP BY label, i)
      GROUP BY label),
    sims AS (
      SELECT v.vec_id, c.label,
             round(list_cosine_similarity(v.embedding::DOUBLE[], c.cvec), 6) AS cos_sim
      FROM embeddings v CROSS JOIN cents c)
    SELECT vec_id, label AS cluster, cos_sim
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cos_sim DESC, label) AS rnk
          FROM sims)
    WHERE rnk = 1
    """,
)
def embedding_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid cluster assignment: every vector joins the
    per-label mean centroid it is most cosine-similar to — the
    domain-classification / data-mixing primitive (assign documents to
    clusters, then weight clusters in the training mix). One k-means
    Lloyd HALF-step, deterministic and fully oracle-checked — the
    exact complement of the rows-only IVF machinery (`ivf_build` runs
    the full iterative fit; this op IS its assignment pass).

    Scale shape: centroids are a K-row aggregate (dimension-wise
    partial agg, same plan as `embedding_centroid`) broadcast against
    one corpus scan — corpus-linear, no shuffle of vectors; the
    per-vector argmax is a K-row window. Centroid dims and cosines
    round to the same grid on both engines; argmax ties break by label."""
    emb = spread(load_table(spark, "embeddings", sf_dir))
    per_dim = (
        emb.select("label", F.posexplode(F.col("embedding")).alias("i", "e"))
        .groupBy("label", "i")
        .agg(F.round(F.avg(F.col("e").cast("double")), 6).alias("avg_e"))
    )
    cents = per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "avg_e"))),
            lambda s: s["avg_e"],
        ).alias("cvec")
    ).withColumn("cn", norm(F.col("cvec")))
    v = emb.select("vec_id", as_double(F.col("embedding")).alias("v")).withColumn(
        "vn", norm(F.col("v"))
    )
    sims = v.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        F.round(dot(F.col("v"), F.col("cvec")) / (F.col("vn") * F.col("cn")), 6).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), "label")
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("vec_id", F.col("label").alias("cluster"), "cos_sim")
    )


# embedding_dim_stats exact contract (r7 kernel purge): elements widen
# float32->double exactly on both engines, then quantize to the 1e-8
# grid (error <= 5e-9 per value — 3 orders below the 6dp output grid).
# Budgets: |e| <= 1 on unit-ish embeddings (headroom to |e| <= 90 before
# eq^2 hits 2^63); eq <= 1e8, eq^2 <= 1e16 carried hi/lo; linear sums
# <= 2e12 int64 at sf1eq. min/max come FROM the quantized ints (exact
# selections), so every output derives from identical integers via the
# shared double text — no avg/stddev kernels (r5 heaps FAIL class).
_ED_EQ = qlong_sql("e", 10**8)
_ED_VARN = varn_sql("sn", "s2", "s1")
_ED_MEAN = fgrid_sql("s1 / (sn * 1e8)", 6)
_ED_STD = (
    f"CASE WHEN sn <= 1.0 THEN NULL WHEN {_ED_VARN} <= 0.0 THEN 0.0 ELSE "
    + fgrid_sql(f"sqrt({_ED_VARN} / (sn * (sn - 1.0))) / 1e8", 6)
    + " END"
)
_ED_MIN = fgrid_sql("CAST(mn AS DOUBLE) / 1e8", 6)
_ED_MAX = fgrid_sql("CAST(mx AS DOUBLE) / 1e8", 6)


@query(
    "embedding_dim_stats",
    f"""
    WITH ex AS (
      SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS e
      FROM embeddings),
    q AS (
      SELECT dim, {_ED_EQ} AS eq
      FROM (SELECT dim, CAST(e AS DOUBLE) AS e FROM ex)),
    g AS (
      SELECT dim, {count_d_sql('eq')} AS sn, {sum_d_sql('eq')} AS s1,
             {hilo_sum_sql('eq * eq')} AS s2,
             min(eq) AS mn, max(eq) AS mx
      FROM q GROUP BY dim)
    SELECT dim,
           {_ED_MEAN} AS mean_e,
           {_ED_STD}  AS std_e,
           {_ED_MIN}  AS min_e,
           {_ED_MAX}  AS max_e
    FROM g
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics — the dead/collapsed-dimension
    detector (std ~ 0 means the encoder wasted a dimension; a shifted
    mean flags normalization drift). Same dimension-wise partial-agg
    shape as `embedding_centroid`: posexplode the raw attribute, ONE
    map-side-combinable groupBy over (dim) — shuffles 64 tiny rows no
    matter how many billions of vectors flow by. Values ride the
    exact-moment contract (module constants above, identical text in
    the oracle): 1e-8-grid int64 moments with the hi/lo second-moment
    carrier, shared double derivations, integer-exact degenerate
    guards — bit-identical cross-engine by construction."""
    emb = spread(load_table(spark, "embeddings", sf_dir))
    q = (
        emb.select(F.posexplode(F.col("embedding")).alias("i", "e"))
        .select((F.col("i") + 1).alias("dim"), F.col("e").cast("double").alias("e"))
        .select("dim", F.expr(_ED_EQ).alias("eq"))
    )
    g = q.groupBy("dim").agg(
        F.expr(count_d_sql("eq")).alias("sn"),
        F.expr(sum_d_sql("eq")).alias("s1"),
        F.expr(hilo_sum_sql("eq * eq")).alias("s2"),
        F.min("eq").alias("mn"),
        F.max("eq").alias("mx"),
    )
    return g.select(
        "dim",
        F.expr(_ED_MEAN).alias("mean_e"),
        F.expr(_ED_STD).alias("std_e"),
        F.expr(_ED_MIN).alias("min_e"),
        F.expr(_ED_MAX).alias("max_e"),
    )


PCA_K = 4  # principal components kept by embedding_pca_project


def pca_fit(emb: DataFrame, dim: int, k: int):
    """Fit PCA over an embedding column distributively: one mapInPandas
    pass emits per-Arrow-batch moment partials (n, sum x, sum x x^T) —
    O(dim^2) floats per batch, independent of row count — which the
    driver combines into the covariance and eigendecomposes (dim x dim,
    trivial for dim<=~2k). This is the classic covariance trick: the
    100 TB cost is ONE corpus scan shuffling nothing; only O(P * dim^2)
    partial bytes reach the driver. (For dim >> 2k, switch to a
    randomized-sketch SVD; out of scope here.)

    Determinism: partials are combined in partition order (stable for a
    fixed input layout) and each eigenvector's sign is fixed
    (largest-|component| entry positive), so repeated fits agree —
    pinned by tests/test_similarity.py.

    Returns (mean: np.ndarray[dim], components: np.ndarray[k, dim],
    explained_var: np.ndarray[k])."""
    import numpy as np
    import pandas as pd

    def moments(batches):
        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [m.shape[0]],
                    "s": [m.sum(axis=0).tolist()],
                    "o": [(m.T @ m).ravel().tolist()],
                }
            )

    parts = (
        emb.select("embedding")
        .mapInPandas(moments, schema="n long, s array<double>, o array<double>")
        .collect()
    )
    n = sum(p["n"] for p in parts)
    s = np.sum([np.asarray(p["s"]) for p in parts], axis=0)
    o = np.sum([np.asarray(p["o"]) for p in parts], axis=0).reshape(dim, dim)
    mean = s / n
    cov = o / n - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)          # ascending
    idx = np.argsort(eigvals)[::-1][:k]
    comps = eigvecs[:, idx].T                       # (k, dim)
    sign = np.sign(comps[np.arange(k), np.abs(comps).argmax(axis=1)])
    comps = comps * sign[:, None]
    return mean, comps, eigvals[idx]


@query("embedding_pca_project")  # rows-only: eigensolver output is implementation-defined
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA dimensionality reduction end to end: distributed moment
    aggregation -> driver eigh -> broadcast components -> one projection
    scan (vectorized mapInPandas matmul per Arrow batch). The projection
    is the whitening/compression step before clustering or cheap ANN;
    at 100 TB both passes are single scans with no shuffle, and the
    (k x dim) component matrix rides to executors as a closure literal
    exactly like the IVF centroids. Rows-only by contract (LAPACK
    eigenvector bases differ across implementations); the invariants —
    orthonormality, variance ordering, eigenvalue match — are pinned in
    tests/test_similarity.py."""
    import numpy as np
    import pandas as pd

    emb = spread(load_table(spark, "embeddings", sf_dir))
    dim = 64
    mean, comps, _ = pca_fit(emb, dim, PCA_K)

    def project(batches):
        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            proj = (m - mean) @ comps.T
            out = {"vec_id": pdf["vec_id"], "label": pdf["label"]}
            for i in range(PCA_K):
                out[f"pc{i + 1}"] = np.round(proj[:, i], 6)
            yield pd.DataFrame(out)

    schema = "vec_id long, label int, " + ", ".join(
        f"pc{i + 1} double" for i in range(PCA_K)
    )
    return emb.select("vec_id", "label", "embedding").mapInPandas(
        project, schema=schema
    )


# Per-family recall floors asserted by the oracle. The synthetic embeddings
# are (near-)random unit vectors and the 5 probe queries have NO planted
# neighbors (max true cosine ~0.37 < COS_THRESHOLD) — the WORST case for
# sub-linear ANN, where top-k recall is bounded by ~the scanned fraction.
# The bands therefore must sit strictly ABOVE each family's scanned-
# fraction chance floor (an index that probes arbitrary buckets performs
# AT the floor — a band at or below it asserts nothing), while leaving
# binomial headroom (n = N_QUERIES*TOP_K = 50 trials) for driver data
# regeneration:
# - LSH scans ~L/2^bits = 4/64 ≈ 6.25% of the corpus → chance ≈ 0.0625;
#   measured ≈ 0.2. Band 0.10 = 1.6x chance; P(miss | recall 0.2) ≈ 3%.
# - IVF scans nprobe/nlist = 4/16 = 25% → chance 0.25; measured 0.4-0.5.
#   Band 0.30 = 1.2x chance; P(miss | recall 0.45) ≈ 2%.
ANN_LSH_BAND = 0.10
ANN_IVF_BAND = 0.30
ANN_PQ_BAND = 0.80   # measured 0.96-1.0 at sf0.001/0.01/0.1 (M=16, K=64)


@query(
    "ann_recall_report",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {N_QUERIES}),
         sims AS (
           SELECT q.query_id, c.vec_id,
                  round(list_cosine_similarity(qvec::DOUBLE[], embedding::DOUBLE[]), 6) AS cos_sim
           FROM q, c),
         topk AS (
           SELECT query_id, vec_id, cos_sim,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, vec_id) AS rnk
           FROM sims QUALIFY rnk <= {TOP_K})
    SELECT count(DISTINCT query_id) AS n_queries, {TOP_K} AS k,
           round(avg(cos_sim), 4) AS mean_exact_topk_cos,
           TRUE AS lsh_recall_ok, TRUE AS ivf_recall_ok,
           TRUE AS pq_recall_ok
    FROM topk
    """,
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN quality contract as a driver-checkable row (tolerance-band
    pattern, like approx_distinct): the exact brute-force top-{TOP_K}
    mean cosine is computed on BOTH engines (genuine oracle content),
    and the Spark side additionally measures each ANN family's recall
    against that exact set, emitting in-band flags the oracle asserts as
    TRUE — if LSH recall drops below {ANN_LSH_BAND} or IVF below
    {ANN_IVF_BAND} (see band derivation above — this corpus is the
    random-vector worst case), the driver row goes red instead of
    silently shipping a degraded index.
    One corpus scan for the exact side + two partition-pruned probe
    scans; the 50-row comparison join is trivially broadcast.

    Build-phase concurrency (r7 trim): each probe constructor does
    driver-side work while BUILDING its DataFrame (collect the probe
    batch, read codebooks/centroids, staleness-check its index) — built
    sequentially those waits serialize ahead of the single scoring job,
    which was most of the report's wall clock (measured 4.2 s -> the
    scoring stages themselves overlap fine inside one action). The four
    subtrees build in parallel threads (Spark supports concurrent
    driver actions; each probe touches only its own index), then ONE
    action runs the joined plan."""
    from concurrent.futures import ThreadPoolExecutor

    def _hits(fn, flag):
        # no dropDuplicates: every probe ends in a per-query row_number
        # top-k filter, so (query_id, vec_id) is unique by construction
        # (each candidate set is deduped before ranking) — the defensive
        # re-dedup here was 3 extra shuffles of 50-row inputs.
        return (
            fn(spark, sf_dir)
            .select("query_id", "vec_id")
            .withColumn(flag, F.lit(1))
        )

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_ex = pool.submit(
            lambda: sim_search_topk(spark, sf_dir).select(
                "query_id", "vec_id", "cos_sim"
            )
        )
        f_lsh = pool.submit(_hits, sim_search_ann_lsh, "lhit")
        f_ivf = pool.submit(_hits, sim_search_ann_ivf, "ihit")
        f_pq = pool.submit(_hits, sim_search_pq_adc, "phit")
        ex, lsh, ivf, pq = (
            f_ex.result(),
            f_lsh.result(),
            f_ivf.result(),
            f_pq.result(),
        )
    j = (
        ex.join(F.broadcast(lsh), ["query_id", "vec_id"], "left")
        .join(F.broadcast(ivf), ["query_id", "vec_id"], "left")
        .join(F.broadcast(pq), ["query_id", "vec_id"], "left")
    )
    n = F.count(F.lit(1))
    return j.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.lit(TOP_K).alias("k"),
        F.round(F.avg("cos_sim"), 4).alias("mean_exact_topk_cos"),
        ((F.sum(F.coalesce(F.col("lhit"), F.lit(0))) / n) >= ANN_LSH_BAND).alias(
            "lsh_recall_ok"
        ),
        ((F.sum(F.coalesce(F.col("ihit"), F.lit(0))) / n) >= ANN_IVF_BAND).alias(
            "ivf_recall_ok"
        ),
        ((F.sum(F.coalesce(F.col("phit"), F.lit(0))) / n) >= ANN_PQ_BAND).alias(
            "pq_recall_ok"
        ),
    )


# pca_variance_report exact contract (r7 kernel purge): the hashed
# total_var no longer comes from the numpy eigensolve (float moment sums
# in library-specific order — the r5 FAIL class) but from the exact
# quantized per-dimension var_pop, trace-identical to the eigenvalue sum
# by linear algebra: per-dim moments on the 1e-8 grid (same budgets as
# embedding_dim_stats above), var_pop derived in shared double text,
# re-quantized to a 1e-12 int grid (vp <= ~0.35 -> vpq <= 3.5e11; 64
# dims sum < 2.3e13 int64) and summed exactly across dims — the 64-row
# double sum that would otherwise be engine-order-dependent is integer.
_PV_VARN = varn_sql("sn", "s2", "s1")
_PV_VP = f"({_PV_VARN} / (sn * sn) / 1e16)"   # var_pop in raw units
_PV_VPQ = f"CAST(floor({_PV_VP} * 1e12 + 0.5) AS BIGINT)"
_PV_TOTAL = fgrid_sql(f"{sum_d_sql('vpq')} / 1e12", 4)


@query(
    "pca_variance_report",
    f"""
    WITH u AS (SELECT generate_subscripts(embedding, 1) AS d,
                      unnest(embedding)::DOUBLE AS e
               FROM embeddings),
         q AS (SELECT d, {_ED_EQ} AS eq FROM u),
         g AS (SELECT d, {count_d_sql('eq')} AS sn, {sum_d_sql('eq')} AS s1,
                      {hilo_sum_sql('eq * eq')} AS s2
               FROM q GROUP BY d),
         pv AS (SELECT {_PV_VPQ} AS vpq FROM g)
    SELECT 64 AS dim, 64 AS n_components,
           {_PV_TOTAL} AS total_var,
           TRUE AS orthonormal_ok, TRUE AS eigs_descending_ok,
           TRUE AS trace_matches_exact
    FROM pv
    """,
)
def pca_variance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PCA contract as a driver-checkable row (same pattern as
    ann_recall_report): eigenVALUES of the covariance are well-defined
    (unlike the basis-ambiguous vectors that keep embedding_pca_project
    rows-only), and their sum must equal the covariance trace = the sum
    of per-dimension population variances — which DuckDB computes
    INDEPENDENTLY from the raw embeddings. The hashed total_var rides
    the exact quantized-moment contract on BOTH engines (module
    constants above; r7 purge — numpy float sums no longer feed a
    hashed double); the eigensolve is pinned by three boolean flags the
    oracle asserts TRUE: C @ C.T == I (orthonormal within 1e-8),
    eigenvalues descending and >= -1e-9, and the eigenvalue sum
    matching the exact trace within 1e-6 relative — a bug anywhere in
    the distributed moment pass (dropped partial, wrong n, mean/outer
    mixup) or the eigensolve flips trace_matches_exact and hash-FAILs
    the row. Cost: the pca_fit moment scan plus one trivial
    2000x64-explode aggregate."""
    import numpy as np

    emb = spread(load_table(spark, "embeddings", sf_dir))
    dim = 64
    _, comps, eigvals = pca_fit(emb, dim, dim)  # full basis: all 64
    gram = comps @ comps.T
    ortho = bool(np.allclose(gram, np.eye(dim), atol=1e-8))
    descending = bool(
        np.all(np.diff(eigvals) <= 1e-12) and np.all(eigvals >= -1e-9)
    )
    g = (
        emb.select(F.posexplode(F.col("embedding")).alias("i", "e"))
        .select((F.col("i") + 1).alias("d"), F.col("e").cast("double").alias("e"))
        .select("d", F.expr(_ED_EQ).alias("eq"))
        .groupBy("d")
        .agg(
            F.expr(count_d_sql("eq")).alias("sn"),
            F.expr(sum_d_sql("eq")).alias("s1"),
            F.expr(hilo_sum_sql("eq * eq")).alias("s2"),
        )
        .select(F.expr(_PV_VPQ).alias("vpq"))
        # 64 rows, TWO consumers (the trace-band collect below and the
        # returned total_var aggregate): without materialization each
        # consumer re-runs the whole corpus-sized posexplode + quantized
        # moment aggregation — the query's dominant cost, measured as the
        # slowest query of the r11 baseline bench (4.3 s, two identical
        # ~1.6 s explode-agg jobs in the profile). One localCheckpoint
        # halves that; the vpq values are bit-identical either way
        # (optimization r11, guide §1.2 multi-consumer materialization).
        .localCheckpoint(eager=False)
    )
    # 1-row bounded collect (report pattern): the UN-gridded exact total
    # for the trace band (the hashed column re-derives the 4dp-gridded
    # form inside the plan below — banding against that would just
    # measure the output grid, not the eigensolve).
    total_exact = g.selectExpr(
        f"{sum_d_sql('vpq')} / 1e12 AS tv"
    ).collect()[0]["tv"]
    trace_ok = bool(
        abs(float(np.sum(eigvals)) - total_exact)
        <= 1e-6 * max(1.0, total_exact)
    )
    return g.agg(F.expr(_PV_TOTAL).alias("total_var")).select(
        F.lit(dim).alias("dim"),
        F.lit(dim).alias("n_components"),
        "total_var",
        F.lit(ortho).alias("orthonormal_ok"),
        F.lit(descending).alias("eigs_descending_ok"),
        F.lit(trace_ok).alias("trace_matches_exact"),
    )


HN_K = 5  # hard negatives per probe


@query(
    "hard_negative_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id, embedding, label
               FROM embeddings WHERE vec_id >= {N_QUERIES}),
         sims AS (
           SELECT q.query_id, c.vec_id, c.label,
                  round(list_cosine_similarity(qvec::DOUBLE[], embedding::DOUBLE[]), 6) AS cos_sim
           FROM q, c WHERE c.label <> q.qlabel)
    SELECT query_id, vec_id, label, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id) AS rnk
    FROM sims
    QUALIFY rnk <= {HN_K}
    """,
)
def hard_negative_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each probe
    vector, the {HN_K} most-similar corpus vectors carrying a DIFFERENT
    label — the near-misses that make the best negatives in a triplet/
    InfoNCE batch. (Easy negatives are random; hard ones are the high-
    cosine wrong-label neighbors this query surfaces.)

    Shape: identical to sim_search_topk — probes broadcast, ONE corpus
    scan, norms computed corpus-linear, per-query window top-k — plus a
    label-inequality predicate applied BEFORE ranking so the window
    never sees same-class rows. At 100 TB swap the brute-force scan for
    the IVF/LSH candidate path and keep the label filter on the
    candidate set; the ranking contract stays the same."""
    emb = spread(load_table(spark, "embeddings", sf_dir))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        as_double(F.col("embedding")).alias("qv"),
        F.col("label").alias("qlabel"),
    ).withColumn("qn", norm(F.col("qv")))
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        "vec_id",
        "label",
        as_double(F.col("embedding")).alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    sim = F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6)
    joined = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
        .select("query_id", "vec_id", "label", sim.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= HN_K)
        .select("query_id", "vec_id", "label", "cos_sim", "rnk")
    )


@query(
    "cluster_quality_report",
    """
    WITH ex AS (
      SELECT vec_id, label,
             CAST(generate_subscripts(embedding, 1) AS INTEGER) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS e
      FROM embeddings),
    cent AS (
      SELECT label, dim, avg(e) AS c FROM ex GROUP BY 1, 2),
    d2 AS (
      SELECT ex.vec_id, ex.label, sum((ex.e - cent.c) ^ 2) AS dist2
      FROM ex JOIN cent ON ex.label = cent.label AND ex.dim = cent.dim
      GROUP BY 1, 2),
    intra AS (
      SELECT label, count(*) AS n_members,
             round(avg(sqrt(dist2)), 4) AS intra_mean_dist
      FROM d2 GROUP BY 1),
    cpair AS (
      SELECT a.label AS la, b.label AS lb, sqrt(sum((a.c - b.c) ^ 2)) AS cd
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label <> b.label
      GROUP BY 1, 2),
    inter AS (
      SELECT la AS label, round(min(cd), 4) AS inter_min_dist
      FROM cpair GROUP BY 1)
    SELECT i.label, i.n_members, i.intra_mean_dist, t.inter_min_dist,
           round(t.inter_min_dist / i.intra_mean_dist, 4) AS separation_ratio
    FROM intra i JOIN inter t USING (label)
    """,
)
def cluster_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster cohesion/separation report per label: mean member-to-
    centroid distance (intra), nearest other-centroid distance (inter),
    and their ratio — the Dunn-index-style health check run after any
    clustering/labeling pass (a ratio near or below 1 says the classes
    bleed into each other; embedding_cluster_assign + this = assign then
    audit).

    Scale shape: everything flows through the dimension-exploded
    (vec, label, dim, e) form — per-(label, dim) centroid partials are
    map-side combinable, the member-distance join fans each row out
    against a |labels| x dim BROADCAST centroid table, and per-vector
    distances re-aggregate on vec_id. The only data-sized shuffles carry
    scalar rows; centroid-pair distances are |labels|^2 x dim — dust.
    Float discipline: distances aggregate unrounded and round once at
    the report boundary (4 dp), same op order both engines."""
    emb = spread(load_table(spark, "embeddings", sf_dir))
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode(as_double(F.col("embedding"))).alias("dim0", "e"),
    ).select(
        "vec_id", "label", (F.col("dim0") + 1).cast("int").alias("dim"), "e"
    )
    cent = ex.groupBy("label", "dim").agg(F.avg("e").alias("c"))
    d2 = (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(F.sum(F.pow(F.col("e") - F.col("c"), 2)).alias("dist2"))
    )
    intra = d2.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.avg(F.sqrt("dist2")), 4).alias("intra_mean_dist"),
    )
    a, b = cent.alias("a"), cent.alias("b")
    cpair = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") != F.col("b.label")),
        )
        .groupBy(F.col("a.label").alias("la"), F.col("b.label").alias("lb"))
        .agg(F.sqrt(F.sum(F.pow(F.col("a.c") - F.col("b.c"), 2))).alias("cd"))
    )
    inter = cpair.groupBy(F.col("la").alias("label")).agg(
        F.round(F.min("cd"), 4).alias("inter_min_dist")
    )
    return (
        intra.join(inter, "label")
        .select(
            "label",
            "n_members",
            "intra_mean_dist",
            "inter_min_dist",
            F.round(
                F.col("inter_min_dist") / F.col("intra_mean_dist"), 4
            ).alias("separation_ratio"),
        )
    )


# ------------------------------------------------------------- ndcg_at_k


NDCG_K = 10


@query(
    "ndcg_at_k",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id, embedding, label FROM embeddings
          WHERE vec_id >= {N_QUERIES}),
    ranked AS (
      SELECT q.query_id, q.qlabel, c.label,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY round(list_cosine_similarity(
                          qvec::DOUBLE[], embedding::DOUBLE[]), 6) DESC,
                        c.vec_id) AS rnk
      FROM q, c),
    dcg AS (
      SELECT query_id,
             sum(CASE WHEN label = qlabel THEN 1.0 / log2(rnk + 1)
                      ELSE 0.0 END) AS dcg,
             CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rel_total
      FROM ranked WHERE rnk <= {NDCG_K} GROUP BY 1),
    rel AS (
      SELECT q.query_id,
             CAST(sum(CASE WHEN c.label = q.qlabel THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rel
      FROM q, c GROUP BY 1),
    ideal AS (
      SELECT r.query_id,
             sum(1.0 / log2(i + 1)) AS idcg
      FROM rel r, UNNEST(range(1, {NDCG_K} + 1)) AS t(i)
      WHERE i <= LEAST(r.n_rel, {NDCG_K})
      GROUP BY 1)
    SELECT d.query_id, d.n_rel_total AS rel_in_topk,
           round(d.dcg / i.idcg, 6) AS ndcg
    FROM dcg d JOIN ideal i ON d.query_id = i.query_id
    """,
)
def ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{NDCG_K} of exact cosine retrieval, with binary relevance =
    label match — the graded ranking metric that `ann_recall_report`'s
    set-overlap recall can't express (position matters: a relevant hit
    at rank 1 is worth 1/log2(2), at rank 10 only 1/log2(11)). Shares
    `sim_search_topk`'s scale shape: {N_QUERIES} probe vectors ride
    along broadcast, ONE corpus scan computes cosines (codegen fold,
    no Python), a per-query top-k window ranks on the ROUNDED 6dp
    similarity (ULP drift can't reorder cross-engine) with vec_id
    tie-break. IDCG comes from exploding 1..{NDCG_K} against each
    query's total relevant count — min(n_rel, k) ideal gains — so
    ndcg==1.0 iff the top-k is label-pure when enough relevant exist.
    """
    emb = spread(load_table(spark, "embeddings", sf_dir))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES)
    sims = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "qlabel",
        "label",
        "vec_id",
        F.round(
            dot(as_double(F.col("qvec")), as_double(F.col("embedding")))
            / (
                norm(as_double(F.col("qvec")))
                * norm(as_double(F.col("embedding")))
            ),
            6,
        ).alias("cos_sim"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    ranked = sims.withColumn("rnk", F.row_number().over(wr))
    rel_hit = F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0)
    dcg = (
        ranked.filter(F.col("rnk") <= NDCG_K)
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    F.col("label") == F.col("qlabel"),
                    1.0 / F.log2(F.col("rnk") + 1),
                ).otherwise(0.0)
            ).alias("dcg"),
            F.sum(rel_hit).alias("rel_in_topk"),
        )
    )
    nrel = (
        c.crossJoin(F.broadcast(q.select("query_id", "qlabel")))
        .groupBy("query_id")
        .agg(F.sum(rel_hit).alias("n_rel"))
    )
    ideal = (
        nrel.select(
            "query_id",
            F.explode(F.sequence(F.lit(1), F.lit(NDCG_K))).alias("i"),
            "n_rel",
        )
        .filter(F.col("i") <= F.least(F.col("n_rel"), F.lit(NDCG_K)))
        .groupBy("query_id")
        .agg(F.sum(1.0 / F.log2(F.col("i") + 1)).alias("idcg"))
    )
    return dcg.join(F.broadcast(ideal), "query_id").select(
        "query_id",
        "rel_in_topk",
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# PQ-ADC approximate search (asymmetric distance computation)
# ---------------------------------------------------------------------------
PQ_ADC_K = 64       # codes per subspace for the SEARCH codebook (6 bits)
PQ_ADC_M = 16       # subspaces for the SEARCH index (finer than pq_encode)
PQ_ADC_RERANK = 100      # exact-rerank pool floor per query
PQ_ADC_RERANK_FRAC = 20  # ...or corpus/20, whichever is larger


def pq_build(
    spark: SparkSession, sf_dir: str, index_dir: str | None = None
) -> str:
    """PQ index build — the amortized once-per-snapshot cost, exactly
    like `ivf_build`/`lsh_build` (before round 4 the encoding ran
    inline on every probe, charging the index build to query latency):
    one corpus scan derives the deterministic codebook and encodes
    every vector to its nearest code per subspace (M x K distance
    folds per vector — linear in the corpus), persisting
      (a) the M x {PQ_ADC_K} codebook (subvector centroids),
      (b) the melted code rows with each vector's EXACT norm riding
          next to them (standard PQ index layout: ADC approximates
          only the cosine NUMERATOR, the denominator is exact),
    published by the same gapless pointer swap as the other indexes.
    Doubles round-trip parquet bit-exactly, so probe results are
    identical to the former inline form."""
    import os

    from ..operators.clustering import _codebook, pq_code_rows

    corpus, _ = _corpus_and_queries(spark, sf_dir)
    cv = corpus.select("vec_id", as_double(F.col("embedding")).alias("v"))
    book = _codebook(cv, PQ_ADC_K, PQ_ADC_M).localCheckpoint(eager=False)
    codes = pq_code_rows(cv, book, PQ_ADC_M).select("vec_id", "m", "code")
    norms = cv.select("vec_id", norm(F.col("v")).alias("cn"))

    def write(tmp: str) -> None:
        book.write.mode("overwrite").parquet(os.path.join(tmp, "codebook"))
        codes.join(norms, "vec_id").write.mode("overwrite").parquet(
            os.path.join(tmp, "codes")
        )

    return publish(
        index_dir or artifact_dir("pq_index", sf_dir), sf_dir, ("embeddings",), write
    )


def pq_adc_topk(
    spark: SparkSession, sf_dir: str, index_dir: str | None = None
) -> DataFrame:
    """Top-{TOP_K} per query via product-quantization ADC (Jégou et al.,
    TPAMI 2011 — public literature): the corpus is stored as {PQ_ADC_K}
    codes per subspace (4 bits x M vs 64 floats — the ~100x memory
    compression that lets a 100 TB corpus's index live in RAM), a query
    builds M x {PQ_ADC_K} distance TABLES once, candidate scoring is M
    table lookups per vector (never a float fold), and only the ADC
    top-{PQ_ADC_RERANK} pool is exact-cosine re-ranked.

    Relational spelling: PERSISTED code rows (`pq_build`, lazily built
    once per dataset and reused — bench.py reports build and probe
    separately, like IVF/LSH) join the broadcast distance tables on
    (m, code) — the shuffle-free lookup — then one (query, vec) partial
    sum, a per-query window cut, and the tiny rerank join back to raw
    vectors. Third ANN family next to hyperplane LSH (no training,
    insert-friendly) and IVF (data-adaptive scan fraction): PQ trades a
    deterministic-codebook build for the smallest probe footprint."""
    import os

    from ..operators.clustering import _subvectors

    index_dir = index_dir or artifact_dir("pq_index", sf_dir)
    if not current(index_dir, sf_dir, ("embeddings",)):
        pq_build(spark, sf_dir, index_dir)
    corpus, queries_df = _corpus_and_queries(spark, sf_dir)
    # raw vectors are touched only by the rerank pool join below
    cv = corpus.select("vec_id", as_double(F.col("embedding")).alias("v"))
    qv = queries_df.select(
        F.col("query_id").alias("vec_id"), as_double(F.col("qvec")).alias("v")
    )
    book = spark.read.parquet(os.path.join(index_dir, "codebook"))
    codes = spark.read.parquet(os.path.join(index_dir, "codes"))
    # inner-product tables: one row per (query, m, code) — M x K x |queries|
    dt = (
        _subvectors(qv, PQ_ADC_M)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(book), "m")
        .select(
            "query_id",
            "m",
            "code",
            F.round(dot(F.col("sv"), F.col("cv")), 6).alias("dt"),
        )
    )
    qn = qv.select(
        F.col("vec_id").alias("query_id"), norm(F.col("v")).alias("qn")
    )
    adc = (
        codes.join(F.broadcast(dt), ["m", "code"])
        .groupBy("query_id", "vec_id", "cn")
        .agg(F.sum("dt").alias("dsum"))
        .join(F.broadcast(qn), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("dsum") / (F.col("qn") * F.col("cn")), 6).alias(
                "adc_score"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_score"), "vec_id")
    # rerank budget scales with the corpus (5% with a floor): a fixed
    # pool's recall decays as the corpus grows past it; the budget rides
    # as a broadcast 1-row count, never a collect
    n_corpus = cv.groupBy().agg(F.count("*").alias("n_corpus"))
    pool = (
        adc.select("query_id", "vec_id", F.row_number().over(w).alias("prnk"))
        .crossJoin(F.broadcast(n_corpus))
        .filter(
            F.col("prnk")
            <= F.greatest(
                F.lit(PQ_ADC_RERANK),
                (F.col("n_corpus") / PQ_ADC_RERANK_FRAC).cast("int"),
            )
        )
    )
    # exact re-rank of the tiny pool only
    c = cv.withColumn("cn", norm(F.col("v")))
    q = qv.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec_d")
    ).withColumn("qn", norm(F.col("qvec_d")))
    sim = F.round(
        dot(F.col("qvec_d"), F.col("v")) / (F.col("qn") * F.col("cn")), 6
    )
    rer = (
        pool.join(c, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "vec_id", sim.alias("cos_sim"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        rer.select(
            "query_id", "vec_id", "cos_sim", F.row_number().over(w2).alias("rnk")
        )
        .filter(F.col("rnk") <= TOP_K)
    )


@query("sim_search_pq_adc")  # rows-only: PQ quantization is lossy by design;
# recall vs exact is flagged in ann_recall_report (pq_recall_ok)
def sim_search_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_adc_topk(spark, sf_dir)


# ------------------------------------------------------- mrr / map @ k
@query(
    "mrr_map_at_k",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id, embedding, label FROM embeddings
          WHERE vec_id >= {N_QUERIES}),
    ranked AS (
      SELECT q.query_id,
             CASE WHEN c.label = q.qlabel THEN 1 ELSE 0 END AS hit,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY round(list_cosine_similarity(
                          qvec::DOUBLE[], embedding::DOUBLE[]), 6) DESC,
                        c.vec_id) AS rnk
      FROM q, c),
    cum AS (
      SELECT query_id, hit, rnk,
             sum(hit) OVER (PARTITION BY query_id ORDER BY rnk) AS cumrel
      FROM ranked),
    nrel AS (SELECT query_id, sum(hit)::BIGINT AS n_rel FROM ranked GROUP BY 1),
    topk AS (SELECT * FROM cum WHERE rnk <= {NDCG_K})
    SELECT t.query_id,
           coalesce(min(CASE WHEN t.hit = 1 THEN t.rnk END), 0)::BIGINT
             AS first_rel_rank,
           round(coalesce(1.0 / min(CASE WHEN t.hit = 1 THEN t.rnk END), 0.0), 6)
             AS rr,
           round(coalesce(
             sum(CASE WHEN t.hit = 1 THEN t.cumrel::DOUBLE / t.rnk END)
               / least(any_value(n.n_rel), {NDCG_K}), 0.0), 6) AS ap_at_k
    FROM topk t JOIN nrel n USING (query_id)
    GROUP BY t.query_id
    """,
)
def mrr_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank and average precision @{NDCG_K} per probe query
    (binary label relevance) — with `ndcg_at_k` these are the three
    standard retrieval read-outs (MRR weights only the FIRST hit, AP
    integrates precision over every hit, NDCG discounts by position).
    Same scale shape as the NDCG plan: one corpus scan against the
    broadcast probes, per-query window on the rounded-6dp cosine, all
    rank math on the bounded top-k lattice."""
    emb = spread(load_table(spark, "embeddings", sf_dir))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES)
    sims = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0).alias("hit"),
        "vec_id",
        F.round(
            dot(as_double(F.col("qvec")), as_double(F.col("embedding")))
            / (
                norm(as_double(F.col("qvec")))
                * norm(as_double(F.col("embedding")))
            ),
            6,
        ).alias("cos_sim"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    ranked = sims.withColumn("rnk", F.row_number().over(wr))
    wcum = Window.partitionBy("query_id").orderBy("rnk")
    cum = ranked.withColumn("cumrel", F.sum("hit").over(wcum))
    nrel = ranked.groupBy("query_id").agg(F.sum("hit").alias("n_rel"))
    topk = cum.filter(F.col("rnk") <= NDCG_K)
    first_rel = F.min(F.when(F.col("hit") == 1, F.col("rnk")))
    return (
        topk.join(nrel, "query_id")
        .groupBy("query_id")
        .agg(
            F.coalesce(first_rel, F.lit(0)).cast("long").alias("first_rel_rank"),
            F.round(F.coalesce(1.0 / first_rel, F.lit(0.0)), 6).alias("rr"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("hit") == 1,
                            F.col("cumrel").cast("double") / F.col("rnk"),
                        )
                    )
                    / F.least(F.first("n_rel"), F.lit(NDCG_K)),
                    F.lit(0.0),
                ),
                6,
            ).alias("ap_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of lexical + dense rankings
# ---------------------------------------------------------------------------
RRF_K = 60        # the standard RRF damping constant (Cormack et al.)
RRF_DEPTH = 50    # fuse the top-50 of each ranker
RRF_TOPK = 20


def _rrf_oracle() -> str:
    from .text import BM25_B, BM25_K1, BM25_QUERY

    q_sql = ", ".join(f"'{w}'" for w in BM25_QUERY)
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
               WHERE doc_id >= 1),
    stats AS (SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM t),
    tok AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM t),
    qt AS (SELECT * FROM tok WHERE term IN ({q_sql})),
    tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM qt GROUP BY 1, 2, 3),
    dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM qt GROUP BY 1),
    bm AS (SELECT doc_id,
                  round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                            * tf * ({BM25_K1} + 1)
                            / (tf + {BM25_K1} * (1 - {BM25_B}
                                 + {BM25_B} * dl / avgdl))), 4) AS bm25
           FROM tf JOIN dft USING (term) CROSS JOIN stats GROUP BY doc_id),
    lex AS (SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
            FROM bm QUALIFY r <= {RRF_DEPTH}),
    dn AS (SELECT vec_id AS doc_id,
                  round(list_cosine_similarity(embedding::DOUBLE[],
                        (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]),
                        6) AS cs
           FROM embeddings WHERE vec_id >= 1),
    den AS (SELECT doc_id,
                   row_number() OVER (ORDER BY cs DESC, doc_id) AS r
            FROM dn QUALIFY r <= {RRF_DEPTH}),
    u AS (SELECT doc_id, 1.0::DOUBLE / ({RRF_K} + r) AS c FROM lex
          UNION ALL
          SELECT doc_id, 1.0::DOUBLE / ({RRF_K} + r) AS c FROM den),
    f AS (SELECT doc_id, round(sum(c), 6) AS rrf,
                 count(*) AS n_lists
          FROM u GROUP BY doc_id)
    SELECT doc_id, rrf, n_lists,
           row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk
    FROM f QUALIFY rnk <= {RRF_TOPK}
    """


@query("rrf_fusion", _rrf_oracle())
def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (score = Σ 1/(k+rank),
    k={RRF_K}) of a lexical ranker (the same BM25 scoring formula as `bm25_score`,
    hand-mirrored here over the probe-excluded corpus — its stats
    therefore differ by the excluded doc; keep the two in sync when
    touching either) and a dense ranker (cosine
    against the doc-0 probe embedding; vec_id i is doc i's embedding —
    the paired-corpus convention of the synthetic tables). Doc 0 itself
    is excluded from both lists (self-retrieval).

    The list depth is capped at {RRF_DEPTH} per ranker, so the fusion
    aggregate touches at most 2·depth rows regardless of corpus size —
    at 100 TB the rank lists arrive depth-bounded from the retrievers
    (BM25 top-k is TakeOrdered, dense top-k comes from the ANN path) and
    the unpartitioned ranking windows here order ranker OUTPUT (depth-
    bounded), never the corpus. FP parity: each fused score is a sum of
    at most 2 terms (commutative, order-free), ranked on the ROUNDED
    value with doc_id tie-break."""
    from ..functions.textfns import tokens
    from .text import BM25_B, BM25_K1, BM25_QUERY

    docs = spread(load_table(spark, "documents", sf_dir)).filter(F.col("doc_id") >= 1)
    emb = load_table(spark, "embeddings", sf_dir)

    # Same one-pass restructure as bm25_score (optimization r11, guide
    # §1.2 — see text.py for the full argument): the token array binds
    # once via explode(array(...)), the narrow (doc_id, dl, query-hits)
    # row is checkpointed for its two consumers, and df derives from tf
    # (identical integers). Scoring math untouched, kept in sync with
    # bm25_score per the docstring contract.
    bound = docs.select(
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
    qt = perdoc.select("doc_id", "dl", F.explode("qt").alias("term"))
    tf = qt.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    score = (
        idf
        * F.col("tf")
        * (BM25_K1 + 1)
        / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
    )
    bm = (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(score), 4).alias("bm25"))
    )
    w_lex = Window.orderBy(F.col("bm25").desc(), "doc_id")
    lex = (
        bm.withColumn("r", F.row_number().over(w_lex))
        .filter(F.col("r") <= RRF_DEPTH)
        .select("doc_id", "r")
    )

    qv = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("qv")
    )
    c = emb.filter(F.col("vec_id") >= 1).select(
        F.col("vec_id").alias("doc_id"), as_double(F.col("embedding")).alias("cv")
    )
    dn = c.crossJoin(F.broadcast(qv)).select(
        "doc_id",
        F.round(
            dot(F.col("cv"), F.col("qv")) / (norm(F.col("cv")) * norm(F.col("qv"))), 6
        ).alias("cs"),
    )
    w_den = Window.orderBy(F.col("cs").desc(), "doc_id")
    den = (
        dn.withColumn("r", F.row_number().over(w_den))
        .filter(F.col("r") <= RRF_DEPTH)
        .select("doc_id", "r")
    )

    contrib = lex.unionAll(den).select(
        "doc_id", (F.lit(1.0) / (RRF_K + F.col("r"))).alias("c")
    )
    fused = contrib.groupBy("doc_id").agg(
        F.round(F.sum("c"), 6).alias("rrf"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    w_f = Window.orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("rnk", F.row_number().over(w_f))
        .filter(F.col("rnk") <= RRF_TOPK)
        .select("doc_id", "rrf", "n_lists", "rnk")
    )


# ------------------------------------------------- embedding_matryoshka_eval


MAT_DIMS = 16  # truncation prefix length under evaluation


@query(
    "embedding_matryoshka_eval",
    f"""
    WITH pairs AS (
      SELECT a.label,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 6)
               AS cos_full,
             round(list_cosine_similarity((a.embedding[1:{MAT_DIMS}])::DOUBLE[],
                                          (b.embedding[1:{MAT_DIMS}])::DOUBLE[]),
                   6) AS cos_trunc
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id),
    m AS (
      SELECT label,
             CAST(count(*) AS BIGINT) AS n_pairs,
             avg(abs(cos_full - cos_trunc)) AS mad,
             count(*) * sum(cos_full * cos_trunc)
               - sum(cos_full) * sum(cos_trunc) AS cnum,
             sqrt(count(*) * sum(cos_full * cos_full)
                  - sum(cos_full) * sum(cos_full))
               * sqrt(count(*) * sum(cos_trunc * cos_trunc)
                      - sum(cos_trunc) * sum(cos_trunc)) AS cden
      FROM pairs GROUP BY label)
    SELECT label, n_pairs,
           round(mad, 4)         AS mean_abs_dev,
           round(cnum / cden, 4) AS fidelity_corr
    FROM m
    """,
)
def embedding_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation fidelity: if the {MAT_DIMS}-dim prefix of
    each embedding replaced the full 64-dim vector, how well would
    pairwise cosine structure survive? Reports, per label block, the
    mean |cos_full − cos_trunc| and the Pearson correlation between
    full and truncated pair similarities — the evaluation that decides
    whether the ANN index (and its 4× memory) can run on truncated
    vectors. Modern embedding models train nested prefixes exactly so
    this report comes back favorable.

    Shape: the pair set reuses `dedup_embedding_cosine`'s label
    blocking (within-block products only — never corpus²); both
    cosines per pair come from one zip_with/aggregate fold pass over
    the pair row, truncation via `slice` before the fold (codegen,
    no second scan). Moments aggregate ROUNDED cosines, so both
    engines sum identical doubles; round(4) on the two outputs."""
    emb = spread(load_table(spark, "embeddings", sf_dir))
    v = as_double(F.col("embedding"))
    e = emb.select(
        "vec_id",
        "label",
        v.alias("vf"),
        F.slice(v, 1, MAT_DIMS).alias("vt"),
    )
    # norms once per row, not per pair (the family discipline)
    e = e.withColumn("nf", norm(F.col("vf"))).withColumn("nt", norm(F.col("vt")))
    a, b = e.alias("a"), e.alias("b")
    cos_f = dot(F.col("a.vf"), F.col("b.vf")) / (F.col("a.nf") * F.col("b.nf"))
    cos_t = dot(F.col("a.vt"), F.col("b.vt")) / (F.col("a.nt") * F.col("b.nt"))
    pairs = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.label").alias("label"),
            F.round(cos_f, 6).alias("cos_full"),
            F.round(cos_t, 6).alias("cos_trunc"),
        )
    )
    m = pairs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.avg(F.abs(F.col("cos_full") - F.col("cos_trunc"))).alias("mad"),
        (
            F.count(F.lit(1)) * F.sum(F.col("cos_full") * F.col("cos_trunc"))
            - F.sum("cos_full") * F.sum("cos_trunc")
        ).alias("cnum"),
        (
            F.sqrt(
                F.count(F.lit(1)) * F.sum(F.col("cos_full") * F.col("cos_full"))
                - F.sum("cos_full") * F.sum("cos_full")
            )
            * F.sqrt(
                F.count(F.lit(1)) * F.sum(F.col("cos_trunc") * F.col("cos_trunc"))
                - F.sum("cos_trunc") * F.sum("cos_trunc")
            )
        ).alias("cden"),
    )
    return m.select(
        "label",
        "n_pairs",
        F.round("mad", 4).alias("mean_abs_dev"),
        F.round(F.col("cnum") / F.col("cden"), 4).alias("fidelity_corr"),
    )


# -------------------------------------------------------- knn_classify_eval

KNN_K = 5
KNN_TEST_MOD = 10  # vec_id % 10 == 0 -> held-out eval candidate
KNN_EVAL_CAP = 100  # FIXED eval-set bound: broadcast side is a constant
KNN_RANK_SALTS = 32  # stage-1 rank fan-out; size to the cluster at scale


@query(
    "knn_classify_eval",
    f"""
    WITH te AS (SELECT vec_id AS tid, embedding AS tvec, label AS tlabel
                FROM embeddings WHERE vec_id % {KNN_TEST_MOD} = 0
                  AND vec_id < {KNN_EVAL_CAP * KNN_TEST_MOD}),
         tr AS (SELECT vec_id, embedding, label FROM embeddings
                WHERE vec_id % {KNN_TEST_MOD} <> 0),
         sims AS (
           SELECT te.tid, te.tlabel, tr.vec_id, tr.label,
                  round(list_cosine_similarity(tvec::DOUBLE[],
                                               embedding::DOUBLE[]), 6) AS cs
           FROM te, tr),
         nn AS (
           SELECT tid, tlabel, label,
                  row_number() OVER (PARTITION BY tid
                                     ORDER BY cs DESC, vec_id) AS rnk
           FROM sims QUALIFY rnk <= {KNN_K}),
         votes AS (
           SELECT tid, tlabel, label AS plabel,
                  CAST(count(*) AS BIGINT) AS n
           FROM nn GROUP BY 1, 2, 3),
         pred AS (
           SELECT tid, tlabel, plabel,
                  row_number() OVER (PARTITION BY tid
                                     ORDER BY n DESC, plabel) AS vr
           FROM votes QUALIFY vr = 1)
    SELECT tlabel AS label, CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN plabel = tlabel THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           round(sum(CASE WHEN plabel = tlabel THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS accuracy
    FROM pred GROUP BY 1
    """,
)
def knn_classify_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classifier evaluation over the embedding corpus: hold out
    every {KNN_TEST_MOD}th vector, predict its label by majority vote of
    its {KNN_K} nearest training neighbours (cosine), report per-label
    accuracy — the standard embedding-quality probe (is the space
    linearly separable by label?) complementing `ann_recall_report`
    (which scores the INDEX, not the space).

    Shape: the held-out side is bounded by a CONSTANT, not a corpus
    fraction (VERDICT r4 "What's wrong" #2): the eval set is
    ``vec_id % {KNN_TEST_MOD} = 0 AND vec_id < {KNN_EVAL_CAP} *
    {KNN_TEST_MOD}`` — non-negative integer ids admit at most
    {KNN_EVAL_CAP} multiples of {KNN_TEST_MOD} below the cutoff, so at
    100x data the broadcast side is still <= {KNN_EVAL_CAP} rows BY
    CONSTRUCTION, and unlike a sort-limit the bound costs no shuffle at
    all: both predicates push to the parquet scan (the range half is
    zone-map/partition prunable). The train corpus streams through ONE
    scan, exactly the `sim_search_topk` plan; norms are precomputed per
    row, never per pair. Neighbour selection is a two-stage SALTED
    top-K (see inline comment): no window in the plan ever sorts more
    than a 1/KNN_RANK_SALTS corpus slice, and stage 2 plus vote ->
    winner -> accuracy are all lattice-sized (|test| x SALTS x K, then
    |test| x |labels|). Ranking uses the ROUNDED cosine (6dp) with
    vec_id tie-break, majority ties break to the smallest label — both
    deterministic and engine-portable. For an eval set too large to
    broadcast, route candidates through the LSH-bucketed join of
    `dedup_embedding_lsh`; semantics unchanged."""
    emb = load_table(spark, "embeddings", sf_dir)
    te = (
        emb.filter(
            (F.col("vec_id") % KNN_TEST_MOD == 0)
            & (F.col("vec_id") < KNN_EVAL_CAP * KNN_TEST_MOD)
        )
        .select(
            F.col("vec_id").alias("tid"),
            as_double(F.col("embedding")).alias("tv"),
            F.col("label").alias("tlabel"),
        )
        .withColumn("tn", norm(F.col("tv")))
    )
    # spread() the TRAIN side (optimization r10): it carries the whole
    # per-pair cosine workload (|train| x |test| folds), and the single-
    # row-group parquet arrives as ONE scan task — the query ran its
    # ~2.4 s of compute on one core of 32 (12 tasks total profiled).
    tr = spread(emb.filter(F.col("vec_id") % KNN_TEST_MOD != 0)).select(
        "vec_id", as_double(F.col("embedding")).alias("cv"), "label"
    ).withColumn("cn", norm(F.col("cv")))
    cs = F.round(dot(F.col("tv"), F.col("cv")) / (F.col("tn") * F.col("cn")), 6)
    sims = tr.crossJoin(F.broadcast(te)).select(
        "tid",
        "tlabel",
        "vec_id",
        "label",
        cs.alias("cs"),
        F.pmod(F.xxhash64("vec_id"), F.lit(KNN_RANK_SALTS)).alias("salt"),
    )
    # Two-stage salted top-K ("never rank raw rows"): a single window
    # PARTITION BY tid has <= |test| = {KNN_EVAL_CAP} partitions, so each
    # reducer would sort the ENTIRE train corpus at scale. Stage 1 ranks
    # within (tid, salt) — |test| x KNN_RANK_SALTS-way parallelism, each
    # group a 1/KNN_RANK_SALTS corpus slice (spillable sort; size SALTS
    # to the cluster at 100x) — and keeps K per group. Because both
    # stages use the SAME total order (cs DESC, vec_id ASC), the union
    # of per-salt top-Ks contains the global top-K exactly, so stage 2
    # ranks only |test| x SALTS x K lattice-bounded survivors. The salt
    # is a deterministic hash of vec_id, not spark_partition_id(), so
    # the result is invariant to physical partitioning.
    order = (F.col("cs").desc(), F.col("vec_id"))
    w1 = Window.partitionBy("tid", "salt").orderBy(*order)
    cand = (
        sims.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= KNN_K)
        .drop("r1", "salt")
    )
    wk = Window.partitionBy("tid").orderBy(*order)
    nn = cand.withColumn("rnk", F.row_number().over(wk)).filter(
        F.col("rnk") <= KNN_K
    )
    votes = nn.groupBy("tid", "tlabel", F.col("label").alias("plabel")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wv = Window.partitionBy("tid").orderBy(F.col("n").desc(), F.col("plabel"))
    pred = votes.withColumn("vr", F.row_number().over(wv)).filter(F.col("vr") == 1)
    correct = F.sum(F.when(F.col("plabel") == F.col("tlabel"), 1).otherwise(0))
    return pred.groupBy(F.col("tlabel").alias("label")).agg(
        F.count(F.lit(1)).alias("n_test"),
        correct.alias("n_correct"),
        F.round(correct * 1.0 / F.count(F.lit(1)), 4).alias("accuracy"),
    )
