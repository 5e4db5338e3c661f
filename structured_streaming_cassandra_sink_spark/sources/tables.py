"""Batch table readers over the driver's parquet testdata.

Generalizes reference capability class #1 (streaming source scan,
cassandra_sink.scala:98-103) to its batch twin: ``spark.read.parquet``.

Scale notes: parquet scans get predicate pushdown + column pruning from
Catalyst for free as long as callers express filters/projections on the
DataFrame (never collect-then-filter). At 100 TB the same code reads a
partitioned table directory; partition pruning applies when the path is
hive-partitioned.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one testdata table by name.

    Schemas are declared in :mod:`..schemas`; for parquet we let the file
    metadata drive (parquet is self-describing and the driver generated it)
    but the registry is the contract tests assert against.

    The file schema is resolved by Spark once per table file version and
    memoized (:func:`_read_parquet`): a later read of the same files passes
    it to ``spark.read.schema(...)`` and runs no footer-inference job.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    if name == "events":
        # Runtime-settable; needed even when the caller (e.g. the driver
        # harness) built the session without our factory.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS); with
        # spark.sql.legacy.parquet.nanosAsLong it arrives as long nanos.
        # Integer `div` (not `/`): nanos ~1.7e18 exceed double's 2^53
        # exact-integer range, float division would corrupt microseconds.
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _normalize_timestamps(df, TABLES[name])


# Session confs that change how Spark maps a parquet footer to its types.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# (path, inference confs) -> (data-file signature, schema Spark inferred).
# Process-wide on purpose: an entry is a function of its key and the files'
# signature, so callers and sessions that share it get the schema a fresh
# inference would give. One entry per path and conf tuple bounds its size.
_SCHEMAS: dict[tuple, tuple] = {}


def _data_files(path: str) -> tuple:
    """``(file, mtime_ns, size)`` of every data file under ``path`` (a file
    or a directory of part files), skipping the ``_``/``.`` names Spark
    skips. Raises ``OSError`` when ``path`` is not a local path."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((path, st.st_mtime_ns, st.st_size),)
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                f = os.path.join(root, n)
                st = os.stat(f)
                files.append((f, st.st_mtime_ns, st.st_size))
    return tuple(sorted(files))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the footer schema once per
    file version.

    Schema inference is a Spark job on every read (about 0.07 s warm on
    a 4-core VM). The first read of a path infers as usual, so Spark's
    type mapping (long nanos under ``nanosAsLong``, NTZ timestamps) is
    exactly what a plain read gives; later reads pass that schema to
    ``spark.read.schema``.
    The memo is keyed by the path and the session confs that change
    inference (``_INFERENCE_CONFS``), and holds the ``(mtime_ns, size)``
    of each data file: a rewritten or added file resolves afresh. Paths
    that are not local (no ``os.stat``) are read without the memo."""
    try:
        files = _data_files(path)
    except OSError:
        return spark.read.parquet(path)
    key = (path, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == files:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (files, df.schema)
    return df


def _normalize_timestamps(df: DataFrame, declared) -> DataFrame:
    """Cast timestamp columns to the DECLARED timestamp class.

    The driver regenerates testdata between rounds and the parquet
    timestamp convention has flipped (round 1: TIMESTAMP(NANOS) /
    isAdjustedToUTC=true -> TimestampType; round 2: isAdjustedToUTC=false
    -> TimestampNTZType). The declared schema (schemas.py) is the
    contract: NTZ, matching the DuckDB oracle's naive timestamps. With
    the session timezone pinned to UTC the TZ<->NTZ cast is
    instant-preserving. On the expected path (file already NTZ) no cast
    is inserted, so parquet filter pushdown is untouched.
    """
    from pyspark.sql import types as T

    actual = {f.name: f.dataType for f in df.schema.fields}
    fixes = {
        f.name: F.col(f.name).cast(f.dataType)
        for f in declared.fields
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
        and f.name in actual
        and actual[f.name] != f.dataType
        and isinstance(actual[f.name], (T.TimestampType, T.TimestampNTZType))
    }
    return df.withColumns(fixes) if fixes else df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, n, sf_dir) for n in (names or sorted(TABLES))}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every testdata table as a temp view for spark.sql queries."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Restore parallelism for small single-file inputs feeding
    compute-heavy per-row operators (shingling, per-gram hashing,
    vector math, pandas-UDF decode).

    A parquet file with one row group arrives as ONE partition no matter
    what spark.sql.files.maxPartitionBytes says — so without this, a
    32-core local run (or a 1000-core cluster reading a consolidated
    small dimension) does all its per-row work on one core. No-op when
    the input is already at least default-parallelism wide, so at real
    scale (many files / row groups) it costs nothing; below that, one
    tiny round-robin shuffle buys full fan-out.

    In front of a Python UDF (``mapInPandas``, pandas UDFs) each extra
    task also pays a fixed Python-worker cost: the worker's
    ``setup_spark_files`` calls ``importlib.invalidate_caches()``, which
    re-reads the archives and directories on the worker's path (measured
    at 0.14-0.20 CPU s per task with the pyspark zip and the Spark jars
    on it, 4-core VM). A fan-out there must save more work than that per
    added task; heavy_hitters' 500-document Misra-Gries pass did not."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def prefix_scan(
    df: DataFrame, order_cols: list[str], agg: Column, combine, start
) -> tuple[DataFrame, Column]:
    """Pass 1 of the distributed two-pass prefix scan (running sum, max,
    row number in a GLOBAL order without a single-partition window).

    Range-partitions ``df`` by ``order_cols`` into defaultParallelism
    partitions and tags each row with its partition id ``__pid``,
    collects ``agg`` per partition (a |partitions|-row driver collect),
    and folds the results in partition order with ``combine`` from
    ``start``. Returns ``(ranged, offset)``: ``offset`` is the fold over
    all EARLIER partitions, per row. The caller runs its own window
    ``partitionBy("__pid").orderBy(*order_cols)`` on ``ranged`` and
    combines it with ``offset``. A null partition aggregate is skipped,
    so a null partial sum counts as 0."""
    n = df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *[F.col(c) for c in order_cols]).withColumn(
        "__pid", F.spark_partition_id()
    )
    # pin partitioning: the groupBy('__pid') collect right below MUST
    # stay the FIRST action and aggregate every partition — eager=False
    # materializes on first use, and a partial action (limit/sample)
    # would let pass 2 recompute the nondeterministic repartition with
    # different partition ids
    ranged = ranged.localCheckpoint(eager=False)
    parts = ranged.groupBy("__pid").agg(agg.alias("__part")).collect()
    offsets, acc = {}, start
    for pid, part in sorted((r["__pid"], r["__part"]) for r in parts):
        offsets[pid] = acc
        if part is not None:
            acc = combine(acc, part)
    offset = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
        F.col("__pid"),
    )
    return ranged, offset


def table_rowcount(name: str, sf_dir: str = DEFAULT_SF_DIR) -> int:
    """Exact row count from parquet FOOTER metadata — no Spark job.

    Regime selectors (e.g. dedup_embedding_lsh's demo/production switch)
    need n_corpus before planning; an eager df.count() costs a full scan
    job on every invocation (ADVICE r8). Parquet footers carry the exact
    count, so this is a driver-side metadata read (one footer per file),
    the same statistic a lakehouse table format would serve from its
    manifest at 100 TB."""
    import pyarrow.dataset as pads

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    return pads.dataset(
        os.path.join(sf_dir, f"{name}.parquet"), format="parquet"
    ).count_rows()
