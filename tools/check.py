"""Local correctness harness — mimics the driver's DuckDB-oracle compare.

Usage:
    python tools/check.py [query ...]          # default: all, sf0.01
    SF_DIR=/root/testdata/sf0.001 python tools/check.py

For each registered query: run the Spark plan and the DuckDB oracle on the
same parquet dir and compare
  1. row count,
  2. column names (sorted),
  3. declared result TYPES per column, mapped to a cross-engine class
     lattice (all ints <=64 bits are one class; DuckDB HUGEINT/DECIMAL are
     NOT in it — `sum(INTEGER)` returning HUGEINT must be CAST in the
     oracle, see round-1 FAILs),
  4. order-insensitive values with type-tagged cells — int 936 and float
     936.0 DO NOT match (the driver's value hash is representation-
     sensitive; round 1 proved 9-significant-digit float normalization
     here predicted driver green wrongly).

Queries without an oracle get a rows-only report.
"""

from __future__ import annotations

import math
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from structured_streaming_cassandra_sink_spark.session import _local_cores, get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# ---------------------------------------------------------------- type lattice

_DUCK_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"}
_DUCK_FLOAT = {"FLOAT", "DOUBLE"}


def _duck_class(t: str) -> str:
    """Map a DuckDB type string to a cross-engine class."""
    t = str(t).upper()
    if t.endswith("[]"):
        return f"list<{_duck_class(t[:-2])}>"
    if t in _DUCK_INT:
        return "int"
    if t in {"UBIGINT", "HUGEINT", "UHUGEINT"}:
        return "int128"  # no Spark equivalent — CAST the oracle side
    if t in _DUCK_FLOAT:
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t == "VARCHAR":
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t == "BLOB":
        return "bin"
    return t.lower()


def _spark_class(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.BinaryType):
        return "bin"
    if isinstance(dt, T.ArrayType):
        return f"list<{_spark_class(dt.elementType)}>"
    return type(dt).__name__.lower()


# ---------------------------------------------------------------- value compare


def _norm(v):
    """Type-tagged cell normalization: ints and floats never compare equal."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        if v == 0:
            v = 0.0  # -0.0 == 0.0 across engines
        return ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    return (type(v).__name__, str(v))


def _rows_to_set(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        out.append(tuple(_norm(r[i]) for i in order))
    return sorted(out, key=repr)


def _driver_canon_error(rows, colnames) -> str | None:
    """Replicate the driver's pandas canonicalizer to the letter: build a
    DataFrame and sort_values by every column (sorted by name). The driver
    does exactly this before hashing, and pandas' factorize raises
    ``TypeError: unhashable type: 'list'`` on list/dict cells — the
    round-2 ``embedding_centroid``/``embedding_quantize`` FAIL mode that
    the set-based compare below cannot see (tuples hash fine there).
    Returns the error string if the driver would crash, else None."""
    import pandas as pd

    try:
        pdf = pd.DataFrame(list(rows), columns=list(colnames))
        pdf.sort_values(by=sorted(colnames), inplace=True, kind="mergesort")
        # the driver also hashes cell values — catch anything unhashable
        # that survived the sort (e.g. a single-column frame of dicts)
        for c in pdf.columns:
            pdf[c].map(hash)
    except Exception as e:  # noqa: BLE001
        return f"{type(e).__name__}: {e}"
    return None


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print("usage: check.py [--json OUT_PATH] [--plain] [query ...]")
            return 2
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    plain = "--plain" in args
    if plain:
        args.remove("--plain")
    wanted = args
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = wanted or list(qs)  # registry order (what the driver sees)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}; known: {sorted(qs)}")
        return 2

    if plain:
        # Driver-sim mode (r9): the external driver builds a PLAIN
        # SparkSession — none of get_spark's conf (200 default shuffle
        # partitions instead of the core count => different partial-agg
        # order, AQE defaults, no Arrow conf). Any query whose green
        # depends on our session factory rather than the order-independent
        # contracts shows up here before it burns a driver slot.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(f"local[{_local_cores()}]")
            # keeps the progress bar off the result lines; no plan changes
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark(app_name="check")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # driver testdata ships single files; derived sets (gen_sf1eq.py)
        # are Spark-written DIRECTORIES of part files — glob those
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    failures = 0
    report: dict[str, dict] = {}

    def _rec(name, *, rows=None, orows=None, ok=None, err=None):
        report[name] = {
            "rows_match": ok,
            "schema_match": ok,
            "hash_match": ok,
            "spark_rows": rows,
            "oracle_rows": orows,
            "err": err,
        }

    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            stypes = {f.name: _spark_class(f.dataType) for f in sdf.schema.fields}
            srows = sdf.collect()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            _rec(name, ok=False, err=f"spark: {type(e).__name__}: {e}"[:300])
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows, cols={scols} ({time.time()-t0:.1f}s) [rows-only]")
            _rec(name, rows=len(srows), err="no_oracle")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes = {c: _duck_class(t) for c, t in zip(rel.columns, rel.types)}
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {type(e).__name__}: {e}")
            _rec(name, rows=len(srows), ok=False, err=f"oracle: {type(e).__name__}: {e}"[:300])
            failures += 1
            continue
        ok = True
        msgs = []
        canon_err = _driver_canon_error([tuple(r) for r in srows], scols)
        if canon_err is None:
            canon_err = _driver_canon_error(orows, ocols)
        if canon_err is not None:
            ok = False
            msgs.append(f"driver canonicalizer would crash: {canon_err}")
        if len(srows) != len(orows):
            ok = False
            msgs.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            ok = False
            msgs.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        else:
            tdiff = {
                c: (stypes[c], otypes[c]) for c in scols if stypes[c] != otypes[c]
            }
            if tdiff:
                ok = False
                msgs.append(f"type classes differ (spark, oracle): {tdiff}")
        if ok:
            sset = _rows_to_set([tuple(r) for r in srows], scols)
            oset = _rows_to_set(orows, ocols)
            if sset != oset:
                ok = False
                oonly = set(map(repr, sset))
                sonly = set(map(repr, oset))
                diff_s = [r for r in sset if repr(r) not in sonly][:3]
                diff_o = [r for r in oset if repr(r) not in oonly][:3]
                msgs.append(f"values differ; spark-only={diff_s} oracle-only={diff_o}")
        status = "ok   " if ok else "FAIL "
        if not ok:
            failures += 1
        _rec(
            name,
            rows=len(srows),
            orows=len(orows),
            ok=ok,
            err=None if ok else "; ".join(msgs)[:300],
        )
        print(f"{status} {name}: {len(srows)} rows ({time.time()-t0:.1f}s) {'; '.join(msgs)}")
    print(f"\n{len(names)} queries, {failures} failures")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(report, fh, indent=1)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
