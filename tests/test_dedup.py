"""Dedup operator semantics: LSH recall vs exact, SimHash sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from structured_streaming_cassandra_sink_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from structured_streaming_cassandra_sink_spark.sources import load_table


def _pairs(df) -> set[tuple[int, int]]:
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_minhash_lsh_matches_exact(spark, sf_dir):
    """With r=2, b=16 bands the candidate probability at j>=0.5 is ~99.6%,
    and verification removes all false positives — so LSH output equals
    the exact inverted-index result on this corpus."""
    docs = load_table(spark, "documents", sf_dir)
    exact = _pairs(ngram_jaccard_pairs(docs))
    lsh = _pairs(minhash_lsh_pairs(docs))
    assert lsh <= exact  # verification kills false positives — always
    # Exact SET equality: dedup_near_minhash now carries the brute-force
    # oracle, which is only valid while measured recall is 1.0 on the
    # fixed testdata (verified at sf0.001/0.01/0.1). If this ever trips,
    # demote the query back to rows-only before shipping.
    assert lsh == exact, f"LSH recall < 1.0: missed {exact - lsh}"


def test_identical_docs_have_zero_hamming(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark window join hash merge sort table"),
            (2, "spark window join hash merge sort table"),
            (3, "completely different words entirely here now today"),
        ],
        "doc_id long, text string",
    )
    sk = {r.doc_id: (r.c0, r.c1, r.c2, r.c3) for r in simhash(docs).collect()}
    assert sk[1] == sk[2]
    assert sk[1] != sk[3]
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(docs).collect()}
    assert pairs.get((1, 2)) == 0


def test_simhash_rejects_unsupported_widths(spark):
    """The sketch layout is fixed at 64 bits in 4 chunks; other widths
    are a ValueError (an assert would vanish under ``python -O``)."""
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bits must be 64"):
        simhash(docs, bits=32)
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_pairs(docs, max_hamming=5)


def test_exact_dedup_collapses_duplicates(spark):
    from structured_streaming_cassandra_sink_spark.functions.textfns import fingerprint

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a  b   c"), (3, "A B C"), (4, "x y z")],
        "doc_id long, text string",
    )
    fp = docs.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
    groups = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("n")).collect()
    # whitespace-normalized + lowercased: docs 1-3 share a fingerprint
    assert sorted(r.n for r in groups) == [1, 3]


def test_prefix_filter_equals_inverted_index(spark, sf_dir):
    """Prefix filtering is exact: identical pair set + jaccard values as
    the plain inverted-index join."""
    from structured_streaming_cassandra_sink_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )
    from structured_streaming_cassandra_sink_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir)
    plain = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs).collect()}
    pref = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs_prefix(docs).collect()}
    assert plain == pref
    assert len(plain) > 0


def test_winnow_shared_substring_shares_fingerprint(spark):
    """Winnowing guarantee: two docs sharing a substring of length >=
    w + k - 1 share at least one fingerprint; unrelated docs don't."""
    from structured_streaming_cassandra_sink_spark.operators.text import WINNOW_K, WINNOW_W

    shared = "the quick brown fox jumps over the lazy dog"
    assert len(shared) >= WINNOW_W + WINNOW_K - 1
    docs = spark.createDataFrame(
        [
            (1, "prefix one " + shared + " suffix alpha", "en", "s", 1),
            (2, "totally different start " + shared + " and another end", "en", "s", 1),
            (3, "zxqv wvut srqp onml kjih gfed cba nothing in common here", "en", "s", 1),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs.createOrReplaceTempView("t_winnow_docs")
    import structured_streaming_cassandra_sink_spark.operators.text as textmod
    from pyspark.sql import functions as F

    # drive the registered query machinery on the in-memory docs
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES
    import unittest.mock as mock

    with mock.patch(
        "structured_streaming_cassandra_sink_spark.operators.text.load_table", return_value=docs
    ):
        fps = QUERIES["doc_winnow_fingerprint"](spark, "unused")
        rows = fps.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3] and by_doc[2] & by_doc[3]), "doc 3 unrelated"


def test_minhash_recall_report_flags(spark, sf_dir):
    """Driver-facing MinHash quality row: truth scalars sane, recall and
    zero-FP flags hold."""
    from structured_streaming_cassandra_sink_spark.plans import registry

    row = registry.QUERIES["minhash_recall_report"](spark, sf_dir).collect()[0]
    assert row.n_true_pairs > 0
    assert 0.0 < row.mean_true_jaccard <= 1.0
    assert row.recall_ok and row.no_false_positives


def test_tfidf_cosine_identical_docs(spark):
    from structured_streaming_cassandra_sink_spark.operators.dedup import (
        TFIDF_COS_THRESHOLD,
    )
    import structured_streaming_cassandra_sink_spark.operators.dedup as dd
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [
            (1, "spark window join hash merge sort table scan"),
            (2, "spark window join hash merge sort table scan"),
            (3, "completely different words entirely here now today friend"),
        ],
        "doc_id long, text string",
    )
    # run the registered plan body directly on an in-memory frame by
    # monkey-free reconstruction: identical docs must score cosine 1.0
    # and the disjoint doc must produce no pair at all.
    from structured_streaming_cassandra_sink_spark.functions.textfns import tokens

    base = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    assert base.count() == 3
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            (r.doc_a, r.doc_b): r.cosine
            for r in dd.tfidf_cosine_pairs(spark, td).collect()
        }
    assert out == {(1, 2): 1.0}
    assert TFIDF_COS_THRESHOLD < 1.0


def test_cdc_chunks_shift_invariant(spark, tmp_path):
    """The CDC property: prepending text to a document shifts every
    offset, yet most chunk fingerprints survive (content-defined cuts
    re-synchronize); fixed-size chunking at the same granularity loses
    alignment entirely."""
    import os

    from structured_streaming_cassandra_sink_spark.operators.dedup import (
        CDC_K,
        CDC_MOD,
        cdc_chunk_dedup,
    )

    base = (
        "spark window join hash merge sort table scan value part key "
        "stream batch row line agg fast slow the a filter group order "
        "limit union except intersect cast project explode flatten"
    )
    docs = spark.createDataFrame(
        [(1, base), (2, "totally new prefix inserted here " + base)],
        "doc_id long, text string",
    )
    td = str(tmp_path)
    docs.write.mode("overwrite").parquet(os.path.join(td, "documents.parquet"))
    shared = cdc_chunk_dedup(spark, td).collect()
    # the two docs must share a meaningful number of content chunks
    # despite every byte offset differing by the prefix length
    assert len(shared) >= 3, shared
    assert all(r.n_docs == 2 for r in shared)


def test_record_linkage_scores_on_weight_lattice(spark, sf_dir):
    """Every F-S score must be one of the 8 agree/disagree weight sums,
    pairs are canonical (a < b, no self-pairs), and match_class follows
    the thresholds exactly."""
    import itertools

    from structured_streaming_cassandra_sink_spark.operators.dedup import (
        FS_MATCH_T,
        FS_W,
        record_linkage_fs,
    )

    lattice = {
        round(a + b + c, 4)
        for a, b, c in itertools.product(FS_W["name"], FS_W["bal"], FS_W["band"])
    }
    rows = record_linkage_fs(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.cust_a < r.cust_b
        assert r.score in lattice
        assert r.score >= 0.0
        expect = "match" if r.score >= FS_MATCH_T else "possible"
        assert r.match_class == expect


def test_graph_clustering_coeff_bounds_and_triangle_cap(spark, sf_dir):
    """cc in [0,1] and per-node triangles never exceed C(degree, 2)."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["graph_clustering_coeff"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["local_cc"] <= 1.0
        assert r["n_triangles"] <= r["degree"] * (r["degree"] - 1) // 2


def test_graph_clustering_coeff_complete_family(spark):
    """Three identical docs form K3: every node has degree 2, one
    triangle, cc == 1."""
    import os
    import tempfile

    from structured_streaming_cassandra_sink_spark.operators.dedup import (
        graph_clustering_coeff,
    )

    d = tempfile.mkdtemp()
    text = " ".join(f"w{i}" for i in range(20))
    rows = [(i, text, "en", "s", len(text)) for i in range(3)] + [
        (10 + i, " ".join(f"z{i}_{j}" for j in range(20)), "en", "s", 50)
        for i in range(3)
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = graph_clustering_coeff(spark, d).collect()
    assert len(out) == 3
    for r in out:
        assert r["degree"] == 2 and r["n_triangles"] == 1 and r["local_cc"] == 1.0


def test_oracle_inverted_index_cte_equals_brute_force(sf_dir):
    """The shared DuckDB oracle CTE (_JACCARD_PAIRS_CTE) replaced the
    r1-r4 brute-force all-pairs form for sf0.1 tractability; this pins
    the equivalence proof ON DATA: both forms must produce the identical
    (doc_a, doc_b, jaccard) set. DuckDB-only — no Spark involved — so a
    regression here isolates to the oracle SQL itself."""
    import duckdb

    from structured_streaming_cassandra_sink_spark.operators.dedup import (
        _JACCARD_PAIRS_CTE,
        JACCARD_THRESHOLD,
        NGRAM_N,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    new = set(
        map(
            tuple,
            con.execute(
                f"WITH {_JACCARD_PAIRS_CTE} SELECT doc_a, doc_b, jaccard FROM pairs"
            ).fetchall(),
        )
    )
    brute = set(
        map(
            tuple,
            con.execute(
                f"""
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(len(toks) - {NGRAM_N - 1}),
                     i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS shingles
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
          WHERE len(toks) >= {NGRAM_N}
        )
        SELECT a.doc_id, b.doc_id,
               round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                     / (len(a.shingles) + len(b.shingles)
                        - len(list_intersect(a.shingles, b.shingles))), 4)
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
              / (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles))) >= {JACCARD_THRESHOLD}
        """
            ).fetchall(),
        )
    )
    assert new == brute and len(new) > 0
