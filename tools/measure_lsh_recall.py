#!/usr/bin/env python
"""MEASURE dedup_embedding_lsh's production-regime recall (r8 verdict #2).

The production regime (>5000 vectors: threshold 0.9, B = log2(n/64))
previously claimed ~0.92 recall by the hyperplane collision formula only —
the sign-flip corpus had no true >=0.9 pairs to measure against. With
gen_sf1eq.py's planted twins the ground truth is EXACT and COMPLETE at any
copies count, without an O(n^2) brute force:

1. non-twin x non-twin pairs cannot reach 0.9 — re-verified here from the
   source data: within-copy max cosine (2000^2 matmul), different-base
   cross-copy via the any-mask abs bound |cos| <= cos(|a|,|b|), and
   same-base cross-copy under the actual md5 sign masks for THIS copies
   count (masks differ in ~dim/2 positions);
2. twin x anything pairs are swept exactly by one rectangular matmul
   (n_twins x n — ~4000 x 200k x 64 = 5e10 flops at sf10eq, seconds);
3. ground truth = planted pairs (from planted_pairs.parquet) + any extra
   >=0.9 pairs the rectangular sweep finds (reported; expected none).

Recall = |found ∩ GT| / |GT| over the engine's emitted pairs; precision
must be 1.0 (the operator exact-verifies every candidate). The cosine cut
mirrors the engine: round(cos, 6) >= 0.9 on float64 math over the stored
float32 vectors — planted targets live in [0.905, 0.995] and natural pairs
below 0.88, so summation-order ulps cannot flip membership.

Usage: python tools/measure_lsh_recall.py [SF1EQ_DIR] (default /tmp/sf1eq)
Prints one JSON line; cite it in SCALING_CURVES.md.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"


def natural_pair_bounds(copies: int) -> dict[str, float]:
    """Re-verify (from the source embeddings + the actual masks) that no
    non-twin pair can reach cosine 0.9 in the sign-flip corpus."""
    import duckdb
    import numpy as np

    rows = duckdb.sql(
        f"SELECT embedding FROM '{SRC}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    norms = np.linalg.norm(X, axis=1)
    Xh = X / norms[:, None]

    S = Xh @ Xh.T
    np.fill_diagonal(S, -1.0)
    within = float(S.max())

    A = np.abs(Xh)
    SA = A @ A.T
    np.fill_diagonal(SA, -1.0)
    cross_diff_bound = float(SA.max())

    def signs(c: int) -> "np.ndarray":
        if c == 0:
            return np.ones(dim)
        return np.array(
            [
                1.0
                if hashlib.md5(f"sf1eq-sign:{c}:{d}".encode()).digest()[0] & 1
                else -1.0
                for d in range(dim)
            ]
        )

    masks = np.array([signs(c) for c in range(copies)])
    prods = np.array(
        [masks[a] * masks[b] for a in range(copies) for b in range(a + 1, copies)]
    )
    W = Xh**2  # weights summing to 1 per row
    cross_same = float((W @ prods.T).max()) if len(prods) else -1.0
    return {
        "within_copy_max": within,
        "cross_copy_diff_base_bound": cross_diff_bound,
        "cross_copy_same_base_max": cross_same,
    }


def main() -> int:
    import duckdb
    import numpy as np

    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES, load_all
    from structured_streaming_cassandra_sink_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1eq"
    gt_path = os.path.join(sf_dir, "planted_pairs.parquet")
    if not os.path.exists(gt_path):
        raise SystemExit(
            f"{gt_path} missing — regenerate with tools/gen_sf1eq.py (r9+)"
        )

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet/*.parquet'"
        " ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    X = np.array([r[1] for r in rows], dtype=np.float64)
    Xh = X / np.linalg.norm(X, axis=1, keepdims=True)
    n = len(ids)
    is_twin = ids >= 10**9
    n_twins = int(is_twin.sum())
    copies = int(round((n - n_twins) / 2000))

    bounds = natural_pair_bounds(copies)
    assert max(bounds.values()) < 0.9, bounds

    # exact rectangular sweep: every twin against everything
    T = Xh[is_twin]
    C = T @ Xh.T  # (n_twins, n)
    tw_ids = ids[is_twin]
    gt = set()
    for i in range(n_twins):
        for j in np.nonzero(np.round(C[i], 6) >= 0.9)[0]:
            a, b = int(tw_ids[i]), int(ids[j])
            if a != b:
                gt.add((min(a, b), max(a, b)))
    planted = {
        (int(a), int(b))
        for a, b in duckdb.sql(f"SELECT vec_a, vec_b FROM '{gt_path}'").fetchall()
    }
    extra = gt - planted
    assert planted <= gt, "planted pair missing from exact sweep?"

    spark = get_spark(app_name="lsh-recall")
    spark.sparkContext.setLogLevel("ERROR")
    load_all()
    t0 = time.time()
    out = QUERIES["dedup_embedding_lsh"](spark, sf_dir).collect()
    wall = time.time() - t0
    regimes = {r.regime for r in out}
    found = {(min(r.vec_a, r.vec_b), max(r.vec_a, r.vec_b)) for r in out}

    hit = found & gt
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_vectors": n,
                "copies": copies,
                "regime": sorted(regimes),
                "planted_pairs": len(planted),
                "extra_true_pairs": len(extra),
                "ground_truth_pairs": len(gt),
                "found_pairs": len(found),
                "recall": round(len(hit) / len(gt), 4) if gt else None,
                "precision": round(len(hit) / len(found), 4) if found else None,
                "false_positives": len(found - gt),
                "natural_bounds": {k: round(v, 4) for k, v in bounds.items()},
                "query_sec": round(wall, 1),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
