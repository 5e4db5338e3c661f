"""Geospatial operator tests — the edge cases the oracle harness can't
see: haversine ground truth, blocked-join completeness vs brute force,
antimeridian wrap, and the no-cartesian plan pin."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from structured_streaming_cassandra_sink_spark.engine import plan_string
from structured_streaming_cassandra_sink_spark.operators.geo import (
    RADIUS_KM,
    geo_grid_hotspots,
    geo_radius_join,
    haversine_km,
    radius_pairs_blocked,
    with_coords,
)


def _pts(spark, rows):
    """(id, lat, lon) -> DataFrame with the cell columns the blocked
    join expects (same floor-based cells with_coords derives)."""
    df = spark.createDataFrame(rows, "id long, lat double, lon double")
    return df.withColumn("cell_lat", F.floor("lat").cast("int")).withColumn(
        "cell_lon", F.floor("lon").cast("int")
    )


def test_haversine_known_distances(spark):
    """Ground truth: 1° of longitude on the equator is 2πR/360 ≈
    111.19 km (R=6371); 1° of latitude is the same anywhere; the
    antipodal distance is half the circumference."""
    df = spark.range(1).select(
        haversine_km(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(1.0)).alias("lon1"),
        haversine_km(F.lit(10.0), F.lit(5.0), F.lit(11.0), F.lit(5.0)).alias("lat1"),
        haversine_km(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(180.0)).alias("anti"),
        haversine_km(F.lit(52.52), F.lit(13.405), F.lit(48.8566), F.lit(2.3522)).alias(
            "berlin_paris"
        ),
    )
    r = df.collect()[0]
    assert r.lon1 == pytest.approx(111.195, abs=0.01)
    assert r.lat1 == pytest.approx(111.195, abs=0.01)
    assert r.anti == pytest.approx(6371.0 * 3.14159265, abs=0.01)
    # published great-circle Berlin–Paris ≈ 878 km (R=6371 convention)
    assert r.berlin_paris == pytest.approx(878, abs=2)


def test_blocked_radius_join_complete_vs_brute_force(spark, sf_dir):
    """The 3×3 grid probe must find EXACTLY the pairs the O(n·m) cross
    join finds — blocking is an optimization, never a recall trade."""
    sup = with_coords(
        spark.read.parquet(f"{sf_dir}/supplier.parquet").select("s_suppkey"),
        "s_suppkey",
    )
    cust = with_coords(
        spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey"),
        "c_custkey",
    )
    blocked = {
        (r.s_suppkey, r.c_custkey, r.d_km)
        for r in radius_pairs_blocked(
            sup, "s_suppkey", cust, "c_custkey", RADIUS_KM
        ).collect()
    }
    d = haversine_km(
        F.col("lat"), F.col("lon"), F.col("c_lat"), F.col("c_lon")
    )
    brute = {
        (r.s_suppkey, r.c_custkey, r.d_km)
        for r in sup.crossJoin(
            cust.select(
                "c_custkey",
                F.col("lat").alias("c_lat"),
                F.col("lon").alias("c_lon"),
            )
        )
        .select("s_suppkey", "c_custkey", d.alias("d_km"))
        .filter(F.col("d_km") <= RADIUS_KM)
        .collect()
    }
    assert blocked == brute
    assert brute, "fixture produced no in-radius pairs; test is vacuous"


def test_blocked_join_wraps_antimeridian(spark):
    """Two points 0.5° of longitude apart across ±180 at the equator are
    ~55.6 km apart... that's over RADIUS_KM; use 0.3° ≈ 33 km. Their
    grid cells are 179 and -180 — adjacent only through the pmod wrap,
    so this pair is found IFF the probe ring wraps."""
    a = _pts(spark, [(1, 0.0, 179.8)])
    b = _pts(spark, [(2, 0.0, -179.9)])
    got = radius_pairs_blocked(
        a.withColumnRenamed("id", "aid"),
        "aid",
        b.withColumnRenamed("id", "bid"),
        "bid",
        RADIUS_KM,
    ).collect()
    assert len(got) == 1
    assert got[0].d_km == pytest.approx(33.36, abs=0.1)


def test_grid_cells_cover_radius(spark):
    """Adversarial placement: two points in the far corners of ADJACENT
    cells at the top of the lat range (where lon degrees are narrowest)
    still within radius are found — i.e. the 1-cell ring suffices at
    the derivation's lat cap."""
    # lat 59.9: 1° lon ≈ 111.19*cos(59.9°) ≈ 55.8 km; 0.85° ≈ 47 km
    a = _pts(spark, [(1, 59.9, 11.05)])  # cell_lon 11
    b = _pts(spark, [(2, 59.9, 10.20)])  # cell_lon 10 — ADJACENT cell,
    # within 50 km: found only through the ±1 probe ring
    got = radius_pairs_blocked(
        a.withColumnRenamed("id", "aid"),
        "aid",
        b.withColumnRenamed("id", "bid"),
        "bid",
        RADIUS_KM,
    ).collect()
    assert len(got) == 1
    assert got[0].d_km < RADIUS_KM


def test_radius_join_plan_no_cartesian_no_python(spark, sf_dir):
    """The scale contract: the radius join is an equi-join on cell keys
    (shuffle/broadcast HASH join), never CartesianProduct or
    BroadcastNestedLoopJoin, and pure Catalyst (no Python eval)."""
    df = geo_radius_join(spark, sf_dir)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_hotspots_deterministic_and_capped_lat(spark, sf_dir):
    """Derived coordinates respect the documented ranges (lat cap is a
    CORRECTNESS precondition for the 3×3 probe ring) and the rollup is
    stable across runs."""
    pts = with_coords(
        spark.read.parquet(f"{sf_dir}/customer.parquet"), "c_custkey"
    )
    mm = pts.agg(
        F.min("lat").alias("lo"),
        F.max("lat").alias("hi"),
        F.min("lon").alias("wlo"),
        F.max("lon").alias("whi"),
    ).collect()[0]
    assert -60.0 <= mm.lo and mm.hi < 60.0
    assert -180.0 <= mm.wlo and mm.whi < 180.0
    a = geo_grid_hotspots(spark, sf_dir).collect()
    b = geo_grid_hotspots(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_knn_ranks_contiguous_and_bounded(spark, sf_dir):
    """knn_rank is 1..K contiguous per customer, never exceeds K, and
    rank 1 carries the minimum candidate distance."""
    from structured_streaming_cassandra_sink_spark.operators.geo import (
        KNN_K,
        geo_knn_within_radius,
    )

    rows = geo_knn_within_radius(spark, sf_dir).collect()
    assert rows, "no in-radius neighbors at this SF; test is vacuous"
    by_cust = {}
    for r in rows:
        by_cust.setdefault(r.c_custkey, []).append(r)
    for cust, rs in by_cust.items():
        ranks = sorted(x.knn_rank for x in rs)
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) <= KNN_K
        best = min(rs, key=lambda x: (x.d_km, x.s_suppkey))
        assert best.knn_rank == 1
