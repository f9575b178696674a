"""Adaptive kNN escalation + near-dup clustering (connected components)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from navgraph_osm_spark.operators.dedup import cluster_pairs
from navgraph_osm_spark.operators.knn import knn_join_adaptive, knn_join_bruteforce


@pytest.fixture(scope="module")
def clustered_points(spark):
    rng = np.random.default_rng(31)
    # dense cluster + sparse outliers (forces ring escalation for outliers)
    lat = np.concatenate([48.85 + rng.normal(scale=0.01, size=300), rng.uniform(-70, 70, 40)])
    lng = np.concatenate([2.35 + rng.normal(scale=0.01, size=300), rng.uniform(-170, 170, 40)])
    pdf = pd.DataFrame({"point_id": np.arange(lat.size, dtype=np.int64), "lat": lat, "lng": lng})
    df = spark.createDataFrame(pdf)
    df.cache()
    df.count()
    return df


def test_adaptive_knn_exact_vs_bruteforce(spark, clustered_points):
    pts = clustered_points
    queries = pts.sample(False, 0.2, seed=7).select(
        F.col("point_id").alias("query_id"), "lat", "lng"
    )
    got = knn_join_adaptive(pts, queries, k=4, res=10, ring=1, max_rounds=3).toPandas()
    want = knn_join_bruteforce(pts, queries, k=4).toPandas()
    g = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    w = want.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(g) == len(w)
    assert (g["query_id"].to_numpy() == w["query_id"].to_numpy()).all()
    assert (g["point_id"].to_numpy() == w["point_id"].to_numpy()).all()
    np.testing.assert_allclose(g["dist_km"], w["dist_km"], rtol=1e-9)


def test_adaptive_knn_coarse_res_skips_ring_rounds(spark, clustered_points):
    """At res 2 a cell spans 45° of latitude, so a ring-1 disk already
    reaches the pole and no query can certify at any ring: the adaptive
    join goes straight to the brute-force fallback, with brute force's
    results and no more Spark jobs than brute force alone."""
    pts = clustered_points
    queries = pts.sample(False, 0.2, seed=7).select(
        F.col("point_id").alias("query_id"), "lat", "lng"
    )
    sc = spark.sparkContext

    def run(group, build):
        sc.setJobGroup(group, group)
        try:
            out = build().toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    got, got_jobs = run(
        "knn_coarse_adaptive",
        lambda: knn_join_adaptive(pts, queries, k=4, res=2, ring=1, max_rounds=3),
    )
    want, want_jobs = run("knn_coarse_brute", lambda: knn_join_bruteforce(pts, queries, k=4))
    assert len(got) == len(want) > 0
    assert (got["query_id"].to_numpy() == want["query_id"].to_numpy()).all()
    assert (got["point_id"].to_numpy() == want["point_id"].to_numpy()).all()
    np.testing.assert_allclose(got["dist_km"], want["dist_km"], rtol=1e-9)
    assert got_jobs <= want_jobs


def test_cluster_pairs_components(spark):
    # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    out = {r["doc_id"]: r["cluster_id"] for r in cluster_pairs(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_cluster_pairs_long_chain(spark):
    n = 30  # diameter > default rounds of naive one-hop? converges via min-label
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    out = cluster_pairs(pairs, max_iterations=40).collect()
    assert {r["cluster_id"] for r in out} == {0}
    assert len(out) == n + 1
