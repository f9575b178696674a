"""Dedup family vs exact-Jaccard / hamming / cosine oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from navgraph_osm_spark.functions.hashing import char_shingles, jaccard_exact
from navgraph_osm_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    # family 0: exact duplicates (with whitespace noise)
    rows.append((0, BASE, "en"))
    rows.append((1, BASE + " ", "en"))
    rows.append((2, "  " + BASE.replace(" ", "  "), "en"))
    # family 1: near duplicates (one word changed)
    rows.append((3, BASE.replace("quick", "quack"), "en"))
    rows.append((4, BASE.replace("dog", "cat"), "en"))
    # unrelated
    rows.append((5, "completely different content about spark query engines and shuffles", "en"))
    rows.append((6, "ein ganz anderer deutscher text über datenverarbeitung und geografie", "de"))
    rows.append((7, "", "en"))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_duplicates(docs):
    out = exact_duplicates(docs).collect()
    assert len(out) == 1
    grp = out[0]
    assert grp["doc_ids"] == [0, 1, 2] and grp["keeper"] == 0 and grp["n_dups"] == 3


def test_ngram_jaccard_matches_python_oracle(docs):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5, block_col="lang").collect()
    }
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    want = {}
    for a in rows:
        for b in rows:
            if a < b:
                ra, rb = rows[a], rows[b]
                j = jaccard_exact(char_shingles(ra), char_shingles(rb))
                if j >= 0.5:
                    want[(a, b)] = j
    # oracle blocks by lang too: drop cross-lang pairs (none qualify anyway)
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, num_hashes=128, bands=32, threshold=0.5).collect()
    }
    # all exact-dup pairs and near-dup pairs present; unrelated docs absent
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert (0, 3) in pairs and (0, 4) in pairs
    assert not any(5 in p or 6 in p or 7 in p for p in pairs)


def test_minhash_lsh_estimate_is_signature_agreement(docs):
    """Every est_jaccard is exactly the share of equal MinHash values in the
    two docs' signatures from ``functions.hashing``."""
    from navgraph_osm_spark.functions.hashing import minhash_signatures_batch

    rows = sorted((r["doc_id"], r["text"]) for r in docs.collect())
    sig = dict(
        zip(
            [d for d, _ in rows],
            np.array(minhash_signatures_batch(pd.Series([t for _, t in rows]), 128, 3, 42)),
        )
    )
    out = minhash_lsh_pairs(docs, num_hashes=128, bands=32, threshold=0.5).collect()
    assert out
    for r in out:
        assert r["est_jaccard"] == (sig[r["id_a"]] == sig[r["id_b"]]).sum() / 128
        assert r["est_jaccard"] >= 0.5


def test_simhash_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_pairs(docs, max_hamming=10).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs
    assert not any((a in (5, 6) or b in (5, 6)) for a, b in pairs)


def test_embedding_near_dup(spark):
    rng = np.random.default_rng(9)
    base = rng.normal(size=(10, 16))
    rows = []
    for i in range(10):
        rows.append((i, base[i].tolist()))
        rows.append((100 + i, (base[i] + rng.normal(scale=0.01, size=16)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.99, planes=6).collect()
    }
    want = {(i, 100 + i) for i in range(10)}
    # cosine oracle: all true pairs ≥0.99, others far below
    assert want <= got
    for a, b in got:
        va = base[a % 100] if a < 100 else None
        assert (b - a == 100) or (
            np.dot(base[a], base[b % 100]) > 0  # sanity for any extra pair
        )
    # verify cosines of reported pairs against numpy
    rows_d = {r[0]: np.array(r[1]) for r in rows}
    for r in embedding_near_dup_pairs(emb, threshold=0.99, planes=6).collect():
        va, vb = rows_d[r["id_a"]], rows_d[r["id_b"]]
        cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert abs(cos - r["cosine"]) < 1e-9 and cos >= 0.99


def _union_find(pairs) -> set[tuple[int, int]]:
    """(node, min id of its component) for every node of ``pairs``."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in parent}


def test_cluster_pairs_iterative_matches_fast_path(spark, monkeypatch):
    """Every path of cluster_pairs equals a Python union-find: the
    driver-side union-find over the contracted rows (default limit) and
    distributed label propagation over them (limit 1), on a random pair
    set with chains and merges, the same set spread over 8 partitions, a
    self-pair, and a chain whose links land in different partitions."""
    from navgraph_osm_spark.operators import dedup

    rng = np.random.default_rng(5)
    a = rng.integers(0, 200, 300)
    off = rng.integers(1, 40, 300)
    rand = pd.DataFrame({"id_a": a, "id_b": a + off}).drop_duplicates()
    chain = pd.DataFrame({"id_a": np.arange(1000, 1060), "id_b": np.arange(1001, 1061)})
    self_pair = pd.DataFrame({"id_a": [500, 600, 600], "id_b": [500, 600, 601]})
    schema = "id_a long, id_b long"
    cases = {
        "random": spark.createDataFrame(rand, schema),
        "random_8_parts": spark.createDataFrame(rand, schema).repartition(8),
        "self_pair": spark.createDataFrame(self_pair, schema),
        "chain_8_parts": spark.createDataFrame(chain, schema).repartition(8),
    }
    assert cases["chain_8_parts"].rdd.glom().map(len).filter(bool).count() > 1
    for limit in (dedup.SMALL_GRAPH_EDGE_LIMIT, 1):
        monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGE_LIMIT", limit)
        for name, pairs in cases.items():
            want = _union_find(pairs.toPandas().itertuples(index=False))
            got = {
                (r["doc_id"], r["cluster_id"])
                for r in dedup.cluster_pairs(pairs).collect()
            }
            assert got == want, (limit, name)
            if name == "self_pair":
                assert got == {(500, 500), (600, 600), (601, 600)}


def test_cluster_pairs_contracts_cliques_in_few_jobs(spark, monkeypatch):
    """Near-dup cliques whose pairs exceed the edge limit contract to one
    row per node and partition, so the union-find path takes them: the
    whole call runs at most 3 Spark jobs (label propagation runs dozens)."""
    from navgraph_osm_spark.operators import dedup

    members = [np.arange(c * 100, c * 100 + 40) for c in range(3)]
    i, j = np.triu_indices(40, 1)
    pdf = pd.DataFrame(
        {"id_a": np.concatenate([m[i] for m in members]),
         "id_b": np.concatenate([m[j] for m in members])}
    )
    pairs = spark.createDataFrame(pdf, "id_a long, id_b long")
    assert pairs.rdd.getNumPartitions() > 1
    monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGE_LIMIT", len(pdf) // 2)
    sc = spark.sparkContext
    sc.setJobGroup("cluster_cliques", "cluster_pairs job-count guard")
    try:
        got = {(r["doc_id"], r["cluster_id"]) for r in dedup.cluster_pairs(pairs).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == {(int(n), int(m[0])) for m in members for n in m}
    assert len(sc.statusTracker().getJobIdsForGroup("cluster_cliques")) <= 3
