"""IVF ANN (operators/ivf.py): recall, salting invariance, exact
integer cell assignment, k-means determinism, edge inputs.

The data-adaptive counterpart of lsh_topk_shuffle for the reference's
embedding top-k probe (/root/reference/Sparkle/database.py:165-183).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from entitylinking_spark.operators.ivf import (
    _quantize,
    auto_n_cells,
    fit_centroids,
    ivf_topk,
    make_cell_probe_udf,
    seed_centroids,
)
from entitylinking_spark.operators.similarity import brute_force_topk

DIM = 16


@pytest.fixture(scope="module")
def clustered(spark):
    """~25 well-separated clusters of 16 vectors + queries near members
    (the test_ann_shuffle fixture shape)."""
    rng = np.random.RandomState(7)
    centers = rng.normal(size=(25, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    corpus = []
    for ci, c in enumerate(centers):
        for j in range(16):
            v = c + 0.01 * rng.normal(size=DIM)
            corpus.append((ci * 100 + j, [float(x) for x in v]))
    queries = []
    for qi in range(50):
        v = centers[qi % 25] + 0.01 * rng.normal(size=DIM)
        queries.append((qi, [float(x) for x in v]))
    emb = spark.createDataFrame(corpus, ["vec_id", "embedding"])
    q = spark.createDataFrame(queries, ["query_id", "embedding"])
    return emb.persist(), q.persist()


def test_recall_vs_brute_force_fitted(clustered):
    """k-means-fitted cells at nprobe=2 recover ≥0.95 of the exact top-10
    on clustered data — the fit adapts cells to the clusters."""
    emb, q = clustered
    exact = brute_force_topk(emb, q, k=10)
    approx = ivf_topk(emb, q, k=10, n_cells=25, nprobe=2)
    want = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.95, f"recall@10 = {recall}"


def test_salting_does_not_change_results(clustered):
    emb, q = clustered
    cents = seed_centroids(emb, 12)
    salted = ivf_topk(emb, q, k=5, centroids=cents, cell_cap=7, max_salt=8)
    plain = ivf_topk(emb, q, k=5, centroids=cents, cell_cap=1_000_000)
    a = sorted((r["query_id"], r["vec_id"], r["rank"]) for r in salted.collect())
    b = sorted((r["query_id"], r["vec_id"], r["rank"]) for r in plain.collect())
    assert a == b


def test_cell_assignment_matches_pure_python(clustered):
    """The Arrow probe kernel's exact-integer argmin equals a per-row
    python reference (sorted by (d2, cid)) — the DuckDB-oracle semantics."""
    emb, _ = clustered
    cents = seed_centroids(emb, 10)
    probe = make_cell_probe_udf(cents, 3)
    got = {
        r["vec_id"]: list(r["p"])
        for r in emb.select("vec_id", probe(F.col("embedding")).alias("p")).collect()
    }
    cc = (cents * cents).sum(axis=1)
    for r in emb.collect():
        q = _quantize([r["embedding"]])[0]
        d = cc - 2.0 * (cents @ q)
        want = sorted(range(len(cents)), key=lambda c: (d[c], c))[:3]
        assert got[r["vec_id"]] == want


def test_fit_centroids_deterministic(clustered):
    emb, _ = clustered
    a = fit_centroids(emb, 8, sample_n=200, n_iter=4)
    b = fit_centroids(emb, 8, sample_n=200, n_iter=4)
    assert np.array_equal(a, b)
    assert a.dtype == np.float64 and np.array_equal(a, np.floor(a))


def test_census_metrics_and_auto_sizing(clustered):
    from entitylinking_spark.metrics import MetricsCollector

    emb, q = clustered
    mc = MetricsCollector()
    ivf_topk(emb, q, k=5, centroids=seed_centroids(emb, 12),
             cell_cap=7, max_salt=8, metrics=mc)
    census = [s for s in mc.stages if s["stage"] == "ivf_cell_census"][0]
    assert census["n_cells"] == 12 and census["max_n_salt"] <= 8
    # √N sizing, clamped
    assert auto_n_cells(400) == 20
    assert auto_n_cells(10**12) == 65_536
    assert auto_n_cells(0) == 1


def test_edge_inputs(spark, clustered):
    emb, _ = clustered
    empty_q = spark.createDataFrame([], "query_id long, embedding array<double>")
    out = ivf_topk(emb, empty_q, k=5, centroids=seed_centroids(emb, 4))
    assert out.count() == 0
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty corpus"):
        seed_centroids(empty_emb, 4)
    with pytest.raises(ValueError, match="empty corpus"):
        fit_centroids(empty_emb, 4)
    # nprobe > n_cells degrades to scanning every cell == exact
    one = ivf_topk(emb, clustered[1], k=5,
                   centroids=seed_centroids(emb, 4), nprobe=99)
    exact = brute_force_topk(emb, clustered[1], k=5)
    a = sorted((r["query_id"], r["vec_id"], r["rank"]) for r in one.collect())
    b = sorted((r["query_id"], r["vec_id"], r["rank"]) for r in exact.collect())
    assert a == b
