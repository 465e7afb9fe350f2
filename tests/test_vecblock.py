"""The vector-block kernels (operators/vecblock.py): NaN ordering of the
grouped top-k, id types of the all-pairs kernel, and salted == unsalted
parity of every operator built on the all-pairs kernel."""

import struct

import numpy as np
import pytest
from pyspark.sql import types as T

from entitylinking_spark.metrics import MetricsCollector
from entitylinking_spark.operators.blocking import block_census
from entitylinking_spark.operators.dedup import embedding_near_dup_pairs, semdedup
from entitylinking_spark.operators.ivf import ivf_topk, seed_centroids
from entitylinking_spark.operators.similarity import brute_force_topk, lsh_topk_shuffle
from entitylinking_spark.operators.vecblock import blocked_pairs

HUGE = 2**31 - 1


def _bits(rows):
    """Rows with every float replaced by its IEEE bits (NaN-safe, exact)."""
    return sorted(
        tuple(struct.pack(">d", v).hex() if isinstance(v, float) else v for v in r)
        for r in rows
    )


@pytest.fixture(scope="module")
def nan_corpus(spark):
    """40 random 8-d vectors plus id 99 = [NaN, 1, ...]: its cosine to any
    query is NaN, which Spark's `desc` order ranks first."""
    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    rows.append((99, [float("nan")] + [1.0] * 7))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(0, [float(x) for x in rng.normal(size=8)])],
        "query_id long, embedding array<float>",
    )
    return emb, q


def _ranked(df):
    return _bits((r["query_id"], r["vec_id"], r["rank"], r["cosine"])
                 for r in df.collect())


def test_ivf_topk_ranks_nan_cosine_like_brute_force(nan_corpus):
    emb, q = nan_corpus
    want = _ranked(brute_force_topk(emb, q, k=3))
    assert [r[1] for r in sorted(want, key=lambda r: r[2])][0] == 99
    got = _ranked(ivf_topk(emb, q, k=3, centroids=seed_centroids(emb, 2), nprobe=2))
    assert got == want


def test_lsh_topk_shuffle_ranks_nan_cosine_like_brute_force(nan_corpus):
    emb, q = nan_corpus
    want = _ranked(brute_force_topk(emb, q, k=3))
    # one plane + 1-bit probing scans both buckets: exhaustive, so exact
    got = _ranked(lsh_topk_shuffle(emb, q, k=3, n_planes=1, probe_bits=1, dim=8))
    assert got == want


def test_blocked_pairs_keeps_long_ids(spark):
    rng = np.random.default_rng(9)
    vecs = [(i, [float(x) for x in rng.normal(size=6)]) for i in range(30)]
    blocks = spark.createDataFrame(
        [(f"b{i % 3}", i) for i in range(30)], "block_key string, row_id long"
    )
    vec_df = spark.createDataFrame(vecs, "row_id long, vec array<double>")
    census = block_census(blocks)
    out = blocked_pairs(blocks, census, vec_df, 3, HUGE, -1.0)
    assert out.schema["id_l"].dataType == T.LongType()
    assert out.schema["id_r"].dataType == T.LongType()
    got = {(r["id_l"], r["id_r"]) for r in out.collect()}
    want = {(a, b) for a in range(30) for b in range(a + 1, 30) if a % 3 == b % 3}
    assert got == want
    unsalted = blocked_pairs(blocks, census, vec_df, 1000, HUGE, -1.0)
    assert _bits(out.collect()) == _bits(unsalted.collect())


@pytest.fixture(scope="module")
def dup_corpus(spark):
    """5 tight duplicate families plus loose vectors, 120 rows."""
    rng = np.random.default_rng(3)
    base = rng.normal(size=(5, 12))
    rows = []
    for i in range(120):
        noise = 0.01 if i % 4 else 0.6
        v = base[i % 5] + rng.normal(scale=noise, size=12)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").persist()


def test_near_dup_salted_equals_unsalted(dup_corpus):
    m = MetricsCollector()
    tiny = embedding_near_dup_pairs(dup_corpus, threshold=0.9, n_planes=2,
                                    dim=12, block_cap=4,
                                    skip_block_threshold=HUGE, metrics=m)
    huge = embedding_near_dup_pairs(dup_corpus, threshold=0.9, n_planes=2,
                                    dim=12, block_cap=10**6,
                                    skip_block_threshold=HUGE)
    a, b = _bits(tiny.collect()), _bits(huge.collect())
    rec = next(s for s in m.stages if s["stage"] == "near_dup_buckets")
    assert rec["n_salted"] >= 1
    assert len(a) > 100 and a == b


@pytest.mark.parametrize("keep", ["far", "near", "min_id"])
def test_semdedup_salted_equals_unsalted(dup_corpus, keep):
    cents = seed_centroids(dup_corpus, 3)
    m = MetricsCollector()
    tiny = semdedup(dup_corpus, eps=0.9, centroids=cents, keep=keep,
                    cell_cap=4, skip_block_threshold=HUGE, metrics=m)
    huge = semdedup(dup_corpus, eps=0.9, centroids=cents, keep=keep,
                    cell_cap=10**6, skip_block_threshold=HUGE)
    a, b = _bits(tiny.collect()), _bits(huge.collect())
    rec = next(s for s in m.stages if s["stage"] == "semdedup_cells")
    assert rec["n_salted"] >= 1
    assert a == b
    assert sum(1 for r in a if not r[-1]) > 10  # real duplicates pruned
