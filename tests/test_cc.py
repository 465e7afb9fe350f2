"""Connected components vs a pure-Python union-find oracle."""

import random

import pytest

from entitylinking_spark.operators.cc import connected_components


def _oracle(edges, all_ids):
    parent = {i: i for i in all_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # label = min of component
    comp = {}
    for i in all_ids:
        comp.setdefault(find(i), []).append(i)
    out = {}
    for root, members in comp.items():
        m = min(members)
        for x in members:
            out[x] = m
    return out


def _run(spark, edges, all_ids):
    e = spark.createDataFrame(edges or [("x", "x")], ["src", "dst"])
    if not edges:
        e = e.filter("src != src")
    ids = spark.createDataFrame([(i,) for i in all_ids], ["row_id"])
    got = connected_components(e, all_ids=ids)
    return {r["row_id"]: r["cluster_id"] for r in got.collect()}


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 30, 20), (2, 50, 60), (3, 80, 40)])
def test_random_graphs_match_union_find(spark, seed, n_nodes, n_edges):
    rng = random.Random(seed)
    ids = [f"n{i:04d}" for i in range(n_nodes)]
    edges = [
        (rng.choice(ids), rng.choice(ids))
        for _ in range(n_edges)
    ]
    assert _run(spark, edges, ids) == _oracle(edges, ids)


def test_long_chain_transitivity(spark):
    """A-B-C-...-Z chain: all nodes one cluster labeled by the min id."""
    ids = [f"c{i:03d}" for i in range(40)]
    edges = list(zip(ids, ids[1:]))
    got = _run(spark, edges, ids)
    assert set(got.values()) == {"c000"}


def test_two_components_and_singletons(spark):
    ids = ["a", "b", "c", "d", "e", "f"]
    edges = [("a", "b"), ("c", "d")]
    got = _run(spark, edges, ids)
    assert got == {"a": "a", "b": "a", "c": "c", "d": "c", "e": "e", "f": "f"}


def test_self_loops_and_duplicates_ignored(spark):
    ids = ["a", "b"]
    edges = [("a", "a"), ("a", "b"), ("b", "a"), ("a", "b")]
    got = _run(spark, edges, ids)
    assert got == {"a": "a", "b": "a"}


def test_empty_edges_all_singletons(spark):
    ids = ["a", "b", "c"]
    got = _run(spark, [], ids)
    assert got == {"a": "a", "b": "b", "c": "c"}


def test_star_collapse_iterations_bounded(spark):
    """Dense component converges (no infinite loop) and labels correctly."""
    ids = [f"d{i}" for i in range(20)]
    edges = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    got = _run(spark, edges, ids)
    assert set(got.values()) == {"d0"}


def test_conf_restored_after_cc(spark):
    """connected_components must not permanently mutate session config
    (round-1 advice: constraintPropagation was disabled for the whole
    session)."""
    key = "spark.sql.constraintPropagation.enabled"
    spark.conf.set(key, "true")
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    connected_components(edges).collect()
    assert spark.conf.get(key) == "true"
    spark.conf.set(key, "false")
    connected_components(edges).collect()
    assert spark.conf.get(key) == "false"
    spark.conf.set(key, "true")


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(11, 60, 70), (12, 90, 50)])
def test_driver_fast_path_matches_star_loop(spark, seed, n_nodes, n_edges):
    """Round 6: graphs under driver_max_edges finish with one driver
    union-find; labels must be identical to the distributed star loop
    (driver_max_edges=0 forces it) on the same graph."""
    rng = random.Random(seed)
    ids = [f"n{i:04d}" for i in range(n_nodes)]
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(n_edges)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    id_df = spark.createDataFrame([(i,) for i in ids], ["row_id"])
    fast = {r["row_id"]: r["cluster_id"]
            for r in connected_components(e, all_ids=id_df).collect()}
    loop = {r["row_id"]: r["cluster_id"]
            for r in connected_components(
                e, all_ids=id_df, driver_max_edges=0).collect()}
    assert fast == loop == _oracle(edges, ids)


def test_driver_fast_path_numeric_ids(spark):
    """The fast path must keep the src/dst column type for its labels."""
    e = spark.createDataFrame([(3, 1), (1, 2), (10, 11)], ["src", "dst"])
    got = {r["row_id"]: r["cluster_id"]
           for r in connected_components(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_null_endpoint_dropped_on_both_paths(spark):
    """An edge with a null endpoint connects nothing. With assume_distinct
    the driver union-find and the star loop must both drop it, as the
    `src != dst` filter does in the default mode."""
    e = spark.createDataFrame(
        [("a", "b"), ("c", None), ("d", "e")], "src string, dst string"
    )
    ids = spark.createDataFrame([(i,) for i in "abcde"], ["row_id"])

    def labels(**kw):
        got = connected_components(e, all_ids=ids, assume_distinct=True, **kw)
        return {r["row_id"]: r["cluster_id"] for r in got.collect()}

    want = {"a": "a", "b": "a", "c": "c", "d": "d", "e": "d"}
    assert labels() == labels(driver_max_edges=0) == want
    default = {r["row_id"]: r["cluster_id"]
               for r in connected_components(e, all_ids=ids).collect()}
    assert default == want
