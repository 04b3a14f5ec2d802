"""connected_components vs a pure-python union-find reference, and the
release of the frames pagerank persists for its iterations."""

import random

import pytest
from pyspark.sql import functions as F

from warpdb_spark.operators.graph import connected_components, pagerank


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # canonical: min id per component
    comp = {}
    for n in list(parent):
        root = find(n)
        comp[n] = root
    # path compression may leave roots above min; recompute exact min
    groups = {}
    for n, r in comp.items():
        groups.setdefault(r, []).append(n)
    out = {}
    for members in groups.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _check(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["id"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == _union_find(edges)


def test_two_chains_and_isolated_pair(spark):
    # a~b~c (transitively one cluster, a-c not direct) + d~e
    _check(spark, [(1, 2), (2, 3), (10, 11)])


def test_cycle_and_star(spark):
    _check(spark, [(1, 2), (2, 3), (3, 1), (5, 6), (5, 7), (5, 8)])


def test_long_chain_needs_multiple_rounds(spark):
    chain = [(i, i + 1) for i in range(20)]
    _check(spark, chain)


@pytest.mark.parametrize("seed", [7, 42])
def test_random_graph_matches_union_find(spark, seed):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(80)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_pagerank_leaves_nothing_persisted(spark, persisted_frames):
    """The edge, node and degree frames pagerank persists for its
    iterations are released before it returns; the returned ranks
    still evaluate."""
    before = persisted_frames()
    for edges in ([(1, 2), (2, 3), (3, 1)], [(1, 2), (2, 3), (3, 4), (4, 2), (5, 1)]):
        df = spark.createDataFrame(edges, ["src", "dst"])
        ranks = pagerank(df, n_iter=2)
        assert ranks.count() == len({n for e in edges for n in e})
    assert persisted_frames() == before
