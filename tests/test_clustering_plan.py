"""Plan-shape and correctness guards for the connected-components fixpoint.

The star rounds are the per-iteration cost of the whole entities stage, so
their plan shape is load-bearing: each star must be ONE hash exchange on
``u`` (a window), not a groupBy-then-self-join that exchanges the neighbor
table twice (see PLANS.md §6g — measured 19.4 s → 10.5 s on the 480k-doc
scaling corpus).  Reference semantics: the transitive closure of the
FuzzyMultiMap-style match aggregation (``src/cache/multimap.rs``), Kiveris
et al. SOCC'14 alternating stars.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.operators.clustering import (
    _large_star,
    _small_star,
    connected_components,
)
from liblevenshtein_rust_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_clustering_plan", cores=4, shuffle_partitions=4)


def _n_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning")


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def test_large_star_is_one_exchange(spark):
    e = _edges(spark, [(1, 2), (2, 3), (4, 5)])
    assert _n_exchanges(_large_star(e)) == 1


def test_small_star_is_two_exchanges(spark):
    # one for the window, one for the trailing distinct
    e = _edges(spark, [(1, 2), (2, 3), (4, 5)])
    assert _n_exchanges(_small_star(e)) == 2


def _uf_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_matches_union_find_on_random_graphs(spark):
    rng = random.Random(11)
    for _ in range(3):
        n = rng.choice([30, 300])
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(1, 2 * n))
        ]
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        got = {
            (r["node"], r["component"])
            for r in connected_components(
                _edges(spark, edges), src="u", dst="v"
            ).collect()
        }
        want = set(_uf_components(edges).items())
        assert got == want


def test_cc_star_graph_converges_in_one_round(spark):
    # already a star: fixpoint must terminate immediately via the signature
    e = _edges(spark, [(0, i) for i in range(1, 8)])
    got = {
        (r["node"], r["component"])
        for r in connected_components(e, src="u", dst="v").collect()
    }
    assert got == {(i, 0) for i in range(8)}
