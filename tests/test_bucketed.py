"""Bucketed dictionary index: result parity with the standard keyed path,
and the plan property that justifies it — no Exchange below the dictionary
scan (only the probe side shuffles into the blocking join)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.kernel.distances import MERGE_AND_SPLIT
from liblevenshtein_rust_spark.operators import matching
from liblevenshtein_rust_spark.session import get_spark
from liblevenshtein_rust_spark.sources import bucketed

TERMS = [
    "banana", "bananas", "banane", "bandana", "cabana", "havana",
    "spark", "sprak", "spar", "sparks", "shark", "stark",
    "query", "quary", "queries", "qwerty",
]
PROBES = ["banaan", "spark", "quarry", "zzzzz"]


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_bucketed", cores=4, shuffle_partitions=4)


@pytest.fixture(scope="module")
def index(spark):
    d = spark.createDataFrame([(t,) for t in TERMS], "term string")
    with tempfile.TemporaryDirectory() as tmp:
        bucketed.write_bucketed_index(d, "test_dict_idx", n_buckets=4, path=tmp)
        yield "test_dict_idx"
        spark.sql("DROP TABLE IF EXISTS test_dict_idx")


def _rows(df):
    return sorted((r["query"], r["term"], r["distance"]) for r in df.collect())


def test_parity_with_standard_path(spark, index):
    p = spark.createDataFrame([(q,) for q in PROBES], "query string")
    d = spark.createDataFrame([(t,) for t in TERMS], "term string")
    for n in (1, 2):
        got = _rows(bucketed.fuzzy_query_bucketed(spark, p, index, n))
        want = _rows(matching.fuzzy_query(p, d, n))
        assert got == want and got, f"n={n}: {got} != {want}"


def test_depth_guard(spark, index):
    p = spark.createDataFrame([("x",)], "query string")
    with pytest.raises(ValueError, match="index depth"):
        bucketed.fuzzy_query_bucketed(spark, p, index, 3)


def test_merge_split_needs_key_budget_depth(spark, index):
    """MergeAndSplit d=2 needs key budget 4: a depth-2 index must refuse it
    (its keys lose ``spark``/``sxk`` and ``abcd``/``xy``, both at MS
    distance 2), and a depth-4 index must match ``fuzzy_query`` exactly."""
    terms = TERMS + ["sxk", "xy"]
    probes = PROBES + ["abcd"]
    p = spark.createDataFrame([(q,) for q in probes], "query string")
    d = spark.createDataFrame([(t,) for t in terms], "term string")
    with pytest.raises(ValueError, match="key budget 4"):
        bucketed.fuzzy_query_bucketed(spark, p, index, 2, MERGE_AND_SPLIT)
    with tempfile.TemporaryDirectory() as tmp:
        bucketed.write_bucketed_index(d, "test_dict_idx4", n_buckets=4, depth=4, path=tmp)
        try:
            got = _rows(
                bucketed.fuzzy_query_bucketed(
                    spark, p, "test_dict_idx4", 2, MERGE_AND_SPLIT, index_depth=4
                )
            )
        finally:
            spark.sql("DROP TABLE IF EXISTS test_dict_idx4")
    want = _rows(matching.fuzzy_query(p, d, 2, MERGE_AND_SPLIT))
    assert got == want
    assert ("spark", "sxk", 2) in got and ("abcd", "xy", 2) in got


def test_dictionary_side_never_shuffles(spark, index):
    """The blocking join must consume the index's bucket partitioning: the
    only hash Exchange on `key` is the probe side.  (The unbucketed twin
    with broadcast off shuffles BOTH sides.)  Auto-broadcast is disabled so
    the toy-sized index exercises the shuffle join it would get at real
    scale (a 10^12-doc index never broadcasts)."""
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = spark.createDataFrame([(q,) for q in PROBES], "query string")
        q = bucketed.fuzzy_query_bucketed(spark, p, index, 2)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        assert plan.count("Exchange hashpartitioning(key") == 1

        d = spark.createDataFrame([(t,) for t in TERMS], "term string")
        twin = matching.candidate_pairs(p, d, 2, broadcast_probes=False)
        twin_plan = twin._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" not in twin_plan
        assert twin_plan.count("Exchange hashpartitioning(key") == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
