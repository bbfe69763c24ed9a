"""Differential tests for the one blocking-key dispatch
(``functions.blocking_keys.blocking_key_rows``): the ER vocabulary
self-join, the linkage cross-vocabulary join and ``fuzzy_query`` must each
return exactly the UNBLOCKED cross product scored by the scalar
``kernel.distances.distance`` — for every (variant, distance) with an exact
key family — and ER and linkage raise where none exists (``fuzzy_query``
scans there instead).

The planted vocabulary carries the pairs the key choice decides:
``projection``/``prujeftiom`` (three substitutions on a long token: depth-2
deletion keys share nothing, so Standard/OSA d=3 needs the d3 hybrid) and
``corner``/``comer`` (one merge: MergeAndSplit d=1 needs depth-2 keys,
and d=2 the depth-4 / 3-gram hybrid).
Seeded short words over a three-letter alphabet add collision pressure.
"""

from __future__ import annotations

import random

import pytest

from liblevenshtein_rust_spark.kernel.distances import (
    MERGE_AND_SPLIT,
    STANDARD,
    TRANSPOSITION,
    distance,
)
from liblevenshtein_rust_spark.operators import matching
from liblevenshtein_rust_spark.pipeline import er, linkage
from liblevenshtein_rust_spark.session import get_spark

PLANTED_A = ["projection", "corner", "spark", "kitten", "window", "batch", "ab"]
PLANTED_B = ["prujeftiom", "comer", "sprak", "sitting", "widnow", "bacth", "ba"]

_rng = random.Random(11)
NOISE = sorted(
    {"".join(_rng.choice("abc") for _ in range(_rng.randint(3, 7))) for _ in range(24)}
)
VOCAB_A = sorted(set(PLANTED_A + NOISE[::2]))
VOCAB_B = sorted(set(PLANTED_B + NOISE[1::2]))
VOCAB = sorted(set(VOCAB_A + VOCAB_B))

EXACT_CASES = [(v, d) for v in (STANDARD, TRANSPOSITION) for d in (1, 2, 3)] + [
    (MERGE_AND_SPLIT, 1),
    (MERGE_AND_SPLIT, 2),
]


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_blocking_dispatch", cores=4, shuffle_partitions=4)


def _vocab_df(spark, words):
    return spark.createDataFrame([(w,) for w in words], "token string")


def _er(spark, variant, d):
    toks = spark.createDataFrame(
        list(enumerate(VOCAB)), "doc_id long, token string"
    )
    cfg = er.ERConfig(max_distance=d, variant=variant, max_df=100)
    return er.vocab_token_matches(toks, cfg)


def _link(spark, variant, d):
    cfg = linkage.LinkConfig(max_distance=d, variant=variant)
    return linkage.cross_vocab_matches(
        _vocab_df(spark, VOCAB_A), _vocab_df(spark, VOCAB_B), cfg
    )


@pytest.mark.parametrize("variant,d", EXACT_CASES)
def test_er_and_linkage_equal_unblocked(spark, variant, d):
    got_er = sorted(tuple(r) for r in _er(spark, variant, d).collect())
    want_er = sorted(
        (a, b, distance(a, b, variant))
        for a in VOCAB
        for b in VOCAB
        if a <= b and distance(a, b, variant) <= d
    )
    assert got_er == want_er

    want_link = sorted(
        (a, b, distance(a, b, variant))
        for a in VOCAB_A
        for b in VOCAB_B
        if distance(a, b, variant) <= d
    )
    got_link = sorted(tuple(r) for r in _link(spark, variant, d).collect())
    assert got_link == want_link

    # fuzzy_query keys through the same dispatch: A-vocab probes against
    # the B vocabulary return the linkage pair set
    p = spark.createDataFrame([(q,) for q in VOCAB_A], "query string")
    t = spark.createDataFrame([(w,) for w in VOCAB_B], "term string")
    got_fuzzy = sorted(tuple(r) for r in matching.fuzzy_query(p, t, d, variant).collect())
    assert got_fuzzy == want_link


def test_planted_pairs_reach_the_cases_they_test(spark):
    """Guard on the fixture itself: each planted pair sits exactly at the
    budget it is meant to exercise."""
    assert distance("projection", "prujeftiom", STANDARD) == 3
    assert distance("corner", "comer", MERGE_AND_SPLIT) == 1
    assert distance("corner", "comer", STANDARD) == 2


def test_no_exact_key_family_raises(spark):
    with pytest.raises(ValueError, match="key budget 4"):
        _er(spark, STANDARD, 4)
    with pytest.raises(ValueError, match="key budget 4"):
        _link(spark, STANDARD, 4)



def test_fuzzy_query_d4_equals_unblocked(spark):
    """Standard d=4 has no exact key family, so fuzzy_query scans; it must
    not fall back to keys that lose short-string pairs."""
    probes = PLANTED_A + ["xy", "abcab"]
    p = spark.createDataFrame([(q,) for q in probes], "query string")
    t = spark.createDataFrame([(w,) for w in VOCAB], "term string")
    got = sorted(
        tuple(r) for r in matching.fuzzy_query(p, t, 4, STANDARD).collect()
    )
    want = sorted(
        (q, w, distance(q, w, STANDARD))
        for q in probes
        for w in VOCAB
        if distance(q, w, STANDARD) <= 4
    )
    assert got == want
