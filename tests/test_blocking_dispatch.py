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
from liblevenshtein_rust_spark.operators import blocking, matching
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
    return blocking.vocab_matches(
        _vocab_df(spark, VOCAB_A), _vocab_df(spark, VOCAB_B),
        max_distance=d, variant=variant,
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


# ---------------------------------------------------------------------------
# skew bands: salting loses nothing, dropping loses only what it counts
# ---------------------------------------------------------------------------

_VOWELS = "aeiou"
# 26 tokens whose only shared d=1 key is "kz" (one substitution apart);
# 25 tokens with the phonetic skeleton "btn" and 9 with "mrk"; all three
# families also share deletion keys among themselves
SKEW_PLANTED = (
    [f"k{c}z" for c in "abcdefghijklmnopqrstuvwxyz"]
    + [f"b{u}t{v}n" for u in _VOWELS for v in _VOWELS]
    + [f"m{u}r{v}k" for u in _VOWELS[:3] for v in _VOWELS[:3]]
)
_srng = random.Random(23)
SKEW_VOCAB = sorted(
    set(SKEW_PLANTED)
    | {"".join(_srng.choice("abcd") for _ in range(_srng.randint(3, 6))) for _ in range(40)}
)
SKEW_A, SKEW_B = SKEW_VOCAB[::2], SKEW_VOCAB[1::2]
SKEW_D, SKEW_VARIANT = 1, TRANSPOSITION


def _key_sets(spark, words, variant, d):
    from liblevenshtein_rust_spark.functions.blocking_keys import (
        blocking_key_rows,
        variant_key_budget,
    )

    rows = blocking_key_rows(
        _vocab_df(spark, words), "token", variant_key_budget(variant, d), variant
    ).collect()
    keys: dict = {w: set() for w in words}
    for r in rows:
        keys[r["token"]].add(r["key"])
    return keys


def _phonetic_codes(spark, words, ruleset):
    from pyspark.sql import functions as F

    from liblevenshtein_rust_spark.functions.phonetic import phonetic_normalize

    df = _vocab_df(spark, words).select(
        "token", phonetic_normalize(F.col("token"), ruleset).alias("code")
    )
    return {r["token"]: {r["code"]} for r in df.collect()}


def _dropped(keys_a, keys_b, extreme):
    """Keys whose pair count exceeds ``extreme``: n(n-1)/2 when ``keys_b``
    is None (self-join), n_a*n_b otherwise."""
    from collections import Counter

    na = Counter(k for ks in keys_a.values() for k in ks)
    if keys_b is None:
        return {k for k, n in na.items() if n * (n - 1) // 2 > extreme}
    nb = Counter(k for ks in keys_b.values() for k in ks)
    return {k for k in na if na[k] * nb.get(k, 0) > extreme}


def _check_loss(got, want, keys_a, keys_b, dropped, band):
    """got ⊆ want; every missing pair shares a dropped key; the number
    missing is bounded by the counted pairs; no drop → no loss."""
    assert got <= want
    missing = want - got
    for a, b in missing:
        assert keys_a[a] & keys_b[b] & dropped, (a, b)
    assert len(missing) <= band["key_pairs_dropped"]
    assert band["extreme_keys_dropped"] == len(dropped)
    if not dropped:
        assert got == want and band["key_pairs_dropped"] == 0
    return missing


@pytest.mark.parametrize("extreme", [10**12, 50])
def test_skew_bands_lose_only_counted_pairs(spark, monkeypatch, extreme):
    """With the two band constants monkeypatched small, ER's self-join and
    linkage's edit and phonetic cross joins against the unblocked scalar
    cross product: hot keys are salted and lose nothing; extreme keys lose
    at most ``key_pairs_dropped`` pairs, each through a dropped key."""
    from liblevenshtein_rust_spark.operators import blocking

    monkeypatch.setattr(blocking, "HOT_KEY_PAIRS", 3)
    monkeypatch.setattr(blocking, "EXTREME_KEY_PAIRS", extreme)
    keys = _key_sets(spark, SKEW_VOCAB, SKEW_VARIANT, SKEW_D)

    # ER vocabulary self-join (off-diagonal pairs; the diagonal is unblocked)
    band: dict = {}
    cfg = er.ERConfig(max_distance=SKEW_D, variant=SKEW_VARIANT, max_df=100)
    toks = spark.createDataFrame(list(enumerate(SKEW_VOCAB)), "doc_id long, token string")
    got = {
        (r["tok_a"], r["tok_b"])
        for r in er.vocab_token_matches(toks, cfg, band).collect()
        if r["tok_a"] != r["tok_b"]
    }
    want = {
        (a, b)
        for a in SKEW_VOCAB
        for b in SKEW_VOCAB
        if a < b and distance(a, b, SKEW_VARIANT) <= SKEW_D
    }
    assert band["hot_keys_salted"] > 0
    missing = _check_loss(got, want, keys, keys, _dropped(keys, None, extreme), band)
    assert bool(missing) == (extreme == 50)

    # linkage, edit channel
    band = {}
    lcfg = linkage.LinkConfig(max_distance=SKEW_D, variant=SKEW_VARIANT)
    got = {
        (r["tok_a"], r["tok_b"])
        for r in blocking.vocab_matches(
            _vocab_df(spark, SKEW_A), _vocab_df(spark, SKEW_B),
            max_distance=SKEW_D, variant=SKEW_VARIANT, band=band,
        ).collect()
    }
    want = {
        (a, b) for a in SKEW_A for b in SKEW_B if distance(a, b, SKEW_VARIANT) <= SKEW_D
    }
    ka = {w: keys[w] for w in SKEW_A}
    kb = {w: keys[w] for w in SKEW_B}
    assert band["hot_keys_salted"] > 0
    missing = _check_loss(got, want, ka, kb, _dropped(ka, kb, extreme), band)
    assert bool(missing) == (extreme == 50)

    # linkage, phonetic channel: the code is the key and equality the match
    band = {}
    codes = _phonetic_codes(spark, SKEW_VOCAB, lcfg.phonetic_ruleset)
    got = {
        (r["tok_a"], r["tok_b"])
        for r in linkage.phonetic_vocab_matches(
            _vocab_df(spark, SKEW_A), _vocab_df(spark, SKEW_B), lcfg, band
        ).collect()
    }
    want = {(a, b) for a in SKEW_A for b in SKEW_B if codes[a] == codes[b]}
    ca = {w: codes[w] for w in SKEW_A}
    cb = {w: codes[w] for w in SKEW_B}
    assert band["hot_keys_salted"] > 0
    missing = _check_loss(got, want, ca, cb, _dropped(ca, cb, extreme), band)
    assert bool(missing) == (extreme == 50)


@pytest.mark.parametrize("cross", [False, True])
def test_zero_key_rows_give_no_pairs(spark, tmp_path, cross):
    """Self and cross joins over zero key rows read from an empty parquet
    file: no pairs, and the band record counts nothing."""
    path = str(tmp_path / "keys")
    spark.createDataFrame([], "id string, key long").write.parquet(path)
    rows = spark.read.parquet(path)
    band: dict = {}
    pairs = blocking.blocked_pairs(rows, rows if cross else None, band=band)
    assert pairs.collect() == []
    assert band == {"hot_keys_salted": 0, "extreme_keys_dropped": 0, "key_pairs_dropped": 0}
