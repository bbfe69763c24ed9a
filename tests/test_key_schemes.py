"""Blocking-completeness tests for the keyed standard / transposition /
prefix / substring / merge-split candidate paths.

Strategy: seeded random vocab + probes over a tiny alphabet (maximal
collision pressure), brute-force Python DP as ground truth, then assert the
BLOCKED Spark path returns exactly the DP's match set — i.e. the key
families lose no recall (precision is the kernel's job and is exact).

The merge-split vocab deliberately straddles the deletion/gram band
boundary (lengths 9..16 around MS_GRAM_MIN_LEN=11 / MS_DEL_MAX_LEN=13,
|len diff| <= 2 pairs crossing the bands) — the case a naive disjoint
banding would get wrong.
"""

from __future__ import annotations

import itertools
import random
from collections import Counter

import pytest

from liblevenshtein_rust_spark.kernel import distances as D
from liblevenshtein_rust_spark.operators import matching
from liblevenshtein_rust_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_key_schemes", cores=4, shuffle_partitions=4)


def _rand_words(rng, n, lo, hi, alphabet="abc"):
    return list(
        {
            "".join(rng.choice(alphabet) for _ in range(rng.randint(lo, hi)))
            for _ in range(n)
        }
    )


def _run_mode(spark, probes, terms, n, variant="standard", **mode):
    p = spark.createDataFrame([(x,) for x in probes], "query string")
    d = spark.createDataFrame([(x,) for x in terms], "term string")
    out = matching.fuzzy_query(p, d, n, variant, **mode)
    return {(r["query"], r["term"]): r["distance"] for r in out.collect()}


def test_prefix_mode_blocked_completeness(spark):
    rng = random.Random(7)
    terms = _rand_words(rng, 150, 1, 12)
    probes = _rand_words(rng, 25, 1, 7) + ["", "abcabc"]
    for n in (1, 2):
        got = _run_mode(spark, probes, terms, n, prefix_mode=True)
        want = {
            (q, t): D.prefix_distance(q, t)
            for q in set(probes)
            for t in terms
            if D.prefix_distance(q, t) <= n
        }
        assert got == want


def test_substring_mode_blocked_completeness(spark):
    rng = random.Random(11)
    terms = _rand_words(rng, 120, 1, 8)
    probes = _rand_words(rng, 20, 1, 14) + ["abcabcabcabc"]
    for n in (1, 2):
        got = _run_mode(spark, probes, terms, n, substring_mode=True)
        want = {
            (q, t): D.substring_distance(q, t)
            for q in set(probes)
            for t in terms
            if D.substring_distance(q, t) <= n
        }
        assert got == want


def test_merge_split_n2_blocked_completeness(spark):
    rng = random.Random(13)
    # straddle the hybrid band boundary: lengths 1..16, heavy around 9..15
    terms = (
        _rand_words(rng, 80, 1, 8)
        + _rand_words(rng, 120, 9, 16)
    )
    probes = _rand_words(rng, 10, 2, 8) + _rand_words(rng, 15, 9, 16)
    got = _run_mode(spark, probes, terms, 2, variant="merge_and_split")
    want = {
        (q, t): D.merge_and_split_distance(q, t)
        for q in set(probes)
        for t in terms
        if D.merge_and_split_distance(q, t) <= 2
    }
    assert got == want


def _keys_by_value(rows, col="s"):
    out = {}
    for r in rows:
        out.setdefault(r[col], set()).add(r["key"])
    return out


def test_merge_split_keys_share_key_across_band(spark):
    """A length-13 (deletion+gram band) and length-15 (gram band) pair
    within merge-split distance 2 must share a key in the MergeAndSplit
    n=2 rows of ``blocking_key_rows``."""
    from liblevenshtein_rust_spark.functions.blocking_keys import blocking_key_rows

    a, b = "abcabcabcabca", "abcabcabcabcabc"  # split+split: distance 2
    assert D.merge_and_split_distance(a, b) <= 2
    df = spark.createDataFrame([(a,), (b,)], "s string")
    keys = _keys_by_value(blocking_key_rows(df, "s", 4, D.MERGE_AND_SPLIT).collect())
    assert keys[a] & keys[b]


def test_d3_blocked_completeness_standard_and_osa(spark):
    """VERDICT r3 task 1: the blocked path at n=3 must lose no recall,
    INCLUDING short strings (3 edits can destroy every 3-gram of a
    <= 6-char term — the exact case the old unpositioned-3-gram fallback
    got wrong).  Vocab straddles both hybrid bands (standard: 8/10,
    OSA: 11/13) and includes words of length <= 6; ground truth is the
    brute-force DP over the full cross product."""
    rng = random.Random(17)
    terms = (
        _rand_words(rng, 60, 1, 6)        # short band — the regression case
        + _rand_words(rng, 60, 7, 11)     # straddles the standard band
        + _rand_words(rng, 60, 12, 16)    # straddles the OSA band / gram-only
    )
    probes = (
        _rand_words(rng, 8, 1, 6)
        + _rand_words(rng, 8, 7, 11)
        + _rand_words(rng, 8, 12, 16)
    )
    for variant, fn in (
        ("standard", D.standard_distance),
        ("transposition", D.transposition_distance),
    ):
        got = _run_mode(spark, probes, terms, 3, variant=variant)
        want = {
            (q, t): fn(q, t)
            for q in set(probes)
            for t in terms
            if fn(q, t) <= 3
        }
        assert got == want, f"variant={variant}"


def test_d3_hybrid_keys_share_key_across_band(spark):
    """A deletion-band and a gram-band string within distance 3 must share
    a key in the d=3 rows of ``blocking_key_rows`` (the band-overlap
    proof's crossing case), for both variants."""
    from liblevenshtein_rust_spark.functions.blocking_keys import blocking_key_rows

    for variant, a, b in (
        (D.STANDARD, "abcabcab", "abcabcabcab"),    # len 8 vs 11: ins x3
        (D.TRANSPOSITION, "abcabcabcab", "abcabcabcabcab"),  # len 11 vs 14: ins x3
    ):
        assert D.standard_distance(a, b) <= 3
        df = spark.createDataFrame([(a,), (b,)], "s string")
        keys = _keys_by_value(blocking_key_rows(df, "s", 3, variant).collect())
        assert keys[a] & keys[b], (variant, a, b)


EDGE_TERMS = ["", "aaaa", "é", "aéb", "naïve"]


def test_standard_and_osa_blocked_completeness(spark):
    """Plain d<=2 (compiled, hashed deletion keys; no pre-join dedupe):
    exactly the brute-force match set, one row per (query, term), over
    duplicate terms and probes, the empty string, a character run and
    non-ASCII terms."""
    rng = random.Random(19)
    terms = _rand_words(rng, 150, 1, 8, alphabet="abé") + EDGE_TERMS
    terms += terms[:30] + ["aaaa"]
    probes = _rand_words(rng, 25, 1, 8, alphabet="abé") + ["", "aaa", "é"]
    probes += probes[:5]
    p = spark.createDataFrame([(x,) for x in probes], "query string")
    d = spark.createDataFrame([(x,) for x in terms], "term string")
    for variant in ("standard", "transposition"):
        for n in (1, 2):
            rows = [
                (r["query"], r["term"], r["distance"])
                for r in matching.fuzzy_query(p, d, n, variant).collect()
            ]
            pairs = [(q, t) for q, t, _ in rows]
            assert len(pairs) == len(set(pairs)), f"{variant} n={n}: repeated rows"
            want = {
                (q, t, D.distance(q, t, variant))
                for q in set(probes)
                for t in set(terms)
                if D.distance(q, t, variant) <= n
            }
            assert set(rows) == want, f"{variant} n={n}"


def _deletions(s: str, n: int) -> list[str]:
    """Pure-Python oracle: ``s`` minus every set of at most ``n`` positions,
    one entry per position set."""
    return [
        "".join(c for i, c in enumerate(s) if i not in drop)
        for k in range(n + 1)
        for drop in itertools.combinations(range(len(s)), k)
    ]


def test_deletion_key_rows_match_combinations_oracle(spark):
    """The compiled key rows carry, per term, exactly one row per deleted
    position set, hashed from the string ``itertools.combinations``
    predicts — at depths 1-4 and in the prefix form (every prefix up to
    ``max_prefix_len``, the empty one included)."""
    from pyspark.sql import functions as F

    from liblevenshtein_rust_spark.functions.blocking_keys import (
        deletion_key_rows,
        prefix_deletion_key_rows,
    )

    rng = random.Random(23)
    terms = _rand_words(rng, 60, 0, 10, alphabet="abé") + EDGE_TERMS + ["aaaa"]
    terms = sorted(set(terms))
    df = spark.createDataFrame([(t,) for t in terms], "term string")

    def hashed(oracle: dict) -> dict:
        rows = [(t, k) for t, ks in oracle.items() for k in ks]
        keyed = spark.createDataFrame(rows, "term string, k string").select(
            "term", F.xxhash64("k").alias("key")
        )
        return _keys_by_value(keyed.collect(), "term")

    for n in (1, 2, 3, 4):
        oracle = {t: _deletions(t, n) for t in terms}
        rows = deletion_key_rows(df, "term", n).collect()
        assert _keys_by_value(rows, "term") == hashed(oracle), f"n={n}"
        assert Counter(r["term"] for r in rows) == {t: len(v) for t, v in oracle.items()}

    for n, max_prefix_len in ((1, None), (2, None), (2, 4), (3, 5)):
        oracle = {
            t: [
                k
                for p in range(min(len(t), max_prefix_len or len(t)) + 1)
                for k in _deletions(t[:p], n)
            ]
            for t in terms
        }
        case = (n, max_prefix_len)
        rows = prefix_deletion_key_rows(df, "term", n, max_prefix_len).collect()
        assert _keys_by_value(rows, "term") == hashed(oracle), case
        assert Counter(r["term"] for r in rows) == {t: len(v) for t, v in oracle.items()}
