"""Property-based cross-validation — the oracle suite.

Mirrors the reference's
``tests/proptest_automaton_distance_cross_validation.rs`` (automaton results
must agree exactly with brute-force DP distance: no false positives, no
false negatives, distances agree) and
``tests/universal_vs_parameterized.rs`` (scalar automaton vs batch kernel
agreement), plus Unicode correctness per ``tests/test_utf8_char_level.rs``.
"""

import random

import numpy as np
import pytest

from liblevenshtein_rust_spark.kernel.automaton import automaton_distance
from liblevenshtein_rust_spark.kernel.batch import batch_distance
from liblevenshtein_rust_spark.kernel.distances import (
    VARIANTS,
    distance,
    prefix_distance,
    substring_distance,
)

ALPHABETS = ["ab", "abcd", "abcdefghijklmnop"]


def _rand_word(rng, alpha, lo=0, hi=9):
    return "".join(rng.choice(alpha) for _ in range(rng.randint(lo, hi)))


@pytest.mark.parametrize("variant", VARIANTS)
@pytest.mark.parametrize("alpha", ALPHABETS)
def test_scalar_automaton_matches_dp(variant, alpha):
    rng = random.Random(42)
    for _ in range(1200):
        q, c = _rand_word(rng, alpha), _rand_word(rng, alpha)
        n = rng.randint(0, 3)
        dp = distance(q, c, variant)
        expected = dp if dp <= n else None
        assert automaton_distance(q, c, n, variant) == expected, (q, c, n)


def _mutate(rng, w, k, alpha):
    """``w`` after ``k`` random insertions, deletions and substitutions."""
    w = list(w)
    for _ in range(k):
        op = rng.randrange(3) if w else 0
        if op == 0:
            w.insert(rng.randint(0, len(w)), rng.choice(alpha))
        elif op == 1:
            del w[rng.randrange(len(w))]
        else:
            w[rng.randrange(len(w))] = rng.choice(alpha)
    return "".join(w)


# n = 126 is the widest int8 band (INF = 127); n = 127 the narrowest int16
@pytest.mark.parametrize("variant", VARIANTS)
@pytest.mark.parametrize("n", [0, 1, 2, 3, 126, 127])
def test_batch_kernel_matches_dp(variant, n):
    rng = random.Random(1234 + n)
    short = 1500 if n <= 3 else 200
    qs = [_rand_word(rng, "abcde") for _ in range(short)]
    ts = [_rand_word(rng, "abcde") for _ in range(short)]
    # words longer than the band (2n+1), edited around n times, so INF
    # capping and the dead band (rows whose band has left the matrix) run
    for _ in range(40 if n <= 3 else 8):
        w = _rand_word(rng, "abcde", 2 * n + 2, 2 * n + 30)
        qs.append(w)
        ts.append(_mutate(rng, w, rng.randint(n // 2, 2 * n + 3), "abcde"))
    got = batch_distance(qs, ts, n, variant)
    exp = np.array(
        [(d if (d := distance(q, t, variant)) <= n else -1) for q, t in zip(qs, ts)],
        dtype=np.int32,
    )
    np.testing.assert_array_equal(got, exp)


@pytest.mark.parametrize("variant", VARIANTS)
def test_batch_prefix_and_substring_modes_match_dp(variant):
    rng = random.Random(7)
    qs = [_rand_word(rng, "abc", 0, 5) for _ in range(800)]
    ts = [_rand_word(rng, "abc", 0, 9) for _ in range(800)]
    for n in (0, 1, 2):
        got = batch_distance(qs, ts, n, variant, prefix_mode=True)
        exp = np.array(
            [
                (d if (d := prefix_distance(q, t, variant)) <= n else -1)
                for q, t in zip(qs, ts)
            ],
            dtype=np.int32,
        )
        np.testing.assert_array_equal(got, exp)
        got = batch_distance(qs, ts, n, variant, substring_mode=True)
        exp = np.array(
            [
                (d if (d := substring_distance(q, t, variant)) <= n else -1)
                for q, t in zip(qs, ts)
            ],
            dtype=np.int32,
        )
        np.testing.assert_array_equal(got, exp)


def test_unicode_codepoint_level():
    """Char-level distances for diacritics, CJK, emoji
    (reference tests/test_utf8_char_level.rs)."""
    cases = [
        ("café", "cafe", 1),
        ("über", "uber", 1),
        ("日本語", "日本", 1),
        ("héllo", "hello", 1),
        ("🎉party", "party", 1),
        ("naïve", "naive", 1),
    ]
    for a, b, d in cases:
        assert distance(a, b, "standard") == d
        assert automaton_distance(a, b, 2, "standard") == d
        assert int(batch_distance([a], [b], 2, "standard")[0]) == d


def test_typo_families_within_bound():
    """Every single-edit family lands at distance exactly 1 (TypoGenerator
    semantics, reference src/corpus/generator.rs:84-123)."""
    rng = random.Random(5)
    base = [_rand_word(rng, "abcdefghij", 3, 10) for _ in range(200)]
    qs, ts, variants = [], [], []
    for w in base:
        i = rng.randrange(len(w))
        qs += [w, w, w]
        ts += [w[:i] + w[i + 1 :], w[:i] + "z" + w[i:], w[:i] + "z" + w[i + 1 :]]
    got = batch_distance(qs, ts, 1, "standard")
    assert (got >= 0).all()
    assert (got <= 1).all()


def test_substring_query_much_longer_than_terms():
    """Regression: T_pad must cover the deepest QUERY row — with queries far
    longer than every term (the routine substring-mode shape) the band slice
    used to run past the term-width-sized pad buffer and crash."""
    qs = ["abcabcabcabcabc", "zzzzzzzzzzzzzz", "ab"]
    ts = ["ab", "bc", "zz"]
    got = batch_distance(qs, ts, 1, "standard", substring_mode=True)
    from liblevenshtein_rust_spark.kernel.distances import substring_distance

    want = [substring_distance(q, t) for q, t in zip(qs, ts)]
    want = [d if d <= 1 else -1 for d in want]
    assert got.tolist() == want


def test_active_row_scatter_preserves_order():
    """Regression for active-row scheduling: the kernel sorts rows by query
    length internally and must scatter results back to input order — a batch
    deliberately arranged shortest-first (the worst case for the sort) with
    per-row expected values."""
    qs = ["", "a", "ab", "abc", "abcd", "abcde", "abcdef", "kitten"]
    ts = ["a", "a", "ba", "abc", "abcdx", "xbcde", "abc", "sitting"]
    exp = [(d if (d := distance(q, t, "standard")) <= 2 else -1)
           for q, t in zip(qs, ts)]
    got = batch_distance(qs, ts, 2, "standard")
    assert got.tolist() == exp
    # and under transposition with the pair order reversed (longest first)
    got_r = batch_distance(qs[::-1], ts[::-1], 2, "transposition")
    exp_r = [(d if (d := distance(q, t, "transposition")) <= 2 else -1)
             for q, t in zip(qs[::-1], ts[::-1])]
    assert got_r.tolist() == exp_r


def test_batch_allowed_subs_directional():
    """allowed_subs entries are (term_char, query_char): query 'b' matches
    term 'a' at zero cost, but NOT the reverse direction."""
    subs = frozenset({("a", "b")})
    got = batch_distance(["b", "a"], ["a", "b"], 1, "standard", allowed_subs=subs)
    assert got.tolist() == [0, 1]
