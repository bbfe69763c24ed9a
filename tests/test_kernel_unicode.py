"""Unicode correctness — reference parity for tests/test_utf8_char_level.rs,
test_utf8_debug_e_acute.rs, examples/unicode_diacritics.rs: distances are
codepoint-level (é is ONE unit, CJK and emoji likewise)."""

from __future__ import annotations

import pytest

from liblevenshtein_rust_spark.kernel.batch import batch_distance
from liblevenshtein_rust_spark.kernel.distances import distance


CASES = [
    ("café", "cafe", 1),      # é vs e: one substitution, not a byte mess
    ("café", "café", 0),
    ("über", "uber", 1),
    ("naïve", "naive", 1),
    ("日本語", "日本", 1),      # CJK: one deletion
    ("日本語", "日木語", 1),    # CJK: one substitution
    ("😀ab", "ab", 1),         # astral-plane emoji is one codepoint
    ("a😀b", "a😁b", 1),
    ("αβγ", "αβδ", 1),
    # an embedded NUL on either side is an ordinary unmatched char
    ("a\x00b", "ab", 1),
    ("ab", "a\x00b", 1),
    ("\x00", "a", 1),
    ("é", "\x00", 1),
    ("ab\x00", "ab", 1),
    # empty and one-character rows
    ("", "", 0),
    ("", "é", 1),
    ("😀", "", 1),
    ("a", "a", 0),
    ("😀", "😁", 1),
]


@pytest.mark.parametrize("a,b,d", CASES)
def test_scalar_codepoint_distances(a, b, d):
    assert distance(a, b, "standard") == d


def test_batch_matches_scalar_on_unicode():
    qs = [a for a, _, _ in CASES]
    ts = [b for _, b, _ in CASES]
    got = batch_distance(qs, ts, 2, "standard")
    want = [d for _, _, d in CASES]
    assert list(got) == want


def test_batch_mixed_script_batch():
    """One Arrow batch mixing ASCII, Latin-1, CJK, emoji — the encode step
    must widen the whole batch without corrupting narrow rows."""
    qs = ["abc", "café", "日本語", "😀😀", ""]
    ts = ["abd", "cafe", "日本語x", "😀", "a"]
    got = list(batch_distance(qs, ts, 3, "standard"))
    assert got == [1, 1, 1, 1, 1]


def test_transposition_unicode():
    assert distance("日本", "本日", "transposition") == 1
    assert list(batch_distance(["日本"], ["本日"], 1, "transposition")) == [1]
    assert list(batch_distance(["éa"], ["aé"], 1, "transposition") >= 0) == [True]
