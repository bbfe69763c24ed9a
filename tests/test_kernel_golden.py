"""Golden acceptance tests ported from the reference's unit suites.

Cases mirror ``/root/reference/src/transducer/universal/automaton.rs:486-649``
(acceptance per variant, empty-string edges, long-input rejection),
``tests/test_yu_uy.rs`` (transposition regression), and the merge/split
doctests in ``src/distance/mod.rs:624``.
"""

import pytest

from liblevenshtein_rust_spark.kernel.automaton import (
    automaton_accepts,
    automaton_distance,
)
from liblevenshtein_rust_spark.kernel.batch import batch_distance
from liblevenshtein_rust_spark.kernel.distances import (
    merge_and_split_distance,
    standard_distance,
    transposition_distance,
)

# (query/word, candidate/input, n, variant, expected_accept)
GOLDEN = [
    # standard — universal/automaton.rs:486-560
    ("test", "test", 0, "standard", True),
    ("test", "text", 2, "standard", True),
    ("test", "teast", 2, "standard", True),
    ("test", "tet", 2, "standard", True),
    ("test", "hello", 2, "standard", False),
    ("test", "te", 2, "standard", True),
    ("test", "t", 2, "standard", False),
    ("", "", 2, "standard", True),
    ("", "ab", 2, "standard", True),
    ("", "abc", 2, "standard", False),
    ("ab", "", 2, "standard", True),
    ("abc", "", 2, "standard", False),
    ("algorithm", "algorythm", 2, "standard", True),
    ("algorithm", "algorithm", 0, "standard", True),
    ("a", "a", 0, "standard", True),
    ("a", "b", 0, "standard", False),
    ("a", "b", 1, "standard", True),
    # input longer than |w| + n rejects (automaton.rs:250-254)
    ("ab", "abcdef", 2, "standard", False),
    # transposition — universal/automaton.rs:561-640 + test_yu_uy.rs
    ("test", "etst", 1, "transposition", True),
    ("test", "tset", 1, "transposition", True),
    ("test", "tets", 1, "transposition", True),
    ("test", "stet", 1, "transposition", False),  # not a single adjacent swap
    ("algorithm", "lagorithm", 1, "transposition", True),
    ("test", "set", 2, "transposition", True),
    ("yu", "uy", 1, "transposition", True),
    ("uy", "yu", 1, "transposition", True),
    ("ab", "ba", 1, "transposition", True),
    ("abcd", "acbd", 1, "transposition", True),
    ("abcd", "badc", 2, "transposition", True),
    # non-adjacent "transposition" is 2 substitutions (automaton.rs:640-648)
    ("abcde", "ebcda", 1, "transposition", False),
    ("abcde", "ebcda", 2, "transposition", True),
    # merge-and-split — distance/mod.rs:624 doctests
    ("m", "rn", 1, "merge_and_split", True),
    ("rn", "m", 1, "merge_and_split", True),
    ("clm", "calm", 1, "merge_and_split", True),
    ("coat", "cot", 1, "merge_and_split", True),
    ("test", "text", 2, "merge_and_split", True),
]


@pytest.mark.parametrize("word,cand,n,variant,expected", GOLDEN)
def test_scalar_automaton_golden(word, cand, n, variant, expected):
    assert automaton_accepts(word, cand, n, variant) == expected


@pytest.mark.parametrize("word,cand,n,variant,expected", GOLDEN)
def test_batch_kernel_golden(word, cand, n, variant, expected):
    assert bool(batch_distance([word], [cand], n, variant)[0] >= 0) == expected


def test_distance_values_match_reference_examples():
    # distance/mod.rs doctests
    assert standard_distance("kitten", "sitting") == 3
    assert standard_distance("test", "test") == 0
    assert transposition_distance("ab", "ba") == 1
    assert transposition_distance("test", "tset") == 1
    assert merge_and_split_distance("m", "rn") == 1
    assert merge_and_split_distance("rn", "m") == 1
    # OSA (not unrestricted Damerau): 'ca' -> 'abc' is 3 under OSA
    assert transposition_distance("ca", "abc") == 3


def test_query_comprehensive_dictionary_d0_d2():
    """Exact result sets on the 28-term golden dictionary
    (``tests/query_comprehensive_test.rs:5-13``), ordered (distance, term)."""
    dictionary = [
        "a", "ab", "abc", "abcd", "abcde", "b", "bc", "bcd", "bcde",
        "test", "testing", "tested", "tester", "tests", "best", "rest",
        "nest", "west", "quest", "foo", "food", "fool", "football",
        "bar", "bark", "barn", "barley",
    ]

    def query_ordered(q, n):
        out = []
        for t in dictionary:
            d = automaton_distance(q, t, n, "standard")
            if d is not None:
                out.append((d, t))
        return sorted(out)

    assert query_ordered("test", 0) == [(0, "test")]
    assert query_ordered("test", 1) == [
        (0, "test"),
        (1, "best"),
        (1, "nest"),
        (1, "rest"),
        (1, "tests"),
        (1, "west"),
    ]
    got2 = query_ordered("test", 2)
    assert (0, "test") == got2[0]
    assert (2, "tested") in got2 and (2, "tester") in got2
    # brute-force agreement
    expected2 = sorted(
        (standard_distance("test", t), t)
        for t in dictionary
        if standard_distance("test", t) <= 2
    )
    assert got2 == expected2


def test_prefix_mode_autocomplete():
    # ordered_query.rs:320 `.prefix()` semantics
    assert automaton_distance("tes", "testing", 0, "standard", prefix_mode=True) == 0
    assert automaton_distance("tex", "testing", 1, "standard", prefix_mode=True) == 1
    assert automaton_accepts("xyz", "testing", 1, "standard", prefix_mode=True) is False
    assert batch_distance(
        ["tes", "tex"], ["testing", "testing"], 1, "standard", prefix_mode=True
    ).tolist() == [0, 1]


def test_substitution_policy_zero_cost():
    # substitution_set.rs presets: policy-allowed pairs cost 0
    subs = frozenset([("z", "s"), ("0", "o")])
    assert (
        automaton_distance("test", "tezt", 0, "standard") is None
    )
    assert (
        batch_distance(["test"], ["tezt"], 0, "standard", allowed_subs=subs)[0] == 0
    )
    assert (
        batch_distance(["foo"], ["f00"], 0, "standard", allowed_subs=subs)[0] == 0
    )
