"""Differential test of the JVM Standard path.

``edit_distance_udf(n, "standard")`` with no mode scores pairs with Spark's
built-in ``levenshtein(l, r, n)``.  Every row must equal the Arrow kernel
(``batch_distance``) and the scalar DP (``kernel.distances.distance``),
including the kernel's contract that a null string scores as ``""``.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.functions.udfs import edit_distance_udf
from liblevenshtein_rust_spark.kernel.batch import batch_distance
from liblevenshtein_rust_spark.kernel.distances import distance
from liblevenshtein_rust_spark.session import get_spark
from liblevenshtein_rust_spark.sources.fixtures import apply_typos

from test_kernel_golden import GOLDEN

EDGE_PAIRS = [
    ("😀x", "x😀"),          # non-BMP: one codepoint, two UTF-16 units
    ("a😀b", "a😁b"),
    ("é", "é"),        # precomposed vs combining mark
    ("café", "café"),
    ("ß", "ss"),
    ("straße", "strasse"),
    ("日本語", "日本"),        # CJK
    ("東京", "京都"),
    ("あいう", "あいえ"),
    ("", "abc"),
    ("ab", ""),
    ("", ""),
    (None, "a"),             # null scores as ""
    ("ab", None),
    (None, None),
    (None, ""),
]

# source words mix ASCII with multi-byte and non-BMP codepoints
_UNICODE = "aeiouéßあ日😀"


def _pairs() -> list[tuple]:
    rng = random.Random(20261017)
    out = [(w, c) for w, c, _, variant, _ in GOLDEN if variant == "standard"]
    out += EDGE_PAIRS
    for _ in range(2000):
        alpha = rng.choice(["abcdefgh", _UNICODE])
        word = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 10)))
        out.append((word, apply_typos(word, rng.randint(0, 4), rng)))
    return out


@pytest.fixture(scope="module")
def scored():
    spark = get_spark("test_jvm_levenshtein", cores=2, shuffle_partitions=2)
    pairs = _pairs()
    df = spark.createDataFrame(
        [(i, q, t) for i, (q, t) in enumerate(pairs)], "i int, q string, t string"
    )
    cols = [
        edit_distance_udf(n, "standard")(F.col("q"), F.col("t")).alias(f"d{n}")
        for n in range(4)
    ]
    rows = df.select("i", *cols).orderBy("i").collect()
    return pairs, rows


@pytest.mark.parametrize("n", range(4))
def test_jvm_standard_equals_kernel_and_scalar(scored, n):
    pairs, rows = scored
    qs = [q for q, _ in pairs]
    ts = [t for _, t in pairs]
    kernel = batch_distance(qs, ts, n, "standard")
    for (q, t), row, k in zip(pairs, rows, kernel):
        d = distance(q or "", t or "", "standard")
        want = d if d <= n else -1
        assert (row[f"d{n}"], int(k)) == (want, want), (q, t, n)


def test_negative_budget_raises():
    # Spark's levenshtein would silently return -1 for every pair
    with pytest.raises(ValueError):
        edit_distance_udf(-1, "standard")
