"""Salting correctness: ``blocking.blocked_pairs``' hot-key shapes must be
pair-set-preserving, on a planted hot key and end to end through the ER
vocabulary self-join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.operators import blocking
from liblevenshtein_rust_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_rewrites", cores=4, shuffle_partitions=4)


def _pairs(df):
    return sorted((r["left_id"], r["right_id"]) for r in df.collect())


def _salted(monkeypatch, n_salt, left, right=None):
    """``blocked_pairs`` with only the planted ``hot`` key above
    ``HOT_KEY_PAIRS`` (the cold keys have at most 3 pairs), salted into
    ``n_salt`` groups; asserts the salted band was taken."""
    monkeypatch.setattr(blocking, "HOT_KEY_PAIRS", 3)
    monkeypatch.setattr(blocking, "N_SALT", n_salt)
    band: dict = {}
    pairs = _pairs(blocking.blocked_pairs(left, right, band=band))
    assert band == {"hot_keys_salted": 1, "extreme_keys_dropped": 0, "key_pairs_dropped": 0}
    return pairs


def test_salted_self_join_equals_unsalted(spark, monkeypatch):
    rows = [("hot", f"d{i:03d}") for i in range(40)] + [
        ("cold1", "a"), ("cold1", "b"), ("cold1", "c"), ("cold2", "x"), ("cold2", "y"),
    ]
    keyed = spark.createDataFrame(rows, "key string, id string")

    plain_l = keyed.select("key", F.col("id").alias("left_id"))
    plain_r = keyed.select("key", F.col("id").alias("right_id"))
    expected = _pairs(
        plain_l.join(plain_r, "key").where(F.col("left_id") < F.col("right_id")).distinct()
    )
    for n_salt in (2, 3, 8):
        assert _salted(monkeypatch, n_salt, keyed) == expected, n_salt

    # the cross twin: split left, replicate right — the same distinct pairs
    # as the plain equi-join, for a hot key on both sides (ids are unique
    # per key, so every joined row is its own pair)
    right = spark.createDataFrame(
        [("hot", f"e{i:02d}") for i in range(25)] + [("cold1", "z"), ("cold3", "w")],
        "key string, id string",
    )
    want = _pairs(
        plain_l.join(right.select("key", F.col("id").alias("right_id")), "key").distinct()
    )
    assert len(want) == 40 * 25 + 3
    for n_salt in (2, 3, 8):
        assert _salted(monkeypatch, n_salt, keyed, right) == want, n_salt


def test_salting_distributes_hot_bucket(spark, monkeypatch):
    """No salt-group task of the triangle carries more than a small share
    of the hot bucket: each output pair is attributed to its task
    (min group, max group) by the salt expression ``blocked_pairs`` uses."""
    from collections import Counter

    n, n_salt = 60, 4
    rows = [("hot", f"d{i:03d}") for i in range(n)]
    keyed = spark.createDataFrame(rows, "key string, id string")
    out = _salted(monkeypatch, n_salt, keyed)
    full = n * (n - 1) // 2
    assert len(out) == full
    group = {
        r["id"]: r["g"]
        for r in keyed.select("id", blocking._salt_group("id", n_salt).alias("g")).collect()
    }
    assert set(group.values()) == set(range(n_salt))
    per_task = Counter(
        (min(group[a], group[b]), max(group[a], group[b])) for a, b in out
    )
    assert len(per_task) == n_salt * (n_salt + 1) // 2
    # 10 tasks share the bucket; the largest holds well under a quarter of it
    assert max(per_task.values()) * 4 < full


def test_vocab_token_matches_salted_band_equals_fast_path(spark, monkeypatch):
    """vocab_token_matches must produce the same scored pair set whether the
    band count routes it down the band-free path (no hot keys) or the
    salted band (HOT_KEY_PAIRS forced tiny) — salting is pair-set-preserving
    end-to-end, not just on a planted hot key."""
    from liblevenshtein_rust_spark.pipeline import er

    toks = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["batch", "bacth", "battch", "join", "jion", "joins",
             "merge", "mrege", "spark", "spork", "sparc", "window"]
        )],
        "doc_id long, token string",
    )
    cfg = er.ERConfig(max_df=100)

    def result():
        band: dict = {}
        out = er.vocab_token_matches(toks, cfg, band)
        rows = sorted(
            (r["tok_a"], r["tok_b"], r["distance"]) for r in out.collect()
        )
        return rows, band

    fast_rows, fast_band = result()
    monkeypatch.setattr(blocking, "HOT_KEY_PAIRS", 0)
    salted_rows, salted_band = result()
    assert fast_band["hot_keys_salted"] == 0       # band-free path taken
    assert salted_band["hot_keys_salted"] > 0      # salted band exercised
    assert salted_band["extreme_keys_dropped"] == 0
    assert salted_rows == fast_rows
