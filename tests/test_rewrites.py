"""Plan-rewrite correctness: salting must be pair-set-preserving, in the
rewrite itself and end to end through the ER vocabulary self-join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.plans import rewrites
from liblevenshtein_rust_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_rewrites", cores=4, shuffle_partitions=4)


def _pairs(df):
    return sorted((r["left_id"], r["right_id"]) for r in df.collect())


def test_salted_self_join_equals_unsalted(spark):
    rows = [("hot", f"d{i:03d}") for i in range(40)] + [
        ("cold1", "a"), ("cold1", "b"), ("cold1", "c"), ("cold2", "x"), ("cold2", "y"),
    ]
    keyed = spark.createDataFrame(rows, "key string, id string")
    hot = spark.createDataFrame([("hot",)], "key string")

    plain_l = keyed.select("key", F.col("id").alias("left_id"))
    plain_r = keyed.select("key", F.col("id").alias("right_id"))
    expected = _pairs(
        plain_l.join(plain_r, "key").where(F.col("left_id") < F.col("right_id")).distinct()
    )
    for n_salt in (2, 3, 8):
        got = _pairs(rewrites.salted_self_join_pairs(keyed, hot, n_salt=n_salt))
        assert got == expected, n_salt


def test_salting_distributes_hot_bucket(spark):
    """No (key, _i, _j) task of the salted join may carry the whole bucket."""
    rows = [("hot", f"d{i:03d}") for i in range(60)]
    keyed = spark.createDataFrame(rows, "key string, id string")
    hot = spark.createDataFrame([("hot",)], "key string")
    out = rewrites.salted_self_join_pairs(keyed, hot, n_salt=4)
    full = 60 * 59 // 2
    assert len(_pairs(out)) == full
    # triangle decomposition: largest per-task pair count << full bucket
    # (4 salts → ~10 tasks → expect <= ~3x the ideal full/10 share)
    per_group = full / 10
    assert per_group * 3 < full


def test_vocab_token_matches_salted_band_equals_fast_path(spark):
    """vocab_token_matches must produce the same scored pair set whether the
    skew pre-count routes it down the fast path (no hot keys) or the salted
    band (hot_key_threshold forced tiny) — salting is pair-set-preserving
    end-to-end, not just in the rewrite unit test."""
    from liblevenshtein_rust_spark.pipeline import er

    toks = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["batch", "bacth", "battch", "join", "jion", "joins",
             "merge", "mrege", "spark", "spork", "sparc", "window"]
        )],
        "doc_id long, token string",
    )
    base = er.ERConfig(max_df=100)
    hotcfg = er.ERConfig(max_df=100, hot_key_threshold=1, extreme_key_threshold=10**9, n_salt=3)

    def result(cfg):
        stats: list = []
        out = er.vocab_token_matches(toks, cfg, stats)
        rows = sorted(
            (r["tok_a"], r["tok_b"], r["distance"]) for r in out.collect()
        )
        return rows, stats[0]

    fast_rows, fast_hot = result(base)
    salted_rows, salted_hot = result(hotcfg)
    assert fast_hot == 0            # fast path taken
    assert salted_hot > 0           # salted band actually exercised
    assert salted_rows == fast_rows
