"""FIXTURES.md determinism contract: identical output for identical
(seed, tier) regardless of partitioning — verified by content hash."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.session import get_spark
from liblevenshtein_rust_spark.sources import fixtures


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_fixtures", cores=4, shuffle_partitions=4)


def _content_hash(df) -> str:
    rows = sorted(str(r) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_docs_identical_across_partitionings(spark):
    a = fixtures.generate_docs(spark, 300, seed=7, partitions=1)
    b = fixtures.generate_docs(spark, 300, seed=7, partitions=13)
    assert _content_hash(a) == _content_hash(b)


def test_docs_differ_across_seeds(spark):
    a = fixtures.generate_docs(spark, 100, seed=7)
    b = fixtures.generate_docs(spark, 100, seed=8)
    assert _content_hash(a) != _content_hash(b)


def test_schema_matches_input_hint(spark):
    docs = fixtures.generate_docs(spark, 10, seed=1)
    spans_type = docs.schema["spans"].dataType.simpleString()
    assert (
        spans_type
        == "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    assert docs.schema["doc_id"].dataType.simpleString() == "string"


def test_offsets_strictly_increasing(spark):
    docs = fixtures.generate_docs(spark, 200, seed=3)
    bad = docs.select(
        F.exists(
            F.zip_with(
                F.col("spans"),
                F.slice(F.col("spans"), 2, F.size("spans")),
                lambda a, b: b["offset"] <= a["offset"],
            ),
            lambda x: x,
        ).alias("bad")
    ).where(F.col("bad"))
    assert bad.count() == 0


def test_er_hot_side_broadcast_in_token_matches(spark, monkeypatch):
    """The skew guard's plan must broadcast the HOT side as a LeftAnti
    build — never the near-universe cold side.  A 300-doc corpus has no
    hot key at the default bands, so every shared key is made hot here."""
    from liblevenshtein_rust_spark.operators import blocking
    from liblevenshtein_rust_spark.pipeline import er
    from liblevenshtein_rust_spark.session import release_pooled

    monkeypatch.setattr(blocking, "HOT_KEY_PAIRS", 0)
    docs = fixtures.generate_docs(spark, 300, seed=7)
    toks = blocking.rare_tokens(blocking.doc_tokens(docs), max_df=10)
    band: dict = {}
    out = er.vocab_token_matches(toks, er.ERConfig(max_df=10), band)
    plan = out._jdf.queryExecution().executedPlan().toString()
    release_pooled()
    assert band["hot_keys_salted"] > 0
    assert "LeftAnti, BuildRight" in plan or (
        "LeftAnti" in plan and "BroadcastHashJoin" in plan
    )
