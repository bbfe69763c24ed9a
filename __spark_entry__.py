"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL per query (tables pre-registered
as views: region nation customer supplier part orders lineitem events
documents embeddings).
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.functions.phonetic import (
    phonetic_rules_sql as _phonetic_rules_sql,
)
from liblevenshtein_rust_spark.kernel.distances import STANDARD, TRANSPOSITION
from liblevenshtein_rust_spark.operators import matching
from liblevenshtein_rust_spark.operators import sampling as _sampling
from liblevenshtein_rust_spark.operators import sessionize as _sessionize
from liblevenshtein_rust_spark.sources import tables

# ---------------------------------------------------------------------------
# shared fixtures: probe terms (typos of the documents vocabulary)
# ---------------------------------------------------------------------------

PROBES = [
    "jion",      # join (transposition)
    "hsah",      # hash (transposition)
    "bacth",     # batch (transposition)
    "scann",     # scan (insertion)
    "colunm",    # column (transposition)
    "filtre",    # filter (transposition)
    "smal",      # small (deletion)
    "mrege",     # merge (transposition)
    "ordre",     # order (transposition)
    "vectro",    # vector (transposition)
    "lien",      # line (transposition)
    "dat",       # data (deletion)
    "tabel",     # table (transposition)
    "qury",      # query (deletion)
    "windwo",    # window (transposition)
    "customer",  # exact
    "spark",     # exact
    "zzzzzz",    # no match
]

PREFIX_PROBES = ["cust", "filt", "vect", "wind", "qry", "stram"]

_PROBES_SQL_VALUES = ", ".join(f"('{p}')" for p in PROBES)
_PREFIX_PROBES_SQL_VALUES = ", ".join(f"('{p}')" for p in PREFIX_PROBES)

# DuckDB CTE: the distinct token vocabulary of documents.text
_TOKS_CTE = """
toks AS (
    SELECT DISTINCT t AS term FROM (
        SELECT unnest(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' ')) AS t
        FROM documents
    ) WHERE t <> ''
),
probes AS (SELECT * FROM (VALUES {probes}) v(query))
"""


def _probes_df(spark: SparkSession, probes=None) -> DataFrame:
    return spark.createDataFrame([(p,) for p in (probes or PROBES)], "query string")


_DICT_MEMO: dict = {}


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct token vocabulary of documents.text — the 'dictionary'.

    Memoized + persisted per (session, sf_dir): the reference builds its
    trie ONCE per corpus and serves every query from it (its published
    query benchmarks walk a prebuilt index, ``README.md:415-419``);
    rebuilding the full-corpus tokenization scan inside every ``queries()``
    call billed that scan 20+ times per bench/correctness session — it was
    ~70% of each fuzzy query's wall.  The cache is data-sized (~100k terms
    per partition, same rule as the CC fixpoint) so a small vocab doesn't
    pin shuffle-partition-count near-empty partitions under every
    downstream Arrow kernel stage, while a 10^9-term vocab still spreads
    cluster-wide.  Footprint: distinct terms only (Heaps-law sublinear),
    one entry per (session, sf_dir).
    """
    key = (spark, sf_dir)
    hit = _DICT_MEMO.get(key)
    if hit is not None:
        return hit
    docs = tables.documents(spark, sf_dir)
    toks = docs.select(
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("term")
    )
    raw = toks.where(F.col("term") != "").distinct().persist()
    n = raw.count()  # one-time build; exact size for the layout below
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    out = raw.repartition(max(1, min(cap, n // 100_000 + 1)), "term").persist()
    out.count()
    raw.unpersist()
    _DICT_MEMO[key] = out
    return out


def _doc_token_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, doc_id) pairs — the MappedDictionary analog."""
    docs = tables.documents(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("term"),
    )
    return toks.where(F.col("term") != "")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_fuzzy_query_d2_standard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transducer::query_with_distance, standard variant, n=2."""
    return matching.fuzzy_query(
        _probes_df(spark), _doc_tokens(spark, sf_dir), 2, STANDARD
    ).select("query", "term", F.col("distance").cast("int").alias("distance"))


# d=3 probes: includes SHORT probes whose matches need 3 edits on <=6-char
# terms — the case the pre-round-4 n-gram fallback could lose before the
# kernel ever saw the pair (VERDICT r3 item 1).  Reference recall contract
# at d<=3: Holbrook 100%, Birkbeck >95% (`data/corpora/README.md:250-255`,
# `tests/corpus_validation.rs:25-26`).
D3_PROBES = ["cln", "qy", "jin", "bath", "windw", "vectr", "strem", "zzzzzzzzzz"]


def q_fuzzy_query_d3_standard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transducer::query_with_distance, standard variant, n=3, through the
    round-4 length-banded blocked path (depth-3 deletion keys for short
    strings, positional 2-grams for long ones — ``blocking_key_rows``).  The
    oracle replays the SAME result UNBLOCKED (DuckDB levenshtein over the
    full probe x vocab cross product), so value-equality proves the
    blocked path lossless at d=3 — the same oracle style as
    ``link_tables``."""
    return matching.fuzzy_query(
        _probes_df(spark, D3_PROBES), _doc_tokens(spark, sf_dir), 3, STANDARD
    ).select("query", "term", F.col("distance").cast("int").alias("distance"))


def q_fuzzy_query_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as ``fuzzy_query_d2_standard`` through the prepared
    bucketed index (``sources/bucketed.py``): key table materialized once,
    bucketBy(key) layout, probe-side-only shuffle, shuffle join (no probe
    broadcast) — the large-probe-table scale path.  Reference analog: query
    against a prebuilt ``DoubleArrayTrie`` (``double_array_trie.rs:807``)
    instead of rebuilding per query."""
    import tempfile

    from liblevenshtein_rust_spark.sources import bucketed

    tokens = _doc_tokens(spark, sf_dir)
    bucketed.write_bucketed_index(
        tokens, "spark_entry_bucketed_idx", n_buckets=8,
        path=tempfile.mkdtemp(prefix="bucketed_idx_"),
    )
    out = bucketed.fuzzy_query_bucketed(
        spark, _probes_df(spark), "spark_entry_bucketed_idx", 2,
        broadcast_probes=False,
    )
    return out.select("query", "term", F.col("distance").cast("int").alias("distance"))


def q_stream_match_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming fuzzy match (streaming/match.py) replayed to completion:
    the SAME probe set as fuzzy_query_bucketed arrives as a file-drop
    stream split over two files with maxFilesPerTrigger=1 (two real
    micro-batches through foreachBatch + checkpoint + idempotent
    per-batch partition overwrite), matched against the prepared bucketed
    index, availableNow-terminated, read back from the sink.  The oracle
    is the IDENTICAL batch SQL as fuzzy_query_bucketed — value-equality
    is the exactly-once / stream≡batch evidence the round-2 verdict
    listed as the missing streaming oracle row."""
    import os
    import tempfile

    from liblevenshtein_rust_spark.sources import bucketed
    from liblevenshtein_rust_spark.streaming import match as smatch

    tokens = _doc_tokens(spark, sf_dir)
    idx_path = tempfile.mkdtemp(prefix="stream_idx_")
    bucketed.write_bucketed_index(
        tokens, "spark_entry_stream_idx", n_buckets=8, path=idx_path
    )
    probes = sorted(r["query"] for r in _probes_df(spark).collect())
    pdir = tempfile.mkdtemp(prefix="stream_probes_")
    half = max(len(probes) // 2, 1)
    with open(os.path.join(pdir, "a.txt"), "w") as f:
        f.write("\n".join(probes[:half]) + "\n")
    with open(os.path.join(pdir, "b.txt"), "w") as f:
        f.write("\n".join(probes[half:]) + "\n")
    out_path = tempfile.mkdtemp(prefix="stream_match_out_")
    ck = tempfile.mkdtemp(prefix="stream_match_ck_")
    # materialize the (tiny, probe-bounded) sink and clean every temp dir
    # in finally — the harnesses run each query repeatedly, and a leak on
    # the FAILURE path (leftover dirs + dangling catalog table) would also
    # break the next invocation's index write
    import shutil

    try:
        stream = smatch.stream_probes_from_files(
            spark, pdir, max_files_per_trigger=1
        )
        q = smatch.run_stream_fuzzy_match(
            stream,
            "spark_entry_stream_idx",
            out_path,
            ck,
            max_distance=2,
            variant="standard",
        )
        q.awaitTermination()
        rows = spark.read.parquet(out_path).select(
            "query", "term", F.col("distance").cast("int").alias("distance")
        ).collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS spark_entry_stream_idx")
        for d in (pdir, out_path, ck, idx_path):
            shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, "query string, term string, distance int")


def q_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming ingest dedup (streaming/dedup.py)
    replayed to completion: 40 planted docs arrive TWICE each — once per
    file, two micro-batches via maxFilesPerTrigger=1 — inside one
    watermark horizon, through the real checkpointed
    dropDuplicatesWithinWatermark sink.  Exactly one survivor row per
    distinct text must land; copies are full-row identical so the
    survivor set is deterministic.  The oracle is the batch equivalent:
    DISTINCT over the planted set with the same md5(normalized text)
    digest."""
    import json as _json
    import os
    import tempfile

    from liblevenshtein_rust_spark.streaming import dedup as sdedup

    docs = tables.documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 40
    )
    rows = [
        {
            "doc_id": r["doc_id"],
            "text": f"Stream Doc {r['doc_id']}  body text number {r['doc_id'] % 7}",
            "event_time": "2026-01-01T00:00:00",
        }
        for r in docs.collect()
    ]
    pdir = tempfile.mkdtemp(prefix="stream_dedup_in_")
    # every row appears in BOTH files: cross-batch duplicates by design
    for name in ("a.json", "b.json"):
        with open(os.path.join(pdir, name), "w") as f:
            for row in rows:
                f.write(_json.dumps(row) + "\n")
    out_path = tempfile.mkdtemp(prefix="stream_dedup_out_")
    ck = tempfile.mkdtemp(prefix="stream_dedup_ck_")
    import shutil

    try:
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, event_time timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .json(pdir)
        )
        q = sdedup.run_stream_dedup(stream, out_path, ck)
        q.awaitTermination()
        survivors = spark.read.parquet(out_path).select(
            F.col("doc_id").cast("bigint").alias("doc_id"), "text_hash"
        ).collect()
    finally:
        for d in (pdir, out_path, ck):
            shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(survivors, "doc_id bigint, text_hash string")


def _stream_dedup_replay_sql() -> str:
    """Oracle: the planted set is derived from documents (doc_id < 40) and
    duplicated; DISTINCT over (doc_id, digest) is the exact survivor set.
    The digest replays dedup.normalize_text: lower → strip non-alnum (and
    non-space) → squeeze whitespace → trim."""
    return """
        SELECT DISTINCT doc_id::BIGINT AS doc_id,
               md5(trim(regexp_replace(regexp_replace(
                   lower('Stream Doc ' || doc_id::VARCHAR ||
                         '  body text number ' || (doc_id % 7)::VARCHAR),
                   '[^a-z0-9 ]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS text_hash
        FROM documents WHERE doc_id < 40
    """


def q_fuzzy_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query_ordered + top-k (distance ASC, term ASC), k=3."""
    return matching.fuzzy_query_ordered(
        _probes_df(spark), _doc_tokens(spark, sf_dir), 2, STANDARD, limit=3
    ).select("query", "term", F.col("distance").cast("int").alias("distance"))


def q_fuzzy_query_transposition_d1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damerau/OSA variant at n=1 (OSA == full-DL at distance <= 1)."""
    return matching.fuzzy_query(
        _probes_df(spark), _doc_tokens(spark, sf_dir), 1, TRANSPOSITION
    ).select("query", "term", F.col("distance").cast("int").alias("distance"))


def q_fuzzy_query_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-mode query (autocomplete): distance to the best term prefix."""
    return matching.fuzzy_query(
        _probes_df(spark, PREFIX_PROBES),
        _doc_tokens(spark, sf_dir),
        1,
        STANDARD,
        prefix_mode=True,
    ).select("query", "term", F.col("distance").cast("int").alias("distance"))


OCR_PROBES = ["c0lumn", "5mall", "5park", "filt3r", "merge", "zzzzzz"]


def q_fuzzy_query_merge_split_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-and-split variant (``distance/mod.rs:624``).  The oracle runs
    the full DP as a recursive CTE (one iteration per query char, DP rows
    carried as lists; the in-row insertion dependency resolved by the
    prefix-min-with-slope transform) — cross-checked cell-exact against the
    Python DP, on top of the kernel cross-validation suite."""
    from liblevenshtein_rust_spark.kernel.distances import MERGE_AND_SPLIT

    return matching.fuzzy_query(
        _probes_df(spark), _doc_tokens(spark, sf_dir), 2, MERGE_AND_SPLIT
    ).select("query", "term", F.col("distance").cast("int").alias("distance"))


def q_fuzzy_query_ocr_subs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-cost substitution policy (substitution_policy.rs): o<->0 and
    s<->5 are free.  The policy is an equivalence closure, so the oracle is
    exact: levenshtein over translate-canonicalized strings."""
    from liblevenshtein_rust_spark.functions.substitutions import allow

    policy = allow(("o", "0"), ("s", "5"))
    return matching.fuzzy_query(
        _probes_df(spark, OCR_PROBES),
        _doc_tokens(spark, sf_dir),
        1,
        STANDARD,
        allowed_subs=policy,
    ).select("query", "term", F.col("distance").cast("int").alias("distance"))


def q_exact_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary::contains — left-semi join on the term."""
    return _probes_df(spark).join(
        _doc_tokens(spark, sf_dir),
        F.col("query") == F.col("term"),
        "left_semi",
    )


def q_fuzzy_multimap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FuzzyMultiMap::query — fuzzy key match + value-set aggregation.  The
    unioned value *collection* (CollectionAggregate parity) is emitted as a
    sorted comma-joined string so the driver's canonicalizer can hash it."""
    out = matching.fuzzy_multimap_query(
        _probes_df(spark), _doc_token_map(spark, sf_dir), 1, STANDARD,
        value_col="doc_id",
    )
    return out.select(
        "query",
        F.col("n_values").cast("bigint").alias("n_values"),
        F.col("min_value").cast("bigint").alias("min_value"),
        F.col("max_value").cast("bigint").alias("max_value"),
        F.col("n_terms").cast("bigint").alias("n_terms"),
        F.concat_ws(
            ",", F.transform(F.col("values"), lambda v: v.cast("string"))
        ).alias("values"),
    )


def q_blocking_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-construction analog: 3-gram blocking keys over the vocabulary,
    with per-key term counts (DAWG suffix-sharing ≈ key dedupe + counts)."""
    from liblevenshtein_rust_spark.functions.blocking_keys import (
        ngram_keys_unpositioned,
    )

    toks = _doc_tokens(spark, sf_dir)
    keys = toks.select(
        F.col("term"), F.explode(ngram_keys_unpositioned(F.col("term"), 3)).alias("key")
    )
    return keys.groupBy("key").agg(
        F.countDistinct("term").cast("bigint").alias("n_terms")
    )


def q_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (the north star's second key family):
    total-order the vocabulary by a suffix sort-key (reversed-term prefix —
    groups shared suffixes, unlike the n-gram/deletion families), pair each
    term with its 4 window successors.  Distributed two-phase global rank —
    no single-partition sort (operators/blocking.sorted_neighborhood_pairs).
    Reference analog: ordered dictionary traversal
    (``src/dictionary/iterator.rs``) turned into bounded candidate windows."""
    from liblevenshtein_rust_spark.functions.blocking_keys import (
        sorted_neighborhood_key,
    )
    from liblevenshtein_rust_spark.operators import blocking

    toks = _doc_tokens(spark, sf_dir)
    keyed = toks.select(
        "term",
        sorted_neighborhood_key(F.reverse(F.col("term")), 5).alias("snkey"),
    )
    return blocking.sorted_neighborhood_pairs(keyed, "snkey", "term", window=5)


# ---------------------------------------------------------------------------
# dedup / similarity / text-analysis queries (training-data-pipeline ops)
# ---------------------------------------------------------------------------


def _planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id < 2000) ∪ copies with the first token dropped —
    deterministic planted near-duplicates so the near-dup operators have
    non-trivial output; the same derivation is reproduced in the oracle
    SQL.  The doc_id bound is a no-op at the sf0.01 correctness scale
    (500 docs) and caps the bench-scale quadratic verification work."""
    docs = (
        tables.documents(spark, sf_dir)
        .where(F.col("doc_id") < 2000)
        .select("doc_id", "text")
    )
    planted = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    return docs.unionByName(planted)


def q_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import dedup

    docs = tables.documents(spark, sf_dir)
    out = dedup.exact_duplicates(docs)
    return out.select(
        "text_hash",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("keep_id").cast("bigint").alias("keep_id"),
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    out = dedup.minhash_lsh_pairs(corpus, threshold=0.5)
    return out.select(
        F.col("left_id").cast("bigint").alias("left_id"),
        F.col("right_id").cast("bigint").alias("right_id"),
        "jaccard",
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _planted_pairs(spark, sf_dir)
    return out.select(
        F.col("left_id").cast("bigint").alias("left_id"),
        F.col("right_id").cast("bigint").alias("right_id"),
        "jaccard",
    )


def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import dedup

    docs = tables.documents(spark, sf_dir)
    return dedup.simhash_fingerprints(docs).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("simhash").cast("bigint").alias("simhash"),
    )


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    out = dedup.simhash_near_pairs(corpus, max_hamming=3)
    return out.select(
        F.col("left_id").cast("bigint").alias("left_id"),
        F.col("right_id").cast("bigint").alias("right_id"),
        F.col("hamming").cast("int").alias("hamming"),
    )


def q_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import dedup

    emb = tables.embeddings(spark, sf_dir).where(F.col("vec_id") < 1000)
    out = dedup.embedding_near_pairs(emb, threshold=0.35)
    return out.select(
        F.col("left_id").cast("bigint").alias("left_id"),
        F.col("right_id").cast("bigint").alias("right_id"),
        "cos",
    )


def q_lsh_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup SCALE path: random-hyperplane LSH buckets + exact
    cosine verify (``operators/dedup.lsh_embedding_near_pairs``).  The
    hyperplanes are md5-seeded constants, so the oracle replays the exact
    same bucketing with the sign matrix inlined as literals — precision is
    exact and the bucket assignment deterministic, so the oracle match is
    value-exact (recall vs brute force is separately asserted in tests)."""
    from liblevenshtein_rust_spark.operators import dedup

    emb = tables.embeddings(spark, sf_dir).where(F.col("vec_id") < 1000)
    out = dedup.lsh_embedding_near_pairs(
        emb, dim=64, n_planes=4, threshold=0.35
    )
    return out.select(
        F.col("left_id").cast("bigint").alias("left_id"),
        F.col("right_id").cast("bigint").alias("right_id"),
        "cos",
    )


def q_ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import similarity

    emb = tables.embeddings(spark, sf_dir)
    probes = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.brute_force_topk(probes, emb, k=5)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "cos",
        F.col("rank").cast("int").alias("rank"),
    )


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (IVF) vs brute force, but fully deterministic given the
    md5-ordered centroid pick — the oracle replays the whole index build in
    SQL (centroids → nearest-cell assignment → nprobe cells → top-k).
    Recall vs brute force is additionally asserted in tests."""
    from liblevenshtein_rust_spark.operators import similarity

    emb = tables.embeddings(spark, sf_dir)
    probes = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.ivf_topk(probes, emb, k=5, n_cells=16, nprobe=4)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "cos",
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# dictionary-surface parity (prefix / filtered / value-set / union / substring)
# ---------------------------------------------------------------------------

SUBSTRING_PROBES = ["filtering", "sparkly", "querying", "tables", "zzz"]
PHONETIC_PROBES = ["sparck", "skan", "phast", "kolumn", "merg", "kwery"]


def _token_df_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, df) document-frequency mapped dictionary."""
    return (
        _doc_token_map(spark, sf_dir)
        .distinct()
        .groupBy("term")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("df"))
    )


def _source_token_counts(spark: SparkSession, sf_dir: str, source: str) -> DataFrame:
    docs = tables.documents(spark, sf_dir).where(F.col("source") == source)
    toks = docs.select(
        F.explode(F.split(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "), " ")).alias("term")
    ).where(F.col("term") != "")
    return toks.groupBy("term").agg(F.count("*").cast("bigint").alias("value"))


def q_prefix_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import dictionary_ops

    return dictionary_ops.prefix_iterate(_doc_tokens(spark, sf_dir), "s")


def q_query_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import dictionary_ops

    out = dictionary_ops.query_filtered(
        _probes_df(spark), _token_df_counts(spark, sf_dir), 1, F.col("df") >= 5
    )
    return out.select(
        "query", "term", F.col("distance").cast("int").alias("distance"), "df"
    )


def q_query_by_value_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import dictionary_ops

    values = spark.createDataFrame([(i,) for i in range(10)], "value bigint")
    mapped = _doc_token_map(spark, sf_dir).select(
        "term", F.col("doc_id").cast("bigint").alias("value")
    ).distinct()
    out = dictionary_ops.query_by_value_set(_probes_df(spark), mapped, 1, values)
    return out.select(
        "query", "term", F.col("distance").cast("int").alias("distance"),
        F.col("value").cast("bigint").alias("value"),
    )


def q_union_with_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import dictionary_ops

    d1 = _source_token_counts(spark, sf_dir, "src0")
    d2 = _source_token_counts(spark, sf_dir, "src1")
    out = dictionary_ops.union_with(d1, d2, merge="sum")
    return out.select("term", F.col("value").cast("bigint").alias("value"))


def q_union_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import dictionary_ops

    d1 = _source_token_counts(spark, sf_dir, "src0")
    d2 = _source_token_counts(spark, sf_dir, "src1")
    out = dictionary_ops.union_replace(d1, d2)
    return out.select("term", F.col("value").cast("bigint").alias("value"))


def q_substring_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import dictionary_ops

    out = dictionary_ops.substring_match_positions(
        tables.documents(spark, sf_dir), "spark"
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("pos").cast("int").alias("pos"),
    )


def q_fuzzy_substring_d1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import dictionary_ops

    out = dictionary_ops.fuzzy_substring_query(
        _probes_df(spark, SUBSTRING_PROBES), _doc_tokens(spark, sf_dir), 1
    )
    return out.select(
        "query", "term", F.col("distance").cast("int").alias("distance")
    )


def q_phonetic_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.functions.phonetic import phonetic_normalize

    probes = _probes_df(spark, PHONETIC_PROBES).withColumn(
        "pkey", phonetic_normalize(F.col("query"))
    )
    terms = _doc_tokens(spark, sf_dir).withColumn(
        "pkey", phonetic_normalize(F.col("term"))
    )
    return F.broadcast(probes).join(terms, "pkey").select("query", "term")


def q_phonetic_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three selectable phonetic rule sets over the vocabulary — the
    reference ships three curated sets behind one engine
    (``phonetic/rules.rs:246-286``); ours are original data with the same
    selectable surface (``functions/phonetic.PHONETIC_RULESETS``).  Pure
    per-row projections (codegen); the oracle replays each chain verbatim."""
    from liblevenshtein_rust_spark.functions.phonetic import phonetic_normalize

    toks = _doc_tokens(spark, sf_dir)
    return toks.select(
        "term",
        phonetic_normalize(F.col("term"), "default").alias("code_default"),
        phonetic_normalize(F.col("term"), "soundex_like").alias("code_soundex"),
        phonetic_normalize(F.col("term"), "skeleton").alias("code_skeleton"),
    )


# ---------------------------------------------------------------------------
# incremental maintenance (DynamicDawg analog) + contextual completion
# ---------------------------------------------------------------------------

CONTEXT_TREE = [(1, None), (2, 1), (3, 1), (4, 2)]


def q_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DynamicDawg insert/remove as table maintenance: delete b*-terms from
    the src0 dictionary, then upsert the src1 dictionary."""
    from liblevenshtein_rust_spark.operators import incremental

    d = _source_token_counts(spark, sf_dir, "src0")
    k = incremental.blocking_key_delta(d, n=1)
    up = _source_token_counts(spark, sf_dir, "src1")
    dele = d.where(F.col("term").startswith("b")).select("term")
    nd, _ = incremental.incremental_update(d, k, upserts=up, deletes=dele, n=1)
    return nd.select("term", F.col("value").cast("bigint").alias("value"))


def q_contextual_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completion from context 4 (sees {4,2,1}): prefix-fuzzy d<=1 over
    finalized (short tokens) + drafts (long tokens), context assigned by
    first-letter hash — deterministic and SQL-mirrorable."""
    from liblevenshtein_rust_spark.operators import contextual

    toks = _doc_tokens(spark, sf_dir)
    ctx = (F.ascii(F.substring("term", 1, 1)) % 4 + 1).cast("int")
    terms = toks.select("term", ctx.alias("context_id"))
    finalized = terms.where(F.length("term") < 7)
    drafts = terms.where(F.length("term") >= 7)
    closure = contextual.ancestor_closure(spark, CONTEXT_TREE)
    out = contextual.complete(
        _probes_df(spark, PREFIX_PROBES), finalized, drafts, closure,
        context_id=4, max_distance=1,
    )
    return out.select(
        "query", "term", F.col("distance").cast("int").alias("distance"),
        "is_draft", F.col("context_id").cast("int").alias("context_id"),
    )


def _derived_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic interleaved-doc table in the BASELINE.json input_hint
    shape, derived from documents.text: every 5th token becomes a media span
    with ref ``m{doc_id}_{offset}``; the rest stay text spans."""
    docs = tables.documents(spark, sf_dir)
    toks = F.split(F.regexp_replace(F.trim("text"), r"\s+", " "), " ")
    spans = F.transform(
        toks,
        lambda t, i: F.struct(
            F.when(i % 5 == 4, F.lit("media")).otherwise(F.lit("text")).alias("kind"),
            F.when(i % 5 == 4, F.lit("")).otherwise(t).alias("text"),
            F.when(i % 5 == 4, F.concat(F.lit("m"), F.col("doc_id").cast("string"),
                                        F.lit("_"), i.cast("string")))
            .otherwise(F.lit("")).alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans")
    )


def q_span_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-span input contract (BASELINE.json input_hint): derive a
    deterministic ``spans: array<struct<kind,text,media_ref,offset>>`` column
    from documents.text (every 5th token becomes a media span), push it
    through the production explode → groupBy → array_sort reassembly
    (``operators/blocking.reassemble_spans``), then re-explode.  An exact
    oracle match proves the span-sequence invariant ``(kind, text,
    media_ref, order)`` survives the shuffle round-trip."""
    from liblevenshtein_rust_spark.operators import blocking

    built = _derived_span_docs(spark, sf_dir)
    round_tripped = blocking.reassemble_spans(built)
    return blocking.explode_spans(round_tripped).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "kind", "text", "media_ref",
        F.col("offset").cast("int").alias("offset"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction over the derived interleaved table:
    distinct media refs → ``mapInPandas`` decode-stub (SHA-256 squeeze,
    ``operators/multimodal._decode_stub``) → 16-dim feature vector, exploded
    to one (media_ref, dim, value) row per feature dimension so every column
    is a hashable scalar (the driver's canonicalizer cannot sort/hash
    array<double> cells).  The stub is deterministic, so the oracle replays
    the byte derivation in SQL; features are rounded to 3 decimals (float32
    error ~6e-8 vs a >=2.8e-7 gap to any rounding boundary for
    S/1785-rational values, so rounding is exact on both sides)."""
    from liblevenshtein_rust_spark.operators import multimodal

    built = _derived_span_docs(spark, sf_dir)
    out = multimodal.media_features(built)
    exploded = out.select(
        "media_ref",
        F.col("n_bytes").cast("int").alias("n_bytes"),
        F.posexplode(F.col("feature")).alias("dim", "value"),
    )
    return exploded.select(
        "media_ref",
        "n_bytes",
        F.col("dim").cast("int").alias("dim"),
        F.round(F.col("value").cast("double"), 3).alias("value"),
    )


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling analog: keep every 2nd media span per doc ordered by
    offset (``operators/multimodal.frame_sample``) — the plan shape of video
    frame sampling as a windowed ordinal filter."""
    from liblevenshtein_rust_spark.operators import multimodal

    built = _derived_span_docs(spark, sf_dir)
    return multimodal.frame_sample(built, every=2).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("offset").cast("int").alias("offset"),
        "media_ref",
    )


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize analog (``operators/multimodal.media_resize``):
    nearest-neighbor downsample of the stub 10×10 byte grid to 4×4 via
    ``mapInPandas`` — binary in, binary out, dedupe-refs-before-decode.  The
    payload is hex-encoded for the driver compare (binary cells are not
    canonicalizable); the oracle rebuilds the same 16 bytes from
    ``sha256(media_ref)`` with the identical ``r*10//h`` index arithmetic."""
    from liblevenshtein_rust_spark.operators import multimodal

    built = _derived_span_docs(spark, sf_dir)
    out = multimodal.media_resize(built, width=4, height=4)
    return out.select(
        "media_ref",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("n_bytes").cast("int").alias("n_bytes"),
        F.lower(F.hex(F.col("payload"))).alias("payload_hex"),
    )


# Mixed-scheme media fixture: two committed P6 images, two committed PCM16
# WAVs (REAL stdlib decode paths — operators/multimodal.decode_media), and
# two synthetic sha-stub refs (compressed formats stay stubbed: no
# PIL/ffmpeg in the container).
_MEDIA_FIXTURE_REFS = [
    "ppm:img_rgb_4x4",
    "ppm:img_rgb_6x2",
    "wav:tone_a",
    "wav:tone_b",
    "m000001",
    "m000002",
]


def _media_fixture_docs(spark: SparkSession) -> DataFrame:
    rows = [
        ("mdoc0", [("media", "", r, i) for i, r in enumerate(_MEDIA_FIXTURE_REFS)])
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct"
        "<kind:string,text:string,media_ref:string,offset:int>>",
    )


def q_media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media_features over the mixed-scheme fixture: REAL pixel bytes for
    ppm: refs (pure-stdlib P6 parse), REAL PCM16 sample bytes for wav:
    refs (stdlib wave), sha-squeeze for m-stubs — one 16-dim feature per
    asset, exploded to scalar rows.  The oracle re-derives every payload
    INDEPENDENTLY (committed file bytes inlined as hex, headers skipped
    by offsets computed with separate regex/struct logic; stub bytes via
    DuckDB's own sha256) and replays the reshape-mean.  Rounded to 2 dp:
    payload sizes here give up to 15 reshape rows, so the float32 gap
    argument needs the coarser rounding (boundary gap >= 1/(200*15*255)
    = 1.3e-6 >> float32 error ~6e-8)."""
    from liblevenshtein_rust_spark.operators import multimodal

    out = multimodal.media_features(_media_fixture_docs(spark))
    exploded = out.select(
        "media_ref",
        F.col("n_bytes").cast("int").alias("n_bytes"),
        F.posexplode(F.col("feature")).alias("dim", "value"),
    )
    return exploded.select(
        "media_ref",
        "n_bytes",
        F.col("dim").cast("int").alias("dim"),
        F.round(F.col("value").cast("double"), 2).alias("value"),
    )


def q_media_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media_stats over the committed PPM/WAV fixtures: REAL per-channel
    pixel means and REAL amplitude statistics (exact integer sums, one
    final division rounded to 6 — bit-replayable).  The oracle recomputes
    everything from the inlined file hex: P6 header skipped at a
    regex-derived offset, WAV data located by the 'data' chunk tag,
    int16 LE samples reassembled byte-wise in SQL."""
    from liblevenshtein_rust_spark.operators import multimodal

    docs = _media_fixture_docs(spark)
    out = multimodal.media_stats(docs)
    # media_ref is aliased to `asset_ref` so the alphabetically-first
    # column is unique and non-null: the driver's canonicalizer sorts rows
    # by sorted-column order, and a leading nullable column would compare
    # None against int (TypeError) before a later column could break ties
    return out.where(F.col("modality") != "stub").select(
        F.col("media_ref").alias("asset_ref"), "modality", "n_bytes",
        "width", "height", "mean_r", "mean_g", "mean_b", "n_samples",
        "framerate", "mean_abs", "peak",
    )


def _media_decode_sqls() -> tuple[str, str]:
    """Build the two media-decode oracles from the COMMITTED fixture files:
    hex-inline the raw bytes; compute payload offsets with logic
    independent of the engine's parsers (regex for the P6 header, the
    'data' chunk tag for WAV)."""
    import re as _re
    from pathlib import Path as _P

    media_dir = _P(__file__).resolve().parent / "data/media"
    files = []  # (ref, modality, hex, payload_off, width, height, framerate)
    for ref in _MEDIA_FIXTURE_REFS:
        if ref.startswith("ppm:"):
            data = (media_dir / f"{ref[4:]}.ppm").read_bytes()
            m = _re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s", data)
            w, h = int(m.group(1)), int(m.group(2))
            files.append((ref, "image", data.hex(), m.end(), w, h, None))
        elif ref.startswith("wav:"):
            data = (media_dir / f"{ref[4:]}.wav").read_bytes()
            off = data.index(b"data") + 8
            rate = int.from_bytes(data[24:28], "little")
            files.append((ref, "audio", data.hex(), off, None, None, rate))

    def lit(x):
        return "NULL" if x is None else str(x)

    values = ",\n            ".join(
        f"('{r}', '{mo}', '{hx}', {off}, {lit(w)}, {lit(h)}, {lit(fr)})"
        for r, mo, hx, off, w, h, fr in files
    )
    stub_values = ", ".join(
        f"('{r}')" for r in _MEDIA_FIXTURE_REFS if r.startswith("m")
    )
    files_cte = f"""
        files(media_ref, modality, hx, off, width, height, framerate) AS (
            VALUES {values}
        )
    """
    features_sql = f"""
        WITH {files_cte},
        pl AS (
            SELECT media_ref,
                   [('0x' || substr(hx, 2*k + 1, 2))::INT
                    FOR k IN generate_series(off, length(hx)//2 - 1)] AS b
            FROM files
            UNION ALL
            SELECT media_ref,
                   [('0x' || substr(sha256(media_ref), 2*(k % 32) + 1, 2))::INT
                    FOR k IN generate_series(0, 99)] AS b
            FROM (VALUES {stub_values}) s(media_ref)
        )
        SELECT media_ref, len(b)::INT AS n_bytes, j::INT AS dim,
               round(sum(CASE WHEN 16*r + j < len(b) THEN b[16*r + j + 1]
                              ELSE 0 END)
                     / ((len(b) + 15) // 16) / 255.0, 2) AS value
        FROM pl, generate_series(0, 15) gj(j),
             unnest(generate_series(0, (len(b) + 15) // 16 - 1)) gr(r)
        GROUP BY media_ref, len(b), j
    """
    stats_sql = f"""
        WITH {files_cte},
        img AS (
            SELECT f.media_ref, f.width, f.height,
                   (length(f.hx)//2 - f.off)::INT AS n_bytes, k - f.off AS k,
                   ('0x' || substr(f.hx, 2*k + 1, 2))::INT AS b
            FROM files f,
                 unnest(generate_series(f.off, length(f.hx)//2 - 1)) g(k)
            WHERE f.modality = 'image'
        ),
        imgstat AS (
            SELECT media_ref, 'image' AS modality, n_bytes, width, height,
                   round(sum(CASE WHEN k % 3 = 0 THEN b END) / (count(*) / 3), 6) AS mean_r,
                   round(sum(CASE WHEN k % 3 = 1 THEN b END) / (count(*) / 3), 6) AS mean_g,
                   round(sum(CASE WHEN k % 3 = 2 THEN b END) / (count(*) / 3), 6) AS mean_b,
                   NULL::INT AS n_samples, NULL::INT AS framerate,
                   NULL::DOUBLE AS mean_abs, NULL::INT AS peak
            FROM img GROUP BY media_ref, n_bytes, width, height
        ),
        aud AS (
            SELECT f.media_ref, f.framerate,
                   (length(f.hx)//2 - f.off)::INT AS n_bytes,
                   (('0x' || substr(f.hx, 2*(f.off + 2*j) + 1, 2))::INT
                    + 256 * ('0x' || substr(f.hx, 2*(f.off + 2*j + 1) + 1, 2))::INT) AS u
            FROM files f,
                 unnest(generate_series(0, (length(f.hx)//2 - f.off)//2 - 1)) g(j)
            WHERE f.modality = 'audio'
        ),
        audstat AS (
            SELECT media_ref, 'audio' AS modality, n_bytes,
                   NULL::INT AS width, NULL::INT AS height,
                   NULL::DOUBLE AS mean_r, NULL::DOUBLE AS mean_g,
                   NULL::DOUBLE AS mean_b,
                   count(*)::INT AS n_samples, framerate::INT AS framerate,
                   round(sum(abs(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END))
                         / count(*), 6) AS mean_abs,
                   max(abs(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END))::INT AS peak
            FROM aud GROUP BY media_ref, framerate, n_bytes
        )
        SELECT media_ref AS asset_ref, modality, n_bytes, width, height,
               mean_r, mean_g, mean_b, n_samples, framerate, mean_abs, peak
        FROM imgstat
        UNION ALL
        SELECT media_ref AS asset_ref, modality, n_bytes, width, height,
               mean_r, mean_g, mean_b, n_samples, framerate, mean_abs, peak
        FROM audstat
    """
    return features_sql, stats_sql


def q_fuzzy_query_weighted_nosub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-weighted operation set (GeneralizedAutomaton parity,
    reference ``generalized/operation_set.rs``): substitution cost 2 at
    budget 1 — only exact matches and single insert/delete pairs pass.  The
    weighted semantics are SQL-expressible exactly: levenshtein <= 1 AND the
    one edit (if any) changed the length."""
    from liblevenshtein_rust_spark.kernel.generalized import OperationWeights

    return matching.fuzzy_query_weighted(
        _probes_df(spark), _doc_tokens(spark, sf_dir), 1,
        OperationWeights(substitute=2),
    ).select("query", "term", F.col("distance").cast("int").alias("distance"))


GENERALIZED_OPS_PROBES = [
    "philter", "sparck", "phast", "ckey", "philters", "kee", "fast", "zzzz",
]


def q_fuzzy_query_generalized_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized restricted multichar operations (reference
    ``operation_type.rs:46-68`` ⟨t^x, t^y, t^w⟩ with restriction sets,
    applied through ``GeneralizedAutomaton::with_operations``): phonetic
    digraph ops ph↔f and ck↔k at fractional cost 0.5, budget 1.0 — one
    digraph rewrite (0.5), two (1.0), or one standard edit (1.0) pass; a
    digraph plus an edit (1.5) does not.  Distances are exact binary
    fractions (k/2), so the DOUBLE comparison with the DuckDB DP replay is
    value-exact."""
    from liblevenshtein_rust_spark.kernel.generalized import (
        OperationWeights,
        RestrictedOp,
    )

    w = OperationWeights(
        extra_ops=(
            RestrictedOp("ph", "f", 0.5),
            RestrictedOp("f", "ph", 0.5),
            RestrictedOp("ck", "k", 0.5),
            RestrictedOp("k", "ck", 0.5),
        )
    )
    return matching.fuzzy_query_weighted(
        _probes_df(spark, GENERALIZED_OPS_PROBES),
        _doc_tokens(spark, sf_dir),
        1.0,
        w,
    ).select("query", "term", F.round(F.col("distance"), 1).alias("distance"))


MULTICHAR_OPS_PROBES = [
    # one query char standing in for any 3 consecutive term chars
    # ("cusxer" ~ customer via x ~ "tom", "xer" ~ order via x ~ "ord"),
    # plus unit-edit ("lne" ~ line), exact ("data") and no-match ("zzzz")
    # probes riding the same op set
    "cusxer", "xer", "data", "lne", "zzzz",
]


def q_fuzzy_query_multichar_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNRESTRICTED generalized multichar operation (reference
    ``operation_type.rs:1-44`` ``OperationType::new(tx, ty, w)`` with no
    restriction set): t = ⟨3, 1, 1.0⟩ — any one query char may stand in for
    any 3 consecutive term chars at cost 1 — alongside the unit
    sub/ins/del ops, budget 1.  Exercises the merge-split hybrid keyed
    blocking path (depth-4 deletions / 3-grams; its bridge argument covers
    tx<=3 ops: delete the <=3 touched term chars and the <=1 touched query
    char and the remainders agree)."""
    from liblevenshtein_rust_spark.kernel.generalized import (
        MultiOp,
        OperationWeights,
    )

    w = OperationWeights(extra_ops=(MultiOp(3, 1, 1.0),))
    return matching.fuzzy_query_weighted(
        _probes_df(spark, MULTICHAR_OPS_PROBES),
        _doc_tokens(spark, sf_dir),
        1.0,
        w,
    ).select("query", "term", F.col("distance").cast("int").alias("distance"))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import text

    return text.token_stats(tables.documents(spark, sf_dir)).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "ws_tokens", "n_chars"
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-window chunking (``operators/text.chunk_documents``):
    32-token windows, 8-token overlap (stride 24), final window may be
    short; empty docs emit nothing.  Pure codegen — split → sequence →
    slice → posexplode, zero shuffle."""
    from liblevenshtein_rust_spark.operators import text

    return text.chunk_documents(
        tables.documents(spark, sf_dir), chunk_tokens=32, overlap=8
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "chunk_text",
    )


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per doc by smoothed TF-IDF
    (``operators/text.tfidf_keywords``): score = tf * (ln((N+1)/(df+1))+1),
    rank by (score DESC, token ASC).  Ranked on the unrounded double in
    both engines (exact ties have identical (tf, df) hence identical
    doubles); the reported score is rounded to 6 decimals."""
    from liblevenshtein_rust_spark.operators import text

    out = text.tfidf_keywords(tables.documents(spark, sf_dir), top_k=3)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "token",
        F.col("tf").cast("int").alias("tf"),
        F.col("df").cast("int").alias("df"),
        F.round(F.col("score"), 6).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import text

    return text.quality_features(tables.documents(spark, sf_dir)).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_tokens",
        "alpha_ratio",
        "mean_word_len",
        "stopword_hits",
        "quality_score",
    )


def q_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring with the corpus's own unigram model:
    per-doc cross-entropy ln(N) - avg(ln(c_tok)) and its exp (perplexity).
    Self-training keeps every count >= 1, so the oracle replays the exact
    closed form with no smoothing term."""
    from liblevenshtein_rust_spark.operators import text

    return text.unigram_perplexity(tables.documents(spark, sf_dir)).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_tokens",
        "cross_entropy",
        "perplexity",
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import text

    return text.lang_id(tables.documents(spark, sf_dir)).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "lang_pred", "marker_hits"
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from liblevenshtein_rust_spark.operators import text

    return text.fingerprint(tables.documents(spark, sf_dir)).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "fingerprint"
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style duplicate-bigram fraction + keep decision per doc."""
    from liblevenshtein_rust_spark.operators import text

    out = text.repetition_stats(tables.documents(spark, sf_dir), n=2, max_dup_frac=0.2)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_grams",
        "n_distinct",
        "dup_frac",
        "keep",
    )


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails / phones / IPv4 → tags + per-kind counts).  The
    synthetic corpus contains no natural PII, so the query plants one of
    each deterministically per document — the redaction path, the
    sequential count-then-replace semantics, and the planted values are all
    replayed verbatim by the oracle."""
    from liblevenshtein_rust_spark.operators import text

    docs = tables.documents(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" host 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    return text.redact_pii(docs).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_email",
        "n_phone",
        "n_ipv4",
        "clean_text",
    )


STRATA_RATES = {"src0": 0.9, "src1": 0.5, "src2": 0.25, "src3": 0.0}
STRATA_DEFAULT_RATE = 0.1


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source Bernoulli corpus mix (rerun/resume-stable —
    membership is a pure md5-prefix rule, no RNG state; see
    ``operators/sampling``)."""
    from liblevenshtein_rust_spark.operators import sampling

    out = sampling.stratified_sample(
        tables.documents(spark, sf_dir),
        "source",
        STRATA_RATES,
        default_rate=STRATA_DEFAULT_RATE,
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source", "lang"
    )


SESSION_GAP_S = 4 * 3600  # 4h splits near the sf0.01 median per-user gap


def q_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events log — batch twin of the
    stateful streaming sessions operator (§2.7) and the clickstream
    primitive of a curation pipeline.  One shuffle on user_id end-to-end;
    integer-microsecond arithmetic so the oracle replays it exactly (see
    ``operators/sessionize``)."""
    from liblevenshtein_rust_spark.operators import sessionize

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize.gap_sessions(events, SESSION_GAP_S).select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "session_idx",
        "n_events",
        "start_us",
        "end_us",
        "duration_us",
        "n_types",
    )


PER_SOURCE_CAP_K = 4


def q_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: cap each source at K docs by deterministic md5
    rank.  The Spark plan is the two-phase skew-safe form (tiny count agg +
    prefix filter + window over ~margin*K survivors per source); the oracle
    replays the naive global window, proving the pre-filter is exact (see
    ``operators/sampling.per_source_cap``)."""
    from liblevenshtein_rust_spark.operators import sampling

    return sampling.per_source_cap(
        tables.documents(spark, sf_dir), PER_SOURCE_CAP_K
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        "src_rank",
        "n_src",
    )


_CLUSTERS_MEMO: dict = {}
_PAIRS_MEMO: dict = {}


def _planted_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The jaccard>=0.5 pair table over the planted corpus as a materialized
    pipeline stage, memoized per (session, sf_dir): candidate generation +
    verification is the most expensive stage in the dedup family, and THREE
    consumers need its output (the pair query itself, near-dup resolution,
    and incremental maintenance's delta split) — a real pipeline writes this
    stage once and fans out, it never re-verifies per consumer."""
    key = (spark, sf_dir)
    hit = _PAIRS_MEMO.get(key)
    if hit is None:
        from liblevenshtein_rust_spark.operators import dedup

        corpus = _planted_corpus(spark, sf_dir)
        hit = dedup.ngram_jaccard_pairs(corpus, threshold=0.5).persist()
        _PAIRS_MEMO[key] = hit
    return hit


def _resolved_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup resolution output (doc_id, cluster, is_canonical) as a
    materialized pipeline stage, memoized per (session, sf_dir).

    Resolution runs ONCE per corpus snapshot in a real pipeline —
    survivorship merge and cluster-quality metrics consume the same
    materialized stage instead of re-running the CC fixpoint
    (``pipeline/runstate.py`` does exactly this with per-stage parquet
    checkpoints in the E2E pipeline; this is the in-session analog).
    Footprint: 3 small columns per doc in the planted corpus.
    """
    key = (spark, sf_dir)
    hit = _CLUSTERS_MEMO.get(key)
    if hit is None:
        from liblevenshtein_rust_spark.operators import dedup

        corpus = _planted_corpus(spark, sf_dir)
        hit = dedup.near_dup_clusters(
            corpus, threshold=0.5, pairs=_planted_pairs(spark, sf_dir)
        ).persist()
        _CLUSTERS_MEMO[key] = hit
    return hit


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup RESOLUTION: Jaccard pairs → connected components (large/
    small-star fixpoint) → canonical survivor per cluster.  The oracle
    replays the transitive closure as a recursive CTE (min reachable id =
    the fixpoint's converged label)."""
    out = _resolved_clusters(spark, sf_dir)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("cluster").cast("bigint").alias("cluster"),
        "is_canonical",
    )


def q_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship MERGE on top of near-dup resolution: one consolidated
    golden record per duplicate cluster (canonical member + merged evidence
    from every member).  The oracle replays the same recursive-CTE closure
    as ``near_dup_clusters`` and aggregates per cluster."""
    from liblevenshtein_rust_spark.operators import dedup

    corpus = _planted_corpus(spark, sf_dir)
    return dedup.golden_records(
        corpus, clusters=_resolved_clusters(spark, sf_dir)
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level boilerplate removal: documents rendered as
    3-token lines, every line occurring in >= 5 distinct docs dropped, the
    survivors reassembled in order.  The oracle replays the same line
    segmentation, global frequency cutoff and ordered reassembly."""
    from liblevenshtein_rust_spark.operators import dedup

    docs = tables.documents(spark, sf_dir).select(
        "doc_id", dedup.tokens_to_lines(F.col("text"), 3).alias("text")
    )
    out = dedup.line_dedup(docs, min_dup_docs=5)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_kept").cast("int").alias("n_kept"),
        "clean_text",
    )


_SPANS_MEMO: dict = {}


def _dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicate_spans(documents, w=8, >=2 docs) as a materialized stage,
    memoized per (session, sf_dir) — detection and cutting are adjacent
    pipeline stages over the same span table."""
    key = (spark, sf_dir)
    hit = _SPANS_MEMO.get(key)
    if hit is None:
        from liblevenshtein_rust_spark.operators import dedup

        docs = tables.documents(spark, sf_dir)
        hit = dedup.duplicate_spans(docs, window_tokens=8, min_dup_docs=2).persist()
        _SPANS_MEMO[key] = hit
    return hit


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (ExactSubstr, Lee et al. 2022):
    stride-1 8-token windows, >= 2-distinct-doc frequency cutoff, overlapping
    hits merged to maximal per-doc spans.  The oracle replays the window
    enumeration, cutoff and gaps-and-islands merge in SQL."""
    out = _dup_spans(spark, sf_dir)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "start_tok",
        "end_tok",
        "n_windows",
    )


def q_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUT step consuming duplicate_spans: flagged token ranges removed,
    survivors reassembled (one doc_id equi-join against per-doc span arrays,
    keep/cut decided by an array `exists` per token — no token-level range
    join).  The oracle replays detection AND cutting in SQL."""
    from liblevenshtein_rust_spark.operators import dedup

    docs = tables.documents(spark, sf_dir)
    out = dedup.cut_spans(docs, _dup_spans(spark, sf_dir))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_tokens",
        "n_cut",
        "clean_text",
    )


def q_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-level decontamination (GPT-3 n-gram-overlap rule as spans):
    8-token windows of TRAIN docs (doc_id % 5 != 0) whose exact text occurs
    anywhere in the EVAL split (doc_id % 5 == 0), merged to maximal spans.
    The oracle replays the split, window probe and islands merge."""
    from liblevenshtein_rust_spark.operators import dedup

    docs = tables.documents(spark, sf_dir)
    out = dedup.contamination_spans(
        docs.where(F.col("doc_id") % 5 != 0),
        docs.where(F.col("doc_id") % 5 == 0),
        window_tokens=8,
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "start_tok",
        "end_tok",
        "n_windows",
    )


def q_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online cluster maintenance (DynamicDawg::insert at pipeline level):
    the planted copies arrive AFTER the originals were clustered; fold them
    in via graph contraction + delta-sized CC.  The oracle recomputes the
    FULL transitive closure from scratch — value-equality proves the
    incremental path is exact, not approximate."""
    from liblevenshtein_rust_spark.operators import clustering

    corpus = _planted_corpus(spark, sf_dir)
    old_docs = corpus.where(F.col("doc_id") < 100000)
    new_docs = corpus.where(F.col("doc_id") >= 100000)
    # ONE materialized pair stage feeds both eras: new doc_ids exceed every
    # standing id and right_id is the pair max, so right_id < bound ⇔ both
    # endpoints old (the standing graph) and right_id >= bound ⇔ at least
    # one arriving endpoint (the delta) — an exact, disjoint split
    pairs = _planted_pairs(spark, sf_dir)
    # The standing assignment table is a MATERIALIZED artifact in a real
    # pipeline (the entities parquet the previous run wrote); persist its
    # in-session analog so the incremental path's consumers (endpoint
    # lookup, relabel join, final union) read a cache instead of
    # re-running the base CC + singleton attachment lineage per consumer
    # (measured: ~1.4 s per re-evaluation at sf0.1, 3+ consumers).
    from liblevenshtein_rust_spark.session import pooled_persist

    base = pooled_persist(
        clustering.attach_singletons(
            clustering.connected_components(
                pairs.where(F.col("right_id") < 100000), "left_id", "right_id"
            ),
            old_docs.select(F.col("doc_id").alias("node")),
            "node",
        ).select("node", F.col("component").alias("cluster"))
    )
    delta = pairs.where(F.col("right_id") >= 100000)
    out = clustering.incremental_cluster_update(
        base,
        delta,
        new_docs.select(F.col("doc_id").alias("node")),
        src="left_id",
        dst="right_id",
    )
    return out.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("cluster").cast("bigint").alias("cluster"),
    )


def q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation (reduction ratio + pairs completeness)
    for word-3-shingle keys against the planted duplicate truth pairs —
    the metric pair a blocking design review runs before shipping a
    scheme.  Truth = each planted copy matched to its source doc."""
    from liblevenshtein_rust_spark.operators import blocking, dedup

    corpus = _planted_corpus(spark, sf_dir)
    keyed = corpus.select(
        "doc_id", F.explode(dedup.word_shingles(F.col("text"), 3)).alias("key")
    )
    truth = (
        tables.documents(spark, sf_dir)
        .where(F.col("doc_id") < 2000)
        .select(
            F.col("doc_id").cast("bigint").alias("left_id"),
            (F.col("doc_id") + 100000).cast("bigint").alias("right_id"),
        )
    )
    return blocking.blocking_quality(corpus, truth, keyed)


def _planted_truth_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled truth for the planted corpus: each source doc matches its
    first-token-dropped copy (doc_id + 100000)."""
    return (
        tables.documents(spark, sf_dir)
        .where(F.col("doc_id") < 2000)
        .select(
            F.col("doc_id").cast("bigint").alias("left_id"),
            (F.col("doc_id") + 100000).cast("bigint").alias("right_id"),
        )
    )


def _meta_block_summary(
    weights: DataFrame, kept: DataFrame, truth: DataFrame
) -> DataFrame:
    """ONE summary row for a meta-blocking prune: pair counts before/after,
    truth pairs surviving before/after, and the derived completeness /
    comparison-reduction ratios.  All counts are single-row aggregates
    combined by 1-row cross joins — nothing returns to the driver."""
    t = truth.select("left_id", "right_id").withColumn("_t", F.lit(1))
    before = weights.join(t, ["left_id", "right_id"], "left").agg(
        F.count("*").cast("bigint").alias("n_pairs_before"),
        F.sum(F.coalesce(F.col("_t"), F.lit(0)))
        .cast("bigint")
        .alias("tp_before"),
    )
    after = kept.join(t, ["left_id", "right_id"], "left").agg(
        F.count("*").cast("bigint").alias("n_pairs_after"),
        F.sum(F.coalesce(F.col("_t"), F.lit(0)))
        .cast("bigint")
        .alias("tp_after"),
    )
    n_truth = t.agg(F.count("*").cast("bigint").alias("n_truth"))
    row = before.crossJoin(after).crossJoin(n_truth)
    return row.select(
        "n_pairs_before",
        "n_pairs_after",
        "n_truth",
        "tp_before",
        "tp_after",
        F.round(F.col("tp_before") / F.col("n_truth"), 6).alias("pc_before"),
        F.round(F.col("tp_after") / F.col("n_truth"), 6).alias("pc_after"),
        F.round(
            F.lit(1.0) - F.col("n_pairs_after") / F.col("n_pairs_before"), 6
        ).alias("comparison_reduction"),
    )


def q_meta_blocking_wep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-blocking with Weighted Edge Pruning: weight every blocked
    candidate pair by its count of shared blocking keys (CBS), prune pairs
    below the global mean weight (integer-exact threshold), and report the
    before/after pair counts plus planted-truth pairs completeness — the
    published meta-blocking evaluation protocol.  The oracle replays the
    weight graph, the mean-weight prune, and both truth joins."""
    from liblevenshtein_rust_spark.operators import blocking, dedup
    from liblevenshtein_rust_spark.session import pooled_persist

    corpus = _planted_corpus(spark, sf_dir)
    keyed = corpus.select(
        "doc_id", F.explode(dedup.word_shingles(F.col("text"), 3)).alias("key")
    )
    w = pooled_persist(blocking.pair_block_weights(keyed, hot_threshold=200))
    kept = blocking.meta_block_wep(w)
    return _meta_block_summary(w, kept, _planted_truth_pairs(spark, sf_dir))


def q_meta_blocking_cnp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-blocking with Cardinality Node Pruning: each record keeps its
    top-5 CBS-weighted neighbors (deterministic tie-break on neighbor id);
    a pair survives if either endpoint retains it.  Same summary row and
    truth protocol as the WEP variant — together they cover the two
    published pruning families (global-threshold vs per-node budget)."""
    from liblevenshtein_rust_spark.operators import blocking, dedup
    from liblevenshtein_rust_spark.session import pooled_persist

    corpus = _planted_corpus(spark, sf_dir)
    keyed = corpus.select(
        "doc_id", F.explode(dedup.word_shingles(F.col("text"), 3)).alias("key")
    )
    w = pooled_persist(blocking.pair_block_weights(keyed, hot_threshold=200))
    kept = blocking.meta_block_cnp(w, k=5)
    return _meta_block_summary(w, kept, _planted_truth_pairs(spark, sf_dir))


def q_er_pair_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise ER evaluation (precision/recall/F1) of the Jaccard-0.5
    match pairs against the planted duplicate truth — the metric row a
    linkage pipeline publishes per run.  The oracle replays the shingle
    blocking + Jaccard threshold and the same TP join."""
    from liblevenshtein_rust_spark.operators import dedup, evaluation

    corpus = _planted_corpus(spark, sf_dir)
    pred = dedup.ngram_jaccard_pairs(corpus, threshold=0.5).select(
        F.col("left_id").cast("bigint").alias("left_id"),
        F.col("right_id").cast("bigint").alias("right_id"),
    )
    return evaluation.pair_metrics(pred, _planted_truth_pairs(spark, sf_dir))


def q_er_cluster_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed precision/recall/F1 of the resolved near-dup clusters
    against the planted truth clustering (source doc + its copy = one
    truth cluster).  Aggregation-only — the oracle replays the recursive
    closure and the contingency-table sums."""
    from liblevenshtein_rust_spark.operators import evaluation

    clusters = _resolved_clusters(spark, sf_dir)
    assign = clusters.select(
        F.col("cluster").alias("pred"),
        (F.col("doc_id") % 100000).alias("truth"),
    )
    return evaluation.bcubed(assign)


def q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: eval docs (doc_id % 10 == 0) sharing >= 2
    word 3-shingles with train docs (the rest), boilerplate shingles
    df-capped."""
    from liblevenshtein_rust_spark.operators import dedup

    docs = tables.documents(spark, sf_dir).select("doc_id", "text")
    train = docs.where(F.col("doc_id") % 10 != 0)
    eval_docs = docs.where(F.col("doc_id") % 10 == 0)
    out = dedup.contamination_overlap(train, eval_docs, min_shared=2, max_df=50)
    return out.select(
        F.col("eval_id").cast("bigint").alias("eval_id"),
        F.col("train_id").cast("bigint").alias("train_id"),
        F.col("n_shared").cast("bigint").alias("n_shared"),
    )


def q_link_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table record linkage (pipeline/linkage.link_tables): originals
    (A) matched to their planted near-copies (B) through rare-token
    deletion-key blocking + kernel scoring + deterministic best-match.
    max_distance=1 so the oracle's damerau_levenshtein agrees exactly with
    the OSA kernel (they differ only at d >= 2); deletion blocking is
    exact at d<=1, so the oracle replays an UNBLOCKED vocab cross join and
    value-equality proves the blocked path lossless.

    The documents table's word pool is deliberately tiny (every token is
    stopword-grade under the rare filter), so each side gets three
    md5-derived 8-hex entity tokens per record — globally rare, exactly
    reproducible in SQL — and the B twin carries a 1-char deletion typo in
    its first token: the canonical dirty-master-table shape."""
    from liblevenshtein_rust_spark.pipeline import linkage

    base = tables.documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 2000
    )

    def ent(tag):
        return F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(tag))), 1, 8
        )

    a = base.select(
        "doc_id",
        F.concat_ws(" ", ent("a"), ent("b"), ent("c")).alias("text"),
    )
    b = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ",
            # drop the 4th char of the first entity token: distance 1
            F.concat(F.substring(ent("a"), 1, 3), F.substring(ent("a"), 5, 4)),
            ent("b"),
            ent("c"),
        ).alias("text"),
    )
    out = linkage.link_tables(a, b, linkage.LinkConfig(max_distance=1))
    return out.select(
        F.col("a_id").cast("bigint").alias("a_id"),
        F.col("b_id").cast("bigint").alias("b_id"),
        F.col("n_matched").cast("bigint").alias("n_matched"),
        "score",
        F.col("rank").cast("int").alias("rank"),
    )


def q_linkage_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment quality of the cross-table linkage against the planted
    truth (b = a + 100000): precision over emitted links, recall over A
    records — the linkage analog of blocking_quality / ann_recall.  One
    metric row; the oracle composes the verified link_tables SQL body."""
    from liblevenshtein_rust_spark.pipeline import linkage

    base = tables.documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 2000
    )

    def ent(tag):
        return F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(tag))), 1, 8
        )

    a = base.select(
        "doc_id", F.concat_ws(" ", ent("a"), ent("b"), ent("c")).alias("text")
    )
    b = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.substring(ent("a"), 1, 3), F.substring(ent("a"), 5, 4)),
            ent("b"),
            ent("c"),
        ).alias("text"),
    )
    links = linkage.link_tables(a, b, linkage.LinkConfig(max_distance=1))
    n_a = base.count()
    correct = (F.col("b_id") == F.col("a_id") + 100000).cast("long")
    return links.agg(
        F.count(F.lit(1)).alias("n_links"),
        F.sum(correct).alias("n_correct"),
        F.round(F.sum(correct) / F.count(F.lit(1)), 6).alias("precision"),
        F.round(F.sum(correct) / F.lit(float(n_a)), 6).alias("recall"),
    )


def q_link_tables_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linkage hardened for asymmetric sides: score floor + MUTUAL best
    (one-to-one).  The fixture plants the three failure shapes the plain
    best-per-A assignment gets wrong:

    - duplicate A records (i % 7 == 0 twins at a_id + 50000) contending
      for one B — mutual keeps exactly one link (a_id tie-break), not two;
    - A records with NO true twin (i % 11 == 0, twin withheld) — the
      floor (min_score=2.5) stops them being force-assigned to...
    - weak decoy B records (i % 5 == 0 at b_id + 200000: two exact shared
      tokens + one junk token, score exactly 2.0 < floor).

    The oracle replays the whole thing unblocked (DL<=1 vocab cross join,
    floor, both row_number ranks) — value-equality proves the blocked
    mutual path lossless AND the assignment semantics exact."""
    from liblevenshtein_rust_spark.pipeline import linkage

    base = tables.documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 2000
    )

    def ent(tag):
        return F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(tag))), 1, 8
        )

    a_text = F.concat_ws(" ", ent("a"), ent("b"), ent("c")).alias("text")
    a = base.select("doc_id", a_text).unionByName(
        base.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 50000).alias("doc_id"), a_text
        )
    )
    b = (
        base.where(F.col("doc_id") % 11 != 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat_ws(
                " ",
                F.concat(F.substring(ent("a"), 1, 3), F.substring(ent("a"), 5, 4)),
                ent("b"),
                ent("c"),
            ).alias("text"),
        )
        .unionByName(
            base.where(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat_ws(" ", ent("b"), ent("c"), ent("z")).alias("text"),
            )
        )
    )
    out = linkage.link_tables(
        a, b, linkage.LinkConfig(max_distance=1, min_score=2.5, mutual=True)
    )
    return out.select(
        F.col("a_id").cast("bigint").alias("a_id"),
        F.col("b_id").cast("bigint").alias("b_id"),
        F.col("n_matched").cast("bigint").alias("n_matched"),
        "score",
        F.col("rank").cast("int").alias("rank"),
    )


def q_linkage_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental linkage (linkage.update_assignments): a B-side delta is
    folded into a standing best-match table without re-scoring the old B
    corpus.  Fixture: standing = typo-twins for EVEN ids only; delta =
    EXACT copies for ids % 3 == 0 (score 3.0 beats the incumbent 2.875 →
    displacement) — so the output mixes displaced incumbents (even, %3),
    kept incumbents (even, not %3) and delta-created assignments (odd,
    %3).  The oracle replays standing, delta scoring, and the
    strictly-better merge rule end-to-end."""
    from liblevenshtein_rust_spark.pipeline import linkage

    base = tables.documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 2000
    )

    def ent(tag):
        return F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(tag))), 1, 8
        )

    a = base.select(
        "doc_id", F.concat_ws(" ", ent("a"), ent("b"), ent("c")).alias("text")
    )
    b0 = base.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.substring(ent("a"), 1, 3), F.substring(ent("a"), 5, 4)),
            ent("b"),
            ent("c"),
        ).alias("text"),
    )
    delta = base.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat_ws(" ", ent("a"), ent("b"), ent("c")).alias("text"),
    )
    cfg = linkage.LinkConfig(max_distance=1)
    standing = linkage.link_tables(a, b0, cfg).select(
        "a_id", "b_id", "n_matched", "score"
    )
    out = linkage.update_assignments(standing, a, delta, cfg)
    return out.select(
        F.col("a_id").cast("bigint").alias("a_id"),
        F.col("b_id").cast("bigint").alias("b_id"),
        F.col("n_matched").cast("bigint").alias("n_matched"),
        "score",
        "changed",
    )


def q_linkage_incremental_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ONE-TO-ONE linkage (linkage.update_assignments_mutual —
    the operation the round-3 code refused with a ValueError): the two
    standing tables (best-per-A, best-per-B) absorb a B delta with
    delta-sized work, and the mutual assignment is their keyed join.
    Fixture: the linkage_incremental corpus PLUS duplicate-A contenders
    (ids % 10, a_id + 50000) so the one-to-one filter actually bites —
    when the delta's exact copy outranks the twin, the duplicate A loses
    the contention to the smaller base id.  The ORACLE is a full
    INDEPENDENT rebuild: score A x (B0 ∪ delta) from scratch, rank from
    both sides, keep rank-1-and-rank-1 — value-equality proves
    delta-merge ≡ rebuild (changed ≡ the winner being a delta record in
    this fixture: delta ids are the 300000 band and no score ties
    exist)."""
    from liblevenshtein_rust_spark.pipeline import linkage

    base = tables.documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 2000
    )

    def ent(tag):
        return F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(tag))), 1, 8
        )

    text = F.concat_ws(" ", ent("a"), ent("b"), ent("c"))
    a = base.select("doc_id", text.alias("text")).unionByName(
        base.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 50000).alias("doc_id"), text.alias("text")
        )
    )
    b0 = base.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.substring(ent("a"), 1, 3), F.substring(ent("a"), 5, 4)),
            ent("b"),
            ent("c"),
        ).alias("text"),
    )
    delta = base.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), text.alias("text")
    )
    cfg = linkage.LinkConfig(max_distance=1, mutual=True)
    from dataclasses import replace

    base_cfg = replace(cfg, mutual=False)
    from liblevenshtein_rust_spark.session import pooled_persist

    # both standing reductions read the same scored pairs — persist or the
    # blocked standing-corpus scoring runs twice
    scores0 = pooled_persist(linkage.score_pairs(a, b0, base_cfg))
    standing_a = linkage.best_per_a(scores0, base_cfg)
    standing_b = linkage.best_per_b(scores0, base_cfg)
    _, _, assign = linkage.update_assignments_mutual(
        standing_a, standing_b, a, delta, cfg
    )
    return assign.select(
        F.col("a_id").cast("bigint").alias("a_id"),
        F.col("b_id").cast("bigint").alias("b_id"),
        F.col("n_matched").cast("bigint").alias("n_matched"),
        "score",
        "changed",
    )


def _link_records_fixture(spark: SparkSession, sf_dir: str):
    """Shared master-data fixture for the field-linkage queries: A records
    (name/city/phone), B twins (name typo, same city+phone) withheld for
    ids % 11, plus city+phone decoys for ids % 5."""
    base = tables.documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 1500
    )

    def h(tag, n):
        return F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(tag))), 1, n
        )

    fn = F.concat(F.lit("fn"), h("n", 5))
    ln = F.concat(F.lit("ln"), h("m", 5))
    city = F.concat(F.lit("city"), (F.col("doc_id") % 40).cast("string"))
    phone = F.concat(F.lit("p"), h("p", 6))
    a = base.select(
        "doc_id",
        F.concat_ws(" ", fn, ln).alias("name"),
        city.alias("city"),
        phone.alias("phone"),
    )
    fn_typo = F.concat(F.substring(fn, 1, 3), F.substring(fn, 5, 3))
    b = (
        base.where(F.col("doc_id") % 11 != 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat_ws(" ", fn_typo, ln).alias("name"),
            city.alias("city"),
            phone.alias("phone"),
        )
        .unionByName(
            base.where(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.lit("xx"), h("q", 5)).alias("name"),
                city.alias("city"),
                phone.alias("phone"),
            )
        )
    )
    return a, b


def _linkage_out_cols(out: DataFrame) -> DataFrame:
    return out.select(
        F.col("a_id").cast("bigint").alias("a_id"),
        F.col("b_id").cast("bigint").alias("b_id"),
        F.col("n_matched").cast("bigint").alias("n_matched"),
        "score",
        F.col("rank").cast("int").alias("rank"),
    )


def q_link_records_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-weighted record linkage (linkage.link_records): name/city/
    phone fields at weights 2/1/3 — a token match only counts within the
    SAME field, and the field weight scales its evidence.  Fixture: B
    twins (name typo, same city+phone, score ≈ 7.71) beat city+phone
    decoys (score 4.0); for ids % 11 the twin is withheld and the decoy
    (ids % 5) wins instead — assignment driven by the weighted evidence,
    not token count alone.  Oracle replays the field-tagged extraction,
    per-(field,token) rare filter, unblocked DL<=1 vocab join with field
    equality, weight map, and ranking."""
    from liblevenshtein_rust_spark.pipeline import linkage

    a, b = _link_records_fixture(spark, sf_dir)
    out = linkage.link_records(
        a, b, {"name": 2.0, "city": 1.0, "phone": 3.0},
        linkage.LinkConfig(max_distance=1),
    )
    return _linkage_out_cols(out)


def q_link_records_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNED-weight record linkage (linkage.link_records_learned):
    Fellegi-Sunter with m/u probabilities fitted by a fixed-5-iteration
    EM on the agreement-pattern counts of the blocked candidate pairs,
    then log-likelihood-ratio scoring (disagreements count as negative
    evidence) and the shared deterministic assignment.  Same fixture as
    link_records_weighted — but here NOBODY hands the engine the 2/1/3
    weights: EM learns that phone agreement carries more weight than the
    40-value city field from the pattern table alone.  The oracle unrolls
    the SAME 5 EM iterations as chained CTEs (identical clamp + explicit
    half-up-to-9dp rounding per iteration, so the parameter trajectory is
    bit-locked), then replays scoring and ranking."""
    from liblevenshtein_rust_spark.pipeline import linkage

    a, b = _link_records_fixture(spark, sf_dir)
    out = linkage.link_records_learned(
        a, b, ["name", "city", "phone"], linkage.LinkConfig(max_distance=1)
    )
    return _linkage_out_cols(out)


def q_link_records_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter DECISION RULE on the learned linkage (1969 Theorem
    1): per agreement pattern, the EM-learned log-likelihood ratio and
    the derived band — link / possible / non_link — at false-match /
    false-non-match budgets mu = lam = 0.05.  Thresholds are DERIVED
    from the error budgets by integer-space cumulative error masses
    (pipeline/linkage.fs_decision_bands), not hand-picked; the oracle
    replays the EM trajectory (shared CTE generator with
    link_records_learned) and the same integer accumulation."""
    from liblevenshtein_rust_spark.pipeline import linkage

    a, b = _link_records_fixture(spark, sf_dir)
    return linkage.link_records_decisions(
        a, b, ["name", "city", "phone"], linkage.LinkConfig(max_distance=1)
    )


# Shared fixture + token-match CTE prefix for the two field-linkage
# oracles (fixed-weight and learned) — one definition, no drift.
_LINK_FIXTURE_CTE = """
    ids AS (SELECT doc_id FROM documents WHERE doc_id < 1500),
    af AS (
        SELECT doc_id,
               'fn' || substr(md5(doc_id::VARCHAR || 'n'), 1, 5) AS fn,
               'ln' || substr(md5(doc_id::VARCHAR || 'm'), 1, 5) AS ln,
               'city' || (doc_id % 40)::VARCHAR AS city,
               'p' || substr(md5(doc_id::VARCHAR || 'p'), 1, 6) AS phone
        FROM ids
    ),
    ta AS (
        SELECT DISTINCT doc_id AS a_id, field, token FROM (
            SELECT doc_id, 'name' AS field, fn AS token FROM af
            UNION ALL SELECT doc_id, 'name', ln FROM af
            UNION ALL SELECT doc_id, 'city', city FROM af
            UNION ALL SELECT doc_id, 'phone', phone FROM af
        ) WHERE length(token) >= 3
    ),
    bf AS (
        SELECT doc_id + 100000 AS b_id,
               substr(fn, 1, 3) || substr(fn, 5, 3) AS t_name1,
               ln AS t_name2, city, phone
        FROM af WHERE doc_id % 11 <> 0
    ),
    bd AS (
        SELECT doc_id + 200000 AS b_id,
               'xx' || substr(md5(doc_id::VARCHAR || 'q'), 1, 5) AS t_name1,
               NULL AS t_name2, city, phone
        FROM af WHERE doc_id % 5 = 0
    ),
    tb AS (
        SELECT DISTINCT b_id, field, token FROM (
            SELECT b_id, 'name' AS field, t_name1 AS token FROM bf
            UNION ALL SELECT b_id, 'name', t_name2 FROM bf
            UNION ALL SELECT b_id, 'city', city FROM bf
            UNION ALL SELECT b_id, 'phone', phone FROM bf
            UNION ALL SELECT b_id, 'name', t_name1 FROM bd
            UNION ALL SELECT b_id, 'city', city FROM bd
            UNION ALL SELECT b_id, 'phone', phone FROM bd
        ) WHERE token IS NOT NULL AND length(token) >= 3
    ),
    ra AS (SELECT * FROM ta WHERE (field, token) IN (
        SELECT (field, token) FROM ta GROUP BY field, token
        HAVING count(*) <= 50)),
    rb AS (SELECT * FROM tb WHERE (field, token) IN (
        SELECT (field, token) FROM tb GROUP BY field, token
        HAVING count(*) <= 50)),
    tm AS (
        SELECT tok_a, tok_b,
               1.0 - damerau_levenshtein(tok_a, tok_b)::DOUBLE
                   / greatest(length(tok_a), length(tok_b)) AS w_tok
        FROM (SELECT DISTINCT token AS tok_a FROM ra),
             (SELECT DISTINCT token AS tok_b FROM rb)
        WHERE abs(length(tok_a) - length(tok_b)) <= 1
          AND damerau_levenshtein(tok_a, tok_b) <= 1
    )
"""

_LINK_RECORDS_SQL = f"""
    WITH {_LINK_FIXTURE_CTE},
    ev AS (
        SELECT ra.a_id, rb.b_id, ra.field, tm.tok_a, tm.tok_b,
               CASE ra.field WHEN 'name' THEN 2.0 WHEN 'city' THEN 1.0
                    WHEN 'phone' THEN 3.0 END * tm.w_tok AS w
        FROM ra JOIN tm ON ra.token = tm.tok_a
                JOIN rb ON rb.token = tm.tok_b AND rb.field = ra.field
    ),
    agg AS (
        SELECT a_id, b_id,
               count(DISTINCT (field, tok_a, tok_b))::BIGINT AS n_matched,
               round(sum(w), 6) AS score
        FROM ev GROUP BY a_id, b_id
        HAVING count(DISTINCT (field, tok_a, tok_b)) >= 2
    )
    SELECT a_id::BIGINT AS a_id, b_id::BIGINT AS b_id, n_matched, score,
           rank::INT AS rank
    FROM (
        SELECT a_id, b_id, n_matched, score,
               row_number() OVER (PARTITION BY a_id
                   ORDER BY score DESC, n_matched DESC, b_id) AS rank
        FROM agg
    ) WHERE rank = 1
"""


def _fs_r9(e: str) -> str:
    return f"floor(({e})*1e9 + 0.5)/1e9"


def _fs_clamp(e: str) -> str:
    return f"least(greatest({e}, 0.000001), 0.999999)"


def _fs_em_ctes(flds: list[str], n_iter: int) -> tuple[str, str, str]:
    """Shared Fellegi-Sunter EM unrolled as chained CTEs (bit-locked
    clamp + half-up 9dp rounding per iteration) — ONE generator for the
    learned-linkage oracle and the decision-band oracle, so the replayed
    trajectory can never drift between them.  Returns (cte_block,
    pm_expr, pu_expr) where the expressions reference pattern alias ``x``
    and parameter alias ``it`` (bind ``it`` to ``it{n_iter}`` for
    post-EM probabilities)."""
    r9, clamp = _fs_r9, _fs_clamp
    init = (
        "SELECT 0.1::DOUBLE AS p, "
        + ", ".join(f"0.9::DOUBLE AS m_{f}" for f in flds)
        + ", "
        + ", ".join(f"0.1::DOUBLE AS u_{f}" for f in flds)
    )
    pm = " * ".join(
        ["it.p"]
        + [
            f"(CASE WHEN x.g_{f} = 1 THEN it.m_{f} ELSE 1.0 - it.m_{f} END)"
            for f in flds
        ]
    )
    pu = " * ".join(
        ["(1.0 - it.p)"]
        + [
            f"(CASE WHEN x.g_{f} = 1 THEN it.u_{f} ELSE 1.0 - it.u_{f} END)"
            for f in flds
        ]
    )
    gsel = ", ".join(f"x.g_{f}" for f in flds)
    gcols = ", ".join(f"g_{f}" for f in flds)
    ctes = [f"it0 AS ({init})"]
    for t in range(1, n_iter + 1):
        ctes.append(
            f"""w{t} AS (
        SELECT {gcols}, c, pm / (pm + pu) AS w
        FROM (
            SELECT {gsel}, x.c, {pm} AS pm, {pu} AS pu
            FROM pc x, it{t - 1} it
        )
    )"""
        )
        m_cols = ",\n               ".join(
            r9(clamp(f"sum(c*w*g_{f})/sum(c*w)")) + f" AS m_{f}" for f in flds
        )
        u_cols = ",\n               ".join(
            r9(clamp(f"sum(c*(1.0-w)*g_{f})/sum(c*(1.0-w))")) + f" AS u_{f}"
            for f in flds
        )
        ctes.append(
            f"""it{t} AS (
        SELECT {r9(clamp("sum(c*w)/sum(c)"))} AS p,
               {m_cols},
               {u_cols}
        FROM w{t}
    )"""
        )
    return ",\n    ".join(ctes), pm, pu


def _link_records_learned_sql(n_iter: int = 5) -> str:
    """Oracle for link_records_learned: the shared fixture CTEs, per-field
    agreement vectors, pattern counts, then the Fellegi-Sunter EM unrolled
    via :func:`_fs_em_ctes` (bit-locked trajectory), then LLR scoring and
    the shared ranking."""
    flds = ["name", "city", "phone"]
    r9 = _fs_r9
    g_cols = ",\n               ".join(
        f"max(CASE WHEN field = '{f}' THEN 1 ELSE 0 END) AS g_{f}" for f in flds
    )
    em_ctes, _, _ = _fs_em_ctes(flds, n_iter)
    wa_cols = ",\n               ".join(
        r9(f"log2(m_{f} / u_{f})") + f" AS wa_{f}" for f in flds
    )
    wd_cols = ",\n               ".join(
        r9(f"log2((1.0 - m_{f}) / (1.0 - u_{f}))") + f" AS wd_{f}"
        for f in flds
    )
    score_terms = "\n                 + ".join(
        f"(CASE WHEN g.g_{f} = 1 THEN wt.wa_{f} ELSE wt.wd_{f} END)" for f in flds
    )
    n_terms = " + ".join(f"g.g_{f}" for f in flds)
    return f"""
    WITH {_LINK_FIXTURE_CTE},
    ag AS (
        SELECT DISTINCT ra.a_id, rb.b_id, ra.field
        FROM ra JOIN tm ON ra.token = tm.tok_a
                JOIN rb ON rb.token = tm.tok_b AND rb.field = ra.field
    ),
    g AS (
        SELECT a_id, b_id,
               {g_cols}
        FROM ag GROUP BY a_id, b_id
    ),
    pc AS (
        SELECT g_name, g_city, g_phone, count(*)::DOUBLE AS c
        FROM g GROUP BY g_name, g_city, g_phone
    ),
    {em_ctes},
    wt AS (
        SELECT {wa_cols},
               {wd_cols}
        FROM it{n_iter}
    ),
    scored AS (
        SELECT g.a_id, g.b_id,
               ({n_terms})::BIGINT AS n_matched,
               round({score_terms}, 6) AS score
        FROM g, wt
    )
    SELECT a_id::BIGINT AS a_id, b_id::BIGINT AS b_id, n_matched, score,
           rank::INT AS rank
    FROM (
        SELECT a_id, b_id, n_matched, score,
               row_number() OVER (PARTITION BY a_id
                   ORDER BY score DESC, n_matched DESC, b_id) AS rank
        FROM scored
    ) WHERE rank = 1
    """


def _link_records_decisions_sql(
    n_iter: int = 5, mu: float = 0.05, lam: float = 0.05
) -> str:
    """Oracle for link_records_decisions: same fixture + pattern counts +
    EM trajectory as the learned oracle (ONE generator — _fs_em_ctes),
    then the FS decision rule replayed with INTEGER cumulative sums:
    P(gamma|M) / P(gamma|U) scaled by 1e9 and half-up rounded to BIGINT
    before the window accumulation, so the running error masses are exact
    and order-independent — a window sum cannot disagree with the
    engine's sequential loop (pipeline/linkage.fs_decision_bands)."""
    import math

    flds = ["name", "city", "phone"]
    r9 = _fs_r9
    g_cols = ",\n               ".join(
        f"max(CASE WHEN field = '{f}' THEN 1 ELSE 0 END) AS g_{f}" for f in flds
    )
    em_ctes, pm_joint, pu_joint = _fs_em_ctes(flds, n_iter)
    # CONDITIONAL pattern probabilities P(gamma|M), P(gamma|U) — the EM
    # iteration's pm/pu are the JOINT p-weighted terms; the decision
    # rule's error masses must not carry the mixing proportion (the
    # posterior column, by contrast, wants exactly the joint terms)
    pm = " * ".join(
        f"(CASE WHEN x.g_{f} = 1 THEN it.m_{f} ELSE 1.0 - it.m_{f} END)"
        for f in flds
    )
    pu = " * ".join(
        f"(CASE WHEN x.g_{f} = 1 THEN it.u_{f} ELSE 1.0 - it.u_{f} END)"
        for f in flds
    )
    mu9 = math.floor(mu * 1e9 + 0.5)
    lam9 = math.floor(lam * 1e9 + 0.5)
    desc_order = ", ".join(["llr DESC"] + [f"g_{f} DESC" for f in flds])
    asc_order = ", ".join(["llr ASC"] + [f"g_{f} ASC" for f in flds])
    gcols = ", ".join(f"g_{f}" for f in flds)
    gcols_int = ", ".join(f"g_{f}::INT AS g_{f}" for f in flds)
    return f"""
    WITH {_LINK_FIXTURE_CTE},
    ag AS (
        SELECT DISTINCT ra.a_id, rb.b_id, ra.field
        FROM ra JOIN tm ON ra.token = tm.tok_a
                JOIN rb ON rb.token = tm.tok_b AND rb.field = ra.field
    ),
    g AS (
        SELECT a_id, b_id,
               {g_cols}
        FROM ag GROUP BY a_id, b_id
    ),
    pc AS (
        SELECT g_name, g_city, g_phone, count(*)::DOUBLE AS c
        FROM g GROUP BY g_name, g_city, g_phone
    ),
    {em_ctes},
    pat AS (
        SELECT {gcols}, c,
               {r9("log2(pgm / pgu)")} AS llr,
               floor(pgm*1e9 + 0.5)::BIGINT AS pgm9,
               floor(pgu*1e9 + 0.5)::BIGINT AS pgu9,
               {r9("pmj / (pmj + puj)")} AS posterior
        FROM (
            SELECT {gcols}, x.c, {pm} AS pgm, {pu} AS pgu,
                   {pm_joint} AS pmj, {pu_joint} AS puj
            FROM pc x, it{n_iter} it
        )
    ),
    ord AS (
        SELECT *,
               sum(pgu9) OVER (ORDER BY {desc_order}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_u9,
               sum(pgm9) OVER (ORDER BY {asc_order}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_m9
        FROM pat
    )
    SELECT {gcols_int}, c::BIGINT AS c, llr,
           CASE WHEN cum_u9 <= {mu9} THEN 'link'
                WHEN cum_m9 <= {lam9} THEN 'non_link'
                ELSE 'possible' END AS band,
           posterior
    FROM ord
    """


def q_link_tables_phonetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linkage with the phonetic evidence channel ON: B's first entity
    token carries appended vowels ('aaa') — beyond edit distance 1 (the
    length prefilter alone rejects it) but skeleton-code-EQUAL (non-leading
    vowels strip; a trailing 'a' run squeezes), so the pair arrives only
    through the phonetic channel at weight 0.5.  The oracle replays both
    channels (DL<=1 cross join UNION code-equal anti-join) with the rule
    chain inlined via phonetic_rules_sql — the two-channel union is
    value-exact."""
    from liblevenshtein_rust_spark.pipeline import linkage

    base = tables.documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 2000
    )

    def ent(tag):
        return F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(tag))), 1, 8
        )

    a = base.select(
        "doc_id",
        F.concat_ws(" ", ent("a"), ent("b"), ent("c")).alias("text"),
    )
    b = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ", F.concat(ent("a"), F.lit("aaa")), ent("b"), ent("c")
        ).alias("text"),
    )
    out = linkage.link_tables(
        a,
        b,
        linkage.LinkConfig(
            max_distance=1, use_phonetic=True, phonetic_ruleset="skeleton"
        ),
    )
    return out.select(
        F.col("a_id").cast("bigint").alias("a_id"),
        F.col("b_id").cast("bigint").alias("b_id"),
        F.col("n_matched").cast("bigint").alias("n_matched"),
        "score",
        F.col("rank").cast("int").alias("rank"),
    )


def q_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling for corpus mixing: keep probability = 0.9 x
    quality_score (sampling.quality_weighted_sample over the gate's
    full-row verdict).  Numeric hash-prefix compare with an exactly-
    representable per-row threshold — the oracle replays membership
    bit-for-bit."""
    from liblevenshtein_rust_spark.operators import sampling, text

    docs = tables.documents(spark, sf_dir).select("doc_id", "text")
    scored = text.curate_documents(docs, full_rows=True)
    out = sampling.quality_weighted_sample(scored, "quality_score", base_rate=0.9)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "quality_score"
    )


def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 self-LM scoring (text.bigram_perplexity): cross-entropy
    avg[ln c_prefix(u) - ln c(u,v)] under the corpus's own bigram model;
    closed form (self-training => no smoothing), oracle replays it."""
    from liblevenshtein_rust_spark.operators import text

    return text.bigram_perplexity(tables.documents(spark, sf_dir)).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_bigrams",
        "cross_entropy",
        "perplexity",
    )


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over the int8-quantized embedding corpus
    (similarity.quantize_embeddings / quantized_topk): integer dot
    products, scales cancel in cosine; the oracle replays the
    quantization and the integer scoring — value-exact because every
    intermediate (|q|<=127, dim 64) is exactly representable."""
    from liblevenshtein_rust_spark.operators import similarity

    emb = tables.embeddings(spark, sf_dir)
    probes = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.quantized_topk(probes, emb, k=5)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "qcos",
        F.col("rank").cast("int").alias("rank"),
    )


def _clustered_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-cluster embedding fixture (similarity.blend_clusters):
    deterministic 0.75-anchor blend of the committed iid test embeddings —
    the corpus on which an ANN *index* can actually pay for itself (round
    4; VERDICT r3 task 2: the iid table pins recall to scanned fraction,
    which mis-measures index geometry)."""
    from liblevenshtein_rust_spark.operators import similarity

    emb = tables.embeddings(spark, sf_dir)
    return similarity.blend_clusters(emb, n_clusters=8, weight=0.75).select(
        "vec_id", "embedding"
    )


def _clustered_probes(cl: DataFrame) -> DataFrame:
    return cl.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@5 AND scan cost vs exact brute force on the
    planted-cluster corpus, at the round-4 operating point: n_cells
    derived ~sqrt(N) (22 at the sf0.01 corpus of 500), nprobe=4 —
    measured recall 1.0 at candidate_frac 0.19 <= 0.25 (the
    ivf_recall_sweep table is the evidence).  The round-3 gate point
    (nprobe=12 of 16 fixed cells, ~75% scanned on iid data) was honest
    but index-useless; this one has the index earning its keep, with the
    cost column ON the row.  The oracle replays blend, centroid pick,
    assignment, both rankings, the intersection, and the cost aggregate."""
    from liblevenshtein_rust_spark.operators import similarity

    cl = _clustered_emb(spark, sf_dir)
    return similarity.ann_recall(
        _clustered_probes(cl), cl, k=5, n_cells=None, nprobe=4
    )


def q_ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/cost table per nprobe (similarity.ivf_recall_sweep) on the
    planted-cluster corpus at derived n_cells: the closed-form sweep — an
    exact neighbor is recalled iff its cell's probe-rank <= nprobe — so
    one brute-force pass covers all points.  On clustered data the table
    shows recall BEATING the scanned fraction (1.0 at ~0.19), which is
    the whole point of an IVF index.  The oracle replays centroid pick,
    assignment, probe ranking, exact top-k, and both aggregates."""
    from liblevenshtein_rust_spark.operators import similarity

    cl = _clustered_emb(spark, sf_dir)
    return similarity.ivf_recall_sweep(
        _clustered_probes(cl), cl, k=5, n_cells=None, nprobes=(1, 2, 4, 6, 8, 16)
    )


def q_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 (similarity.ivf_sq8_topk): IVF cell pruning + int8-quantized
    scoring inside probed cells + exact float re-rank of the top-20
    shortlist — the composed scale path (4x scan bytes cut from SQ8, ~5x
    candidate cut from IVF at nprobe=4/22, exactness restored by the
    O(rerank) float pass).  The oracle replays every stage: blend,
    centroids, assignment, per-vector quantization, integer-dot shortlist,
    float re-rank."""
    from liblevenshtein_rust_spark.operators import similarity

    cl = _clustered_emb(spark, sf_dir)
    out = similarity.ivf_sq8_topk(
        _clustered_probes(cl), cl, k=5, n_cells=None, nprobe=4, rerank=20
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "qcos",
        "cos",
        F.col("rank").cast("int").alias("rank"),
    )


_MITTON_MINI = str(Path(__file__).resolve().parent / "data/corpora/mini_mitton.dat")
_TYPO_CORPUS = str(Path(__file__).resolve().parent / "data/corpora/typo_corpus.dat")
_TYPO_CORPUS_OSA = str(
    Path(__file__).resolve().parent / "data/corpora/typo_corpus_osa.dat"
)


def q_mitton_blocked_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@d over the committed Mitton-format mini corpus through the
    FULL blocked path: text-source parse (running $-header window,
    sources/corpus.py) → deletion-key blocking → kernel.  43 planted pairs
    (33 at d=1, 9 at d=2, one at d=3 that must NOT be recalled).  The
    oracle re-parses the same committed file driver-side and recomputes
    every aggregate with DuckDB's levenshtein() — so a blocking loss, a
    kernel mis-score, OR a parser drift (freq handling, header scoping)
    all surface as a value mismatch."""
    from liblevenshtein_rust_spark.sources import corpus

    pairs = corpus.load_mitton_pairs(spark, _MITTON_MINI)
    return corpus.blocked_misspelling_recall(pairs, 2, variant="standard")


def q_typo_corpus_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@d over the committed SEEDED typo corpus (2,887 pairs at
    verified exact distances 1/2/3 over a 1,200-word length-stratified
    english_words sample, `scripts/gen_typo_corpus.py`) through the FULL
    blocked path at n=3 — deletion/2-gram hybrid blocking + kernel.
    Per-distance recall columns include the d=3 band (465 pairs, short
    words over-sampled), the reference's corpus-gate scale
    (`tests/corpus_validation.rs:22-28`: Holbrook 100% @ d<=3).  The
    oracle re-parses the committed file and recomputes every aggregate
    with DuckDB levenshtein, so blocking loss, kernel mis-score, and
    parser drift all surface as value mismatches; exact d=3 blocking
    means recall_d3 == 1.0 by construction."""
    from liblevenshtein_rust_spark.sources import corpus

    pairs = corpus.load_mitton_pairs(spark, _TYPO_CORPUS)
    return corpus.blocked_misspelling_recall(pairs, 3, variant="standard")


def q_typo_corpus_recall_osa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@d over the committed SWAP-PLANTED corpus (2,181 pairs at
    verified exact OSA distances 1/2/3, every misspelling carrying a
    surviving adjacent transposition — standard distance strictly greater
    than the OSA band for all pairs, `scripts/gen_typo_corpus_osa.py`)
    through the FULL blocked TRANSPOSITION path at n=3: the OSA flavor of
    the d=3 banded key rows (wider band — 3 transpositions can kill up to 9
    2-grams) + the OSA kernel.  Closes VERDICT r4 task 7: the d=3 OSA
    band's exactness now has an oracle row, not just the pytest
    completeness gate.  Every pair is generation-verified to agree with
    UNRESTRICTED Damerau (DuckDB's damerau_levenshtein), so the oracle
    recomputes the bands independently; a Standard-instead-of-OSA scoring
    bug would push every pair past its band (std > osa by construction)
    and collapse recall — the gate discriminates variant, blocking, and
    parser drift alike."""
    from liblevenshtein_rust_spark.sources import corpus

    pairs = corpus.load_mitton_pairs(spark, _TYPO_CORPUS_OSA)
    return corpus.blocked_misspelling_recall(pairs, 3, variant="transposition")


def _corpus_recall_sql(path: str, max_d: int, fn: str = "levenshtein") -> str:
    """Oracle for the blocked-recall queries: parse the SAME committed file
    with the reference's line semantics (parser.rs:208-219 — first token is
    the misspelling, optional second token the frequency, default 1) and
    embed it as VALUES; recall via DuckDB's built-in levenshtein (standard
    variant, exactly the kernel's STANDARD algorithm).  Column set mirrors
    ``sources/corpus.blocked_misspelling_recall`` at ``max_d``."""
    rows = []
    cur = None
    with open(path) as f:
        for line in f:
            t = line.strip()
            if not t:
                continue
            if t.startswith("$"):
                cur = t[1:]
                continue
            parts = t.split()
            freq = 1
            if len(parts) > 1:
                try:
                    freq = int(parts[1])
                except ValueError:
                    freq = 1
            rows.append((cur, parts[0], freq))
    values = ",\n            ".join(
        # escape single quotes so corpus words like "can't" can't break
        # the VALUES literal (real Mitton data contains apostrophes)
        f"""('{c.replace("'", "''")}', '{m.replace("'", "''")}', {fq})"""
        for c, m, fq in rows
    )
    recall_cols = ",\n               ".join(
        f"round(sum(CASE WHEN distance <= {d} THEN 1 ELSE 0 END) / count(*), 6) AS recall_d{d}"
        for d in range(1, max_d + 1)
    )
    return f"""
        WITH pairs(correct, misspelling, freq) AS (
            VALUES {values}
        ),
        scored AS (
            SELECT correct, misspelling, freq,
                   {fn}(misspelling, correct) AS distance
            FROM pairs
        )
        SELECT count(*)::BIGINT AS n_pairs,
               sum(freq)::BIGINT AS total_freq,
               {recall_cols},
               round(sum(CASE WHEN distance <= {max_d} THEN freq ELSE 0 END) / sum(freq), 6) AS weighted_recall_d{max_d}
        FROM scored
    """


def _mitton_mini_sql() -> str:
    return _corpus_recall_sql(_MITTON_MINI, 2)


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment (sampling.hash_split): one
    deterministic label per doc from cumulative md5-prefix ranges — a doc
    can never migrate between train and eval across reruns/appends.  The
    oracle replays the same sorted-label cumulative thresholds."""
    docs = tables.documents(spark, sf_dir).select("doc_id")
    out = _sampling.hash_split(docs, _SPLIT_WEIGHTS)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"), "split")


def _hash_split_sql() -> str:
    total = sum(_SPLIT_WEIGHTS.values())
    labels = sorted(_SPLIT_WEIGHTS)
    acc, whens = 0.0, []
    for label in labels[:-1]:
        acc += _SPLIT_WEIGHTS[label] / total
        # mirrors sampling.hash_split's inclusive-bound thresholds exactly
        thr_int = int(acc * 16**8) - 1
        if thr_int < 0:
            continue
        thr = format(min(thr_int, 16**8 - 1), "08x")
        whens.append(
            f"WHEN substr(md5(doc_id::VARCHAR), 1, 8) <= '{thr}' THEN '{label}'"
        )
    return f"""
        SELECT doc_id::BIGINT AS doc_id,
               CASE {' '.join(whens)} ELSE '{labels[-1]}' END AS split
        FROM documents
    """


def q_modality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc modality profile over the derived interleaved table
    (multimodal.modality_stats): span counts per kind, media fraction,
    first media offset, text chars — one zero-shuffle array-HOF
    projection.  The oracle re-derives the same spans from documents.text
    and aggregates per doc."""
    from liblevenshtein_rust_spark.operators import multimodal

    built = _derived_span_docs(spark, sf_dir)
    out = multimodal.modality_stats(built)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_spans", "n_text", "n_media", "media_frac",
        "first_media_offset", "text_chars",
    )


_MODALITY_STATS_SQL = """
    WITH sp AS (
        SELECT doc_id,
               (i - 1) % 5 = 4 AS is_media,
               (i - 1)::INT AS off,
               CASE WHEN (i - 1) % 5 = 4 THEN '' ELSE tk[i] END AS text
        FROM (SELECT doc_id,
                     string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS tk
              FROM documents),
             unnest(generate_series(1, len(tk))) g(i)
    )
    SELECT doc_id::BIGINT AS doc_id,
           count(*)::INT AS n_spans,
           sum(CASE WHEN is_media THEN 0 ELSE 1 END)::INT AS n_text,
           sum(CASE WHEN is_media THEN 1 ELSE 0 END)::INT AS n_media,
           round(sum(CASE WHEN is_media THEN 1 ELSE 0 END) / count(*), 6) AS media_frac,
           min(CASE WHEN is_media THEN off END)::INT AS first_media_offset,
           sum(length(text))::INT AS text_chars
    FROM sp GROUP BY doc_id
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup (text.canonical_url + url_dedup): four
    cosmetic variants per planted base URL — bare, trailing slash,
    tracking-params-only query, UPPERCASE scheme+host + fragment — must
    collapse to ONE canonical group of 4 with the min-id survivor; a real
    (non-tracking) param variant stays a separate group.  The oracle
    replays every rule (fragment, case, default port, tracking filter
    with order-preserving survivors, trailing slash) in SQL."""
    from liblevenshtein_rust_spark.operators import text as _text

    base = tables.documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 400
    )
    grp = F.floor(F.col("doc_id") / 4).cast("bigint")
    stem = F.concat(
        F.lit("ex"), (grp % 7).cast("string"),
        F.lit(".example.com/p/"),
        F.substring(F.md5(grp.cast("string")), 1, 6),
    )
    # the %4==3 variant uppercases scheme+HOST only (paths are
    # case-sensitive — uppercasing the path would be a different resource)
    host = F.concat(F.lit("EX"), (grp % 7).cast("string"),
                    F.lit(".EXAMPLE.COM"))
    path = F.concat(
        F.lit("/p/"), F.substring(F.md5(grp.cast("string")), 1, 6)
    )
    url = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("https://"), stem))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("https://"), stem, F.lit("/")))
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://"), stem, F.lit("?utm_source=x&fbclid=abc")),
        )
        .otherwise(F.concat(F.lit("HTTPS://"), host, path, F.lit("#frag")))
    )
    urls = base.select(F.col("doc_id").alias("url_id"), url.alias("url"))
    out = _text.url_dedup(urls)
    return out.select(
        "canon_url",
        F.col("n_urls").cast("bigint").alias("n_urls"),
        F.col("min_id").cast("bigint").alias("min_id"),
    )


_URL_DEDUP_SQL = """
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 400),
    stems AS (
        SELECT doc_id,
               'ex' || ((doc_id // 4) % 7)::VARCHAR || '.example.com/p/' ||
                   substr(md5((doc_id // 4)::VARCHAR), 1, 6) AS stem,
               'EX' || ((doc_id // 4) % 7)::VARCHAR || '.EXAMPLE.COM' || '/p/' ||
                   substr(md5((doc_id // 4)::VARCHAR), 1, 6) AS upper_host
        FROM ids
    ),
    urls AS (
        SELECT doc_id AS url_id,
               CASE doc_id % 4
                    WHEN 0 THEN 'https://' || stem
                    WHEN 1 THEN 'https://' || stem || '/'
                    WHEN 2 THEN 'https://' || stem || '?utm_source=x&fbclid=abc'
                    ELSE 'HTTPS://' || upper_host || '#frag'
               END AS url
        FROM stems
    ),
    canon AS (
        SELECT url_id,
               -- fragment off
               regexp_replace(url, '#.*$', '') AS u
        FROM urls
    ),
    parts AS (
        SELECT url_id,
               lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
               lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
               regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rest,
               regexp_extract(u, '\\?([^#]*)', 1) AS query
        FROM canon
    ),
    built AS (
        SELECT url_id,
               scheme || '://' ||
               CASE WHEN scheme = 'http' AND hostport LIKE '%:80'
                         THEN regexp_replace(hostport, ':80$', '')
                    WHEN scheme = 'https' AND hostport LIKE '%:443'
                         THEN regexp_replace(hostport, ':443$', '')
                    ELSE hostport END ||
               CASE WHEN regexp_replace(rest, '/+$', '') = '' THEN '/'
                    ELSE regexp_replace(rest, '/+$', '') END ||
               CASE WHEN kept <> '' THEN '?' || kept ELSE '' END AS canon_url
        FROM (
            SELECT *,
                   array_to_string(list_filter(string_split(query, '&'),
                       p -> len(p) > 0 AND NOT regexp_matches(p,
                           '^(utm_[^=]*|fbclid|gclid|msclkid|ref_src)=')),
                       '&') AS kept
            FROM parts
        )
    )
    SELECT canon_url, count(*)::BIGINT AS n_urls, min(url_id)::BIGINT AS min_id
    FROM built GROUP BY canon_url
"""


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain crawl audit (text.url_domain + domain_stats): 4 cosmetic
    variants per base URL across 7 planted registrable domains — n_urls
    counts rows, n_canonical counts surviving canonical forms, and their
    ratio (4:1 here) is the cosmetic-duplication factor per-domain caps
    act on.  The oracle replays host extraction, two-label reduction, and
    the canonical-distinct count."""
    from liblevenshtein_rust_spark.operators import text as _text

    base = tables.documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 400
    )
    grp = F.floor(F.col("doc_id") / 4).cast("bigint")
    stem = F.concat(
        F.lit("www.example"), (grp % 7).cast("string"), F.lit(".com/p/"),
        F.substring(F.md5(grp.cast("string")), 1, 6),
    )
    host_u = F.concat(F.lit("WWW.EXAMPLE"), (grp % 7).cast("string"),
                      F.lit(".COM"))
    path = F.concat(F.lit("/p/"), F.substring(F.md5(grp.cast("string")), 1, 6))
    url = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("https://"), stem))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("https://"), stem, F.lit("/")))
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://"), stem, F.lit("?utm_source=x&fbclid=abc")),
        )
        .otherwise(F.concat(F.lit("HTTPS://"), host_u, path, F.lit("#frag")))
    )
    urls = base.select(F.col("doc_id").alias("url_id"), url.alias("url"))
    out = _text.domain_stats(urls)
    return out.select(
        "domain",
        F.col("n_urls").cast("bigint").alias("n_urls"),
        F.col("n_canonical").cast("bigint").alias("n_canonical"),
    )


_PSL_PATH = str(Path(__file__).resolve().parent / "data/psl_snapshot.dat")


def q_domain_stats_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain crawl audit keyed on the PUBLIC-SUFFIX-LIST registrable
    domain (text.domain_stats_psl; the committed `data/psl_snapshot.dat`
    — round 5: the FULL published list, 9,506 rules / 107 wildcards / 8
    exceptions, verbatim from the Debian `publicsuffix` package's
    `public_suffix_list.dat` with its MPL-2.0 header — rides as a
    broadcast dimension) — the exact path the two-label `domain_stats`
    heuristic documents as its production primary.  The fixture plants
    every PSL rule class: ``.co.uk`` ccSLDs across two host shapes
    (www./shop. — the heuristic would over-group ALL of them under one
    'co.uk' key; the PSL keeps them distinct), deep ``.com`` subdomains,
    the wildcard rule ``*.ck`` with its exception ``!www.ck``, and
    (round 5) the ``*.kawasaki.jp`` wildcard with its exception
    ``!city.kawasaki.jp`` — www.city.kawasaki.jp must reduce to
    city.kawasaki.jp (exception wins) while blog.fooN.kawasaki.jp keeps
    all four labels (wildcard makes fooN.kawasaki.jp the suffix).  The
    oracle replays the full PSL algorithm over ALL 9,506 rules
    (independently re-parsed from the committed file into a VALUES
    table): candidate suffixes + wildcard keys, exception-first
    prevailing rule, public-suffix+1 reduction, then the canonical-URL
    dedup count."""
    from liblevenshtein_rust_spark.operators import text as _text

    base = tables.documents(spark, sf_dir).select("doc_id").where(
        F.col("doc_id") < 300
    )
    grp = F.floor(F.col("doc_id") / 3).cast("bigint")
    path = F.concat(F.lit("/p/"), F.substring(F.md5(grp.cast("string")), 1, 6))
    host = (
        F.when(grp % 7 == 0, F.concat(F.lit("www.example"), (grp % 11).cast("string"), F.lit(".co.uk")))
        .when(grp % 7 == 1, F.concat(F.lit("shop.example"), (grp % 11).cast("string"), F.lit(".co.uk")))
        .when(grp % 7 == 2, F.concat(F.lit("a.b.example"), (grp % 11).cast("string"), F.lit(".com")))
        .when(grp % 7 == 3, F.concat(F.lit("foo"), (grp % 3).cast("string"), F.lit(".xyzzy.ck")))
        .when(grp % 7 == 4, F.lit("www.city.kawasaki.jp"))
        .when(grp % 7 == 5, F.concat(F.lit("blog.foo"), (grp % 3).cast("string"), F.lit(".kawasaki.jp")))
        .otherwise(F.lit("www.ck"))
    )
    url = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("https://"), host, path))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("https://"), host, path, F.lit("/")))
        .otherwise(F.concat(F.lit("https://"), host, path, F.lit("?utm_source=x")))
    )
    urls = base.select(F.col("doc_id").alias("url_id"), url.alias("url"))
    psl = _text.load_psl(spark, _PSL_PATH)
    out = _text.domain_stats_psl(urls, psl)
    return out.select(
        "domain",
        F.col("n_urls").cast("bigint").alias("n_urls"),
        F.col("n_canonical").cast("bigint").alias("n_canonical"),
    )


def _domain_stats_psl_sql() -> str:
    """Oracle: PSL rules inlined from the committed snapshot (independent
    line parse), full PSL algorithm in SQL, then the canonical count."""
    rules = []
    with open(_PSL_PATH) as f:
        for line in f:
            t = line.strip()
            if not t or t.startswith("//"):
                continue
            exc = t.startswith("!")
            rule = t[1:] if exc else t
            rules.append((rule, exc, len(rule.split("."))))
    values = ", ".join(
        f"('{r}', {str(e).upper()}, {n})" for r, e, n in rules
    )
    return f"""
        WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 300),
        rules(rule, is_exc, n_labels) AS (VALUES {values}),
        urls AS (
            SELECT doc_id AS url_id,
                   CASE doc_id % 3
                        WHEN 0 THEN 'https://' || host || pth
                        WHEN 1 THEN 'https://' || host || pth || '/'
                        ELSE 'https://' || host || pth || '?utm_source=x'
                   END AS url
            FROM (
                SELECT doc_id,
                       CASE (doc_id // 3) % 7
                            WHEN 0 THEN 'www.example' || ((doc_id // 3) % 11)::VARCHAR || '.co.uk'
                            WHEN 1 THEN 'shop.example' || ((doc_id // 3) % 11)::VARCHAR || '.co.uk'
                            WHEN 2 THEN 'a.b.example' || ((doc_id // 3) % 11)::VARCHAR || '.com'
                            WHEN 3 THEN 'foo' || ((doc_id // 3) % 3)::VARCHAR || '.xyzzy.ck'
                            WHEN 4 THEN 'www.city.kawasaki.jp'
                            WHEN 5 THEN 'blog.foo' || ((doc_id // 3) % 3)::VARCHAR || '.kawasaki.jp'
                            ELSE 'www.ck'
                       END AS host,
                       '/p/' || substr(md5((doc_id // 3)::VARCHAR), 1, 6) AS pth
                FROM ids
            )
        ),
        hosted AS (
            SELECT url_id, url,
                   lower(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1)) AS host
            FROM urls
        ),
        parts AS (
            SELECT url_id, host, string_split(host, '.') AS p FROM hosted
        ),
        cand AS (
            SELECT url_id, host, len(p) AS n, k,
                   array_to_string(p[len(p)-k+1:len(p)], '.') AS key
            FROM parts, unnest(generate_series(1, len(p))) g(k)
            UNION ALL
            SELECT url_id, host, len(p) AS n, k,
                   '*.' || array_to_string(p[len(p)-k+2:len(p)], '.') AS key
            FROM parts, unnest(generate_series(2, len(p))) g(k)
        ),
        prevail AS (
            SELECT c.url_id, c.host, c.n,
                   max(CASE WHEN r.is_exc THEN r.n_labels - 1 END) AS exc_ps,
                   max(CASE WHEN NOT r.is_exc THEN c.k END) AS norm_ps
            FROM cand c LEFT JOIN rules r ON c.key = r.rule
            GROUP BY c.url_id, c.host, c.n
        ),
        dom AS (
            SELECT url_id,
                   CASE WHEN n > coalesce(exc_ps, norm_ps, 1)
                        THEN array_to_string(
                            string_split(host, '.')[n - coalesce(exc_ps, norm_ps, 1):n],
                            '.')
                   END AS domain
            FROM prevail
        ),
        canon AS (
            SELECT d.url_id, d.domain,
                   lower(regexp_extract(u.url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                   || '://'
                   || lower(regexp_extract(u.url,
                          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
                   || CASE WHEN regexp_replace(regexp_extract(u.url,
                               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                               '/+$', '') = ''
                          THEN '/'
                          ELSE regexp_replace(regexp_extract(u.url,
                               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                               '/+$', '') END
                   || CASE WHEN kept <> '' THEN '?' || kept ELSE '' END AS c
            FROM dom d JOIN (
                SELECT url_id, url,
                       array_to_string(list_filter(string_split(
                           regexp_extract(url, '\\?([^#]*)', 1), '&'),
                           p -> len(p) > 0 AND NOT regexp_matches(p,
                               '^(utm_[^=]*|fbclid|gclid|msclkid|ref_src)=')),
                           '&') AS kept
                FROM urls
            ) u USING (url_id)
            WHERE d.domain IS NOT NULL
        )
        SELECT domain, count(*)::BIGINT AS n_urls,
               count(DISTINCT c)::BIGINT AS n_canonical
        FROM canon GROUP BY domain
    """


_DOMAIN_STATS_SQL = """
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 400),
    urls AS (
        SELECT doc_id AS url_id,
               CASE doc_id % 4
                    WHEN 0 THEN 'https://' || stem
                    WHEN 1 THEN 'https://' || stem || '/'
                    WHEN 2 THEN 'https://' || stem || '?utm_source=x&fbclid=abc'
                    ELSE 'HTTPS://WWW.EXAMPLE' || ((doc_id // 4) % 7)::VARCHAR
                         || '.COM/p/' || substr(md5((doc_id // 4)::VARCHAR), 1, 6)
                         || '#frag'
               END AS url
        FROM (
            SELECT doc_id,
                   'www.example' || ((doc_id // 4) % 7)::VARCHAR || '.com/p/'
                       || substr(md5((doc_id // 4)::VARCHAR), 1, 6) AS stem
            FROM ids
        )
    ),
    hosted AS (
        SELECT url_id, url,
               lower(regexp_extract(url,
                   '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1)) AS host
        FROM urls
    ),
    dom AS (
        SELECT url_id, url,
               CASE WHEN len(string_split(host, '.')) >= 2
                    THEN string_split(host, '.')[-2] || '.' ||
                         string_split(host, '.')[-1]
                    ELSE host END AS domain
        FROM hosted
    ),
    canon AS (
        SELECT url_id, domain,
               lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                   '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' ||
               lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                   '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) ||
               CASE WHEN regexp_replace(regexp_extract(
                         regexp_replace(url, '#.*$', ''),
                         '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                         '/+$', '') = ''
                    THEN '/'
                    ELSE regexp_replace(regexp_extract(
                         regexp_replace(url, '#.*$', ''),
                         '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                         '/+$', '') END ||
               CASE WHEN kept <> '' THEN '?' || kept ELSE '' END AS c
        FROM (
            SELECT *,
                   array_to_string(list_filter(string_split(
                       regexp_extract(regexp_replace(url, '#.*$', ''),
                                      '\\?([^#]*)', 1), '&'),
                       p -> len(p) > 0 AND NOT regexp_matches(p,
                           '^(utm_[^=]*|fbclid|gclid|msclkid|ref_src)=')),
                       '&') AS kept
            FROM dom
        )
    )
    SELECT domain, count(*)::BIGINT AS n_urls,
           count(DISTINCT c)::BIGINT AS n_canonical
    FROM canon GROUP BY domain
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report card (text.corpus_stats): gate signals
    aggregated in one scan + one low-cardinality groupBy.  The oracle
    replays the full gate verdict (shared builder with curate_documents —
    raw text, default thresholds) and the same aggregates."""
    from liblevenshtein_rust_spark.operators import text

    docs = tables.documents(spark, sf_dir).select("doc_id", "text", "source")
    out = text.corpus_stats(docs)
    return out.select(
        "grp",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        "avg_quality",
        F.col("n_langs").cast("bigint").alias("n_langs"),
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding dedup (operators/similarity.semantic_dedup):
    md5-deterministic centroids → cell assignment (broadcast argmax, the
    IVF machinery) → within-cell leader-rank drop at cos >= 0.42.  The
    oracle replays centroid pick, assignment, rank, and the exists-earlier
    pair rule verbatim — value-exact."""
    from liblevenshtein_rust_spark.operators import similarity

    emb = tables.embeddings(spark, sf_dir).where(F.col("vec_id") < 1000)
    out = similarity.semantic_dedup(emb, n_cells=8, threshold=0.42)
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("cell").cast("int").alias("cell"),
        F.col("cell_rank").cast("int").alias("cell_rank"),
        "keep",
    )


def q_curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass curation gate (operators/text.curate_documents): every
    row-local filter — quality band, language allowlist, duplicate-bigram
    fraction, PII density — in a single zero-shuffle codegen projection
    with an auditable per-doc reason ledger.  PII and repetition are
    planted deterministically (docs %7: two emails + phone + IP > max_pii;
    docs %11: a 20x-repeated bigram pushing dup_frac past 0.2) so every
    rule fires somewhere; the oracle replays the planted text and all
    seven rules."""
    from liblevenshtein_rust_spark.operators import text

    docs = tables.documents(spark, sf_dir).select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit(
                    " contact u@example.com tel 555-010-0001"
                    " host 10.0.0.1 cc x@example.org"
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0, F.repeat(F.lit(" repeat token"), 20)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = text.curate_documents(planted, allowed_langs=("en", "de"), max_pii=2)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "keep",
        "reasons",
        "quality_score",
        "lang_pred",
        "dup_frac",
        F.col("pii_hits").cast("int").alias("pii_hits"),
    )


def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through the broadcast-Bloom prefilter
    (functions/bloom.py): the train side is filtered by a bit array built
    from the eval shingle set BEFORE any shuffle; the exact verify join
    then removes Bloom false positives, so the result — and the oracle —
    are identical to `contamination_overlap`.  The two queries share one
    oracle SQL by construction; what differs is the physical plan (an
    ArrowEvalPython membership filter in the train scan stage instead of a
    full-corpus shuffle — PLANS.md)."""
    from liblevenshtein_rust_spark.operators import dedup

    docs = tables.documents(spark, sf_dir).select("doc_id", "text")
    train = docs.where(F.col("doc_id") % 10 != 0)
    eval_docs = docs.where(F.col("doc_id") % 10 == 0)
    out = dedup.bloom_contamination_overlap(
        train, eval_docs, min_shared=2, max_df=50, fpp=0.01
    )
    return out.select(
        F.col("eval_id").cast("bigint").alias("eval_id"),
        F.col("train_id").cast("bigint").alias("train_id"),
        F.col("n_shared").cast("bigint").alias("n_shared"),
    )


def q_session_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typing-session fold (ContextualCompletionEngine session semantics,
    reference ``contextual/engine.rs:596-713``) as the batch twin of the
    applyInPandasWithState streaming operator: a deterministic 8-event
    program per document — insert half the word, checkpoint, insert junk,
    undo, insert the rest, insert one char, backspace, finalize — whose
    fold provably yields the word itself, so the oracle is exact SQL.  The
    streaming execution (state store, restart recovery) is pytest-covered
    (test_streaming_sessions)."""
    from liblevenshtein_rust_spark.streaming import sessions

    docs = tables.documents(spark, sf_dir)
    w = (
        docs.where(F.col("doc_id") < 40)
        .select(
            F.col("doc_id").cast("string").alias("session_id"),
            F.regexp_extract(F.lower(F.col("text")), "[a-z]{3,}", 0).alias("word"),
        )
        .where(F.col("word") != "")
        .withColumn("k", F.greatest(F.lit(1), (F.length("word") / 2).cast("int")))
        .withColumn("head", F.expr("substring(word, 1, k)"))
        .withColumn("tail", F.expr("substring(word, k + 1)"))
    )

    def ev(seq: int, op: str, arg) -> DataFrame:
        return w.select(
            "session_id",
            F.lit(seq).cast("long").alias("seq"),
            F.lit(op).alias("op"),
            (arg if isinstance(arg, Column) else F.lit(arg)).alias("arg"),
        )

    events = (
        ev(1, "insert", F.col("head"))
        .unionByName(ev(2, "checkpoint", None))
        .unionByName(ev(3, "insert", "zq"))
        .unionByName(ev(4, "undo", None))
        .unionByName(ev(5, "insert", F.col("tail")))
        .unionByName(ev(6, "insert", "x"))
        .unionByName(ev(7, "backspace", None))
        .unionByName(ev(8, "finalize", None))
    )
    return sessions.session_fold(events)


# Ordered RISKIEST-FIRST: the driver's correctness harness has a budget of
# roughly 50 queries and walks this dict in order (round 2 lesson: the 23
# newest entries fell past the budget and stayed driver-unchecked).  New
# operators go at the TOP; long-green veterans at the bottom.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- ROUND-5 ROTATION (VERDICT r4 task 2, plan at r4's registry
    # note): front window = round-5 additions, then round-5-touched
    # entries needing a fresh driver row, then the 45 entries whose last
    # driver row is r3 (mitton_blocked_recall onward in the r4 order) —
    # after this window every entry's newest driver row is <= 2 rounds
    # old.  The 50 entries the r4 driver checked green move behind. -----
    # round-5 additions
    "typo_corpus_recall_osa": q_typo_corpus_recall_osa,
    # round-5-touched (update_assignments_mutual per-B invariant window;
    # PSL snapshot grown to the full 9,506-rule published list + kawasaki
    # exception/wildcard fixture cases)
    "linkage_incremental_mutual": q_linkage_incremental_mutual,
    "domain_stats_psl": q_domain_stats_psl,
    # last driver row r3 (kept in r4 relative order)
    "mitton_blocked_recall": q_mitton_blocked_recall,
    "fuzzy_query_d2_standard": q_fuzzy_query_d2_standard,
    "fuzzy_query_transposition_d1": q_fuzzy_query_transposition_d1,
    "modality_stats": q_modality_stats,
    "stream_match_replay": q_stream_match_replay,
    "stream_dedup_replay": q_stream_dedup_replay,
    "url_dedup": q_url_dedup,
    "domain_stats": q_domain_stats,
    "link_tables": q_link_tables,
    "link_tables_mutual": q_link_tables_mutual,
    "link_tables_phonetic": q_link_tables_phonetic,
    "linkage_quality": q_linkage_quality,
    "semantic_dedup": q_semantic_dedup,
    "quantized_topk": q_quantized_topk,
    "bloom_contamination": q_bloom_contamination,
    "bigram_perplexity": q_bigram_perplexity,
    "curate_documents": q_curate_documents,
    "corpus_stats": q_corpus_stats,
    "quality_weighted_sample": q_quality_weighted_sample,
    "session_fold": q_session_fold,
    "contextual_complete": q_contextual_complete,
    "incremental_update": q_incremental_update,
    "prefix_iterate": q_prefix_iterate,
    "query_filtered": q_query_filtered,
    "query_by_value_set": q_query_by_value_set,
    "union_with_counts": q_union_with_counts,
    "union_replace": q_union_replace,
    "substring_positions": q_substring_positions,
    "fuzzy_substring_d1": q_fuzzy_substring_d1,
    "phonetic_join": q_phonetic_join,
    "phonetic_codes": q_phonetic_codes,
    "fuzzy_query_bucketed": q_fuzzy_query_bucketed,
    "fuzzy_query_topk": q_fuzzy_query_topk,
    "fuzzy_query_prefix": q_fuzzy_query_prefix,
    "fuzzy_query_merge_split_d2": q_fuzzy_query_merge_split_d2,
    "fuzzy_query_ocr_subs": q_fuzzy_query_ocr_subs,
    "exact_contains": q_exact_contains,
    "fuzzy_multimap": q_fuzzy_multimap,
    "blocking_key_stats": q_blocking_key_stats,
    "sorted_neighborhood_pairs": q_sorted_neighborhood_pairs,
    "exact_dedup_groups": q_exact_dedup_groups,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "simhash_fingerprints": q_simhash_fingerprints,
    "simhash_near_pairs": q_simhash_near_pairs,
    # --- r4-driver-green block (CORRECTNESS_r04: 50/50), r4 order ------
    "embedding_cosine_pairs": q_embedding_cosine_pairs,
    "lsh_embedding_near_pairs": q_lsh_embedding_near_pairs,
    "ann_topk_bruteforce": q_ann_topk_bruteforce,
    "ann_topk_ivf": q_ann_topk_ivf,
    "span_roundtrip": q_span_roundtrip,
    "media_features": q_media_features,
    "media_resize": q_media_resize,
    "media_frame_sample": q_media_frame_sample,
    "fuzzy_query_weighted_nosub": q_fuzzy_query_weighted_nosub,
    "fuzzy_query_generalized_ops": q_fuzzy_query_generalized_ops,
    "fuzzy_query_multichar_ops": q_fuzzy_query_multichar_ops,
    "token_stats": q_token_stats,
    "quality_features": q_quality_features,
    "unigram_perplexity": q_unigram_perplexity,
    "chunk_documents": q_chunk_documents,
    "tfidf_keywords": q_tfidf_keywords,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "repetition_stats": q_repetition_stats,
    "pii_redaction": q_pii_redaction,
    "stratified_sample": q_stratified_sample,
    "per_source_cap": q_per_source_cap,
    "gap_sessions": q_gap_sessions,
    "line_dedup": q_line_dedup,
    "duplicate_spans": q_duplicate_spans,
    "cut_spans": q_cut_spans,
    "contamination_spans": q_contamination_spans,
    "near_dup_clusters": q_near_dup_clusters,
    "incremental_clusters": q_incremental_clusters,
    "golden_records": q_golden_records,
    "blocking_quality": q_blocking_quality,
    "er_pair_metrics": q_er_pair_metrics,
    "er_cluster_bcubed": q_er_cluster_bcubed,
    "contamination_overlap": q_contamination_overlap,
    # --- new in round 4 ------------------------------------------------
    "fuzzy_query_d3_standard": q_fuzzy_query_d3_standard,
    "typo_corpus_recall": q_typo_corpus_recall,
    "ivf_sq8_topk": q_ivf_sq8_topk,
    "link_records_learned": q_link_records_learned,
    "media_decode_features": q_media_decode_features,
    "media_decode_stats": q_media_decode_stats,
    "meta_blocking_wep": q_meta_blocking_wep,
    "meta_blocking_cnp": q_meta_blocking_cnp,
    "link_records_decisions": q_link_records_decisions,
    "ann_recall": q_ann_recall,
    "ivf_recall_sweep": q_ivf_recall_sweep,
    "hash_split": q_hash_split,
    "linkage_incremental": q_linkage_incremental,
    "link_records_weighted": q_link_records_weighted,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ordered fuzzy query over sf0.001 (driver checks rows>0)."""
    return q_fuzzy_query_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Sequential consumers (the correctness harness runs all ~60 entries in
    # one session: build query i, materialize, build i+1, ...) would
    # otherwise accumulate every operator's pooled cache (pooled_persist in
    # blocking/dedup/er) for the whole sweep.  Releasing the PREVIOUS
    # query's caches when the NEXT one is built is safe — by then the prior
    # result has been materialized — and keeps the session's storage
    # footprint at one query's working set.  bench.py does its own
    # release_pooled() per timing window; a redundant release is a no-op.
    def _releasing(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from liblevenshtein_rust_spark.session import release_pooled

            release_pooled()
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        return wrapped

    return {name: _releasing(fn) for name, fn in QUERIES.items()}


# DuckDB CTEs mirroring the dedup operators' text canonicalization exactly
# (liblevenshtein_rust_spark/operators/dedup.py: normalize_text/word_shingles)
_CORPUS_CTE = """
corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id < 2000
    UNION ALL
    SELECT doc_id + 100000, substr(text, strpos(text, ' ') + 1)
    FROM documents WHERE doc_id < 2000
)
"""

_SHINGLES_CTE = """
shing AS (
    SELECT doc_id, list_sort(list_distinct(
        CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
             ELSE [array_to_string(tk[i:i+2], ' ')
                   FOR i IN generate_series(1, len(tk) - 2)] END
    )) AS sh
    FROM (
        SELECT doc_id,
               string_split(regexp_replace(trim(regexp_replace(lower(text),
                   '[^a-z0-9 ]+', ' ', 'g')), '\\s+', ' ', 'g'), ' ') AS tk
        FROM {src}
    )
)
"""

# stride-1 8-token window enumeration over the documents table (tokenize →
# positional windows); shared by every span-level oracle
_WINDOWS_CTES = """
t AS (
    SELECT doc_id,
           string_split(regexp_replace(trim(regexp_replace(
               lower(text), '[^a-z0-9 ]+', ' ', 'g')),
               '\\s+', ' ', 'g'), ' ') AS tk
    FROM documents
),
wins AS (
    SELECT doc_id,
           unnest(generate_series(1, len(tk) - 7)) - 1 AS pos,
           unnest([array_to_string(tk[i:i+7], ' ')
                   FOR i IN generate_series(1, len(tk) - 7)]) AS win
    FROM t WHERE len(tk) >= 8
)
"""

# gaps-and-islands merge of flagged (doc_id, pos) windows — expects a
# `hits` CTE upstream
_ISLANDS_CTES = """
flagged AS (
    SELECT doc_id, pos,
           CASE WHEN pos > lag(pos) OVER
                (PARTITION BY doc_id ORDER BY pos) + 8
                THEN 1 ELSE 0 END AS f
    FROM hits
),
isl AS (
    SELECT doc_id, pos,
           sum(f) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS grp
    FROM flagged
)
"""

# duplicate_spans detection chain (windows → >=2-distinct-doc cutoff →
# islands); shared by the duplicate_spans and cut_spans oracles
_DUPSPAN_CTES = _WINDOWS_CTES + """,
dup AS (
    SELECT win FROM (
        SELECT win, count(DISTINCT doc_id) AS nd
        FROM wins GROUP BY win
    ) WHERE nd >= 2
),
hits AS (
    SELECT doc_id, pos FROM wins
    WHERE win IN (SELECT win FROM dup)
),
""" + _ISLANDS_CTES

_JACCARD_EXPR = (
    "round(len(list_filter(lsh, x -> list_contains(rsh, x))) / "
    "(len(lsh) + len(rsh) - len(list_filter(lsh, x -> list_contains(rsh, x)))), 6)"
)

_SIMHASH_CTE = """
stoks AS (
    SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g')), '\\s+'),
        t -> length(t) > 0)) AS tok
    FROM {src}
),
sbits AS (
    SELECT doc_id, b,
           sum(2 * (((strpos('0123456789abcdef', substr(md5(tok), b // 4 + 1, 1)) - 1)
                     >> (3 - b % 4)) & 1) - 1) AS s
    FROM stoks, unnest(generate_series(0, 62)) g(b)
    GROUP BY doc_id, b
),
sh64 AS (
    SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
    FROM sbits GROUP BY doc_id
),
simh AS (
    SELECT d.doc_id, coalesce(sh64.simhash, 0)::BIGINT AS simhash
    FROM (SELECT DISTINCT doc_id FROM {src}) d LEFT JOIN sh64 USING (doc_id)
)
"""

_PLAIN_TOKS_CTE = """
toks AS (
    SELECT DISTINCT t AS term FROM (
        SELECT unnest(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' ')) AS t
        FROM documents
    ) WHERE t <> ''
)
"""

_TOKMAP_CTE = """
tokmap AS (
    SELECT DISTINCT doc_id, t AS term FROM (
        SELECT doc_id,
               unnest(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' ')) AS t
        FROM documents
    ) WHERE t <> ''
)
"""

_SRC_COUNTS_CTE = """
{name} AS (
    SELECT t AS term, count(*)::BIGINT AS value FROM (
        SELECT unnest(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' ')) AS t
        FROM documents WHERE source = '{src}'
    ) WHERE t <> '' GROUP BY t
)
"""

def _hyperplane_signs_sql(n_planes: int = 4, dim: int = 64) -> list[str]:
    """Literal DOUBLE[] arrays replaying dedup._hyperplane_sign's md5-seeded
    sign matrix (sign of plane p, dim d = +1 iff int(md5('p:d')[:4],16)%2==0)
    — compile-time constants on the Spark side, so inlining them keeps the
    oracle value-exact."""
    import hashlib

    out = []
    for p in range(n_planes):
        signs = [
            "1.0"
            if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:4], 16) % 2 == 0
            else "-1.0"
            for d in range(dim)
        ]
        out.append("[" + ", ".join(signs) + "]::DOUBLE[]")
    return out


_QUALITY_STOPWORDS_SQL = (
    "['the','of','and','a','to','in','is','it','that','for','on','with','as',"
    "'at','by','an','be','this','from','or','are','was','but','not','you',"
    "'all','we','he','she','they','i']"
)


def _pii_chain_sql(t: str) -> tuple[list[tuple[str, str]], str]:
    """DuckDB twin of text._pii_cols over the SQL expression ``t``,
    generated from the operator's own PII_PATTERNS so the regexes and
    ordering can never drift: the per-pattern count expressions in order,
    each over the text after the earlier replacements, and the redacted
    text expression."""
    from liblevenshtein_rust_spark.operators.text import PII_PATTERNS

    counts = []
    for name, pat, tag in PII_PATTERNS:
        lit = pat.replace("'", "''")
        counts.append((name, f"len(regexp_extract_all({t}, '{lit}'))"))
        t = f"regexp_replace({t}, '{lit}', '{tag}', 'g')"
    return counts, t


def _pii_redaction_sql() -> str:
    """DuckDB twin of q_pii_redaction (the PII chain is `_pii_chain_sql`)."""
    counts, clean = _pii_chain_sql("t")
    cols = ",\n               ".join(f"{c}::INT AS n_{name}" for name, c in counts)
    return f"""
        WITH s0 AS (
            SELECT doc_id,
                   text || ' contact u' || CAST(doc_id AS VARCHAR)
                        || '@example.com tel 555-010-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        || ' host 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
                        AS t
            FROM documents
        )
        SELECT doc_id::BIGINT AS doc_id,
               {cols},
               {clean} AS clean_text
        FROM s0
    """


def _curate_documents_sql(
    src_sql: str | None = None,
    allowed_langs: str = "'en', 'de'",
    max_pii: int = 2,
) -> str:
    """DuckDB twin of q_curate_documents, generated from the operator's own
    PII_PATTERNS / LANG_MARKERS / stopword list so no rule can drift;
    pii_hits sums the ordered count-then-replace chain of `_pii_chain_sql`,
    the same counts q_pii_redaction replays.

    ``src_sql`` overrides the planted-text source CTE body — pass a
    ``SELECT doc_id, <expr> AS t FROM documents`` to replay the gate over
    different text (corpus_stats uses the raw column); default = the
    planted PII + repetition corpus of q_curate_documents."""
    from liblevenshtein_rust_spark.operators.text import LANG_MARKERS

    pii_terms = " + ".join(c for _name, c in _pii_chain_sql("t")[0])
    langs = list(LANG_MARKERS)
    hit_cols = ",\n                   ".join(
        "len(list_filter(tl, x -> list_contains([%s], x))) AS %s_h"
        % (", ".join("'%s'" % m for m in LANG_MARKERS[lang]), lang)
        for lang in langs
    )
    best = "greatest(%s)" % ", ".join(f"{lang}_h" for lang in langs)
    pick = f"CASE WHEN {best} = 0 THEN 'und'\n"
    for lang in langs[:-1]:
        pick += f"                        WHEN {lang}_h = {best} THEN '{lang}'\n"
    pick += f"                        ELSE '{langs[-1]}' END AS lang_pred"
    if src_sql is None:
        src_sql = """
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 7 = 0
                           THEN ' contact u@example.com tel 555-010-0001 host 10.0.0.1 cc x@example.org'
                           ELSE '' END
                   || CASE WHEN doc_id % 11 = 0
                           THEN repeat(' repeat token', 20) ELSE '' END AS t
            FROM documents
        """
    return f"""
        WITH src AS ({src_sql}),
        feats AS (
            SELECT doc_id, t,
                   length(t) AS n_chars,
                   CASE WHEN length(trim(t)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(t), '\\s+')) END AS n_tokens,
                   length(regexp_replace(t, '[^a-zA-Z]', '', 'g')) AS alpha,
                   list_transform(regexp_split_to_array(trim(t), '\\s+'), x -> lower(x)) AS tl,
                   string_split(regexp_replace(trim(regexp_replace(lower(t),
                       '[^a-z0-9 ]+', ' ', 'g')), '\\s+', ' ', 'g'), ' ') AS ntk,
                   ({pii_terms})::INT AS pii_hits
            FROM src
        ),
        d1 AS (
            SELECT doc_id, n_tokens, pii_hits,
                   CASE WHEN n_chars > 0 THEN alpha / n_chars ELSE 0.0 END AS alpha_ratio,
                   CASE WHEN n_tokens > 0 THEN (n_chars - (n_tokens - 1)) / n_tokens ELSE 0.0 END AS mean_word_len,
                   len(list_distinct(list_filter(tl, x -> list_contains({_QUALITY_STOPWORDS_SQL}, x)))) AS stop_hits,
                   {hit_cols},
                   CASE WHEN len(ntk) < 2 THEN CAST([] AS VARCHAR[])
                        ELSE [array_to_string(ntk[i:i+1], ' ')
                              FOR i IN generate_series(1, len(ntk) - 1)] END AS grams
            FROM feats
        ),
        d2 AS (
            SELECT doc_id, n_tokens, pii_hits, alpha_ratio, mean_word_len, stop_hits,
                   {pick},
                   CASE WHEN len(grams) > 0
                        THEN round(1.0 - len(list_distinct(grams)) / len(grams), 6)
                        ELSE 0.0 END AS dup_frac
            FROM d1
        ),
        d3 AS (
            SELECT doc_id,
                   concat_ws(',',
                       CASE WHEN n_tokens < 5 OR n_tokens > 100000 THEN 'length' END,
                       CASE WHEN mean_word_len < 2 OR mean_word_len > 12 THEN 'word_len' END,
                       CASE WHEN alpha_ratio < 0.6 THEN 'alpha' END,
                       CASE WHEN stop_hits < 1 THEN 'stopword' END,
                       CASE WHEN lang_pred NOT IN ({allowed_langs}) THEN 'lang' END,
                       CASE WHEN dup_frac > 0.2 THEN 'repetition' END,
                       CASE WHEN pii_hits > {max_pii} THEN 'pii' END) AS reasons,
                   round((CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 0.25 ELSE 0.0 END)
                       + (CASE WHEN mean_word_len >= 2 AND mean_word_len <= 12 THEN 0.25 ELSE 0.0 END)
                       + (CASE WHEN alpha_ratio >= 0.6 THEN 0.25 ELSE 0.0 END)
                       + (CASE WHEN stop_hits >= 1 THEN 0.25 ELSE 0.0 END)::DOUBLE, 2)::DOUBLE AS quality_score,
                   lang_pred, dup_frac, pii_hits
            FROM d2
        )
        SELECT doc_id::BIGINT AS doc_id, (reasons = '') AS keep, reasons,
               quality_score, lang_pred, dup_frac, pii_hits::INT AS pii_hits
        FROM d3
    """


def _ivf_topk_sql(nprobe: int) -> str:
    """DuckDB replay of the IVF index at a given nprobe — shared by
    ann_topk_ivf (nprobe=4, the 4x-cost-cut example point) and ann_recall
    (nprobe=12, the measured >=0.9-recall operating point), so the index
    build can never drift between the two."""
    return f"""
            WITH cents AS (
                SELECT cell, centroid FROM (
                    SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS cell,
                           embedding AS centroid
                    FROM embeddings
                ) WHERE cell < 16
            ),
            assigned AS (
                SELECT vec_id, cv, cell FROM (
                    SELECT e.vec_id, e.embedding AS cv, c.cell,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) DESC,
                                        c.cell) AS r
                    FROM embeddings e, cents c
                ) WHERE r = 1
            ),
            probes AS (
                SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8
            ),
            probe_cells AS (
                SELECT query_id, qv, cell FROM (
                    SELECT p.query_id, p.qv, c.cell,
                           row_number() OVER (PARTITION BY p.query_id
                               ORDER BY list_cosine_similarity(p.qv::DOUBLE[], c.centroid::DOUBLE[]) DESC,
                                        c.cell) AS r
                    FROM probes p, cents c
                ) WHERE r <= {nprobe}
            ),
            scored AS (
                SELECT pc.query_id, a.vec_id,
                       round(list_cosine_similarity(pc.qv::DOUBLE[], a.cv::DOUBLE[]), 6) AS cos
                FROM probe_cells pc JOIN assigned a USING (cell)
            )
            SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id, cos, rank::INT AS rank
            FROM (
                SELECT query_id, vec_id, cos,
                       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
                FROM scored
            ) WHERE rank <= 5
    """


# Shared CTE prefix for the round-4 clustered-corpus ANN oracles: the
# planted-cluster blend (similarity.blend_clusters, 0.75/0.25 — exact
# binary doubles), the ~sqrt(N)-derived cell count, the IVF index build,
# probe ranking, exact brute-force top-5, and cell sizes.  Every ANN
# oracle composes from this one prefix so the index build can never drift
# between the queries.
_CLUSTERED_IVF_CTE = """
    cb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    anch AS (
        SELECT aid, av FROM (
            SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS aid, v AS av
            FROM cb
        ) WHERE aid < 8
    ),
    cl AS (
        SELECT b.vec_id,
               [0.75::DOUBLE * a.av[i] + 0.25::DOUBLE * b.v[i]
                FOR i IN generate_series(1, len(b.v))] AS cv
        FROM cb b JOIN anch a ON b.vec_id % 8 = a.aid
    ),
    nc AS (SELECT greatest(16, floor(sqrt(count(*)))::INT) AS c FROM cl),
    cents AS (
        SELECT cell, centroid FROM (
            SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS cell,
                   cv AS centroid
            FROM cl
        ) WHERE cell < (SELECT c FROM nc)
    ),
    assigned AS (
        SELECT vec_id, cv, cell FROM (
            SELECT e.vec_id, e.cv, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.cv, c.centroid) DESC,
                                c.cell) AS r
            FROM cl e, cents c
        ) WHERE r = 1
    ),
    probes AS (SELECT vec_id AS query_id, cv AS qv FROM cl WHERE vec_id < 8),
    prank AS (
        SELECT p.query_id, p.qv, c.cell,
               row_number() OVER (PARTITION BY p.query_id
                   ORDER BY list_cosine_similarity(p.qv, c.centroid) DESC,
                            c.cell) AS pr
        FROM probes p, cents c
    ),
    exact AS (
        SELECT query_id, vec_id FROM (
            SELECT p.query_id, e.vec_id,
                   row_number() OVER (PARTITION BY p.query_id
                       ORDER BY round(list_cosine_similarity(p.qv, e.cv), 6) DESC,
                                e.vec_id) AS rank
            FROM probes p, cl e
        ) WHERE rank <= 5
    ),
    sizes AS (SELECT cell, count(*) AS cell_n FROM assigned GROUP BY cell)
"""

_IVF_SWEEP_SQL = f"""
    WITH {_CLUSTERED_IVF_CTE},
    np AS (SELECT unnest([1, 2, 4, 6, 8, 16]) AS nprobe),
    rec AS (
        SELECT np.nprobe, count(*)::BIGINT AS n_exact,
               sum(CASE WHEN pr.pr <= np.nprobe THEN 1 ELSE 0 END)::BIGINT AS n_found
        FROM exact e
        JOIN assigned a USING (vec_id)
        JOIN prank pr ON pr.query_id = e.query_id AND pr.cell = a.cell
        CROSS JOIN np
        GROUP BY np.nprobe
    ),
    cost AS (
        SELECT nprobe,
               avg(scanned) / (SELECT count(*) FROM assigned) AS cf
        FROM (
            SELECT pr.query_id, np.nprobe, sum(s.cell_n) AS scanned
            FROM prank pr JOIN sizes s USING (cell) CROSS JOIN np
            WHERE pr.pr <= np.nprobe
            GROUP BY pr.query_id, np.nprobe
        )
        GROUP BY nprobe
    )
    SELECT rec.nprobe::INT AS nprobe, rec.n_exact, rec.n_found,
           round(rec.n_found / rec.n_exact, 6) AS recall_at_k,
           round(cost.cf, 6) AS candidate_frac
    FROM rec JOIN cost USING (nprobe)
"""

_ANN_RECALL_SQL = f"""
    WITH {_CLUSTERED_IVF_CTE},
    ivf AS (
        SELECT query_id, vec_id FROM (
            SELECT pc.query_id, a.vec_id,
                   row_number() OVER (PARTITION BY pc.query_id
                       ORDER BY round(list_cosine_similarity(pc.qv, a.cv), 6) DESC,
                                a.vec_id) AS rank
            FROM (SELECT query_id, qv, cell FROM prank WHERE pr <= 4) pc
            JOIN assigned a USING (cell)
        ) WHERE rank <= 5
    ),
    rec AS (
        SELECT count(DISTINCT e.query_id)::BIGINT AS n_queries,
               count(*)::BIGINT AS n_exact,
               sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_found,
               round(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                     / count(*), 6) AS recall_at_k
        FROM exact e LEFT JOIN ivf i
          ON e.query_id = i.query_id AND e.vec_id = i.vec_id
    ),
    cost AS (
        SELECT round(avg(scanned) / (SELECT count(*) FROM assigned), 6) AS candidate_frac
        FROM (
            SELECT pr.query_id, sum(s.cell_n) AS scanned
            FROM (SELECT query_id, cell FROM prank WHERE pr <= 4) pr
            JOIN sizes s USING (cell)
            GROUP BY pr.query_id
        )
    )
    SELECT rec.n_queries, rec.n_exact, rec.n_found, rec.recall_at_k,
           cost.candidate_frac
    FROM rec, cost
"""

_IVF_SQ8_SQL = f"""
    WITH {_CLUSTERED_IVF_CTE},
    qt AS (
        SELECT vec_id, cell,
               CASE WHEN s > 0 THEN list_transform(cv, x -> round(x / s)::INT)
                    ELSE list_transform(cv, x -> 0) END AS qb
        FROM (
            SELECT vec_id, cell, cv,
                   list_max(list_transform(cv, x -> abs(x))) / 127.0 AS s
            FROM assigned
        )
    ),
    qp AS (
        SELECT query_id,
               CASE WHEN s > 0 THEN list_transform(qv, x -> round(x / s)::INT)
                    ELSE list_transform(qv, x -> 0) END AS qa
        FROM (
            SELECT query_id, qv,
                   list_max(list_transform(qv, x -> abs(x))) / 127.0 AS s
            FROM probes
        )
    ),
    short AS (
        SELECT query_id, vec_id, qv, qcos FROM (
            SELECT query_id, vec_id, qv, qcos,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY qcos DESC, vec_id) AS qr
            FROM (
                SELECT pc.query_id, q.vec_id, pc.qv,
                       round(CASE WHEN list_dot_product(qp.qa, qp.qa) > 0
                                   AND list_dot_product(q.qb, q.qb) > 0
                             THEN list_dot_product(qp.qa, q.qb)
                                  / (sqrt(list_dot_product(qp.qa, qp.qa))
                                     * sqrt(list_dot_product(q.qb, q.qb)))
                             ELSE 0.0 END, 6) AS qcos
                FROM (SELECT query_id, qv, cell FROM prank WHERE pr <= 4) pc
                JOIN qt q USING (cell)
                JOIN qp ON qp.query_id = pc.query_id
            )
        ) WHERE qr <= 20
    )
    SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id,
           qcos, cos, rank::INT AS rank
    FROM (
        SELECT s.query_id, s.vec_id, s.qcos,
               round(list_cosine_similarity(s.qv, e.cv), 6) AS cos,
               row_number() OVER (PARTITION BY s.query_id
                   ORDER BY round(list_cosine_similarity(s.qv, e.cv), 6) DESC,
                            s.vec_id) AS rank
        FROM short s JOIN cl e ON e.vec_id = s.vec_id
    ) WHERE rank <= 5
"""


def oracle_sql() -> dict[str, str]:
    toks = _TOKS_CTE.format(probes=_PROBES_SQL_VALUES)
    toks_prefix = _TOKS_CTE.format(probes=_PREFIX_PROBES_SQL_VALUES)
    out = _oracle_sql_dict(toks, toks_prefix)
    out["curate_documents"] = _curate_documents_sql()
    # recall gate = intersection of the two already-verified ANN rankings;
    # composing their oracle SQL verbatim guarantees the three queries can
    # never drift apart
    out["ivf_recall_sweep"] = _IVF_SWEEP_SQL
    out["mitton_blocked_recall"] = _mitton_mini_sql()
    out["typo_corpus_recall"] = _corpus_recall_sql(_TYPO_CORPUS, 3)
    # OSA corpus: DuckDB has no OSA — damerau_levenshtein (unrestricted) is
    # exact here because every committed pair is generation-verified to
    # agree (scripts/gen_typo_corpus_osa.py retries the divergent tail)
    out["typo_corpus_recall_osa"] = _corpus_recall_sql(
        _TYPO_CORPUS_OSA, 3, fn="damerau_levenshtein"
    )
    out["hash_split"] = _hash_split_sql()
    out["modality_stats"] = _MODALITY_STATS_SQL
    # the stream replay's oracle IS the batch SQL: same probes, same
    # dictionary, same kernel — value-equality proves stream ≡ batch
    out["stream_match_replay"] = out["fuzzy_query_bucketed"]
    out["stream_dedup_replay"] = _stream_dedup_replay_sql()
    out["url_dedup"] = _URL_DEDUP_SQL
    out["link_records_weighted"] = _LINK_RECORDS_SQL
    out["link_records_learned"] = _link_records_learned_sql()
    out["link_records_decisions"] = _link_records_decisions_sql()
    out["media_decode_features"], out["media_decode_stats"] = _media_decode_sqls()
    out["domain_stats"] = _DOMAIN_STATS_SQL
    out["domain_stats_psl"] = _domain_stats_psl_sql()
    out["ann_recall"] = _ANN_RECALL_SQL
    out["ivf_sq8_topk"] = _IVF_SQ8_SQL
    out["bigram_perplexity"] = """
        WITH tk AS (
            SELECT doc_id,
                   string_split(regexp_replace(trim(regexp_replace(
                       lower(text), '[^a-z0-9 ]+', ' ', 'g')),
                       '\\s+', ' ', 'g'), ' ') AS tk
            FROM documents
        ),
        g AS (
            SELECT doc_id, unnest(grams) AS g
            FROM (
                SELECT doc_id,
                       CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
                            ELSE [array_to_string(tk[i:i+1], ' ')
                                  FOR i IN generate_series(1, len(tk) - 1)]
                       END AS grams
                FROM tk
            )
        ),
        gc AS (SELECT g, count(*) AS c_bg FROM g GROUP BY g),
        pc AS (SELECT split_part(g, ' ', 1) AS u, sum(c_bg) AS c_u
               FROM gc GROUP BY split_part(g, ' ', 1)),
        per AS (
            SELECT doc_id, count(*)::INT AS n_bigrams,
                   avg(ln(c_u) - ln(c_bg)) AS ce
            FROM g JOIN gc USING (g)
                   JOIN pc ON split_part(g.g, ' ', 1) = pc.u
            GROUP BY doc_id
        )
        SELECT doc_id::BIGINT AS doc_id, n_bigrams,
               round(ce, 6) AS cross_entropy,
               round(exp(ce), 6) AS perplexity
        FROM per
    """
    out["quantized_topk"] = """
        WITH base AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings
        ),
        qt AS (
            SELECT vec_id,
                   CASE WHEN s > 0 THEN list_transform(v, x -> round(x / s)::INT)
                        ELSE list_transform(v, x -> 0) END AS q
            FROM (
                SELECT vec_id, v,
                       list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
                FROM base
            )
        ),
        probes AS (SELECT vec_id AS query_id, q AS qa FROM qt WHERE vec_id < 8),
        scored AS (
            SELECT p.query_id, c.vec_id,
                   round(CASE WHEN list_dot_product(p.qa, p.qa) > 0
                               AND list_dot_product(c.q, c.q) > 0
                         THEN list_dot_product(p.qa, c.q)
                              / (sqrt(list_dot_product(p.qa, p.qa))
                                 * sqrt(list_dot_product(c.q, c.q)))
                         ELSE 0.0 END, 6) AS qcos
            FROM probes p, qt c
        )
        SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id,
               qcos, rank::INT AS rank
        FROM (
            SELECT query_id, vec_id, qcos,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY qcos DESC, vec_id) AS rank
            FROM scored
        ) WHERE rank <= 5
    """
    verdict = _curate_documents_sql(
        src_sql="SELECT doc_id, text AS t FROM documents",
        allowed_langs="'en'",
        max_pii=5,
    )
    out["link_tables"] = """
        WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 2000),
        a_docs AS (
            SELECT doc_id,
                   substr(md5(doc_id::VARCHAR || 'a'), 1, 8) AS e1,
                   substr(md5(doc_id::VARCHAR || 'b'), 1, 8) AS e2,
                   substr(md5(doc_id::VARCHAR || 'c'), 1, 8) AS e3
            FROM ids
        ),
        b_docs AS (
            SELECT doc_id + 100000 AS doc_id,
                   substr(e1, 1, 3) || substr(e1, 5, 4) AS e1, e2, e3
            FROM a_docs
        ),
        ta0 AS (
            SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id, unnest([e1, e2, e3]) AS token FROM a_docs)
        ),
        tb0 AS (
            SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id, unnest([e1, e2, e3]) AS token FROM b_docs)
        ),
        ra AS (SELECT * FROM ta0 WHERE token IN (
            SELECT token FROM ta0 GROUP BY token HAVING count(*) <= 50)),
        rb AS (SELECT * FROM tb0 WHERE token IN (
            SELECT token FROM tb0 GROUP BY token HAVING count(*) <= 50)),
        tm AS (
            SELECT tok_a, tok_b,
                   damerau_levenshtein(tok_a, tok_b) AS d
            FROM (SELECT DISTINCT token AS tok_a FROM ra),
                 (SELECT DISTINCT token AS tok_b FROM rb)
            WHERE abs(length(tok_a) - length(tok_b)) <= 1
              AND damerau_levenshtein(tok_a, tok_b) <= 1
        ),
        ev AS (
            SELECT ra.doc_id AS a_id, rb.doc_id AS b_id, tm.tok_a, tm.tok_b,
                   1.0 - tm.d::DOUBLE
                       / greatest(length(tm.tok_a), length(tm.tok_b)) AS w
            FROM ra JOIN tm ON ra.token = tm.tok_a
                    JOIN rb ON rb.token = tm.tok_b
        ),
        agg AS (
            SELECT a_id, b_id,
                   count(DISTINCT (tok_a, tok_b))::BIGINT AS n_matched,
                   round(sum(w), 6) AS score
            FROM ev GROUP BY a_id, b_id
            HAVING count(DISTINCT (tok_a, tok_b)) >= 2
        )
        SELECT a_id::BIGINT AS a_id, b_id::BIGINT AS b_id, n_matched, score,
               rank::INT AS rank
        FROM (
            SELECT a_id, b_id, n_matched, score,
                   row_number() OVER (PARTITION BY a_id
                       ORDER BY score DESC, n_matched DESC, b_id) AS rank
            FROM agg
        ) WHERE rank = 1
    """
    out["link_tables_mutual"] = """
        WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 2000),
        a_base AS (
            SELECT doc_id,
                   substr(md5(doc_id::VARCHAR || 'a'), 1, 8) AS e1,
                   substr(md5(doc_id::VARCHAR || 'b'), 1, 8) AS e2,
                   substr(md5(doc_id::VARCHAR || 'c'), 1, 8) AS e3,
                   substr(md5(doc_id::VARCHAR || 'z'), 1, 8) AS ez
            FROM ids
        ),
        a_docs AS (
            SELECT doc_id, e1, e2, e3 FROM a_base
            UNION ALL
            SELECT doc_id + 50000, e1, e2, e3 FROM a_base WHERE doc_id % 7 = 0
        ),
        b_docs AS (
            SELECT doc_id + 100000 AS doc_id,
                   substr(e1, 1, 3) || substr(e1, 5, 4) AS t1, e2 AS t2, e3 AS t3
            FROM a_base WHERE doc_id % 11 <> 0
            UNION ALL
            SELECT doc_id + 200000, e2, e3, ez
            FROM a_base WHERE doc_id % 5 = 0
        ),
        ta0 AS (
            SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id, unnest([e1, e2, e3]) AS token FROM a_docs)
        ),
        tb0 AS (
            SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id, unnest([t1, t2, t3]) AS token FROM b_docs)
        ),
        ra AS (SELECT * FROM ta0 WHERE token IN (
            SELECT token FROM ta0 GROUP BY token HAVING count(*) <= 50)),
        rb AS (SELECT * FROM tb0 WHERE token IN (
            SELECT token FROM tb0 GROUP BY token HAVING count(*) <= 50)),
        tm AS (
            SELECT tok_a, tok_b,
                   damerau_levenshtein(tok_a, tok_b) AS d
            FROM (SELECT DISTINCT token AS tok_a FROM ra),
                 (SELECT DISTINCT token AS tok_b FROM rb)
            WHERE abs(length(tok_a) - length(tok_b)) <= 1
              AND damerau_levenshtein(tok_a, tok_b) <= 1
        ),
        ev AS (
            SELECT ra.doc_id AS a_id, rb.doc_id AS b_id, tm.tok_a, tm.tok_b,
                   1.0 - tm.d::DOUBLE
                       / greatest(length(tm.tok_a), length(tm.tok_b)) AS w
            FROM ra JOIN tm ON ra.token = tm.tok_a
                    JOIN rb ON rb.token = tm.tok_b
        ),
        agg AS (
            SELECT a_id, b_id,
                   count(DISTINCT (tok_a, tok_b))::BIGINT AS n_matched,
                   round(sum(w), 6) AS score
            FROM ev GROUP BY a_id, b_id
            HAVING count(DISTINCT (tok_a, tok_b)) >= 2
               AND round(sum(w), 6) >= 2.5
        )
        SELECT a_id::BIGINT AS a_id, b_id::BIGINT AS b_id, n_matched, score,
               ra_rank::INT AS rank
        FROM (
            SELECT a_id, b_id, n_matched, score,
                   row_number() OVER (PARTITION BY a_id
                       ORDER BY score DESC, n_matched DESC, b_id) AS ra_rank,
                   row_number() OVER (PARTITION BY b_id
                       ORDER BY score DESC, n_matched DESC, a_id) AS rb_rank
            FROM agg
        ) WHERE ra_rank = 1 AND rb_rank = 1
    """
    out["linkage_incremental"] = """
        WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 2000),
        a_base AS (
            SELECT doc_id,
                   substr(md5(doc_id::VARCHAR || 'a'), 1, 8) AS e1,
                   substr(md5(doc_id::VARCHAR || 'b'), 1, 8) AS e2,
                   substr(md5(doc_id::VARCHAR || 'c'), 1, 8) AS e3
            FROM ids
        ),
        ta0 AS (
            SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id, unnest([e1, e2, e3]) AS token FROM a_base)
        ),
        ra AS (SELECT * FROM ta0 WHERE token IN (
            SELECT token FROM ta0 GROUP BY token HAVING count(*) <= 50)),
        b0_docs AS (
            SELECT doc_id + 100000 AS doc_id,
                   substr(e1, 1, 3) || substr(e1, 5, 4) AS t1, e2 AS t2, e3 AS t3
            FROM a_base WHERE doc_id % 2 = 0
        ),
        tb0 AS (
            SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id, unnest([t1, t2, t3]) AS token FROM b0_docs)
        ),
        rb0 AS (SELECT * FROM tb0 WHERE token IN (
            SELECT token FROM tb0 GROUP BY token HAVING count(*) <= 50)),
        bd_docs AS (
            SELECT doc_id + 300000 AS doc_id, e1 AS t1, e2 AS t2, e3 AS t3
            FROM a_base WHERE doc_id % 3 = 0
        ),
        tbd AS (
            SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id, unnest([t1, t2, t3]) AS token FROM bd_docs)
        ),
        rbd AS (SELECT * FROM tbd WHERE token IN (
            SELECT token FROM tbd GROUP BY token HAVING count(*) <= 50)),
        tm0 AS (
            SELECT tok_a, tok_b, damerau_levenshtein(tok_a, tok_b) AS d
            FROM (SELECT DISTINCT token AS tok_a FROM ra),
                 (SELECT DISTINCT token AS tok_b FROM rb0)
            WHERE abs(length(tok_a) - length(tok_b)) <= 1
              AND damerau_levenshtein(tok_a, tok_b) <= 1
        ),
        standing AS (
            SELECT a_id, b_id, n_matched, score FROM (
                SELECT a_id, b_id, n_matched, score,
                       row_number() OVER (PARTITION BY a_id
                           ORDER BY score DESC, n_matched DESC, b_id) AS r
                FROM (
                    SELECT ra.doc_id AS a_id, rb0.doc_id AS b_id,
                           count(DISTINCT (tm0.tok_a, tm0.tok_b))::BIGINT AS n_matched,
                           round(sum(1.0 - tm0.d::DOUBLE
                               / greatest(length(tm0.tok_a), length(tm0.tok_b))), 6) AS score
                    FROM ra JOIN tm0 ON ra.token = tm0.tok_a
                            JOIN rb0 ON rb0.token = tm0.tok_b
                    GROUP BY ra.doc_id, rb0.doc_id
                    HAVING count(DISTINCT (tm0.tok_a, tm0.tok_b)) >= 2
                )
            ) WHERE r = 1
        ),
        tmd AS (
            SELECT tok_a, tok_b, damerau_levenshtein(tok_a, tok_b) AS d
            FROM (SELECT DISTINCT token AS tok_a FROM ra),
                 (SELECT DISTINCT token AS tok_b FROM rbd)
            WHERE abs(length(tok_a) - length(tok_b)) <= 1
              AND damerau_levenshtein(tok_a, tok_b) <= 1
        ),
        delta_best AS (
            SELECT a_id, b_id, n_matched, score FROM (
                SELECT a_id, b_id, n_matched, score,
                       row_number() OVER (PARTITION BY a_id
                           ORDER BY score DESC, n_matched DESC, b_id) AS r
                FROM (
                    SELECT ra.doc_id AS a_id, rbd.doc_id AS b_id,
                           count(DISTINCT (tmd.tok_a, tmd.tok_b))::BIGINT AS n_matched,
                           round(sum(1.0 - tmd.d::DOUBLE
                               / greatest(length(tmd.tok_a), length(tmd.tok_b))), 6) AS score
                    FROM ra JOIN tmd ON ra.token = tmd.tok_a
                            JOIN rbd ON rbd.token = tmd.tok_b
                    GROUP BY ra.doc_id, rbd.doc_id
                    HAVING count(DISTINCT (tmd.tok_a, tmd.tok_b)) >= 2
                )
            ) WHERE r = 1
        )
        , merged AS (
            SELECT coalesce(s.a_id, d.a_id) AS a_id,
                   s.b_id AS s_b, s.n_matched AS s_n, s.score AS s_sc,
                   d.b_id AS d_b, d.n_matched AS d_n, d.score AS d_sc,
                   CASE WHEN s.a_id IS NULL THEN TRUE
                        WHEN d.a_id IS NULL THEN FALSE
                        WHEN d.score > s.score THEN TRUE
                        WHEN d.score = s.score AND d.n_matched > s.n_matched THEN TRUE
                        WHEN d.score = s.score AND d.n_matched = s.n_matched
                             AND d.b_id < s.b_id THEN TRUE
                        ELSE FALSE END AS dwins
            FROM standing s FULL OUTER JOIN delta_best d ON s.a_id = d.a_id
        )
        SELECT a_id::BIGINT AS a_id,
               (CASE WHEN dwins THEN d_b ELSE s_b END)::BIGINT AS b_id,
               (CASE WHEN dwins THEN d_n ELSE s_n END)::BIGINT AS n_matched,
               CASE WHEN dwins THEN d_sc ELSE s_sc END AS score,
               dwins AS changed
        FROM merged
    """
    # Full INDEPENDENT mutual rebuild over A-with-duplicates x (B0 ∪ delta):
    # rank-1 from both sides — the delta-merge ≡ rebuild gate.
    out["linkage_incremental_mutual"] = """
        WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 2000),
        a_base AS (
            SELECT doc_id,
                   substr(md5(doc_id::VARCHAR || 'a'), 1, 8) AS e1,
                   substr(md5(doc_id::VARCHAR || 'b'), 1, 8) AS e2,
                   substr(md5(doc_id::VARCHAR || 'c'), 1, 8) AS e3
            FROM ids
        ),
        a_all AS (
            SELECT doc_id, e1, e2, e3 FROM a_base
            UNION ALL
            SELECT doc_id + 50000, e1, e2, e3 FROM a_base WHERE doc_id % 10 = 0
        ),
        ta0 AS (
            SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id, unnest([e1, e2, e3]) AS token FROM a_all)
        ),
        ra AS (SELECT * FROM ta0 WHERE token IN (
            SELECT token FROM ta0 GROUP BY token HAVING count(*) <= 50)),
        b_all AS (
            SELECT doc_id + 100000 AS doc_id,
                   substr(e1, 1, 3) || substr(e1, 5, 4) AS t1, e2 AS t2, e3 AS t3
            FROM a_base WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id + 300000, e1, e2, e3
            FROM a_base WHERE doc_id % 3 = 0
        ),
        tb0 AS (
            SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id, unnest([t1, t2, t3]) AS token FROM b_all)
        ),
        rb AS (SELECT * FROM tb0 WHERE token IN (
            SELECT token FROM tb0 GROUP BY token HAVING count(*) <= 50)),
        tm AS (
            SELECT tok_a, tok_b, damerau_levenshtein(tok_a, tok_b) AS d
            FROM (SELECT DISTINCT token AS tok_a FROM ra),
                 (SELECT DISTINCT token AS tok_b FROM rb)
            WHERE abs(length(tok_a) - length(tok_b)) <= 1
              AND damerau_levenshtein(tok_a, tok_b) <= 1
        ),
        agg AS (
            SELECT ra.doc_id AS a_id, rb.doc_id AS b_id,
                   count(DISTINCT (tm.tok_a, tm.tok_b))::BIGINT AS n_matched,
                   round(sum(1.0 - tm.d::DOUBLE
                       / greatest(length(tm.tok_a), length(tm.tok_b))), 6) AS score
            FROM ra JOIN tm ON ra.token = tm.tok_a
                    JOIN rb ON rb.token = tm.tok_b
            GROUP BY ra.doc_id, rb.doc_id
            HAVING count(DISTINCT (tm.tok_a, tm.tok_b)) >= 2
        ),
        ranked AS (
            SELECT a_id, b_id, n_matched, score,
                   row_number() OVER (PARTITION BY a_id
                       ORDER BY score DESC, n_matched DESC, b_id) AS rka,
                   row_number() OVER (PARTITION BY b_id
                       ORDER BY score DESC, n_matched DESC, a_id) AS rkb
            FROM agg
        )
        SELECT a_id::BIGINT AS a_id, b_id::BIGINT AS b_id, n_matched, score,
               (b_id >= 300000) AS changed
        FROM ranked WHERE rka = 1 AND rkb = 1
    """
    out["linkage_quality"] = f"""
        WITH links AS ({out["link_tables"]}),
        n_a AS (SELECT count(*)::DOUBLE AS n FROM documents WHERE doc_id < 2000)
        SELECT count(*)::BIGINT AS n_links,
               sum(CASE WHEN b_id = a_id + 100000 THEN 1 ELSE 0 END)::BIGINT AS n_correct,
               round(sum(CASE WHEN b_id = a_id + 100000 THEN 1 ELSE 0 END)
                     / count(*), 6) AS precision,
               round(sum(CASE WHEN b_id = a_id + 100000 THEN 1 ELSE 0 END)
                     / (SELECT n FROM n_a), 6) AS recall
        FROM links
    """
    code_a = _phonetic_rules_sql("tok_a", "skeleton")
    code_b = _phonetic_rules_sql("tok_b", "skeleton")
    out["link_tables_phonetic"] = f"""
        WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 2000),
        a_docs AS (
            SELECT doc_id,
                   substr(md5(doc_id::VARCHAR || 'a'), 1, 8) AS e1,
                   substr(md5(doc_id::VARCHAR || 'b'), 1, 8) AS e2,
                   substr(md5(doc_id::VARCHAR || 'c'), 1, 8) AS e3
            FROM ids
        ),
        b_docs AS (
            SELECT doc_id + 100000 AS doc_id, e1 || 'aaa' AS e1, e2, e3
            FROM a_docs
        ),
        ta0 AS (
            SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id, unnest([e1, e2, e3]) AS token FROM a_docs)
        ),
        tb0 AS (
            SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id, unnest([e1, e2, e3]) AS token FROM b_docs)
        ),
        ra AS (SELECT * FROM ta0 WHERE token IN (
            SELECT token FROM ta0 GROUP BY token HAVING count(*) <= 50)),
        rb AS (SELECT * FROM tb0 WHERE token IN (
            SELECT token FROM tb0 GROUP BY token HAVING count(*) <= 50)),
        edit AS (
            SELECT tok_a, tok_b,
                   1.0 - damerau_levenshtein(tok_a, tok_b)::DOUBLE
                       / greatest(length(tok_a), length(tok_b)) AS w
            FROM (SELECT DISTINCT token AS tok_a FROM ra),
                 (SELECT DISTINCT token AS tok_b FROM rb)
            WHERE abs(length(tok_a) - length(tok_b)) <= 1
              AND damerau_levenshtein(tok_a, tok_b) <= 1
        ),
        pa AS (SELECT DISTINCT token AS tok_a FROM ra),
        pb AS (SELECT DISTINCT token AS tok_b FROM rb),
        pac AS (SELECT tok_a, {code_a} AS code FROM pa),
        pbc AS (SELECT tok_b, {code_b} AS code FROM pb),
        ph AS (
            SELECT pac.tok_a, pbc.tok_b, 0.5 AS w
            FROM pac JOIN pbc USING (code)
            WHERE NOT EXISTS (SELECT 1 FROM edit e
                              WHERE e.tok_a = pac.tok_a AND e.tok_b = pbc.tok_b)
        ),
        tm AS (SELECT * FROM edit UNION ALL SELECT * FROM ph),
        ev AS (
            SELECT ra.doc_id AS a_id, rb.doc_id AS b_id, tm.tok_a, tm.tok_b, tm.w
            FROM ra JOIN tm ON ra.token = tm.tok_a
                    JOIN rb ON rb.token = tm.tok_b
        ),
        agg AS (
            SELECT a_id, b_id,
                   count(DISTINCT (tok_a, tok_b))::BIGINT AS n_matched,
                   round(sum(w), 6) AS score
            FROM ev GROUP BY a_id, b_id
            HAVING count(DISTINCT (tok_a, tok_b)) >= 2
        )
        SELECT a_id::BIGINT AS a_id, b_id::BIGINT AS b_id, n_matched, score,
               rank::INT AS rank
        FROM (
            SELECT a_id, b_id, n_matched, score,
                   row_number() OVER (PARTITION BY a_id
                       ORDER BY score DESC, n_matched DESC, b_id) AS rank
            FROM agg
        ) WHERE rank = 1
    """
    out["quality_weighted_sample"] = f"""
        SELECT doc_id::BIGINT AS doc_id, quality_score
        FROM ({verdict}) v
        WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
              < 0.9 * 4294967296 * quality_score
    """
    out["corpus_stats"] = f"""
        SELECT d.source AS grp,
               count(*)::BIGINT AS n_docs,
               sum(CASE WHEN length(trim(d.text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(d.text), '\\s+'))
                   END)::BIGINT AS n_tokens,
               sum(CASE WHEN v.keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
               round(avg(v.quality_score), 6) AS avg_quality,
               count(DISTINCT v.lang_pred)::BIGINT AS n_langs
        FROM documents d JOIN ({verdict}) v USING (doc_id)
        GROUP BY d.source
    """
    out["semantic_dedup"] = """
        WITH cents AS (
            SELECT cell, centroid FROM (
                SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1 AS cell,
                       embedding AS centroid
                FROM embeddings WHERE vec_id < 1000
            ) WHERE cell < 8
        ),
        assigned AS (
            SELECT vec_id, cv, cell, cdist FROM (
                SELECT e.vec_id, e.embedding AS cv, c.cell,
                       list_cosine_similarity(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) AS cdist,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) DESC,
                                    c.cell) AS r
                FROM (SELECT * FROM embeddings WHERE vec_id < 1000) e, cents c
            ) WHERE r = 1
        ),
        ranked AS (
            SELECT vec_id, cv, cell,
                   row_number() OVER (PARTITION BY cell
                       ORDER BY cdist DESC, vec_id) AS cell_rank
            FROM assigned
        ),
        dropped AS (
            SELECT DISTINCT b.vec_id
            FROM ranked a JOIN ranked b
              ON a.cell = b.cell AND a.cell_rank < b.cell_rank
            WHERE round(list_cosine_similarity(b.cv::DOUBLE[], a.cv::DOUBLE[]), 6) >= 0.42
        )
        SELECT r.vec_id::BIGINT AS vec_id, r.cell::INT AS cell,
               r.cell_rank::INT AS cell_rank,
               (d.vec_id IS NULL) AS keep
        FROM ranked r LEFT JOIN dropped d ON r.vec_id = d.vec_id
    """
    # The Bloom-prefiltered decontamination is value-identical to the exact
    # operator BY CONSTRUCTION (the verify join removes false positives;
    # parity asserted in test_bloom_contamination_parity) — same oracle.
    out["bloom_contamination"] = out["contamination_overlap"]
    return out


def _oracle_sql_dict(toks: str, toks_prefix: str) -> dict[str, str]:
    return {
        "fuzzy_query_d2_standard": f"""
            WITH {toks}
            SELECT p.query, t.term, levenshtein(p.query, t.term)::INT AS distance
            FROM probes p, toks t
            WHERE levenshtein(p.query, t.term) <= 2
        """,
        # identical result contract to d2_standard — the bucketed path
        # changes the physical plan (prebuilt bucketBy(key) index), not the
        # semantics, so the oracle is the same linear-scan DP
        "fuzzy_query_bucketed": f"""
            WITH {toks}
            SELECT p.query, t.term, levenshtein(p.query, t.term)::INT AS distance
            FROM probes p, toks t
            WHERE levenshtein(p.query, t.term) <= 2
        """,
        "fuzzy_query_d3_standard": f"""
            WITH {toks},
            d3_probes AS (SELECT * FROM (VALUES {", ".join(f"('{p}')" for p in D3_PROBES)}) v(query))
            SELECT p.query, t.term, levenshtein(p.query, t.term)::INT AS distance
            FROM d3_probes p, toks t
            WHERE levenshtein(p.query, t.term) <= 3
        """,
        "fuzzy_query_topk": f"""
            WITH {toks},
            scored AS (
                SELECT p.query, t.term, levenshtein(p.query, t.term)::INT AS distance
                FROM probes p, toks t
                WHERE levenshtein(p.query, t.term) <= 2
            )
            SELECT query, term, distance FROM (
                SELECT query, term, distance,
                       row_number() OVER (PARTITION BY query ORDER BY distance, term) AS rk
                FROM scored
            ) WHERE rk <= 3
        """,
        # Full merge-and-split DP as a recursive CTE: one iteration per query
        # char; each working row carries DP rows i and i-1 as 1-based lists.
        # Insertion's in-row dependency is eliminated by the prefix-min-with-
        # slope transform: d[i][j] = min_{k<=j}(pre[i][k] + (j-k)) where pre
        # excludes insertions.  Recurrence per kernel/distances.py:74
        # (delete, insert, sub/match, merge D[i-2][j-1]+1, split D[i-1][j-2]+1).
        "fuzzy_query_merge_split_d2": f"""
            WITH RECURSIVE {toks},
            pairs AS (
                SELECT p.query AS q, t.term AS t FROM probes p, toks t
                WHERE abs(length(p.query) - length(t.term)) <= 2
            ),
            dp AS (
                SELECT q, t, 0 AS i,
                       list_transform(generate_series(0, length(t)), j -> j) AS curr,
                       NULL::BIGINT[] AS prev
                FROM pairs
                UNION ALL
                SELECT q, t, i + 1,
                       list_transform(generate_series(0, length(t)), j ->
                           list_min(list_transform(generate_series(0, j), k ->
                               (CASE WHEN k = 0 THEN curr[1] + 1
                                     ELSE least(
                                         curr[k + 1] + 1,
                                         curr[k] + CASE WHEN substr(q, i + 1, 1) = substr(t, k, 1)
                                                   THEN 0 ELSE 1 END,
                                         COALESCE(prev[k] + 1, 99),
                                         CASE WHEN k >= 2 THEN curr[k - 1] + 1 ELSE 99 END)
                                END) + (j - k)))
                       ) AS curr,
                       curr AS prev
                FROM dp WHERE i < length(q)
            )
            SELECT q AS query, t AS term, curr[length(t) + 1]::INT AS distance
            FROM dp
            WHERE i = length(q) AND curr[length(t) + 1] <= 2
        """,
        "fuzzy_query_transposition_d1": f"""
            WITH {toks}
            SELECT p.query, t.term, damerau_levenshtein(p.query, t.term)::INT AS distance
            FROM probes p, toks t
            WHERE damerau_levenshtein(p.query, t.term) <= 1
        """,
        "fuzzy_query_prefix": f"""
            WITH {toks_prefix}
            SELECT query, term, distance FROM (
                SELECT p.query, t.term,
                       min(levenshtein(p.query, substr(t.term, 1, g.k)))::INT AS distance
                FROM probes p, toks t, generate_series(0, 64) g(k)
                WHERE g.k <= length(t.term)
                GROUP BY p.query, t.term
            ) WHERE distance <= 1
        """,
        "fuzzy_query_ocr_subs": f"""
            WITH {_PLAIN_TOKS_CTE},
            probes AS (SELECT * FROM (VALUES {", ".join(f"('{p}')" for p in OCR_PROBES)}) v(query))
            SELECT p.query, t.term,
                   levenshtein(translate(p.query, '05', 'os'), translate(t.term, '05', 'os'))::INT AS distance
            FROM probes p, toks t
            WHERE levenshtein(translate(p.query, '05', 'os'), translate(t.term, '05', 'os')) <= 1
        """,
        "exact_contains": f"""
            WITH {toks}
            SELECT p.query FROM probes p
            WHERE p.query IN (SELECT term FROM toks)
        """,
        "fuzzy_multimap": f"""
            WITH {toks},
            tokmap AS (
                SELECT doc_id, t AS term FROM (
                    SELECT doc_id,
                           unnest(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' ')) AS t
                    FROM documents
                ) WHERE t <> ''
            ),
            matched AS (
                SELECT p.query, t.term FROM probes p, toks t
                WHERE levenshtein(p.query, t.term) <= 1
            )
            SELECT m.query,
                   count(DISTINCT tm.doc_id)::BIGINT AS n_values,
                   min(tm.doc_id)::BIGINT AS min_value,
                   max(tm.doc_id)::BIGINT AS max_value,
                   count(DISTINCT m.term)::BIGINT AS n_terms,
                   array_to_string(list_sort(list(DISTINCT tm.doc_id)), ',') AS "values"
            FROM matched m JOIN tokmap tm ON m.term = tm.term
            GROUP BY m.query
        """,
        "blocking_key_stats": f"""
            WITH {toks},
            keys AS (
                SELECT DISTINCT term,
                       CASE WHEN length(term) < 3 THEN term
                            ELSE substr(term, g.k, 3) END AS key
                FROM toks, generate_series(1, 64) g(k)
                WHERE g.k <= greatest(length(term) - 2, 1)
            )
            SELECT key, count(DISTINCT term)::BIGINT AS n_terms
            FROM keys GROUP BY key
        """,
        # NUL-padded sort key == unpadded prefix ordering on [a-z0-9]+ data
        # (NUL is the minimal byte), so the oracle orders by the raw prefix.
        "sorted_neighborhood_pairs": f"""
            WITH {_PLAIN_TOKS_CTE},
            ranked AS (
                SELECT term,
                       row_number() OVER (ORDER BY substr(reverse(term), 1, 5), term) AS rn
                FROM toks
            )
            SELECT DISTINCT least(a.term, b.term) AS left_id,
                            greatest(a.term, b.term) AS right_id
            FROM ranked a JOIN ranked b ON b.rn > a.rn AND b.rn <= a.rn + 4
        """,
        "exact_dedup_groups": """
            SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS text_hash,
                   count(*)::BIGINT AS n_docs,
                   min(doc_id)::BIGINT AS keep_id
            FROM documents GROUP BY 1
        """,
        "minhash_lsh_pairs": f"""
            WITH {_CORPUS_CTE},
            {_SHINGLES_CTE.format(src="corpus")},
            nonempty AS (SELECT * FROM shing WHERE len(sh) > 0),
            -- Carter-Wegman double hashing, mirroring the engine: one md5
            -- per shingle, h1/h2 = 56-bit halves, i-th hash = h1 + i*h2
            hx AS (
                SELECT doc_id,
                       [{{'h1': ('0x' || substr(md5(s), 1, 14))::BIGINT,
                          'h2': ('0x' || substr(md5(s), 17, 14))::BIGINT}}
                        FOR s IN sh] AS hs
                FROM nonempty
            ),
            sig AS (
                SELECT doc_id,
                       [list_min([h['h1'] + i * h['h2'] FOR h IN hs])
                        FOR i IN generate_series(0, 15)] AS sig
                FROM hx
            ),
            banded AS (
                SELECT doc_id, b,
                       md5(array_to_string(sig[4*b+1:4*b+4], '|')) AS bucket
                FROM sig, unnest(generate_series(0, 3)) g(b)
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS left_id, c.doc_id AS right_id
                FROM banded a JOIN banded c USING (b, bucket)
                WHERE a.doc_id < c.doc_id
            ),
            paired AS (
                SELECT cand.left_id, cand.right_id, s1.sh AS lsh, s2.sh AS rsh
                FROM cand
                JOIN nonempty s1 ON s1.doc_id = cand.left_id
                JOIN nonempty s2 ON s2.doc_id = cand.right_id
            )
            SELECT left_id::BIGINT AS left_id, right_id::BIGINT AS right_id, jaccard
            FROM (SELECT left_id, right_id, {_JACCARD_EXPR} AS jaccard FROM paired)
            WHERE jaccard >= 0.5
        """,
        "ngram_jaccard_pairs": f"""
            WITH {_CORPUS_CTE},
            {_SHINGLES_CTE.format(src="corpus")},
            nonempty AS (SELECT * FROM shing WHERE len(sh) > 0),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM nonempty),
            cand AS (
                SELECT DISTINCT a.doc_id AS left_id, c.doc_id AS right_id
                FROM ex a JOIN ex c USING (g)
                WHERE a.doc_id < c.doc_id
            ),
            paired AS (
                SELECT cand.left_id, cand.right_id, s1.sh AS lsh, s2.sh AS rsh
                FROM cand
                JOIN nonempty s1 ON s1.doc_id = cand.left_id
                JOIN nonempty s2 ON s2.doc_id = cand.right_id
            )
            SELECT left_id::BIGINT AS left_id, right_id::BIGINT AS right_id, jaccard
            FROM (SELECT left_id, right_id, {_JACCARD_EXPR} AS jaccard FROM paired)
            WHERE jaccard >= 0.5
        """,
        "simhash_fingerprints": f"""
            WITH {_SIMHASH_CTE.format(src="documents")}
            SELECT doc_id::BIGINT AS doc_id, simhash FROM simh
        """,
        "simhash_near_pairs": f"""
            WITH {_CORPUS_CTE},
            {_SIMHASH_CTE.format(src="corpus")}
            SELECT a.doc_id::BIGINT AS left_id, c.doc_id::BIGINT AS right_id,
                   bit_count(xor(a.simhash, c.simhash))::INT AS hamming
            FROM simh a JOIN simh c ON a.doc_id < c.doc_id
            WHERE bit_count(xor(a.simhash, c.simhash)) <= 3
        """,
        "embedding_cosine_pairs": """
            SELECT a.vec_id::BIGINT AS left_id, c.vec_id::BIGINT AS right_id,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos
            FROM embeddings a JOIN embeddings c ON a.vec_id < c.vec_id
            WHERE a.vec_id < 1000 AND c.vec_id < 1000
              AND round(list_cosine_similarity(a.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) >= 0.35
        """,
        "lsh_embedding_near_pairs": f"""
            WITH sig AS (
                SELECT vec_id, embedding,
                       {" || ".join(
                           f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {plane}) >= 0 "
                           "THEN '1' ELSE '0' END)"
                           for plane in _hyperplane_signs_sql(4, 64)
                       )} AS bucket
                FROM embeddings WHERE vec_id < 1000
            )
            SELECT left_id, right_id, cos FROM (
                SELECT a.vec_id::BIGINT AS left_id, b.vec_id::BIGINT AS right_id,
                       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
                FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            ) WHERE cos >= 0.35
        """,
        "ann_topk_bruteforce": """
            WITH probes AS (
                SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8
            ),
            scored AS (
                SELECT p.query_id, e.vec_id,
                       round(list_cosine_similarity(p.qv::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cos
                FROM probes p, embeddings e
            )
            SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id, cos, rank::INT AS rank
            FROM (
                SELECT query_id, vec_id, cos,
                       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        # IVF is approximate vs brute force but fully DETERMINISTIC given the
        # md5-ordered centroid pick, so the oracle replays the index build:
        # same 16 centroids, same nearest-cell assignment (unrounded cosine,
        # bit-identical accumulation order), same nprobe=4 probe cells, same
        # top-k ranking as ann_topk_bruteforce.
        "ann_topk_ivf": _ivf_topk_sql(nprobe=4),
        "span_roundtrip": """
            SELECT doc_id::BIGINT AS doc_id,
                   CASE WHEN (i - 1) % 5 = 4 THEN 'media' ELSE 'text' END AS kind,
                   CASE WHEN (i - 1) % 5 = 4 THEN '' ELSE tk[i] END AS text,
                   CASE WHEN (i - 1) % 5 = 4
                        THEN 'm' || doc_id::VARCHAR || '_' || (i - 1)::VARCHAR
                        ELSE '' END AS media_ref,
                   (i - 1)::INT AS offset
            FROM (SELECT doc_id,
                         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS tk
                  FROM documents),
                 unnest(generate_series(1, len(tk))) g(i)
        """,
        "media_features": """
            WITH refs AS (
                SELECT DISTINCT 'm' || doc_id::VARCHAR || '_' || (i - 1)::VARCHAR AS media_ref
                FROM (SELECT doc_id,
                             string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS tk
                      FROM documents),
                     unnest(generate_series(1, len(tk))) g(i)
                WHERE (i - 1) % 5 = 4
            ),
            -- payload byte k (k in 0..99) = sha256(ref) digest byte (k mod 32)
            pl AS (
                SELECT media_ref,
                       [('0x' || substr(sha256(media_ref), 2 * (k % 32) + 1, 2))::INT
                        FOR k IN generate_series(0, 99)] AS b
                FROM refs
            )
            -- feature j = mean over 7 rows of the zero-padded (112-byte) 16-wide
            -- reshape, / 255; one row per (media_ref, dim)
            SELECT media_ref, 100::INT AS n_bytes, j::INT AS dim,
                   round(sum(CASE WHEN 16 * r + j < 100 THEN b[16 * r + j + 1]
                                  ELSE 0 END) / 7.0 / 255.0, 3) AS value
            FROM pl, generate_series(0, 15) gj(j), generate_series(0, 6) gr(r)
            GROUP BY media_ref, j
        """,
        # resize replay: payload byte k of the stub = sha256 digest byte
        # (k % 32); the 4x4 nearest-neighbor pick from the 10x10 grid is
        # idx = (r*10//4)*10 + (c*10//4), flattened over k = 4r + c
        "media_resize": """
            WITH refs AS (
                SELECT DISTINCT 'm' || doc_id::VARCHAR || '_' || (i - 1)::VARCHAR AS media_ref
                FROM (SELECT doc_id,
                             string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS tk
                      FROM documents),
                     unnest(generate_series(1, len(tk))) g(i)
                WHERE (i - 1) % 5 = 4
            )
            SELECT media_ref, 4::INT AS width, 4::INT AS height, 16::INT AS n_bytes,
                   array_to_string(
                       [substr(sha256(media_ref),
                               2 * (((((k // 4) * 10) // 4) * 10
                                     + (((k % 4) * 10) // 4)) % 32) + 1, 2)
                        FOR k IN generate_series(0, 15)], '') AS payload_hex
            FROM refs
        """,
        "media_frame_sample": """
            WITH media AS (
                SELECT doc_id, (i - 1) AS "offset",
                       'm' || doc_id::VARCHAR || '_' || (i - 1)::VARCHAR AS media_ref
                FROM (SELECT doc_id,
                             string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS tk
                      FROM documents),
                     unnest(generate_series(1, len(tk))) g(i)
                WHERE (i - 1) % 5 = 4
            )
            SELECT doc_id::BIGINT AS doc_id, "offset"::INT AS "offset", media_ref
            FROM (
                SELECT doc_id, "offset", media_ref,
                       row_number() OVER (PARTITION BY doc_id ORDER BY "offset") AS rn
                FROM media
            ) WHERE (rn - 1) % 2 = 0
        """,
        "fuzzy_query_weighted_nosub": f"""
            WITH {toks}
            SELECT p.query, t.term,
                   CASE WHEN p.query = t.term THEN 0 ELSE 1 END AS distance
            FROM probes p, toks t
            WHERE p.query = t.term
               OR (levenshtein(p.query, t.term) = 1
                   AND abs(length(p.query) - length(t.term)) = 1)
        """,
        # Weighted DP replay of the generalized op set (match/sub/ins/del at
        # 1.0 plus restricted digraph ops ph<->f, ck<->k at 0.5), same row
        # recurrence as the merge-split CTE but DOUBLE-valued: the inner k
        # chooses where the last non-insert op landed, + (j-k) unit inserts.
        "fuzzy_query_generalized_ops": f"""
            WITH RECURSIVE {_PLAIN_TOKS_CTE},
            probes AS (SELECT * FROM (VALUES {", ".join(f"('{p}')" for p in GENERALIZED_OPS_PROBES)}) v(query)),
            pairs AS (
                -- length prefilter at the op-derived drift bound: |tx-ty|/w
                -- maxes at 1/0.5 = 2 for the digraph ops (budget 1.0)
                SELECT p.query AS q, t.term AS t FROM probes p, toks t
                WHERE abs(length(p.query) - length(t.term)) <= 2
            ),
            dp AS (
                SELECT q, t, 0 AS i,
                       list_transform(generate_series(0, length(t)), j -> j::DOUBLE) AS curr,
                       NULL::DOUBLE[] AS prev
                FROM pairs
                UNION ALL
                SELECT q, t, i + 1,
                       list_transform(generate_series(0, length(t)), j ->
                           list_min(list_transform(generate_series(0, j), k ->
                               (CASE WHEN k = 0 THEN curr[1] + 1.0
                                     ELSE least(
                                         curr[k + 1] + 1.0,
                                         curr[k] + CASE WHEN substr(q, i + 1, 1) = substr(t, k, 1)
                                                   THEN 0.0 ELSE 1.0 END,
                                         CASE WHEN k >= 2 AND substr(q, i + 1, 1) = 'f'
                                                   AND substr(t, k - 1, 2) = 'ph'
                                              THEN curr[k - 1] + 0.5 ELSE 99.0 END,
                                         CASE WHEN k >= 2 AND substr(q, i + 1, 1) = 'k'
                                                   AND substr(t, k - 1, 2) = 'ck'
                                              THEN curr[k - 1] + 0.5 ELSE 99.0 END,
                                         CASE WHEN i >= 1 AND substr(q, i, 2) = 'ph'
                                                   AND substr(t, k, 1) = 'f'
                                              THEN COALESCE(prev[k], 99.0) + 0.5 ELSE 99.0 END,
                                         CASE WHEN i >= 1 AND substr(q, i, 2) = 'ck'
                                                   AND substr(t, k, 1) = 'k'
                                              THEN COALESCE(prev[k], 99.0) + 0.5 ELSE 99.0 END)
                                END) + (j - k)::DOUBLE))
                       ) AS curr,
                       curr AS prev
                FROM dp WHERE i < length(q)
            )
            SELECT q AS query, t AS term, round(curr[length(t) + 1], 1) AS distance
            FROM dp
            WHERE i = length(q) AND curr[length(t) + 1] <= 1.0
        """,
        # Same recursive-CTE DP as generalized_ops but with the
        # UNRESTRICTED ⟨3,1,1.0⟩ op: D[i+1][j] <- D[i][j-3] + 1 for any
        # chars (no substr equality check) — inner-k form curr[k-2] + 1.0
        # at k >= 3.  All weights integral → INT distances on both sides.
        "fuzzy_query_multichar_ops": f"""
            WITH RECURSIVE {_PLAIN_TOKS_CTE},
            probes AS (SELECT * FROM (VALUES {", ".join(f"('{p}')" for p in MULTICHAR_OPS_PROBES)}) v(query)),
            pairs AS (
                -- length prefilter at the op-derived drift bound:
                -- |tx-ty|/w maxes at 2/1 for the ⟨3,1⟩ op (budget 1)
                SELECT p.query AS q, t.term AS t FROM probes p, toks t
                WHERE abs(length(p.query) - length(t.term)) <= 2
            ),
            dp AS (
                SELECT q, t, 0 AS i,
                       list_transform(generate_series(0, length(t)), j -> j::DOUBLE) AS curr
                FROM pairs
                UNION ALL
                SELECT q, t, i + 1,
                       list_transform(generate_series(0, length(t)), j ->
                           list_min(list_transform(generate_series(0, j), k ->
                               (CASE WHEN k = 0 THEN curr[1] + 1.0
                                     ELSE least(
                                         curr[k + 1] + 1.0,
                                         curr[k] + CASE WHEN substr(q, i + 1, 1) = substr(t, k, 1)
                                                   THEN 0.0 ELSE 1.0 END,
                                         CASE WHEN k >= 3 THEN curr[k - 2] + 1.0 ELSE 99.0 END)
                                END) + (j - k)::DOUBLE))
                       ) AS curr
                FROM dp WHERE i < length(q)
            )
            SELECT q AS query, t AS term, curr[length(t) + 1]::INT AS distance
            FROM dp
            WHERE i = length(q) AND curr[length(t) + 1] <= 1.0
        """,
        "token_stats": """
            SELECT doc_id::BIGINT AS doc_id,
                   (CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::INT AS ws_tokens,
                   length(text)::INT AS n_chars
            FROM documents
        """,
        "chunk_documents": """
            WITH tk AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
                FROM documents WHERE length(trim(text)) > 0
            )
            SELECT doc_id::BIGINT AS doc_id, (s // 24)::INT AS chunk_id,
                   least(len(toks) - s, 32)::INT AS n_tokens,
                   array_to_string(list_slice(toks, s + 1, s + 32), ' ') AS chunk_text
            FROM tk, unnest(generate_series(0, len(toks) - 1, 24)) g(s)
        """,
        "tfidf_keywords": """
            WITH toks AS (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
                FROM documents WHERE length(trim(text)) > 0
            ),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
            df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.token, tf.tf, df.df,
                       tf.tf * (ln((n.n + 1)::DOUBLE / (df.df + 1)) + 1.0) AS score
                FROM tf JOIN df USING (token), n
            )
            SELECT doc_id::BIGINT AS doc_id, token, tf::INT AS tf, df::INT AS df,
                   round(score, 6) AS score, rank::INT AS rank
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY score DESC, token) AS rank
                  FROM scored)
            WHERE rank <= 3
        """,
        # self-unigram LM: every token count >= 1, so the closed form
        # ln(N) - avg(ln(c)) replays exactly (rounded to 6dp on both sides)
        "unigram_perplexity": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split(regexp_replace(trim(regexp_replace(
                           lower(text), '[^a-z0-9 ]+', ' ', 'g')),
                           '\\s+', ' ', 'g'), ' ')) AS tok
                FROM documents
            ),
            ne AS (SELECT * FROM toks WHERE tok <> ''),
            counts AS (SELECT tok, count(*) AS c FROM ne GROUP BY tok),
            tot AS (SELECT sum(c)::DOUBLE AS n FROM counts),
            per AS (
                SELECT doc_id, count(*)::INT AS n_tokens, avg(ln(c)) AS alc
                FROM ne JOIN counts USING (tok) GROUP BY doc_id
            )
            SELECT doc_id::BIGINT AS doc_id, n_tokens,
                   round(ln(n) - alc, 6) AS cross_entropy,
                   round(exp(ln(n) - alc), 6) AS perplexity
            FROM per, tot
        """,
        "quality_features": f"""
            WITH feats AS (
                SELECT doc_id,
                       length(text) AS n_chars,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
                       length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
                       len(list_distinct(list_filter(
                           list_transform(regexp_split_to_array(trim(text), '\\s+'), t -> lower(t)),
                           t -> list_contains({_QUALITY_STOPWORDS_SQL}, t)))) AS stop_hits
                FROM documents
            ),
            derived AS (
                SELECT doc_id, n_tokens,
                       CASE WHEN n_chars > 0 THEN alpha / n_chars ELSE 0.0 END AS alpha_ratio,
                       CASE WHEN n_tokens > 0 THEN (n_chars - (n_tokens - 1)) / n_tokens ELSE 0.0 END AS mean_word_len,
                       stop_hits
                FROM feats
            )
            SELECT doc_id::BIGINT AS doc_id, n_tokens::INT AS n_tokens,
                   round(alpha_ratio, 6) AS alpha_ratio,
                   round(mean_word_len, 6) AS mean_word_len,
                   stop_hits::INT AS stopword_hits,
                   round(
                       (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 0.25 ELSE 0.0 END)
                     + (CASE WHEN mean_word_len >= 2 AND mean_word_len <= 12 THEN 0.25 ELSE 0.0 END)
                     + (CASE WHEN alpha_ratio >= 0.6 THEN 0.25 ELSE 0.0 END)
                     + (CASE WHEN stop_hits >= 1 THEN 0.25 ELSE 0.0 END)::DOUBLE, 2)::DOUBLE AS quality_score
            FROM derived
        """,
        "lang_id": """
            WITH h AS (
                SELECT doc_id,
                       len(list_filter(tl, t -> list_contains(['the','and','of','to','is','in','it','that','was','for'], t))) AS en_h,
                       len(list_filter(tl, t -> list_contains(['der','die','das','und','ist','nicht','ein','mit','von','zu'], t))) AS de_h,
                       len(list_filter(tl, t -> list_contains(['le','la','les','et','est','dans','que','pour','une','des'], t))) AS fr_h,
                       len(list_filter(tl, t -> list_contains(['el','la','los','y','es','en','que','para','una','del'], t))) AS es_h
                FROM (SELECT doc_id,
                             list_transform(regexp_split_to_array(trim(text), '\\s+'), t -> lower(t)) AS tl
                      FROM documents)
            )
            SELECT doc_id::BIGINT AS doc_id,
                   CASE WHEN greatest(en_h, de_h, fr_h, es_h) = 0 THEN 'und'
                        WHEN en_h = greatest(en_h, de_h, fr_h, es_h) THEN 'en'
                        WHEN de_h = greatest(en_h, de_h, fr_h, es_h) THEN 'de'
                        WHEN fr_h = greatest(en_h, de_h, fr_h, es_h) THEN 'fr'
                        ELSE 'es' END AS lang_pred,
                   greatest(en_h, de_h, fr_h, es_h)::INT AS marker_hits
            FROM h
        """,
        "prefix_iterate": f"""
            WITH {_PLAIN_TOKS_CTE}
            SELECT term FROM toks WHERE term LIKE 's%'
        """,
        "query_filtered": f"""
            WITH {_TOKMAP_CTE},
            dfm AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tokmap GROUP BY term),
            probes AS (SELECT * FROM (VALUES {_PROBES_SQL_VALUES}) v(query))
            SELECT p.query, d.term, levenshtein(p.query, d.term)::INT AS distance, d.df
            FROM probes p, dfm d
            WHERE d.df >= 5 AND levenshtein(p.query, d.term) <= 1
        """,
        "query_by_value_set": f"""
            WITH {_TOKMAP_CTE},
            probes AS (SELECT * FROM (VALUES {_PROBES_SQL_VALUES}) v(query))
            SELECT p.query, tm.term, levenshtein(p.query, tm.term)::INT AS distance,
                   tm.doc_id::BIGINT AS value
            FROM probes p, tokmap tm
            WHERE tm.doc_id BETWEEN 0 AND 9
              AND levenshtein(p.query, tm.term) <= 1
        """,
        "union_with_counts": f"""
            WITH {_SRC_COUNTS_CTE.format(name="s0", src="src0")},
            {_SRC_COUNTS_CTE.format(name="s1", src="src1")}
            SELECT term, sum(value)::BIGINT AS value
            FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1)
            GROUP BY term
        """,
        "union_replace": f"""
            WITH {_SRC_COUNTS_CTE.format(name="s0", src="src0")},
            {_SRC_COUNTS_CTE.format(name="s1", src="src1")}
            SELECT term, value FROM s0 WHERE term NOT IN (SELECT term FROM s1)
            UNION ALL
            SELECT term, value FROM s1
        """,
        "substring_positions": """
            SELECT doc_id::BIGINT AS doc_id, i::INT AS pos
            FROM documents, unnest(generate_series(1, greatest(length(text) - 4, 0))) g(i)
            WHERE substr(text, i, 5) = 'spark'
        """,
        "fuzzy_substring_d1": f"""
            WITH {_PLAIN_TOKS_CTE},
            probes AS (SELECT * FROM (VALUES {", ".join(f"('{p}')" for p in SUBSTRING_PROBES)}) v(query))
            SELECT query, term, distance FROM (
                SELECT p.query, t.term,
                       list_aggregate([levenshtein(substr(p.query, 1, k), t.term)
                                       FOR k IN generate_series(0, length(p.query))], 'min')::INT AS distance
                FROM probes p, toks t
            ) WHERE distance <= 1
        """,
        "phonetic_join": f"""
            WITH {_PLAIN_TOKS_CTE},
            probes AS (SELECT * FROM (VALUES {", ".join(f"('{p}')" for p in PHONETIC_PROBES)}) v(query))
            SELECT p.query, t.term FROM probes p, toks t
            WHERE {_phonetic_rules_sql("p.query")} = {_phonetic_rules_sql("t.term")}
        """,
        "phonetic_codes": f"""
            WITH {_PLAIN_TOKS_CTE}
            SELECT term,
                   {_phonetic_rules_sql("term", "default")} AS code_default,
                   {_phonetic_rules_sql("term", "soundex_like")} AS code_soundex,
                   {_phonetic_rules_sql("term", "skeleton")} AS code_skeleton
            FROM toks
        """,
        "incremental_update": f"""
            WITH {_SRC_COUNTS_CTE.format(name="s0", src="src0")},
            {_SRC_COUNTS_CTE.format(name="s1", src="src1")},
            after_del AS (SELECT * FROM s0 WHERE term NOT LIKE 'b%')
            SELECT term, value FROM after_del WHERE term NOT IN (SELECT term FROM s1)
            UNION ALL
            SELECT term, value FROM s1
        """,
        "contextual_complete": f"""
            WITH {_PLAIN_TOKS_CTE},
            probes AS (SELECT * FROM (VALUES {_PREFIX_PROBES_SQL_VALUES}) v(query)),
            terms AS (
                SELECT term, ((ascii(substr(term, 1, 1)) % 4) + 1)::INT AS context_id,
                       (length(term) >= 7) AS is_draft
                FROM toks
            ),
            visible AS (SELECT * FROM terms WHERE context_id IN (1, 2, 4)),
            scored AS (
                SELECT p.query, t.term, t.is_draft, t.context_id,
                       list_aggregate([levenshtein(p.query, substr(t.term, 1, k))
                                       FOR k IN generate_series(0, length(t.term))], 'min')::INT AS distance
                FROM probes p, visible t
            )
            SELECT query, term, distance, is_draft, context_id
            FROM scored WHERE distance <= 1
        """,
        "doc_fingerprint": """
            SELECT doc_id::BIGINT AS doc_id,
                   array_to_string(list_sort(list_distinct(
                       CASE WHEN length(t) < 8 THEN [md5(t)]
                            ELSE [md5(substr(t, i, 8)) FOR i IN generate_series(1, length(t) - 7)] END
                   ))[1:4], '') AS fingerprint
            FROM (SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t FROM documents)
        """,
        # word bigrams of normalized text; dup_frac = 1 - distinct/total
        "repetition_stats": """
            WITH tk AS (
                SELECT doc_id,
                       string_split(regexp_replace(trim(regexp_replace(lower(text),
                           '[^a-z0-9 ]+', ' ', 'g')), '\\s+', ' ', 'g'), ' ') AS tk
                FROM documents
            ),
            g AS (
                SELECT doc_id,
                       CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
                            ELSE [array_to_string(tk[i:i+1], ' ')
                                  FOR i IN generate_series(1, len(tk) - 1)] END AS grams
                FROM tk
            ),
            m AS (
                SELECT doc_id, len(grams) AS n_grams,
                       len(list_distinct(grams)) AS n_distinct,
                       CASE WHEN len(grams) > 0
                            THEN round(1.0 - len(list_distinct(grams)) / len(grams), 6)
                            ELSE 0.0 END AS dup_frac
                FROM g
            )
            SELECT doc_id::BIGINT AS doc_id, n_grams::INT AS n_grams,
                   n_distinct::INT AS n_distinct, dup_frac,
                   (dup_frac <= 0.2)::INT AS keep
            FROM m
        """,
        # built from the SAME PII_PATTERNS tuple the operator uses (regex
        # subset shared by Java and RE2), sequential count-then-replace
        "pii_redaction": _pii_redaction_sql(),
        "stratified_sample": f"""
            SELECT doc_id::BIGINT AS doc_id, source, lang FROM documents
            WHERE {_sampling.sample_rates_sql("source", STRATA_RATES, STRATA_DEFAULT_RATE, "doc_id")}
        """,
        # lag + running-sum sessionization, integer-microsecond arithmetic
        "gap_sessions": f"""
            SELECT user_id::BIGINT AS user_id, session_idx, n_events,
                   start_us, end_us, duration_us, n_types
            FROM ({_sessionize.gap_sessions_sql("events", SESSION_GAP_S)})
        """,
        # naive single-window replay of the two-phase skew-safe cap —
        # value-exactness of the md5-prefix pre-filter is the whole claim
        "per_source_cap": f"""
            SELECT doc_id::BIGINT AS doc_id, source, src_rank, n_src
            FROM ({_sampling.per_source_cap_sql("documents", PER_SOURCE_CAP_K)})
        """,
        # same line segmentation (3-token groups), global >=5-doc frequency
        # cutoff and ordered reassembly as the Spark plan
        "line_dedup": """
            WITH toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                       unnest(range(0, len(string_split(text, ' ')))) AS pos
                FROM documents
            ),
            lines AS (
                SELECT doc_id, pos // 3 AS lineno,
                       string_agg(tok, ' ' ORDER BY pos) AS line
                FROM toks GROUP BY doc_id, pos // 3
            ),
            boiler AS (
                SELECT line FROM (
                    SELECT line, count(DISTINCT doc_id) AS nd
                    FROM lines GROUP BY line
                ) WHERE nd >= 5
            ),
            kept AS (
                SELECT * FROM lines
                WHERE line NOT IN (SELECT line FROM boiler)
            ),
            agg AS (
                SELECT doc_id, count(*)::INT AS n_kept,
                       string_agg(line, chr(10) ORDER BY lineno) AS clean_text
                FROM kept GROUP BY doc_id
            ),
            totals AS (
                SELECT doc_id, count(*)::INT AS n_lines
                FROM lines GROUP BY doc_id
            )
            SELECT t.doc_id::BIGINT AS doc_id, t.n_lines,
                   coalesce(a.n_kept, 0)::INT AS n_kept,
                   coalesce(a.clean_text, '') AS clean_text
            FROM totals t LEFT JOIN agg a USING (doc_id)
        """,
        # same tokenization, stride-1 8-token window enumeration, >=2-doc
        # cutoff and gaps-and-islands merge as the Spark plan
        "duplicate_spans": f"""
            WITH {_DUPSPAN_CTES}
            SELECT doc_id::BIGINT AS doc_id,
                   min(pos)::INT AS start_tok,
                   (max(pos) + 7)::INT AS end_tok,
                   count(*)::INT AS n_windows
            FROM isl GROUP BY doc_id, grp
        """,
        # train/eval split by doc_id mod, eval window-set probe, islands
        "contamination_spans": f"""
            WITH {_WINDOWS_CTES},
            twins AS (SELECT * FROM wins WHERE doc_id % 5 <> 0),
            ewins AS (
                SELECT DISTINCT win FROM wins WHERE doc_id % 5 = 0
            ),
            hits AS (
                SELECT doc_id, pos FROM twins
                WHERE win IN (SELECT win FROM ewins)
            ),
            {_ISLANDS_CTES}
            SELECT doc_id::BIGINT AS doc_id,
                   min(pos)::INT AS start_tok,
                   (max(pos) + 7)::INT AS end_tok,
                   count(*)::INT AS n_windows
            FROM isl GROUP BY doc_id, grp
        """,
        # detection replayed as above, then the cut: tokens covered by any
        # merged span dropped, survivors reassembled in position order
        "cut_spans": f"""
            WITH {_DUPSPAN_CTES},
            allspans AS (
                SELECT doc_id, min(pos) AS start_tok, max(pos) + 7 AS end_tok
                FROM isl GROUP BY doc_id, grp
            ),
            toks AS (
                SELECT doc_id,
                       unnest(generate_series(1, len(tk))) - 1 AS pos,
                       unnest(tk) AS tok
                FROM t
            ),
            cutpos AS (
                SELECT DISTINCT k.doc_id, k.pos
                FROM toks k JOIN allspans s
                  ON s.doc_id = k.doc_id
                 AND k.pos BETWEEN s.start_tok AND s.end_tok
            ),
            kept AS (
                SELECT k.doc_id, k.pos, k.tok
                FROM toks k LEFT JOIN cutpos c
                  ON c.doc_id = k.doc_id AND c.pos = k.pos
                WHERE c.pos IS NULL
            ),
            ka AS (
                SELECT doc_id, count(*) AS n_kept,
                       string_agg(tok, ' ' ORDER BY pos) AS clean_text
                FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id::BIGINT AS doc_id,
                   len(t.tk)::INT AS n_tokens,
                   (len(t.tk) - coalesce(ka.n_kept, 0))::INT AS n_cut,
                   coalesce(ka.clean_text, '') AS clean_text
            FROM t LEFT JOIN ka USING (doc_id)
        """,
        # FULL-graph transitive closure from scratch — equality against the
        # incremental (contraction + delta CC) path proves it exact
        "incremental_clusters": f"""
            WITH RECURSIVE {_CORPUS_CTE},
            {_SHINGLES_CTE.format(src="corpus")},
            nonempty AS (SELECT * FROM shing WHERE len(sh) > 0),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM nonempty),
            cand AS (
                SELECT DISTINCT a.doc_id AS left_id, c.doc_id AS right_id
                FROM ex a JOIN ex c USING (g)
                WHERE a.doc_id < c.doc_id
            ),
            paired AS (
                SELECT cand.left_id, cand.right_id, s1.sh AS lsh, s2.sh AS rsh
                FROM cand
                JOIN nonempty s1 ON s1.doc_id = cand.left_id
                JOIN nonempty s2 ON s2.doc_id = cand.right_id
            ),
            pairs AS (
                SELECT left_id, right_id
                FROM (SELECT left_id, right_id, {_JACCARD_EXPR} AS jaccard FROM paired)
                WHERE jaccard >= 0.5
            ),
            edges AS (
                SELECT left_id AS a, right_id AS b FROM pairs
                UNION
                SELECT right_id, left_id FROM pairs
            ),
            reach AS (
                SELECT a AS node, a AS root FROM edges
                UNION
                SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
            ),
            comp AS (SELECT node, min(root) AS cluster FROM reach GROUP BY node)
            SELECT c.doc_id::BIGINT AS doc_id,
                   coalesce(comp.cluster, c.doc_id)::BIGINT AS cluster
            FROM corpus c LEFT JOIN comp ON comp.node = c.doc_id
        """,
        # transitive closure of the jaccard pair graph as a recursive CTE:
        # min reachable id == the large/small-star fixpoint's converged label
        "near_dup_clusters": f"""
            WITH RECURSIVE {_CORPUS_CTE},
            {_SHINGLES_CTE.format(src="corpus")},
            nonempty AS (SELECT * FROM shing WHERE len(sh) > 0),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM nonempty),
            cand AS (
                SELECT DISTINCT a.doc_id AS left_id, c.doc_id AS right_id
                FROM ex a JOIN ex c USING (g)
                WHERE a.doc_id < c.doc_id
            ),
            paired AS (
                SELECT cand.left_id, cand.right_id, s1.sh AS lsh, s2.sh AS rsh
                FROM cand
                JOIN nonempty s1 ON s1.doc_id = cand.left_id
                JOIN nonempty s2 ON s2.doc_id = cand.right_id
            ),
            pairs AS (
                SELECT left_id, right_id
                FROM (SELECT left_id, right_id, {_JACCARD_EXPR} AS jaccard FROM paired)
                WHERE jaccard >= 0.5
            ),
            edges AS (
                SELECT left_id AS a, right_id AS b FROM pairs
                UNION
                SELECT right_id, left_id FROM pairs
            ),
            reach AS (
                SELECT a AS node, a AS root FROM edges
                UNION
                SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
            ),
            comp AS (SELECT node, min(root) AS cluster FROM reach GROUP BY node),
            members AS (
                SELECT c.doc_id, coalesce(comp.cluster, c.doc_id) AS cluster
                FROM corpus c LEFT JOIN comp ON comp.node = c.doc_id
            ),
            qual AS (
                SELECT doc_id,
                       length(trim(regexp_replace(regexp_replace(lower(text),
                           '[^a-z0-9 ]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS q
                FROM corpus
            )
            SELECT m.doc_id::BIGINT AS doc_id, m.cluster::BIGINT AS cluster,
                   (row_number() OVER (PARTITION BY m.cluster
                                       ORDER BY ql.q DESC, m.doc_id) = 1)::INT AS is_canonical
            FROM members m JOIN qual ql USING (doc_id)
        """,
        "golden_records": f"""
            WITH RECURSIVE {_CORPUS_CTE},
            {_SHINGLES_CTE.format(src="corpus")},
            nonempty AS (SELECT * FROM shing WHERE len(sh) > 0),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM nonempty),
            cand AS (
                SELECT DISTINCT a.doc_id AS left_id, c.doc_id AS right_id
                FROM ex a JOIN ex c USING (g)
                WHERE a.doc_id < c.doc_id
            ),
            paired AS (
                SELECT cand.left_id, cand.right_id, s1.sh AS lsh, s2.sh AS rsh
                FROM cand
                JOIN nonempty s1 ON s1.doc_id = cand.left_id
                JOIN nonempty s2 ON s2.doc_id = cand.right_id
            ),
            pairs AS (
                SELECT left_id, right_id
                FROM (SELECT left_id, right_id, {_JACCARD_EXPR} AS jaccard FROM paired)
                WHERE jaccard >= 0.5
            ),
            edges AS (
                SELECT left_id AS a, right_id AS b FROM pairs
                UNION
                SELECT right_id, left_id FROM pairs
            ),
            reach AS (
                SELECT a AS node, a AS root FROM edges
                UNION
                SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
            ),
            comp AS (SELECT node, min(root) AS cluster FROM reach GROUP BY node),
            members AS (
                SELECT c.doc_id, coalesce(comp.cluster, c.doc_id) AS cluster
                FROM corpus c LEFT JOIN comp ON comp.node = c.doc_id
            ),
            qual AS (
                SELECT doc_id,
                       length(trim(regexp_replace(regexp_replace(lower(text),
                           '[^a-z0-9 ]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS q
                FROM corpus
            ),
            ranked AS (
                SELECT m.doc_id, m.cluster, ql.q,
                       (row_number() OVER (PARTITION BY m.cluster
                                           ORDER BY ql.q DESC, m.doc_id) = 1)::INT AS is_can
                FROM members m JOIN qual ql USING (doc_id)
            )
            SELECT cluster::BIGINT AS cluster,
                   min(CASE WHEN is_can = 1 THEN doc_id END)::BIGINT AS canonical_id,
                   count(*)::BIGINT AS n_members,
                   max(CASE WHEN is_can = 1 THEN q END)::BIGINT AS canonical_len,
                   sum(q)::BIGINT AS total_len,
                   array_to_string(list_sort(list(doc_id)), ',') AS member_ids
            FROM ranked GROUP BY cluster
        """,
        "blocking_quality": f"""
            WITH {_CORPUS_CTE},
            {_SHINGLES_CTE.format(src="corpus")},
            ex AS (SELECT doc_id, unnest(sh) AS g FROM shing WHERE len(sh) > 0),
            cand AS (
                SELECT DISTINCT a.doc_id AS left_id, c.doc_id AS right_id
                FROM ex a JOIN ex c USING (g)
                WHERE a.doc_id < c.doc_id
            ),
            truth AS (
                SELECT doc_id AS left_id, doc_id + 100000 AS right_id
                FROM documents WHERE doc_id < 2000
            ),
            m AS (
                SELECT (SELECT count(*) FROM corpus) AS n_docs,
                       (SELECT count(*) FROM cand) AS n_candidates,
                       (SELECT count(*) FROM truth) AS n_truth,
                       (SELECT count(*) FROM truth t
                        JOIN cand c USING (left_id, right_id)) AS n_truth_in_candidates
            )
            SELECT n_docs::BIGINT AS n_docs,
                   n_candidates::BIGINT AS n_candidates,
                   n_truth::BIGINT AS n_truth,
                   n_truth_in_candidates::BIGINT AS n_truth_in_candidates,
                   round(1.0 - n_candidates / (n_docs * (n_docs - 1) / 2.0), 6)
                       AS reduction_ratio,
                   round(n_truth_in_candidates / (1.0 * n_truth), 6)
                       AS pairs_completeness
            FROM m
        """,
        # meta-blocking twins: CBS weight graph (shared-key counts over the
        # hot-key-guarded shingle blocks), then WEP (integer-exact global
        # mean threshold) / CNP (per-node top-5, union semantics) prune.
        "meta_blocking_wep": f"""
            WITH {_CORPUS_CTE},
            {_SHINGLES_CTE.format(src="corpus")},
            ex AS (SELECT doc_id, unnest(sh) AS g FROM shing WHERE len(sh) > 0),
            hot AS (SELECT g FROM ex GROUP BY g HAVING count(DISTINCT doc_id) > 200),
            cold AS (SELECT * FROM ex WHERE g NOT IN (SELECT g FROM hot)),
            pw AS (
                SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                       count(*)::BIGINT AS w
                FROM cold a JOIN cold b USING (g)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            tot AS (SELECT sum(w) AS s, count(*) AS n FROM pw),
            kept AS (
                SELECT left_id, right_id, w FROM pw, tot WHERE w * n >= s
            ),
            truth AS (
                SELECT doc_id AS left_id, doc_id + 100000 AS right_id
                FROM documents WHERE doc_id < 2000
            ),
            m AS (
                SELECT (SELECT count(*) FROM pw) AS n_pairs_before,
                       (SELECT count(*) FROM kept) AS n_pairs_after,
                       (SELECT count(*) FROM truth) AS n_truth,
                       (SELECT count(*) FROM truth JOIN pw
                        USING (left_id, right_id)) AS tp_before,
                       (SELECT count(*) FROM truth JOIN kept
                        USING (left_id, right_id)) AS tp_after
            )
            SELECT n_pairs_before::BIGINT AS n_pairs_before,
                   n_pairs_after::BIGINT AS n_pairs_after,
                   n_truth::BIGINT AS n_truth,
                   tp_before::BIGINT AS tp_before,
                   tp_after::BIGINT AS tp_after,
                   round(tp_before / (1.0 * n_truth), 6) AS pc_before,
                   round(tp_after / (1.0 * n_truth), 6) AS pc_after,
                   round(1.0 - n_pairs_after / (1.0 * n_pairs_before), 6)
                       AS comparison_reduction
            FROM m
        """,
        "meta_blocking_cnp": f"""
            WITH {_CORPUS_CTE},
            {_SHINGLES_CTE.format(src="corpus")},
            ex AS (SELECT doc_id, unnest(sh) AS g FROM shing WHERE len(sh) > 0),
            hot AS (SELECT g FROM ex GROUP BY g HAVING count(DISTINCT doc_id) > 200),
            cold AS (SELECT * FROM ex WHERE g NOT IN (SELECT g FROM hot)),
            pw AS (
                SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                       count(*)::BIGINT AS w
                FROM cold a JOIN cold b USING (g)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            und AS (
                SELECT left_id AS node, right_id AS nbr, w FROM pw
                UNION ALL
                SELECT right_id AS node, left_id AS nbr, w FROM pw
            ),
            rk AS (
                SELECT node, nbr, w,
                       row_number() OVER (PARTITION BY node
                           ORDER BY w DESC, nbr ASC) AS r
                FROM und
            ),
            keptp AS (
                SELECT DISTINCT least(node, nbr) AS left_id,
                                greatest(node, nbr) AS right_id
                FROM rk WHERE r <= 5
            ),
            kept AS (
                SELECT left_id, right_id, w FROM keptp JOIN pw
                USING (left_id, right_id)
            ),
            truth AS (
                SELECT doc_id AS left_id, doc_id + 100000 AS right_id
                FROM documents WHERE doc_id < 2000
            ),
            m AS (
                SELECT (SELECT count(*) FROM pw) AS n_pairs_before,
                       (SELECT count(*) FROM kept) AS n_pairs_after,
                       (SELECT count(*) FROM truth) AS n_truth,
                       (SELECT count(*) FROM truth JOIN pw
                        USING (left_id, right_id)) AS tp_before,
                       (SELECT count(*) FROM truth JOIN kept
                        USING (left_id, right_id)) AS tp_after
            )
            SELECT n_pairs_before::BIGINT AS n_pairs_before,
                   n_pairs_after::BIGINT AS n_pairs_after,
                   n_truth::BIGINT AS n_truth,
                   tp_before::BIGINT AS tp_before,
                   tp_after::BIGINT AS tp_after,
                   round(tp_before / (1.0 * n_truth), 6) AS pc_before,
                   round(tp_after / (1.0 * n_truth), 6) AS pc_after,
                   round(1.0 - n_pairs_after / (1.0 * n_pairs_before), 6)
                       AS comparison_reduction
            FROM m
        """,
        "er_pair_metrics": f"""
            WITH {_CORPUS_CTE},
            {_SHINGLES_CTE.format(src="corpus")},
            nonempty AS (SELECT * FROM shing WHERE len(sh) > 0),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM nonempty),
            cand AS (
                SELECT DISTINCT a.doc_id AS left_id, c.doc_id AS right_id
                FROM ex a JOIN ex c USING (g)
                WHERE a.doc_id < c.doc_id
            ),
            paired AS (
                SELECT cand.left_id, cand.right_id, s1.sh AS lsh, s2.sh AS rsh
                FROM cand
                JOIN nonempty s1 ON s1.doc_id = cand.left_id
                JOIN nonempty s2 ON s2.doc_id = cand.right_id
            ),
            pairs AS (
                SELECT left_id, right_id
                FROM (SELECT left_id, right_id, {_JACCARD_EXPR} AS jaccard FROM paired)
                WHERE jaccard >= 0.5
            ),
            truth AS (
                SELECT doc_id AS left_id, doc_id + 100000 AS right_id
                FROM documents WHERE doc_id < 2000
            ),
            m AS (
                SELECT (SELECT count(*) FROM pairs) AS n_pred,
                       (SELECT count(*) FROM truth) AS n_truth,
                       (SELECT count(*) FROM pairs p
                        JOIN truth t USING (left_id, right_id)) AS tp
            )
            SELECT n_pred::BIGINT AS n_pred,
                   n_truth::BIGINT AS n_truth,
                   tp::BIGINT AS tp,
                   (n_pred - tp)::BIGINT AS fp,
                   (n_truth - tp)::BIGINT AS fn,
                   round(tp / (1.0 * n_pred), 6) AS "precision",
                   round(tp / (1.0 * n_truth), 6) AS recall,
                   round(2.0 * tp / (n_pred + n_truth), 6) AS f1
            FROM m
        """,
        "er_cluster_bcubed": f"""
            WITH RECURSIVE {_CORPUS_CTE},
            {_SHINGLES_CTE.format(src="corpus")},
            nonempty AS (SELECT * FROM shing WHERE len(sh) > 0),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM nonempty),
            cand AS (
                SELECT DISTINCT a.doc_id AS left_id, c.doc_id AS right_id
                FROM ex a JOIN ex c USING (g)
                WHERE a.doc_id < c.doc_id
            ),
            paired AS (
                SELECT cand.left_id, cand.right_id, s1.sh AS lsh, s2.sh AS rsh
                FROM cand
                JOIN nonempty s1 ON s1.doc_id = cand.left_id
                JOIN nonempty s2 ON s2.doc_id = cand.right_id
            ),
            pairs AS (
                SELECT left_id, right_id
                FROM (SELECT left_id, right_id, {_JACCARD_EXPR} AS jaccard FROM paired)
                WHERE jaccard >= 0.5
            ),
            edges AS (
                SELECT left_id AS a, right_id AS b FROM pairs
                UNION
                SELECT right_id, left_id FROM pairs
            ),
            reach AS (
                SELECT a AS node, a AS root FROM edges
                UNION
                SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
            ),
            comp AS (SELECT node, min(root) AS cluster FROM reach GROUP BY node),
            members AS (
                SELECT c.doc_id, coalesce(comp.cluster, c.doc_id) AS cluster
                FROM corpus c LEFT JOIN comp ON comp.node = c.doc_id
            ),
            assign AS (
                SELECT doc_id, cluster AS p, doc_id % 100000 AS t FROM members
            ),
            pt AS (SELECT p, t, count(*) AS n_pt FROM assign GROUP BY p, t),
            pp AS (SELECT p, count(*) AS n_p FROM assign GROUP BY p),
            tt AS (SELECT t, count(*) AS n_t FROM assign GROUP BY t),
            sums AS (
                SELECT sum(n_pt) AS n_docs,
                       sum(n_pt * n_pt / (1.0 * n_p)) AS ps,
                       sum(n_pt * n_pt / (1.0 * n_t)) AS rs
                FROM pt JOIN pp USING (p) JOIN tt USING (t)
            )
            SELECT n_docs::BIGINT AS n_docs,
                   round(ps / n_docs, 6) AS bcubed_precision,
                   round(rs / n_docs, 6) AS bcubed_recall,
                   round(2.0 * ps * rs / (n_docs * (ps + rs)), 6) AS bcubed_f1
            FROM sums
        """,
        "contamination_overlap": f"""
            WITH {_SHINGLES_CTE.format(src="documents")},
            nonempty AS (SELECT * FROM shing WHERE len(sh) > 0),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM nonempty),
            tex AS (SELECT doc_id AS train_id, g FROM ex WHERE doc_id % 10 <> 0),
            eex AS (SELECT doc_id AS eval_id, g FROM ex WHERE doc_id % 10 = 0),
            hot AS (
                SELECT g FROM (SELECT g, count(*) AS c FROM tex GROUP BY g)
                WHERE c > 50
            ),
            kept AS (SELECT * FROM tex WHERE g NOT IN (SELECT g FROM hot))
            SELECT eval_id::BIGINT AS eval_id, train_id::BIGINT AS train_id,
                   count(*)::BIGINT AS n_shared
            FROM eex JOIN kept USING (g)
            GROUP BY eval_id, train_id
            HAVING count(*) >= 2
        """,
        # The 8-event program (insert half / checkpoint / insert junk / undo
        # / insert rest / insert char / backspace / finalize) folds to the
        # word itself with an empty end-of-session draft — analytically, so
        # the oracle needs no fold machinery.
        "session_fold": """
            WITH w AS (
                SELECT CAST(doc_id AS VARCHAR) AS session_id,
                       regexp_extract(lower(text), '[a-z]{3,}') AS word
                FROM documents WHERE doc_id < 40
            ), s AS (SELECT * FROM w WHERE word <> '')
            SELECT session_id, CAST(8 AS BIGINT) AS seq,
                   'final' AS kind, word AS text FROM s
            UNION ALL
            SELECT session_id, CAST(8 AS BIGINT) AS seq,
                   'draft' AS kind, '' AS text FROM s
        """,
    }
