"""Deterministic synthetic fixtures (FIXTURES.md) — no external data.

T1 `docs`: interleaved text+media documents with planted duplicate clusters,
matching the BASELINE.json `input_hint` schema exactly:

    doc_id : string
    spans  : array<struct<kind:string, text:string, media_ref:string, offset:int>>

Generation is a pure function of (seed, doc index): every doc is produced by
``_gen_doc(seed, i)`` with its own ``random.Random`` stream, so the corpus is
identical regardless of partitioning — the generator runs *distributed* via
``mapInPandas`` over ``spark.range`` (each task generates only its index
range; nothing is collected to the driver), which is how a 10^12-row
synthetic corpus would be produced on a real cluster.

The typo generator reimplements the *semantics* of the reference's
``TypoGenerator`` (``/root/reference/src/corpus/generator.rs:35-123``): a
seeded RNG draws k edits from {delete, insert, substitute,
transpose-adjacent}, k ∈ {1,2,3}.  Implementation is original Python.

T2 `labels`: positive intra-cluster pairs + seeded hard negatives.
T3 `dict_terms`: Golden-28 dictionary (ported term *list* from
``query_comprehensive_test.rs:7-12`` — data, not code) and seeded random
dictionaries for cross-validation.
"""

from __future__ import annotations

import random
import string
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

ALPHABET = string.ascii_lowercase

# 500-word base vocabulary: deterministic, lowercase ASCII, lengths 3-12.
_V_RNG = random.Random(0xBEEF)
_SYLLABLES = [
    c + v
    for c in "bcdfghjklmnpqrstvwz"
    for v in "aeiou"
]


def _make_vocab(n: int = 500, seed: int = 0xBEEF) -> list[str]:
    rng = random.Random(seed)
    words: set[str] = set()
    while len(words) < n:
        k = rng.randint(2, 5)
        w = "".join(rng.choice(_SYLLABLES) for _ in range(k))[:12]
        if len(w) >= 3:
            words.add(w)
    return sorted(words)


VOCAB = _make_vocab()


# ---------------------------------------------------------------------------
# typo generator (reference corpus/generator.rs:84-123 semantics)
# ---------------------------------------------------------------------------


def apply_typos(word: str, n_edits: int, rng: random.Random) -> str:
    """Apply ``n_edits`` random edits drawn from the four edit families."""
    w = list(word)
    for _ in range(n_edits):
        ops = ["insert"]
        if len(w) >= 1:
            ops += ["delete", "substitute"]
        if len(w) >= 2:
            ops.append("transpose")
        op = rng.choice(ops)
        if op == "delete":
            w.pop(rng.randrange(len(w)))
        elif op == "insert":
            w.insert(rng.randrange(len(w) + 1), rng.choice(ALPHABET))
        elif op == "substitute":
            i = rng.randrange(len(w))
            w[i] = rng.choice([c for c in ALPHABET if c != w[i]])
        else:  # transpose adjacent
            i = rng.randrange(len(w) - 1)
            w[i], w[i + 1] = w[i + 1], w[i]
    return "".join(w)


# ---------------------------------------------------------------------------
# interleaved documents (T1)
# ---------------------------------------------------------------------------

SPAN_SCHEMA = ArrayType(
    StructType(
        [
            StructField("kind", StringType(), False),
            StructField("text", StringType(), False),
            StructField("media_ref", StringType(), False),
            StructField("offset", IntegerType(), False),
        ]
    )
)

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", SPAN_SCHEMA, False),
        StructField("entity_id", IntegerType(), False),  # ground truth
        StructField("entity_name", StringType(), False),  # pre-corruption name
    ]
)

_CLUSTER_SIZES = [1, 1, 1, 1, 2, 2, 3, 3, 4, 5]  # drawn uniformly → mean 2.2


def _entity_layout(seed: int, max_doc: int) -> list[tuple[int, int, int]]:
    """[(entity_id, start, size)] covering [0, max_doc)."""
    out = []
    e, start = 0, 0
    while start < max_doc:
        size = _CLUSTER_SIZES[
            random.Random((seed << 20) ^ e).randrange(len(_CLUSTER_SIZES))
        ]
        out.append((e, start, size))
        start += size
        e += 1
    return out


def _entity_name(seed: int, entity_id: int) -> str:
    """Entity names come from their own namespace (random 6-10 char letter
    strings), not VOCAB: like real-world person/org names, they are rare in
    the corpus — which is exactly the property rare-token (TF-IDF) blocking
    exploits.  Noise tokens come from VOCAB and are frequent."""
    rng = random.Random((seed << 24) ^ (entity_id * 2654435761 & 0xFFFFFFFF))
    k = rng.randint(2, 3)
    return " ".join(
        "".join(rng.choice(ALPHABET) for _ in range(rng.randint(6, 10)))
        for _ in range(k)
    )


def _gen_doc(seed: int, i: int, entity_id: int, rank: int) -> tuple:
    rng = random.Random((seed << 16) ^ (i * 0x9E3779B1 & 0xFFFFFFFF))
    name = _entity_name(seed, entity_id)
    if rank == 0:
        surface = name
    else:
        # edits per token capped at 2 — mirrors the reference's own corpus
        # recall targets (Holbrook/Aspell/Wikipedia @ d<=2,
        # data/corpora/README.md:250-262) and keeps deletion-neighborhood
        # blocking provably recall-complete (SymSpell exactness at n=2)
        k = rng.choice([1, 1, 2, 2])
        surface = " ".join(
            apply_typos(tok, k, rng) if rng.random() < 0.8 else tok
            for tok in name.split(" ")
        )
    n_spans = rng.randint(1, 8)
    spans = []
    name_span = rng.randrange(n_spans)
    for off in range(n_spans):
        is_media = rng.random() < 0.2 and off != name_span
        if is_media:
            spans.append(("media", "", f"m{rng.randrange(1_000_000):06d}", off))
        else:
            n_tok = rng.randint(1, 6)
            text = " ".join(rng.choice(VOCAB) for _ in range(n_tok))
            if off == name_span:
                text = surface + (" " + text if rng.random() < 0.5 else "")
            spans.append(("text", text, "", off))
    return (f"d{i:08d}", spans, entity_id, name)


def generate_docs(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic generation via mapInPandas over spark.range."""
    layout = _entity_layout(seed, n_docs)
    # broadcast the (small) layout index: (start -> entity) via binary search
    starts = [s for _, s, _ in layout]
    ents = [e for e, _, _ in layout]
    sizes = [z for _, _, z in layout]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import bisect

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                j = bisect.bisect_right(starts, i) - 1
                e, rank = ents[j], i - starts[j]
                rows.append(_gen_doc(seed, i, e, rank))
            yield pd.DataFrame(
                rows, columns=["doc_id", "spans", "entity_id", "entity_name"]
            )

    rng_df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, DOCS_SCHEMA)


def generate_labels(docs: DataFrame, seed: int = 42) -> DataFrame:
    """T2: all positive intra-cluster pairs + hash-sampled negatives."""
    a = docs.select(
        F.col("doc_id").alias("left_doc_id"), F.col("entity_id").alias("le")
    )
    b = docs.select(
        F.col("doc_id").alias("right_doc_id"), F.col("entity_id").alias("re")
    )
    pos = (
        a.join(b, F.col("le") == F.col("re"))
        .where(F.col("left_doc_id") < F.col("right_doc_id"))
        .select("left_doc_id", "right_doc_id", F.lit(True).alias("is_match"))
    )
    # hard-ish negatives: consecutive entity ids (names unrelated, but gives
    # deterministic non-match pairs without a cross join)
    neg = (
        a.join(b, F.col("re") == F.col("le") + 1)
        .select("left_doc_id", "right_doc_id", F.lit(False).alias("is_match"))
    )
    return pos.unionByName(neg)


# ---------------------------------------------------------------------------
# dictionaries (T3)
# ---------------------------------------------------------------------------

GOLDEN_28 = [
    "a", "ab", "abc", "abcd", "abcde", "b", "bc", "bcd", "bcde",
    "test", "testing", "tested", "tester", "tests",
    "best", "rest", "nest", "west", "quest",
    "foo", "food", "fool", "football",
    "bar", "bark", "barn", "barley",
]


def random_dictionary(n: int, seed: int, min_len: int = 1, max_len: int = 15) -> list[str]:
    rng = random.Random(seed)
    out = set()
    while len(out) < n:
        k = rng.randint(min_len, max_len)
        out.add("".join(rng.choice(ALPHABET) for _ in range(k)))
    return sorted(out)
