"""Blocking-key generation — the distributed analog of the DAWG index.

The reference's dictionary structures (``src/dictionary/double_array_trie.rs``,
``dawg.rs``) make fuzzy search fast by sharing prefixes so the automaton only
explores terms that share a viable prefix window with the query.  In Spark the
same pruning is an **equi-join on blocking keys**: generate, for every term, a
small set of keys such that any pair within edit distance n shares at least
one key; then candidate generation is ``probe.join(dict, "key")``.

Everything here is `pyspark.sql.functions` — JVM-side, no Python in the
path.  Every blocked join keys both sides with ``(col, key: long)`` rows
from one generator: chained ``explode(sequence)`` rows pick character
positions, ``substr`` cuts the string, ``xxhash64`` hashes the piece.  No
higher-order function is involved, so the whole key derivation runs in
whole-stage codegen.

Key row families:

- **deletion keys** (:func:`deletion_key_rows`, any depth n): the
  symmetric-deletion neighborhood, exact for edit distance <= n;
- **prefix-deletion keys** (:func:`prefix_deletion_key_rows`): the same
  generator over every prefix — the prefix side of prefix and substring
  queries;
- **length-banded hybrids** (Standard/OSA n=3, MergeAndSplit n=2):
  deletion rows for short values, q-gram rows (``explode(sequence)`` +
  ``substr``, optionally position-bucketed) for long ones; band proofs
  are with their constants below.

:func:`blocking_key_rows` is the single place that maps a (variant,
distance) key budget to an exact key family; the ER, linkage and
fuzzy-query joins all call it.

Column key generators (one value or array per row):

- **unpositioned q-grams** (``ngram_keys_unpositioned``): string keys,
  kept for the SQL-mirrored ``blocking_key_stats`` query.
- **sorted-neighborhood key** (``sorted_neighborhood_key``): a sort prefix;
  downstream a window over the globally sorted key joins each row to its w
  neighbors (``operators/blocking.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernel.distances import MERGE_AND_SPLIT, STANDARD, TRANSPOSITION

# ---------------------------------------------------------------------------
# normalization
# ---------------------------------------------------------------------------


def normalize_term(col: Column) -> Column:
    """Lowercase + trim + collapse whitespace: canonical term form.

    Mirrors the codepoint-level (`char` CharUnit) path of the reference —
    byte-level tricks are irrelevant under Arrow.
    """
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


# ---------------------------------------------------------------------------
# column key generators
# ---------------------------------------------------------------------------


def ngram_keys_unpositioned(col: Column, q: int = 3) -> Column:
    """Plain character q-gram keys (no position) — higher recall, hotter keys.

    Used for the oracle-checked blocking queries because it is exactly
    expressible in ANSI SQL (substring + series join).
    """
    s = col
    length = F.length(s)
    idxs = F.sequence(F.lit(1), F.greatest(length - (q - 1), F.lit(1)))
    grams = F.transform(idxs, lambda i: s.substr(i, F.lit(q)))
    short = F.array(s)
    return F.when(length < q, short).otherwise(F.array_distinct(grams))


def sorted_neighborhood_key(col: Column, p: int = 5) -> Column:
    """Sort key for the sorted-neighborhood method (window-join downstream)."""
    return F.rpad(F.substring(col, 1, p), p, "\x00")


# ---------------------------------------------------------------------------
# key rows: (col, key: long), all whole-stage codegen
# ---------------------------------------------------------------------------


def _deletion_rows(rows: DataFrame, col: str, src: str, n: int) -> DataFrame:
    """``(col, key)`` rows: ``xxhash64`` of ``src`` with every set of at
    most ``n`` character positions deleted.  One ``explode(sequence(prev,
    len))`` generator per level enumerates the positions (0 = no deletion);
    keeping ``prev == 0 or prev < next`` makes the nonzero positions
    strictly increasing, so each position set appears once, and ``concat``
    joins the ``substr`` segments between them (a negative ``substr``
    length yields "")."""
    s = F.col(src)
    length = F.length(s)
    keep = [col] if src == col else [col, src]
    pos = [F.col(f"_del_{k}") for k in range(n)]
    for k, p in enumerate(pos):
        prev = pos[k - 1] if k else F.lit(0)
        gen = F.explode(F.sequence(prev, length)).alias(f"_del_{k}")
        rows = rows.select(*keep, *pos[:k], gen)
        if k:
            rows = rows.where((prev == 0) | (prev < p))
    kept = F.concat(
        s.substr(F.lit(1), pos[0] - 1),
        *[s.substr(a + 1, b - a - 1) for a, b in zip(pos, pos[1:])],
        s.substr(pos[-1] + 1, length),
    )
    return rows.select(col, F.xxhash64(kept).alias("key"))


def deletion_key_rows(df: DataFrame, col: str, n: int = 1) -> DataFrame:
    """``(col, key)`` rows carrying the depth-``n`` deletion neighborhood of
    ``col`` — every string obtainable by deleting at most ``n`` characters
    — as ``xxhash64`` longs: the FastSS / symmetric-delete family, exact for
    edit distance ``<= n`` (two strings within distance n share a member of
    their deletion neighborhoods).  ``n + 1`` keys per term at n=1,
    ``sum_{k<=n} C(len, k)`` rows in general.

    This is the closest distributed analog of automaton-guided trie
    intersection: both enumerate the *bounded-error neighborhood* instead
    of scanning the dictionary.  A term with repeated characters emits
    repeated keys; callers dedupe pairs after the join.  A hash collision
    can only add a candidate pair, which the exact kernel rejects.
    """
    return _deletion_rows(df, col, col, n)


def prefix_deletion_key_rows(
    df: DataFrame, col: str, n: int = 1, max_prefix_len: int | None = None
) -> DataFrame:
    """``(col, key)`` rows carrying the depth-``n`` deletion neighborhoods
    of every prefix of ``col`` (the empty prefix included) — the key family
    for the prefix side of PREFIX- and SUBSTRING-mode fuzzy queries
    (reference: ``.prefix()`` riding the trie,
    ``src/transducer/ordered_query.rs:320``).  It explodes the prefix
    lengths, then runs the :func:`deletion_key_rows` generator on each
    prefix.

    Completeness: prefix mode matches q to t iff ed(q, t[:k]) <= n for some
    k; SymSpell then guarantees del_n(q) ∩ del_n(t[:k]) != ∅.  Since ed >=
    length gap, only k <= len(q) + n can match, so ``max_prefix_len = max
    probe length + n`` loses nothing and bounds the key count at
    O((max_probe_len + n)^(n+1)) per term instead of O(len(t)^(n+1)).
    """
    s = F.col(col)
    kmax = F.length(s)
    if max_prefix_len is not None:
        kmax = F.least(kmax, F.lit(max_prefix_len))
    prefixes = df.select(
        col, F.explode(F.sequence(F.lit(0), kmax)).alias("_pre_k")
    ).select(col, s.substr(F.lit(1), F.col("_pre_k")).alias("_pre"))
    return _deletion_rows(prefixes, col, "_pre", n)


def _gram_rows(df: DataFrame, col: str, q: int, pos_bucket: int | None) -> DataFrame:
    """``(col, key)`` rows: ``xxhash64`` of every character q-gram of
    ``col`` (rows must have length >= q), tagged ``g:`` so the hashes stay
    apart from deletion keys.  With ``pos_bucket`` each gram also carries
    its position bucket ``(i - 1) // pos_bucket`` and, as a second row, the
    successor bucket: an edit that shifts a gram by fewer than
    ``pos_bucket`` positions still lands in an intersecting bucket pair."""
    s = F.col(col)
    i = F.col("_gram_i")
    starts = F.sequence(F.lit(1), F.length(s) - (q - 1))
    rows = df.select(col, F.explode(starts).alias("_gram_i"))
    gram = F.concat(F.lit("g:"), s.substr(i, F.lit(q)))
    if pos_bucket is not None:
        bucket = ((i - 1) / pos_bucket).cast("int")
        rows = rows.select(
            col, "_gram_i", F.explode(F.sequence(bucket, bucket + 1)).alias("_gram_b")
        )
        gram = F.concat(gram, F.lit(":"), F.col("_gram_b").cast("string"))
    return rows.select(col, F.xxhash64(gram).alias("key"))


def _banded_key_rows(
    df: DataFrame,
    col: str,
    depth: int,
    del_max: int,
    gram_min: int,
    q: int,
    pos_bucket: int | None = None,
) -> DataFrame:
    """Length-banded hybrid: depth-``depth`` deletion rows for values of
    length <= ``del_max``, q-gram rows for length >= ``gram_min``.  The
    bands overlap, so values in ``[gram_min, del_max]`` emit both (the
    band proofs are with the constants below)."""
    length = F.length(F.col(col))
    return deletion_key_rows(df.where(length <= del_max), col, depth).union(
        _gram_rows(df.where(length >= gram_min), col, q, pos_bucket)
    )


# Merge-and-split hybrid key scheme: each merge/split/sub/ins/del op is
# bridged by deleting <= 2 characters on each side (merge: 2 source chars +
# 1 target char; split: 1 + 2; sub: 1 + 1; ins/del: <= 1), so strings within
# merge-split distance n share a member of their depth-2n deletion
# neighborhoods.  Depth 4 (n=2) is emitted only for strings of length <=
# MS_DEL_MAX_LEN; longer strings switch to unpositioned 3-grams, which are
# complete for pairs where both sides have length >= MS_GRAM_MIN_LEN: n=2
# ops touch <= 2 chars each, each op window kills <= 4 of the 3-grams, so
# >= (len-2) - 8 grams survive untouched and appear verbatim in the other
# string.  The bands OVERLAP (strings in [MS_GRAM_MIN_LEN, MS_DEL_MAX_LEN]
# emit both families) so any length-compatible pair (|len diff| <= n=2)
# shares a complete family:
#   min(len) <= MS_DEL_MAX_LEN - n  -> max <= MS_DEL_MAX_LEN -> both emit
#       deletion keys (complete at any length);
#   min(len) >  MS_DEL_MAX_LEN - n = 11  -> both >= MS_GRAM_MIN_LEN ->
#       both emit grams (complete because min length >= 11).
MS_DEL_MAX_LEN = 13
MS_GRAM_MIN_LEN = 11


# Distance-3 hybrid key scheme (round-4; VERDICT r3 task 1).  Unpositioned
# 3-grams provably lose short-string pairs at n=3 (3 edits can destroy
# every 3-gram of a <= 6-char term), while full depth-3 deletion
# neighborhoods are O(len^3) keys — prohibitive for long terms at
# 10^12-term scale.  The hybrid bands by length, like the merge-split one:
#
# - SHORT strings emit the depth-3 symmetric-deletion neighborhood.  Exact
#   at any length for both Standard and OSA/Transposition distance <= 3:
#   every op is bridged by deleting <= 1 char on each side (sub 1+1, ins
#   0+1, del 1+0, adjacent transposition 1+1 — delete either swapped char
#   from each side and the remainders agree), so <= 3 ops are bridged by
#   <= 3 deletions per side and the depth-3 neighborhoods intersect (the
#   SymSpell/FastSS argument).  Bounded cost: the band cap keeps this at
#   <= C(13,<=3) = 378 keys for OSA (<= 176 for Standard).
#
# - LONG strings emit positional 2-grams with position bucket 4 and the
#   successor-bucket row: a surviving gram's position shifts by <=
#   net-indels <= 3 < 4, so the two sides' {bucket, bucket+1} sets
#   intersect.  Gram completeness: a string of length l has l-1 2-grams;
#   each sub/ins/del destroys <= 2 of them, an adjacent transposition <= 3,
#   so 3 edits destroy <= 6 (Standard) / <= 9 (OSA) grams and at least one
#   survives verbatim when l - 1 > killed, i.e. l >= killed + 2 =
#   D3_*_GRAM_MIN_LEN.
#
# The bands OVERLAP by 2 so any length-compatible pair (|len diff| <= 3)
# shares a complete family:
#   min(len) <= DEL_MAX - 3  -> max <= DEL_MAX -> both emit deletion keys
#       (complete at any length);
#   min(len) >  DEL_MAX - 3, i.e. min >= DEL_MAX - 2 = GRAM_MIN -> both
#       emit grams (complete because min length >= GRAM_MIN).
# Reference contract motivating d=3 blocked recall: Holbrook 100% @ d<=3,
# Birkbeck >95% @ d<=3 (`data/corpora/README.md:250-255`,
# `tests/corpus_validation.rs:25-26`); the automaton cross-val proptests
# run d in 0..3 (`tests/proptest_automaton_distance_cross_validation.rs`).
D3_STD_GRAM_MIN_LEN = 8
D3_STD_DEL_MAX_LEN = 10
D3_OSA_GRAM_MIN_LEN = 11
D3_OSA_DEL_MAX_LEN = 13


def variant_key_budget(variant: str | None, max_distance: int) -> int:
    """Deletion depth that blocks ``variant`` at ``max_distance`` exactly:
    a merge or split spans up to two standard edits, so MergeAndSplit needs
    twice the depth.  At least 1, so d=0 still joins equal terms."""
    span = 2 if variant == MERGE_AND_SPLIT else 1
    return max(max_distance * span, 1)


def blocking_key_rows(
    df: DataFrame, col: str, budget: int, variant: str | None = None
) -> DataFrame:
    """``(col, key: long)`` rows such that two values of ``col`` within key
    budget ``budget`` (see :func:`variant_key_budget`) share a key — the one
    place that picks the key family for every blocked vocabulary or
    dictionary join:

    - budget <= 2: :func:`deletion_key_rows` at that depth;
    - budget 3 under Standard or OSA: the d=3 banded hybrid (depth-3
      deletion rows + positional 2-gram rows; its band constants are
      variant-specific, so ``variant`` must be passed: Standard's band is
      incomplete for OSA);
    - budget 4 under MergeAndSplit: the n=2 banded hybrid (depth-4
      deletion rows + unpositioned 3-gram rows);
    - anything else raises ``ValueError``: no exact family exists, and a
      blocked join must not lose pairs silently.

    Keys are 8-byte longs: half the exchange bytes and join hashing cost of
    string keys.  A hash collision ADDS candidate pairs (the kernel rejects
    them; ~2^-44 odds per key pair), with one theoretical asterisk: a
    collision that merges a benign key into a key already past a caller's
    extreme-fan-out threshold could drop that key's pairs with the extreme
    band.  At 2^-44 per pair of keys this is astronomically unlikely (and
    bounded by one key's pairs); completeness is probabilistic only in that
    sense.

    Rows can repeat (a term with repeated characters reaches a deletion key
    through several positions): dedupe ``(col, key)`` before counting
    per-key fan-out, and dedupe pairs after the join.
    """
    if budget <= 2:
        return deletion_key_rows(df, col, budget)
    if budget == 3 and variant == STANDARD:
        return _banded_key_rows(df, col, 3, D3_STD_DEL_MAX_LEN, D3_STD_GRAM_MIN_LEN, 2, 4)
    if budget == 3 and variant == TRANSPOSITION:
        return _banded_key_rows(df, col, 3, D3_OSA_DEL_MAX_LEN, D3_OSA_GRAM_MIN_LEN, 2, 4)
    if budget == 4 and variant == MERGE_AND_SPLIT:
        return _banded_key_rows(df, col, 4, MS_DEL_MAX_LEN, MS_GRAM_MIN_LEN, 3)
    raise ValueError(
        f"no exact blocking-key scheme for variant={variant!r} at key budget "
        f"{budget}; supported: any variant with budget <= 2, "
        "standard/transposition at 3, merge_and_split at 4"
    )
