"""Blocking-key generation — the distributed analog of the DAWG index.

The reference's dictionary structures (``src/dictionary/double_array_trie.rs``,
``dawg.rs``) make fuzzy search fast by sharing prefixes so the automaton only
explores terms that share a viable prefix window with the query.  In Spark the
same pruning is an **equi-join on blocking keys**: generate, for every term, a
small set of keys such that any pair within edit distance n shares at least
one key; then candidate generation is ``probe.join(dict, "key")``.

Everything here is `pyspark.sql.functions` — JVM-side, no Python in the
path.  The array-returning families (deletion, prefix-deletion, merge-split,
d3 hybrid, q-grams) are built from higher-order functions (``transform``,
``flatten``, ``array_distinct``), which Spark evaluates interpreted, outside
whole-stage codegen.  Hot paths at depth <= 2 use
:func:`deletion_key_rows` instead: the same deletion keys as generator rows
over ``sequence`` + ``substr``, hashed to longs, all codegen.

:func:`blocking_key_rows` is the single place that maps a (variant,
distance) key budget to an exact key family; the ER, linkage and fuzzy-query
joins all call it.

Key families:

- **prefix keys** (``prefix_key``): first p chars — the literal trie-walk
  analog (``PrefixZipper``, ``src/dictionary/prefix_zipper.rs:130``). Not
  deletion-robust on its own; used for sorted-neighborhood.
- **positional q-gram keys** (``ngram_keys``): all character q-grams tagged
  with a coarse position bucket.  Completeness: an edit changes at most q
  q-grams, so two strings of length ≥ q within distance n share a q-gram
  whenever ``min_len - q + 1 > n*q`` — we also emit a whole-string key for
  short strings so tiny terms still block together.
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


def tokens(col: Column) -> Column:
    """Split normalized text into alphanumeric tokens (array<string>)."""
    return F.filter(
        F.split(F.lower(col), r"[^a-z0-9]+"), lambda t: F.length(t) > 0
    )


# ---------------------------------------------------------------------------
# key generators (all return array<string>)
# ---------------------------------------------------------------------------


def prefix_key(col: Column, p: int = 4) -> Column:
    return F.substring(col, 1, p)


def ngram_keys(col: Column, q: int = 3, pos_bucket: int = 4) -> Column:
    """Positional character q-grams as an array of keys ``"g:<gram>:<bucket>"``.

    ``pos_bucket`` coarsens the gram position by integer division so that an
    edit shifting later grams by <= n positions still lands in the same or an
    adjacent bucket; we emit both the bucket and its successor for shift
    robustness.  Short strings (< q chars) emit a whole-string key.
    """
    s = col
    length = F.length(s)
    idxs = F.sequence(F.lit(1), F.greatest(length - (q - 1), F.lit(1)))
    grams = F.transform(
        idxs,
        lambda i: F.concat(
            F.lit("g:"),
            s.substr(i, F.lit(q)),
            F.lit(":"),
            ((i - 1) / pos_bucket).cast("int").cast("string"),
        ),
    )
    grams_shift = F.transform(
        idxs,
        lambda i: F.concat(
            F.lit("g:"),
            s.substr(i, F.lit(q)),
            F.lit(":"),
            (((i - 1) / pos_bucket).cast("int") + 1).cast("string"),
        ),
    )
    short = F.array(F.concat(F.lit("w:"), s))
    return F.when(length < q, short).otherwise(
        F.array_distinct(F.concat(grams, grams_shift))
    )


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


def _delete_at(s: Column, i) -> Column:
    """String with the i-th (1-based) character removed."""
    return F.concat(s.substr(F.lit(1), i - 1), s.substr(i + 1, F.length(s)))


def let_bound(value_col: Column, fn) -> Column:
    """Evaluate ``value_col`` ONCE per row and pass it to ``fn`` as a bound
    lambda variable.  Spark SQL has no `let`; referencing a subexpression
    twice re-evaluates its whole subtree (interpreted HOFs get no
    common-subexpression elimination) — see the same pattern in
    ``operators/dedup.py``."""
    return F.transform(F.array(value_col), fn)[0]


def sorted_neighborhood_key(col: Column, p: int = 5) -> Column:
    """Sort key for the sorted-neighborhood method (window-join downstream)."""
    return F.rpad(F.substring(col, 1, p), p, "\x00")


def _del1(s: Column) -> Column:
    """All single-character deletions of ``s`` (empty array for '')."""
    return F.when(F.length(s) < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s), F.lit(1))),
            lambda i: _delete_at(s, i),
        )
    )


def _deletion_set(s: Column, n: int) -> Column:
    """Deletion neighborhood of an arbitrary string *expression* (works on
    HOF lambda variables too) — the shared core of every deletion-key
    family.  Includes the string itself; distinct."""
    del1 = _del1(s)
    if n == 1:
        return F.array_distinct(F.concat(F.array(s), del1))
    if n == 2:

        def build(d1: Column) -> Column:
            del2 = F.flatten(F.transform(d1, _del1))
            return F.array_distinct(F.concat(F.array(s), d1, del2))

        return let_bound(del1, build)

    # n == 3: depth-3 = depth-1 of every depth-2 member (deletions compose);
    # let-bind each level so it is evaluated once, not re-expanded per ref.
    def build3(d1: Column) -> Column:
        def build3b(d2: Column) -> Column:
            d3 = F.flatten(F.transform(d2, _del1))
            return F.array_distinct(F.concat(F.array(s), d1, d2, d3))

        return let_bound(F.flatten(F.transform(d1, _del1)), build3b)

    return let_bound(del1, build3)


def prefix_deletion_keys(col: Column, n: int = 1, max_prefix_len: int | None = None) -> Column:
    """Union of the depth-``n`` deletion neighborhoods of every prefix of the
    term (including the empty prefix) — the dictionary-side key family for
    PREFIX-mode fuzzy queries (reference: ``.prefix()`` riding the trie,
    ``src/transducer/ordered_query.rs:320``).

    Completeness: prefix-mode matches q to t iff ed(q, t[:k]) <= n for some
    k; SymSpell then guarantees del_n(q) ∩ del_n(t[:k]) != ∅, and
    del_n(t[:k]) ⊆ prefix_deletion_keys(t) whenever k <= max_prefix_len.
    Since ed >= length gap, only k <= len(q) + n can match — so passing
    ``max_prefix_len = max probe length + n`` loses nothing and bounds the
    key count at O((max_probe_len + n)^2) per term instead of O(len(t)^2);
    at 10^12 terms that cap is what keeps the index linear in the
    dictionary.  Probe side pairs with plain :func:`deletion_neighborhood_keys`.
    """
    if n not in (1, 2):
        raise ValueError("prefix_deletion_keys supports n in {1, 2}")
    s = col
    kmax = F.length(s)
    if max_prefix_len is not None:
        kmax = F.least(kmax, F.lit(max_prefix_len))
    prefixes = F.transform(
        F.sequence(F.lit(0), F.greatest(kmax, F.lit(0))),
        lambda k: s.substr(F.lit(1), k),
    )
    return F.array_distinct(
        F.flatten(F.transform(prefixes, lambda p: _deletion_set(p, n)))
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


def merge_split_keys(col: Column, n: int = 2) -> Column:
    """Blocking keys exact for the MergeAndSplit variant at distance n=2:
    depth-4 deletion neighborhood for short strings, 3-grams for long ones
    (see band constants above; ``d:``/``g:`` namespaces keep the families
    from cross-joining).  n=1 callers should use depth-2 deletion keys
    directly (``key_budget=2`` in the matching layer)."""
    if n != 2:
        raise ValueError("merge_split_keys implements the n=2 scheme")
    s = col
    length = F.length(s)
    # depth-4 = depth-2 of every depth-2 member (deletions compose)
    d4 = F.array_distinct(
        F.flatten(F.transform(_deletion_set(s, 2), lambda x: _deletion_set(x, 2)))
    )
    del_keys = F.transform(d4, lambda x: F.concat(F.lit("d:"), x))
    gram_keys = F.transform(
        ngram_keys_unpositioned(s, 3), lambda g: F.concat(F.lit("g:"), g)
    )
    return (
        F.when(length < MS_GRAM_MIN_LEN, del_keys)
        .when(length > MS_DEL_MAX_LEN, gram_keys)
        .otherwise(F.concat(del_keys, gram_keys))
    )


# Distance-3 hybrid key scheme (round-4; VERDICT r3 task 1).  The n-gram
# fallback previously used for n >= 3 provably loses short-string pairs
# (3 edits can destroy every 3-gram of a <= 6-char term), while full
# depth-3 deletion neighborhoods are O(len^3) keys — prohibitive for long
# terms at 10^12-term scale.  The hybrid bands by length, exactly like
# `merge_split_keys`:
#
# - SHORT strings emit the depth-3 symmetric-deletion neighborhood
#   (namespace "d:").  Exact at any length for both Standard and
#   OSA/Transposition distance <= 3: every op is bridged by deleting <= 1
#   char on each side (sub 1+1, ins 0+1, del 1+0, adjacent transposition
#   1+1 — delete either swapped char from each side and the remainders
#   agree), so <= 3 ops are bridged by <= 3 deletions per side and the
#   depth-3 neighborhoods intersect (the SymSpell/FastSS argument).
#   Bounded cost: the band cap keeps this at <= C(13,<=3) = 378 keys for
#   OSA (<= 176 for Standard), short keys, short strings only.
#
# - LONG strings emit positional 2-grams with position bucket 4 and the
#   successor-bucket trick (``ngram_keys(q=2, pos_bucket=4)``): a
#   surviving gram's position shifts by <= net-indels <= 3 < 4, so the
#   two sides' {bucket, bucket+1} sets intersect.  Gram completeness: a
#   string of length l has l-1 2-grams; each sub/ins/del destroys <= 2 of
#   them, an adjacent transposition <= 3, so 3 edits destroy <= 6
#   (Standard) / <= 9 (OSA) grams and at least one survives verbatim when
#   l - 1 > killed, i.e. l >= killed + 2 = D3_*_GRAM_MIN_LEN.
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


def d3_hybrid_keys(col: Column, transposition: bool = False) -> Column:
    """Blocking keys exact for Standard (and, with ``transposition=True``,
    OSA/Damerau) distance n=3: depth-3 deletion neighborhood for short
    strings, positional 2-grams for long ones (band proof above; ``d:`` /
    ``g:`` namespaces keep the families from cross-joining)."""
    gram_min = D3_OSA_GRAM_MIN_LEN if transposition else D3_STD_GRAM_MIN_LEN
    del_max = gram_min + 2
    s = col
    length = F.length(s)
    del_keys = F.transform(_deletion_set(s, 3), lambda x: F.concat(F.lit("d:"), x))
    gram_keys = ngram_keys(s, q=2, pos_bucket=4)  # "g:<gram>:<bucket>" + successor
    return (
        F.when(length < gram_min, del_keys)
        .when(length > del_max, gram_keys)
        .otherwise(F.concat(del_keys, gram_keys))
    )


def deletion_neighborhood_keys(col: Column, n: int = 1) -> Column:
    """All strings obtainable by deleting up to ``n`` characters — the
    FastSS / symmetric-delete blocking family.  Exact for distance <= n:
    q and t within distance n always share a member of their deletion
    neighborhoods.  n=1 emits len+1 keys; n=2 is quadratic — gated.

    This is the closest distributed analog of automaton-guided trie
    intersection: both enumerate the *bounded-error neighborhood* instead of
    scanning the dictionary.

    n=3 is exposed for tests and short-string callers; production blocking
    at n=3 should use :func:`d3_hybrid_keys`, which caps the O(len^3) key
    count by switching long strings to positional 2-grams.
    """
    if n not in (1, 2, 3):
        raise ValueError("deletion_neighborhood_keys supports n in {1, 2, 3}")
    return _deletion_set(col, n)


def deletion_key_rows(df: DataFrame, col: str, n: int = 1) -> DataFrame:
    """``(col, key)`` rows carrying the depth-``n`` deletion keys of ``col``
    (n in {1, 2}) as ``xxhash64`` longs — the hashes of exactly the strings
    :func:`deletion_neighborhood_keys` returns, with repeats.

    The HOF form builds one array per row in interpreted expressions; this
    form enumerates deletion positions with chained ``explode(sequence)``
    generators (0 = no deletion, ``j`` runs from ``i``) and cuts the string
    with ``substr``, so the whole projection runs in whole-stage codegen.
    Positions ``(i, j)`` keep ``i == 0 or i < j``: ``(0, 0)`` is the term,
    ``(0, j)`` drops char j, ``(i, j)`` drops chars i and j.  A term with
    repeated characters emits repeated keys; callers dedupe pairs after the
    join.  A hash collision can only add a candidate pair, which the exact
    kernel rejects.
    """
    if n not in (1, 2):
        raise ValueError("deletion_key_rows supports n in {1, 2}")
    s = F.col(col)
    length = F.length(s)
    j = F.col("_del_j")
    if n == 1:
        rows = df.select(col, F.explode(F.sequence(F.lit(0), length)).alias("_del_j"))
        i = F.lit(0)
    else:
        i = F.col("_del_i")
        rows = (
            df.select(col, F.explode(F.sequence(F.lit(0), length)).alias("_del_i"))
            .select(col, "_del_i", F.explode(F.sequence(i, length)).alias("_del_j"))
            .where((i == 0) | (i < j))
        )
    # s minus chars i and j (1-based; position 0 deletes nothing): a
    # negative substr length yields ""
    kept = F.concat(
        s.substr(F.lit(1), i - 1),
        s.substr(i + 1, j - i - 1),
        s.substr(j + 1, length),
    )
    return rows.select(col, F.xxhash64(kept).alias("key"))


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

    - budget <= 2: the compiled deletion keys of :func:`deletion_key_rows`;
    - budget 3 under Standard or OSA: ``xxhash64`` of :func:`d3_hybrid_keys`
      (its band constants are variant-specific, so ``variant`` must be
      passed: Standard's band is incomplete for OSA);
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
    if budget == 3 and variant in (STANDARD, TRANSPOSITION):
        keys = d3_hybrid_keys(F.col(col), transposition=variant == TRANSPOSITION)
        return df.select(col, F.explode(keys).alias("_k")).select(
            col, F.xxhash64("_k").alias("key")
        )
    raise ValueError(
        f"no exact blocking-key scheme for variant={variant!r} at key budget "
        f"{budget}; supported: any variant with budget <= 2, "
        "standard/transposition at 3"
    )
