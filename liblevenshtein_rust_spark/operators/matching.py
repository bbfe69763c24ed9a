"""Candidate generation + pairwise scoring — the engine's fuzzy query core.

Spark-first restatement of the reference's query entry points
(``Transducer::query`` ``src/transducer/mod.rs:360-369``, ``query_ordered``
``:418-427``, ``query_filtered`` ``:548-564``, fuzzy multimap
``src/cache/multimap.rs:288``):

    probes ⋈ blocking-keys ⋈ dictionary  →  length prefilter (JVM)
    →  pair dedupe  →  distance + accept: JVM ``levenshtein`` for plain
       Standard, vectorized Arrow kernel otherwise  →  rank / agg

Design notes for 100 TB:
- The blocking join is an equi-join on `key`, run at the dictionary's
  scan parallelism: no side is deduped before its key explode, pairs are
  deduped once after the join.  Shuffled joins rely on AQE to split skewed
  keys at runtime; nothing caps a pathological key's candidate list.
- Both sides are keyed with compiled ``(col, key: long)`` rows from
  ``functions.blocking_keys`` (codegen generators, no interpreted HOF).
  Every variant's family, the weighted query's included, is chosen in one
  place, ``blocking_key_rows``, shared with the ER and linkage vocabulary
  joins; prefix and substring modes pair deletion rows with
  prefix-deletion rows.
- The length prefilter runs JVM-side *before* Arrow serialization.
  Plain Standard scoring never leaves the JVM: its accept filter is
  pushed into the join condition, so the pair dedupe shuffles only
  accepted pairs.
- Small probe sets are broadcast (`F.broadcast`) so the dictionary never
  shuffles for interactive queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.blocking_keys import (
    blocking_key_rows,
    deletion_key_rows,
    prefix_deletion_key_rows,
    variant_key_budget,
)
from ..functions.udfs import edit_distance_udf, length_prefilter
from ..kernel.distances import MERGE_AND_SPLIT, STANDARD


def candidate_pairs(
    probes: DataFrame,
    dictionary: DataFrame,
    max_distance: int,
    probe_col: str = "query",
    term_col: str = "term",
    broadcast_probes: bool = True,
    key_budget: int | None = None,
    variant: str | None = None,
) -> DataFrame:
    """Join probes to dictionary on shared blocking keys.

    The key family is :func:`blocking_key_rows`'s choice for the key
    budget, which defaults to ``variant_key_budget(variant, max_distance)``;
    a budget with no exact family raises ``ValueError``.  ``variant`` matters only there:
    at budget 3 the d3 band constants are variant-specific, so a d=3 caller
    must pass its actual variant or this raises, and a transposition caller
    can never silently get the narrower Standard band.

    ``key_budget`` overrides the budget when a caller's ops are not one of
    the three variants (the weighted query derives it from op shapes); the
    length prefilter stays at ``max_distance`` (every variant op changes
    string length by at most 1).

    Returns distinct (probe_col, term_col) candidate pairs.
    """
    kb = key_budget
    if kb is None:
        kb = variant_key_budget(variant, max_distance)
    return _keyed_candidate_pairs(
        blocking_key_rows(_values(probes, probe_col), probe_col, kb, variant),
        blocking_key_rows(_values(dictionary, term_col), term_col, kb, variant),
        probe_col,
        term_col,
        broadcast_probes,
        pair_filter=length_prefilter(F.col(probe_col), F.col(term_col), max_distance),
    )


def _values(df: DataFrame, col: str) -> DataFrame:
    """The non-null values of ``col``, one column."""
    return df.select(col).where(F.col(col).isNotNull())


def _keyed_candidate_pairs(
    probe_keys: DataFrame,
    term_keys: DataFrame,
    probe_col: str,
    term_col: str,
    broadcast_probes: bool,
    pair_filter=None,
) -> DataFrame:
    """Generic blocked candidate generation: equi-join the two sides'
    (col, key) rows on key, dedupe, optional pair filter.  All key families
    are recall-complete supersets; the kernel is the exact filter.

    Pairs are deduped once, after the join.  Neither side is deduped before
    its key explode: a pre-explode ``distinct()`` shuffles the terms, and
    AQE coalesces that small shuffle to one partition, so the explode and
    the join would run in a single task instead of at scan parallelism.
    Repeated terms or keys only repeat join rows, which the pair
    ``distinct()`` removes."""
    if broadcast_probes:
        probe_keys = F.broadcast(probe_keys)
    pairs = probe_keys.join(term_keys, "key").select(probe_col, term_col).distinct()
    if pair_filter is not None:
        pairs = pairs.where(pair_filter)
    return pairs


def prefix_candidate_pairs(
    probes: DataFrame,
    dictionary: DataFrame,
    max_distance: int,
    probe_col: str = "query",
    term_col: str = "term",
    broadcast_probes: bool = True,
    max_probe_len: int | None = None,
) -> DataFrame:
    """PREFIX-mode blocking: probe emits its deletion neighborhood, term
    emits the deletion neighborhoods of its prefixes up to length
    ``max_probe_len + n`` (exact — a prefix match at distance n can't use a
    longer prefix; see :func:`prefix_deletion_key_rows`).  The reference walks
    the trie for this (``ordered_query.rs:320``); prefix keys are the join
    form of the same prefix-sharing.

    ``max_probe_len`` defaults to one scalar aggregate over the probe table
    (a bounded driver fetch, same class as the sorted-neighborhood offsets).
    """
    n = max_distance
    if max_probe_len is None:
        row = probes.agg(F.max(F.length(probe_col))).first()
        max_probe_len = int(row[0] or 0)
    return _keyed_candidate_pairs(
        deletion_key_rows(_values(probes, probe_col), probe_col, n),
        prefix_deletion_key_rows(
            _values(dictionary, term_col), term_col, n, max_prefix_len=max_probe_len + n
        ),
        probe_col,
        term_col,
        broadcast_probes,
        # a term only matches if some prefix reaches within n of the probe:
        # that prefix has length >= len(probe) - n, so the term must too
        pair_filter=F.length(term_col) >= F.length(probe_col) - n,
    )


def substring_candidate_pairs(
    probes: DataFrame,
    dictionary: DataFrame,
    max_distance: int,
    probe_col: str = "query",
    term_col: str = "term",
    broadcast_probes: bool = True,
) -> DataFrame:
    """SUBSTRING-mode blocking — the mirror of prefix mode: the term must be
    within n of some *prefix of the probe*, so the PROBE emits its
    prefix-deletion keys (all prefixes — the probe side is the small side)
    and the dictionary emits plain deletion keys, the same index the
    standard mode already uses.  Reference analog: the suffix-automaton
    index (``suffix_automaton.rs:758``) — the inverted index over term
    deletion variants plays the automaton's role."""
    n = max_distance
    return _keyed_candidate_pairs(
        prefix_deletion_key_rows(_values(probes, probe_col), probe_col, n),
        deletion_key_rows(_values(dictionary, term_col), term_col, n),
        probe_col,
        term_col,
        broadcast_probes,
        pair_filter=F.length(probe_col) >= F.length(term_col) - n,
    )


def _scan_pairs(
    probes: DataFrame,
    dictionary: DataFrame,
    probe_col: str,
    term_col: str,
    broadcast_probes: bool,
) -> DataFrame:
    """Every (probe, term) pair: the cross join against (broadcast) probes
    that serves combinations without an exact key family.  Correct but not
    scale-safe; the kernel rejects cheaply."""
    p = probes.select(probe_col).distinct()
    if broadcast_probes:
        p = F.broadcast(p)
    pairs = dictionary.select(term_col).distinct().join(p)
    return pairs.select(probe_col, term_col)


def fuzzy_query(
    probes: DataFrame,
    dictionary: DataFrame,
    max_distance: int,
    variant: str = STANDARD,
    probe_col: str = "query",
    term_col: str = "term",
    prefix_mode: bool = False,
    substring_mode: bool = False,
    allowed_subs: frozenset | None = None,
    broadcast_probes: bool = True,
) -> DataFrame:
    """`Transducer::query_with_distance` as a DataFrame op.

    Output: (query, term, distance) for every dictionary term within
    ``max_distance`` of each probe.  Blocking is exact in every mode:

    - standard/transposition at n <= 3 and MergeAndSplit at n <= 2:
      :func:`candidate_pairs`, i.e. the key family
      :func:`blocking_key_rows` picks for the variant's key budget;
    - prefix mode: probe deletion keys × term *prefix*-deletion keys
      (:func:`prefix_candidate_pairs`);
    - substring mode: the mirror — probe prefix-deletion keys × term
      deletion keys (:func:`substring_candidate_pairs`).

    Everything else (standard/transposition n >= 4, MergeAndSplit n > 2,
    prefix/substring under MergeAndSplit or outside 1 <= n <= 2) falls back
    to the broadcast-probe dictionary scan — correct but not scale-safe;
    callers at cluster scale should stay inside the keyed modes.
    """
    n = max_distance
    keyed_variant = variant != MERGE_AND_SPLIT
    if prefix_mode and keyed_variant and 1 <= n <= 2:
        pairs = prefix_candidate_pairs(
            probes, dictionary, n, probe_col, term_col, broadcast_probes
        )
    elif substring_mode and keyed_variant and 1 <= n <= 2:
        pairs = substring_candidate_pairs(
            probes, dictionary, n, probe_col, term_col, broadcast_probes
        )
    elif prefix_mode or substring_mode:
        pairs = _scan_pairs(probes, dictionary, probe_col, term_col, broadcast_probes)
    else:
        try:
            pairs = candidate_pairs(
                probes,
                dictionary,
                n,
                probe_col,
                term_col,
                broadcast_probes=broadcast_probes,
                variant=variant,
            )
        except ValueError:  # no exact key family at this budget
            pairs = _scan_pairs(
                probes, dictionary, probe_col, term_col, broadcast_probes
            ).where(length_prefilter(F.col(probe_col), F.col(term_col), n))
    dist = edit_distance_udf(
        max_distance,
        variant,
        prefix_mode=prefix_mode,
        substring_mode=substring_mode,
        allowed_subs=allowed_subs,
    )
    out = pairs.withColumn("distance", dist(F.col(probe_col), F.col(term_col)))
    return out.where(F.col("distance") >= 0)


def _weighted_blocking_bounds(weights, budget: float) -> dict:
    """Blocking-relevant bounds for a generalized op set at ``budget``:
    worst-case query/term chars consumed by non-match ops (``dq``/``dt`` —
    the deletion-key depth needed per side), worst-case length drift
    (``max_delta`` — the length-prefilter bound), op-count bound
    (``max_ops``), and widest segment (``max_seg``).  Each is the LP bound
    floor(budget * max_op(metric/weight)); zero-weight ops (unbounded
    applications) force the caller to the fallback path (``unbounded``)."""
    import math

    # (query_consumed ty, term_consumed tx, weight) per enabled op; kernel
    # orientation: delete eats a query char, insert eats a term char.
    ops = [(1, 1, weights.substitute), (0, 1, weights.insert), (1, 0, weights.delete)]
    if weights.transpose is not None:
        ops.append((2, 2, weights.transpose))
    if weights.merge is not None:
        ops.append((2, 1, weights.merge))
    if weights.split is not None:
        ops.append((1, 2, weights.split))
    from ..kernel.generalized import op_shape

    ops += [
        (ty, tx, wgt)
        for tx, ty, wgt, _, _ in (op_shape(o) for o in weights.extra_ops)
    ]
    if any(w == 0 for _, _, w in ops):
        return {"unbounded": True}

    def bound(metric) -> int:
        return math.floor(
            budget * max((metric(ty, tx) / w for ty, tx, w in ops), default=0)
            + 1e-9
        )

    return {
        "unbounded": False,
        "dq": bound(lambda ty, tx: ty),
        "dt": bound(lambda ty, tx: tx),
        "max_delta": bound(lambda ty, tx: abs(ty - tx)),
        "max_ops": bound(lambda ty, tx: 1),
        "max_seg": max((max(ty, tx) for ty, tx, _ in ops), default=1),
    }


def fuzzy_query_weighted(
    probes: DataFrame,
    dictionary: DataFrame,
    max_distance: float,
    weights,
    probe_col: str = "query",
    term_col: str = "term",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Fuzzy query under a runtime-weighted operation set
    (``GeneralizedAutomaton``, reference ``generalized/mod.rs``; restricted
    multichar ops per ``operation_type.rs:46-68``): output
    (query, term, distance) with the weighted distance <= budget.

    Blocking is chosen from :func:`_weighted_blocking_bounds`: two strings
    within weighted distance n agree after removing the chars the ops
    touched — at most ``dq`` from the query and ``dt`` from the term — so
    deletion neighborhoods at those depths must intersect (the SymSpell
    argument, op-weight generalized):

    - ``max(dq, dt) <= 2``: plain deletion keys at that depth;
    - depths <= 4, length drift <= 2, and total gram damage
      ``max_ops * (max_seg + 2) <= 8``: the MergeAndSplit n=2 rows of
      :func:`blocking_key_rows` (depth-4 deletion / 3-gram hybrid; its band
      proof needs exactly those bounds — see ``functions/blocking_keys``);
    - otherwise (incl. any zero-weight op, whose application count is
      unbounded): broadcast-probe scan, correct but not scale-safe.

    The length prefilter uses the op-derived drift bound ``max_delta``."""
    from ..functions.udfs import generalized_distance_udf

    b = _weighted_blocking_bounds(weights, float(max_distance))
    if not b["unbounded"] and max(b["dq"], b["dt"]) <= 2:
        pairs = candidate_pairs(
            probes,
            dictionary,
            b["max_delta"],
            probe_col,
            term_col,
            broadcast_probes=broadcast_probes,
            key_budget=max(b["dq"], b["dt"], 1),
        )
    elif (
        not b["unbounded"]
        and max(b["dq"], b["dt"]) <= 4
        and b["max_delta"] <= 2
        and b["max_ops"] * (b["max_seg"] + 2) <= 8
    ):
        pairs = candidate_pairs(
            probes,
            dictionary,
            b["max_delta"],
            probe_col,
            term_col,
            broadcast_probes=broadcast_probes,
            key_budget=4,
            variant=MERGE_AND_SPLIT,
        )
    else:
        pairs = _scan_pairs(probes, dictionary, probe_col, term_col, broadcast_probes)
        if not b["unbounded"]:
            pairs = pairs.where(
                length_prefilter(F.col(probe_col), F.col(term_col), b["max_delta"])
            )
    dist = generalized_distance_udf(max_distance, weights)
    out = pairs.withColumn("distance", dist(F.col(probe_col), F.col(term_col)))
    return out.where(F.col("distance") >= 0)


def fuzzy_query_ordered(
    probes: DataFrame,
    dictionary: DataFrame,
    max_distance: int,
    variant: str = STANDARD,
    limit: int | None = None,
    **kw,
) -> DataFrame:
    """`query_ordered` contract (``ordered_query.rs:30-41``): results sorted
    by (distance ASC, term ASC) per probe; optional per-probe top-k."""
    res = fuzzy_query(probes, dictionary, max_distance, variant, **kw)
    if limit is not None:
        w = Window.partitionBy("query").orderBy("distance", "term")
        res = (
            res.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= limit)
            .drop("rank")
        )
    return res.orderBy("query", "distance", "term")


def fuzzy_multimap_query(
    probes: DataFrame,
    mapped_dictionary: DataFrame,
    max_distance: int,
    variant: str = STANDARD,
    probe_col: str = "query",
    term_col: str = "term",
    value_col: str = "value",
) -> DataFrame:
    """FuzzyMultiMap::query (``src/cache/multimap.rs:83-112``): fuzzy-match
    keys, union all matched keys' values per probe (HashSet-union semantics →
    distinct aggregation).  ``values`` materializes the unioned value
    collection itself, sorted — the ``CollectionAggregate`` contract
    (``multimap.rs:67-80``: HashSet/BTreeSet union); the summary columns
    (n/min/max) stay for cheap cardinality-only consumers.  At scale the
    array column is bounded by the per-probe distinct-value fan-out, the
    same bound the reference's in-memory set union pays."""
    matches = fuzzy_query(
        probes,
        mapped_dictionary.select(term_col).distinct(),
        max_distance,
        variant,
        probe_col=probe_col,
        term_col=term_col,
    )
    joined = matches.join(mapped_dictionary, term_col)
    return joined.groupBy(probe_col).agg(
        F.countDistinct(value_col).alias("n_values"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
        F.countDistinct(term_col).alias("n_terms"),
        F.sort_array(F.collect_set(value_col)).alias("values"),
    )

