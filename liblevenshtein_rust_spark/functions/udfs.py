"""Per-pair distance functions for the fuzzy query, ER and linkage joins.

This is the complete custom-function surface identified in SURVEY.md §2.8:

- :func:`edit_distance_udf`  — per-pair variant distance, -1 when > n
  (reference contract: ``Transducer::query_with_distance``,
  ``src/transducer/mod.rs:375-388``; kernel semantics
  ``src/transducer/universal/automaton.rs:242-283``).  The accept
  predicate (``UniversalAutomaton::accepts``) is ``distance >= 0``.
  Plain Standard distance is Spark's codegen'd ``levenshtein(l, r, n)``;
  every other variant, mode or substitution policy is the Arrow kernel.
- :func:`generalized_distance_udf` — weighted distance over a runtime
  operation set (Arrow kernel).
- :func:`length_prefilter` — the JVM length guard placed before scoring.

The Arrow functions are *scalar pandas UDFs*: Spark hands us Arrow record
batches, the kernel runs banded-DP NumPy over the whole batch (loops only
over character positions, never rows), and a NumPy array goes straight
back through Arrow.  No per-row Python anywhere — the `input_hint`
requirement.

Parameters (max_distance, variant, modes, substitution policy) are bound at
UDF-construction time and captured in the closure — they ship to executors
once per task via pickled closure, the Spark analog of the reference's
compile-time algorithm parameterization (``src/transducer/algorithm.rs``).

Every Arrow UDF here is returned ``asNondeterministic()``.  The functions
are pure; the flag is an *evaluate-once fence*: callers follow the pattern
``pairs.distinct().withColumn(d, udf).where(d >= 0)``, and a deterministic
Python UDF lets Catalyst push the filter below the pair-distinct — running
the Arrow kernel a second time on every key-duplicated join row (measured:
2 ArrowEvalPython nodes, one under the Exchange).  Nondeterministic blocks
that pushdown, so the kernel runs exactly once per *distinct* pair while
the shuffle still carries only the (query, term) strings.  The JVM
``levenshtein`` path needs no fence: it is deterministic and cheap, so its
accept filter is pushed into the join condition and the pair-distinct
shuffles only accepted pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from ..kernel.batch import batch_distance
from ..kernel.distances import STANDARD


def edit_distance_udf(
    max_distance: int,
    variant: str = STANDARD,
    prefix_mode: bool = False,
    substring_mode: bool = False,
    allowed_subs: frozenset | None = None,
):
    """Return a function ``(query, term) -> int`` column (distance, or -1
    when > n).  A null string scores as ``""``."""
    n = int(max_distance)
    if n < 0:
        raise ValueError("max_distance must be >= 0")
    subs = allowed_subs
    if variant == STANDARD and not (prefix_mode or substring_mode or subs):
        return lambda query, term: F.levenshtein(
            F.coalesce(query, F.lit("")), F.coalesce(term, F.lit("")), n
        )

    @F.pandas_udf(IntegerType())
    def _dist(query: pd.Series, term: pd.Series) -> pd.Series:
        # pass the raw object arrays through — the kernel encodes each with
        # one join and one UTF-32 encode, no .tolist() copy
        out = batch_distance(
            query.to_numpy(),
            term.to_numpy(),
            n,
            variant,
            prefix_mode=prefix_mode,
            substring_mode=substring_mode,
            allowed_subs=subs,
        )
        return pd.Series(out)

    return _dist.asNondeterministic()


def generalized_distance_udf(max_distance: float, weights):
    """Return a pandas UDF ``(query, term) -> distance`` for the
    runtime-weighted operation set (reference
    ``generalized/operation_set.rs:204-239`` + restricted multichar ops,
    ``operation_type.rs:46-68``): weighted distance, or -1 when over budget.
    ``weights`` is an :class:`~..kernel.generalized.OperationWeights`
    captured in the closure — the Spark analog of the reference's runtime
    op-set dispatch.  Column type follows the metric: IntegerType when every
    weight is integral, DoubleType when fractional costs make the distance
    itself fractional."""
    from pyspark.sql.types import DoubleType

    from ..kernel.generalized import batch_generalized_distance

    weights.validate()
    integral = weights.is_integral()
    n = int(max_distance) if integral else float(max_distance)

    @F.pandas_udf(IntegerType() if integral else DoubleType())
    def _gdist(query: pd.Series, term: pd.Series) -> pd.Series:
        out = batch_generalized_distance(
            query.to_numpy(), term.to_numpy(), n, weights
        )
        return pd.Series(out)

    return _gdist.asNondeterministic()


def length_prefilter(query_col, term_col, max_distance: int):
    """Cheap JVM-side pre-filter Catalyst can push below the UDF: any pair
    within distance n satisfies ``|len(q) - len(t)| <= n`` (the reject guard
    of ``UniversalAutomaton::accepts``, ``universal/automaton.rs:250-254``).

    Applying it *before* the pandas UDF keeps rejected pairs out of Arrow
    serialization entirely — at 100 TB this removes the majority of blocked
    pairs without leaving the JVM.
    """
    return F.abs(F.length(query_col) - F.length(term_col)) <= max_distance
