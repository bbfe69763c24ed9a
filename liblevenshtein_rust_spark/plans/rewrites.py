"""Deliberate plan rewrites — the 'custom optimizer strategies' layer.

Catalyst handles pushdown/pruning/reordering; this is the rewrite it
cannot know about (SURVEY.md §4 'Needs a custom Spark strategy'):
:func:`salted_self_join_pairs` — explicit skew-key salting for the
blocking self-join (north rule: "skew-key salting on hot blocking keys").
AQE's skew-join splitting handles the *sort-merge* case at runtime, but a
Zipfian key whose single bucket exceeds an executor's memory needs the key
space split *before* the shuffle.

Salting a self-join correctly: a hot key k with documents D(k) must still
produce ALL |D|·(|D|-1)/2 pairs.  We split D(k) into s salt groups by
``pmod(xxhash64(id), s)`` and emit one join task per unordered salt-group
pair (i <= j): the left side takes group i, the right side group j.  That
turns one quadratic bucket into s·(s+1)/2 near-uniform tasks — the
standard triangle decomposition — while cold keys keep the plain path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_self_join_pairs(
    keyed: DataFrame,
    hot_keys: DataFrame,
    n_salt: int = 8,
    key_col: str = "key",
    id_col: str = "id",
) -> DataFrame:
    """Self-join `keyed` (key, id) on key → canonical (left_id, right_id),
    with hot keys triangle-salted into ``n_salt`` groups.

    ``hot_keys``: one-column DF of keys to salt (from a pre-count — small,
    broadcast).  Output is exactly the unsalted pair set (verified by
    ``tests/test_rewrites.py``), but no single shuffle partition receives a
    whole hot bucket.
    """
    is_hot = F.col("_hot").isNotNull()
    marked = keyed.join(
        F.broadcast(hot_keys.select(F.col(key_col), F.lit(1).alias("_hot"))),
        key_col,
        "left_outer",
    )
    cold = marked.where(~is_hot).select(key_col, id_col)
    hot = marked.where(is_hot).select(
        key_col, id_col, F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt)).alias("_g")
    )

    # cold path: plain equi self-join
    cl = cold.select(key_col, F.col(id_col).alias("left_id"))
    cr = cold.select(key_col, F.col(id_col).alias("right_id"))
    cold_pairs = cl.join(cr, key_col).where(F.col("left_id") < F.col("right_id"))

    # hot path: triangle decomposition over salt-group pairs (i <= j).
    # Left side replicates each row to every (g, j>=g) task; right side to
    # every (i<=g, g) task; join on (key, i, j) — each group pair meets once.
    tasks_l = hot.select(
        key_col,
        F.col(id_col).alias("left_id"),
        F.col("_g").alias("_i"),
        F.explode(F.sequence(F.col("_g"), F.lit(n_salt - 1))).alias("_j"),
    )
    tasks_r = hot.select(
        key_col,
        F.col(id_col).alias("right_id"),
        F.explode(F.sequence(F.lit(0), F.col("_g"))).alias("_i"),
        F.col("_g").alias("_j"),
    )
    # which side a row lands on is decided by its salt group, not its id —
    # canonicalize with least/greatest instead of filtering on order
    joined = tasks_l.join(tasks_r, [key_col, "_i", "_j"]).where(
        F.col("left_id") != F.col("right_id")
    )
    hot_pairs = joined.select(
        key_col,
        F.least("left_id", "right_id").alias("left_id"),
        F.greatest("left_id", "right_id").alias("right_id"),
    )
    return cold_pairs.unionByName(hot_pairs).distinct()

