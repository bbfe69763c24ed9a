"""Deliberate plan rewrites — the 'custom optimizer strategies' layer.

Catalyst handles pushdown/pruning/reordering; this is the rewrite it
cannot know about (SURVEY.md §4 'Needs a custom Spark strategy'):
explicit skew-key salting for the blocked vocabulary joins.  AQE's
skew-join splitting handles the *sort-merge* case at runtime, but a
Zipfian key whose single bucket exceeds an executor's memory needs the key
space split *before* the shuffle.  Which keys are hot is the skew policy
of ``operators/blocking.py`` (``blocked_pairs``); these are its two join
shapes over ``(key, id)`` rows, each splitting a hot key's rows into
``n_salt`` groups by :func:`salt_group` and still producing ALL its pairs:

- self-join: one task per unordered salt-group pair (i <= j), the left
  side taking group i and the right side group j — the standard triangle
  decomposition of one |D|·(|D|-1)/2 bucket into s·(s+1)/2 tasks;
- cross join: the left side split, the right side replicated to every
  group — s tasks per hot key.

Cold keys keep the plain equi-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_group(id_col: str, n_salt: int) -> Column:
    """The salt group of a row: ``pmod(xxhash64(id), n_salt)``."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt))


def _split_hot(keyed: DataFrame, hot_keys: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(cold rows, hot rows) of ``keyed``, marked against the small
    broadcast ``hot_keys`` set."""
    marked = keyed.join(
        F.broadcast(hot_keys.select("key", F.lit(1).alias("_hot"))), "key", "left_outer"
    )
    is_hot = F.col("_hot").isNotNull()
    return marked.where(~is_hot).drop("_hot"), marked.where(is_hot).drop("_hot")


def salted_self_join_pairs(
    keyed: DataFrame, hot_keys: DataFrame, n_salt: int
) -> DataFrame:
    """Self-join ``keyed`` (key, id) on key → canonical distinct
    (key, left_id, right_id), hot keys (one-column ``hot_keys``, small,
    broadcast) triangle-salted.  Exactly the unsalted pair set (verified
    by ``tests/test_rewrites.py``), but no single shuffle partition
    receives a whole hot bucket."""
    cold, hot = _split_hot(keyed, hot_keys)
    hot = hot.select("key", "id", salt_group("id", n_salt).alias("_g"))

    cl = cold.select("key", F.col("id").alias("left_id"))
    cr = cold.select("key", F.col("id").alias("right_id"))
    cold_pairs = cl.join(cr, "key").where(F.col("left_id") < F.col("right_id"))

    # Left side replicates each row to every (g, j>=g) task; right side to
    # every (i<=g, g) task; join on (key, i, j) — each group pair meets once.
    tasks_l = hot.select(
        "key",
        F.col("id").alias("left_id"),
        F.col("_g").alias("_i"),
        F.explode(F.sequence(F.col("_g"), F.lit(n_salt - 1))).alias("_j"),
    )
    tasks_r = hot.select(
        "key",
        F.col("id").alias("right_id"),
        F.explode(F.sequence(F.lit(0), F.col("_g"))).alias("_i"),
        F.col("_g").alias("_j"),
    )
    # which side a row lands on is decided by its salt group, not its id —
    # canonicalize with least/greatest instead of filtering on order
    joined = tasks_l.join(tasks_r, ["key", "_i", "_j"]).where(
        F.col("left_id") != F.col("right_id")
    )
    hot_pairs = joined.select(
        "key",
        F.least("left_id", "right_id").alias("left_id"),
        F.greatest("left_id", "right_id").alias("right_id"),
    )
    return cold_pairs.unionByName(hot_pairs).distinct()


def salted_cross_join_pairs(
    left: DataFrame, right: DataFrame, hot_keys: DataFrame, n_salt: int
) -> DataFrame:
    """Join ``left`` to ``right`` (both (key, id)) on key →
    (key, left_id, right_id), hot keys salted split-left /
    replicate-right: exactly the unsalted pair multiset."""
    cold_l, hot_l = _split_hot(left, hot_keys)
    cold_r, hot_r = _split_hot(right, hot_keys)
    cold_pairs = cold_l.select("key", F.col("id").alias("left_id")).join(
        cold_r.select("key", F.col("id").alias("right_id")), "key"
    )
    hot_pairs = hot_l.select(
        "key", F.col("id").alias("left_id"), salt_group("id", n_salt).alias("_g")
    ).join(
        hot_r.select(
            "key",
            F.col("id").alias("right_id"),
            F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("_g"),
        ),
        ["key", "_g"],
    )
    return cold_pairs.unionByName(hot_pairs.drop("_g"))
