"""Incremental dictionary maintenance — the DynamicDawg analog.

The reference's ``DynamicDawg`` supports online ``insert``/``remove`` with
auto-minimization (``/root/reference/src/dictionary/dynamic_dawg.rs:344,
560, 628``).  Spark DataFrames are immutable, so mutation becomes *table
maintenance*: merge a batch of upserts/deletes into the dictionary table
and incrementally re-block only the changed terms — never rebuild the
whole index (the whole point of DynamicDawg vs rebuild-the-DAWG).

At scale the dictionary + blocking-key tables live in Iceberg and the merge
is `MERGE INTO` with snapshot isolation; locally we model the same contract
on parquet paths: read-modify-write of the *delta only*, plus the key-table
delta.  The reference's auto-minimize thresholds (``dynamic_dawg.rs:76-79``)
correspond to compaction scheduling — out of the query path, not modeled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.blocking_keys import deletion_key_rows


def apply_upserts(
    dictionary: DataFrame,
    upserts: DataFrame,
    term_col: str = "term",
    value_col: str | None = "value",
) -> DataFrame:
    """Insert-or-replace a batch of terms (DynamicDawg::insert).

    Plan shape: anti-join out the replaced keys (broadcast — the delta is
    small relative to the dictionary), union the new rows.  With Iceberg
    this whole function is one `MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT
    MATCHED INSERT`.
    """
    cols = [term_col] + ([value_col] if value_col else [])
    kept = dictionary.select(*cols).join(
        F.broadcast(upserts.select(term_col)), term_col, "left_anti"
    )
    return kept.unionByName(upserts.select(*cols))


def apply_deletes(
    dictionary: DataFrame, deletes: DataFrame, term_col: str = "term"
) -> DataFrame:
    """Remove a batch of terms (DynamicDawg::remove) — broadcast anti-join;
    Iceberg: `MERGE ... WHEN MATCHED THEN DELETE`."""
    return dictionary.join(F.broadcast(deletes.select(term_col)), term_col, "left_anti")


def blocking_key_delta(
    changed_terms: DataFrame, term_col: str = "term", n: int = 2
) -> DataFrame:
    """Blocking keys for ONLY the changed terms — the incremental re-index.

    The full key table is partitioned by key; this delta appends/deletes
    just the changed terms' key rows (O(|delta| * keys-per-term)), the
    distributed analog of DynamicDawg's suffix-sharing local repair
    (~O(changed-path) instead of O(dictionary)).  Rows are
    ``(term, key: long)`` from ``blocking_keys.deletion_key_rows``, one per
    distinct pair.
    """
    return deletion_key_rows(changed_terms, term_col, n).distinct()


def incremental_update(
    dictionary: DataFrame,
    key_table: DataFrame,
    upserts: DataFrame | None = None,
    deletes: DataFrame | None = None,
    term_col: str = "term",
    value_col: str | None = "value",
    n: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """One maintenance transaction: returns (new_dictionary, new_key_table).

    Key-table repair touches only delta terms; everything else is passed
    through untouched (no shuffle of the unchanged majority — verify with
    .explain(): the big side appears only under the anti-join).
    """
    d = dictionary
    k = key_table
    if deletes is not None:
        d = apply_deletes(d, deletes, term_col)
        k = k.join(F.broadcast(deletes.select(term_col)), term_col, "left_anti")
    if upserts is not None:
        d = apply_upserts(d, upserts, term_col, value_col)
        k = k.join(
            F.broadcast(upserts.select(term_col)), term_col, "left_anti"
        ).unionByName(blocking_key_delta(upserts, term_col, n))
    return d, k
