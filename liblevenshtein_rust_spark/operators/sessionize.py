"""Gap-based sessionization over an event log — the batch twin of the
stateful streaming sessions operator (``streaming/sessions``, reference
``contextual/engine.rs:596-713``'s session lifecycle) and the standard
clickstream primitive of a training-data pipeline (per-user interaction
sessions feed dedup windows, quality weighting, and curriculum buckets).

Semantics: events of one user belong to the same session while consecutive
events are at most ``gap`` apart; a longer silence starts a new session.
The classic two-window formulation — ``lag`` to flag session starts, a
running ``sum`` of the flags to number sessions — is exactly expressible in
ANSI SQL, so the oracle replays it verbatim.

Scale: both windows and the final aggregate partition by ``user_id`` — ONE
shuffle on the user key end-to-end (Catalyst reuses the hash partitioning
across the two windows and the groupBy).  A per-user sort is inherent to
sessionization (running counts need full per-key order, so the hot-key
prefix-filter trick of ``per_source_cap`` cannot apply); per-user event
volume is organically bounded in clickstreams, and a pathological key is
exactly what the ER pipeline's skew counters (``hot_keys_salted`` /
``extreme_keys_dropped``) would surface upstream.  All arithmetic is integer microseconds
(``unix_micros`` ↔ DuckDB ``epoch_us``) — no float drift between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gap_sessions(
    events: DataFrame,
    gap_s: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Assign gap-delimited sessions and return one row per session:
    ``(user_id, session_idx, n_events, start_us, end_us, duration_us,
    n_types)``.  ``session_idx`` is 1-based in per-user time order.

    Only exact aggregates (counts, min/max of integer micros) are emitted so
    the DuckDB oracle can value-hash the result; float sums would differ in
    accumulation order across engines.
    """
    gap_us = int(gap_s) * 1_000_000
    order = [F.col("_ts_us").asc(), F.col(id_col).asc()]
    w = Window.partitionBy(user_col).orderBy(*order)
    with_flag = (
        # cast handles TIMESTAMP_NTZ parquet columns: with the session tz
        # pinned to UTC this is the same naive-epoch read DuckDB's
        # epoch_us() does, so both engines see identical integers
        events.select(
            user_col,
            id_col,
            type_col,
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_ts_us"),
        )
        .withColumn("_prev", F.lag("_ts_us").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull()
                | (F.col("_ts_us") - F.col("_prev") > gap_us),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "session_idx",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        with_flag.groupBy(user_col, "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("_ts_us").alias("start_us"),
            F.max("_ts_us").alias("end_us"),
            (F.max("_ts_us") - F.min("_ts_us")).alias("duration_us"),
            F.countDistinct(type_col).alias("n_types"),
        )
        .select(
            user_col,
            "session_idx",
            "n_events",
            "start_us",
            "end_us",
            "duration_us",
            "n_types",
        )
    )


def gap_sessions_sql(
    table: str,
    gap_s: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> str:
    """The same lag + running-sum formulation as ANSI SQL (DuckDB oracle);
    kept next to the Spark plan so the two can never drift."""
    gap_us = int(gap_s) * 1_000_000
    return f"""
        WITH e AS (
            SELECT {user_col}, {id_col}, {type_col},
                   epoch_us({ts_col}) AS ts_us
            FROM {table}
        ),
        flagged AS (
            SELECT *,
                   CASE WHEN lag(ts_us) OVER w IS NULL
                             OR ts_us - lag(ts_us) OVER w > {gap_us}
                        THEN 1 ELSE 0 END AS is_new
            FROM e
            WINDOW w AS (PARTITION BY {user_col} ORDER BY ts_us, {id_col})
        ),
        numbered AS (
            SELECT *,
                   CAST(SUM(is_new) OVER (
                       PARTITION BY {user_col} ORDER BY ts_us, {id_col}
                       ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS session_idx
            FROM flagged
        )
        SELECT {user_col}, session_idx,
               COUNT(*) AS n_events,
               MIN(ts_us) AS start_us,
               MAX(ts_us) AS end_us,
               MAX(ts_us) - MIN(ts_us) AS duration_us,
               COUNT(DISTINCT {type_col}) AS n_types
        FROM numbered
        GROUP BY {user_col}, session_idx
    """
