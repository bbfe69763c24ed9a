"""Structured-Streaming ingestion → incremental dictionary maintenance.

The reference has no streams (SURVEY.md §2.7) — its closest feature is
``DynamicDawg`` online insert/remove.  The Spark-native form of "terms keep
arriving and the index stays current" is a Structured Streaming source
feeding the incremental-maintenance operator per micro-batch:

    readStream (files/kafka) ──> foreachBatch ──> incremental_update
        (upsert batch into dictionary + repair blocking-key delta)

``foreachBatch`` is the right tool (not a stateful streaming agg): each
micro-batch is a *table maintenance transaction*, exactly the Iceberg
MERGE the batch pipeline uses, and exactly-once comes from the streaming
checkpoint + idempotent overwrite of the derived tables.

No watermark/event-time semantics are invented — the north rule's
resumability requirement is carried by the streaming checkpointLocation
(offsets) + the maintenance writes being idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_terms_from_files(
    spark: SparkSession, path: str, term_col: str = "term"
) -> DataFrame:
    """File-drop text source: each line a term (plaintext dictionary feed)."""
    return (
        spark.readStream.format("text")
        .load(path)
        .select(F.trim(F.col("value")).alias(term_col))
        .where(F.length(term_col) > 0)
    )


def run_incremental_ingest(
    stream: DataFrame,
    dict_path: str,
    key_path: str,
    checkpoint_dir: str,
    term_col: str = "term",
    n: int = 1,
    trigger_available_now: bool = True,
):
    """Attach the maintenance sink; returns the StreamingQuery.

    Each micro-batch: read the current dictionary parquet, apply upserts,
    rewrite dictionary + key-table delta.  Writes are full-table overwrite
    at sandbox scale; on Iceberg they become MERGE INTO (row-level), which
    is the production path.
    """
    from ..operators import incremental

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(term_col).distinct()
        if not batch.take(1):
            return
        try:
            d = spark.read.parquet(dict_path)
            k = spark.read.parquet(key_path)
        except Exception:  # first batch: empty dictionary
            d = spark.createDataFrame([], f"{term_col} string")
            k = spark.createDataFrame([], f"{term_col} string, key bigint")
        nd, nk = incremental.incremental_update(
            d, k, upserts=batch, term_col=term_col, value_col=None, n=n
        )
        # nd/nk derive from the parquet being overwritten: cut lineage with
        # an eager localCheckpoint (distributed — blocks stay on executors)
        # so the overwrite never reads its own output.  On Iceberg this
        # whole dance is a row-level MERGE INTO instead.
        nd = nd.localCheckpoint(eager=True)
        nk = nk.localCheckpoint(eager=True)
        nd.write.mode("overwrite").parquet(dict_path)
        nk.write.mode("overwrite").parquet(key_path)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
