"""Streaming fuzzy match — probe streams against a prepared dictionary.

The reference's interactive loop (REPL ``query`` / ``ContextualCompletion``
incremental typing, ``src/cli/args.rs:65-101``) answers one probe at a time
against a prebuilt in-memory structure.  The cluster-scale restatement:
probes arrive as a *stream* (file drops, Kafka), the dictionary is the
prebuilt bucketed key index (``sources/bucketed.py``), and each micro-batch
runs the same blocked join + kernel as the batch path:

    readStream probes ──> foreachBatch ──> explode probe keys
        ⋈ bucketed index (probe-side-only shuffle) ──> kernel ──> append sink

``foreachBatch`` (not a stateful streaming join) keeps batch semantics per
micro-batch — full pair dedupe, the exact operator already oracle-checked —
while the streaming checkpoint carries exactly-once over the probe source:
each batch's output lands under ``batch_id=<n>`` via dynamic partition
overwrite, so replaying a batch after a crash rewrites the same partition
instead of duplicating it (idempotent per-batch write + checkpointed
offsets = effectively-once, the same recipe as ``streaming/ingest.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_probes_from_files(
    spark: SparkSession,
    path: str,
    probe_col: str = "query",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-drop probe source: one probe term per line.

    ``max_files_per_trigger=1`` forces one micro-batch per file — the knob
    the replay harness uses to prove multi-batch ≡ batch semantics."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.load(path)
        .select(F.trim(F.col("value")).alias(probe_col))
        .where(F.length(probe_col) > 0)
    )


def run_stream_fuzzy_match(
    stream: DataFrame,
    index_table: str,
    out_path: str,
    checkpoint_dir: str,
    max_distance: int = 2,
    variant: str = "standard",
    probe_col: str = "query",
    term_col: str = "term",
    index_depth: int = 2,
    trigger_available_now: bool = True,
):
    """Attach the match sink; returns the StreamingQuery.

    Each micro-batch joins its probes against ``index_table`` with
    :func:`~liblevenshtein_rust_spark.sources.bucketed.fuzzy_query_bucketed`
    (per-batch probe sets are small → broadcast; the dictionary never
    shuffles either way) and writes (query, term, distance) under the
    batch's own partition.
    """
    from ..sources.bucketed import fuzzy_query_bucketed

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        probes = batch_df.select(probe_col).distinct()
        if not probes.take(1):
            return
        matched = fuzzy_query_bucketed(
            spark,
            probes,
            index_table,
            max_distance,
            variant,
            probe_col=probe_col,
            term_col=term_col,
            index_depth=index_depth,
            broadcast_probes=True,
        ).withColumn("batch_id", F.lit(batch_id))
        # dynamic: a replayed batch overwrites only its own partition
        (
            matched.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
