"""Corpus loaders — reference parity for ``src/corpus/parser.rs``.

Formats (documented in the reference's ``data/corpora/README.md:145-171``):

- **Mitton .dat style**: lines of ``$correct`` followed by misspelling
  lines; parses to (correct, misspelling) pairs.
- **word lists**: one word per line (``load_word_list``; ``cli.py
  --format text`` reads the same layout).

All are Spark reads — text source + columnar transforms — so a 100 GB
corpus parses distributed.  (The Mitton format is line-order-dependent:
the `$`-header applies to following lines.  Order-dependence across
splits is handled the standard Spark way: tag each line with its file
offset via ``input_file_name`` + a monotonic id per file, then propagate
the last header with a window ``last(..., ignorenulls)`` — an ordered
running state expressed relationally.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def load_mitton_pairs(spark: SparkSession, path: str) -> DataFrame:
    """Mitton ``$word`` + misspelling lines → (correct, misspelling, freq).

    The running ``$``-header is recovered with an ordered window over the
    per-file line index — no driver-side iteration, arbitrarily large files.

    Reference semantics (``src/corpus/parser.rs:208-219``): a misspelling
    line is ``word`` or ``word frequency``; the misspelling is the FIRST
    whitespace token, the optional second token is its frequency
    (default 1, unparseable → 1).
    """
    lines = (
        spark.read.text(path)
        .withColumn("file", F.input_file_name())
        .withColumn("idx", F.monotonically_increasing_id())
        .withColumn("line", F.trim("value"))
        .where(F.length("line") > 0)
    )
    tagged = lines.withColumn(
        "header",
        F.when(F.col("line").startswith("$"), F.expr("substring(line, 2)")),
    )
    w = Window.partitionBy("file").orderBy("idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    filled = tagged.withColumn("correct", F.last("header", ignorenulls=True).over(w))
    parts = F.split(F.col("line"), r"\s+")
    return (
        filled.where(F.col("header").isNull() & F.col("correct").isNotNull())
        .select(
            "correct",
            parts.getItem(0).alias("misspelling"),
            # F.get: null (not an ANSI error) when there is no second token;
            # try_cast: null on a non-numeric token — both default to 1,
            # the reference's parse().unwrap_or(1)
            F.coalesce(
                F.get(parts, 1).try_cast("int"), F.lit(1)
            ).alias("freq"),
        )
    )


def misspelling_recall(
    pairs: DataFrame, max_distance: int, variant: str = "standard"
) -> DataFrame:
    """Recall@d over a misspelling corpus — the reference's corpus
    validation gate (``tests/corpus_validation.rs:22-28``): the fraction of
    (correct, misspelling) pairs the kernel accepts at each d <= n."""
    from ..functions.udfs import edit_distance_udf

    dist = edit_distance_udf(max_distance, variant)
    scored = pairs.withColumn("distance", dist(F.col("misspelling"), F.col("correct")))
    return scored.agg(
        F.count("*").alias("n_pairs"),
        *[
            (
                F.sum(
                    F.when(
                        (F.col("distance") >= 0) & (F.col("distance") <= d), 1
                    ).otherwise(0)
                )
                / F.count("*")
            ).alias(f"recall_d{d}")
            for d in range(1, max_distance + 1)
        ],
    )


def blocked_misspelling_recall(
    pairs: DataFrame, max_distance: int, variant: str = "standard"
) -> DataFrame:
    """Recall@d over a misspelling corpus through the FULL blocked query
    path — deletion-neighborhood keys + kernel (``matching.fuzzy_query``),
    not a pairwise UDF.  This is the E2E analog of the reference's corpus
    validation gates (``tests/corpus_validation.rs:22-28``): it fails not
    only if the kernel mis-scores a pair but also if BLOCKING loses a
    candidate the kernel would have accepted.

    Input: (correct, misspelling[, freq]) as from :func:`load_mitton_pairs`.
    Output one row: (n_pairs, total_freq, recall_d1..recall_dn,
    weighted_recall_dn) — ``weighted`` weights by misspelling frequency,
    the reference's ``total_misspellings`` axis.

    Scale: the probe side is the distinct misspelling set, the dictionary
    side the distinct correct set — both key-blocked, so a 10^9-pair corpus
    runs as one equi-join, never a cross join.
    """
    from ..operators.matching import fuzzy_query

    if "freq" not in pairs.columns:
        pairs = pairs.withColumn("freq", F.lit(1))
    probes = pairs.select(F.col("misspelling").alias("query")).distinct()
    terms = pairs.select(F.col("correct").alias("term")).distinct()
    m = fuzzy_query(probes, terms, max_distance, variant).select(
        F.col("query").alias("misspelling"),
        F.col("term").alias("correct"),
        "distance",
    )
    scored = pairs.join(m, ["correct", "misspelling"], "left")
    n = F.count(F.lit(1))
    tot_f = F.sum("freq")
    aggs = [
        n.cast("bigint").alias("n_pairs"),
        tot_f.cast("bigint").alias("total_freq"),
    ]
    for d in range(1, max_distance + 1):
        aggs.append(
            F.round(
                F.sum(F.when(F.col("distance") <= d, 1).otherwise(0)) / n, 6
            ).alias(f"recall_d{d}")
        )
    aggs.append(
        F.round(
            F.sum(
                F.when(F.col("distance") <= max_distance, F.col("freq")).otherwise(0)
            )
            / tot_f,
            6,
        ).alias(f"weighted_recall_d{max_distance}")
    )
    return scored.agg(*aggs)


def load_word_list(spark: SparkSession, path: str, min_len: int = 1) -> DataFrame:
    """One-word-per-line dictionary file → distinct lowercase (term).

    The reference ships ``data/english_words.txt`` (123,985 words) in this
    format and publishes its d=1/d=2 query behavior against it
    (``README.md:415-419``); this loader is how the engine consumes the same
    dictionary distributed (text source scales to any size; the distinct is
    one shuffle on the term)."""
    lines = spark.read.text(path)
    words = lines.select(F.lower(F.trim("value")).alias("term"))
    out = words.where(
        (F.length("term") >= min_len) & F.col("term").rlike("^[a-z]+$")
    ).distinct()
    # A word list is bytes-tiny but row-heavy, and every consumer explodes
    # it 10-40x (blocking keys) before doing kernel work: AQE's byte-based
    # coalescing squeezes the distinct output to ONE partition (~1 MB),
    # serializing the whole downstream explode+join+kernel onto one core
    # (measured: 40+ s single-task d=2 query over the 124k-word reference
    # dictionary vs seconds when spread).  Rebalance to the cluster width —
    # on a real multi-GB dictionary the source partitioning dominates and
    # this one extra tiny exchange is noise.
    return out.repartition(out.sparkSession.sparkContext.defaultParallelism)
