"""Deterministic sampling operators for training-data curation.

A 100 TB pipeline can't use `DataFrame.sample` for corpus mixing: its
output depends on partitioning and Spark's internal RNG stream, so a rerun
(or a resume from checkpoint) draws a DIFFERENT sample.  Every operator
here decides membership from a content hash of the row's own key —
rerun-stable, resume-stable, partitioning-independent, and replayable in
ANSI SQL for the oracle.

Hash rule (shared with the dedup family's portability contract): the first
8 hex chars of md5(key) compared LEXICOGRAPHICALLY against a per-stratum
threshold string.  A uniform hash's hex prefix is uniform over the 16^8
space, so `prefix < hex(rate * 16^8)` keeps each row independently with
probability `rate` — a seeded Bernoulli sample without any RNG state.

Scale: membership is a pure per-row projection (one md5 + one string
compare, whole-stage codegen, zero shuffle).  Stratum rates arrive as a
literal CASE/map (broadcast-free); the scan prunes to (key, stratum) +
selected columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SPACE = 16**8


def rate_threshold_hex(rate: float) -> str:
    """8-hex-digit lexicographic threshold for a keep-probability ``rate``.

    Clamped to [0, 16^8 - 1]: rate >= 1.0 keeps everything except the
    (2^-32-probability) all-f prefix — callers wanting exactly-all should
    skip sampling instead.
    """
    return format(max(0, min(int(rate * _SPACE), _SPACE - 1)), "08x")


def stratified_sample(
    docs: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum deterministic Bernoulli sample — the corpus-mixing
    primitive (e.g. keep 50% of web, 100% of books, 5% of logs).

    ``rates`` maps stratum value -> keep probability; strata absent from
    the map fall back to ``default_rate``.  Membership depends only on
    (id, stratum rate), so the same doc is kept or dropped identically on
    every rerun, at every parallelism, from any checkpoint.

    Returns the sampled rows (all input columns).
    """
    thr = None
    for value, rate in sorted(rates.items()):
        hexthr = F.lit(rate_threshold_hex(rate))
        thr = (
            F.when(F.col(strata_col) == value, hexthr)
            if thr is None
            else thr.when(F.col(strata_col) == value, hexthr)
        )
    thr = (
        thr.otherwise(F.lit(rate_threshold_hex(default_rate)))
        if thr is not None
        else F.lit(rate_threshold_hex(default_rate))
    )
    return docs.where(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8) < thr
    )


_FRAC_BITS = 32  # md5 8-hex prefix resolves 2^32 rank buckets


def per_source_cap(
    docs: DataFrame,
    k: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    margin: int = 4,
) -> DataFrame:
    """Cap every source/domain at ``k`` documents — the domain-balancing
    step of a web-corpus pipeline (C4/Gopher/RefinedWeb all bound how much
    any one domain may contribute).  Deterministic exact top-k per source,
    ranked by ``md5(id)`` (uniform, content-addressed: rerun-, resume- and
    partitioning-stable, like :func:`stratified_sample`).

    The naive plan — ``row_number() OVER (PARTITION BY source ORDER BY
    md5)`` then ``rank <= k`` — sorts EVERY row of a domain inside one
    task; window sorts are not AQE-splittable, so a domain holding 5% of a
    100 TB corpus becomes a single-task straggler.  Two phases fix the
    scale shape while keeping the result bit-identical:

    1. per-source counts: one tiny partially-aggregated shuffle of
       ``(source)`` keys;
    2. hot sources (``n > margin*k``) are pre-filtered to the rows whose
       32-bit md5-prefix falls below ``margin*k/n`` of the hash space —
       a codegen filter under an AQE-skew-splittable join, keeping an
       expected ``margin*k`` rows per source;
    3. the exact window runs over survivors only, so the unsplittable
       per-source sort touches ~``margin*k`` rows instead of ``n``.

    Exactness: fixed-width lowercase hex compares lexicographically as it
    does numerically, so phase 2 keeps a *prefix* of each source's md5
    order and ``row_number`` over survivors equals the global rank.  The
    result differs from the naive window only if a hot source keeps fewer
    than ``k`` survivors — a binomial lower tail with
    ``P < exp(-k(margin-1)^2 / (2*margin))`` (Chernoff), ~1e-16 per source
    at the defaults — and the threshold arithmetic is integer-only
    (``DIV``), so Spark and the SQL oracle can never drift by rounding.

    Returns ``(id, source, src_rank, n_src)`` for the kept rows.
    """
    mk_scaled = margin * k * (1 << _FRAC_BITS)
    cnt = docs.groupBy(source_col).agg(F.count("*").alias("n_src"))
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    pre = (
        docs.select(id_col, source_col)
        .join(cnt, source_col)
        .where(
            (F.col("n_src") <= F.lit(margin * k))
            | (h < F.expr(f"CAST({mk_scaled} AS BIGINT) DIV n_src"))
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        pre.withColumn("src_rank", F.row_number().over(w).cast("long"))
        .where(F.col("src_rank") <= k)
        .select(id_col, source_col, "src_rank", "n_src")
    )


def per_source_cap_sql(
    table: str, k: int, source_col: str = "source", id_col: str = "doc_id"
) -> str:
    """The naive single-window formulation of :func:`per_source_cap` as
    ANSI SQL — the DuckDB oracle replays the *semantics* (global per-source
    md5 rank), proving the two-phase plan is exact, not just plausible."""
    return f"""
        WITH ranked AS (
            SELECT {id_col}, {source_col},
                   ROW_NUMBER() OVER (
                       PARTITION BY {source_col}
                       ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}
                   ) AS src_rank,
                   COUNT(*) OVER (PARTITION BY {source_col}) AS n_src
            FROM {table}
        )
        SELECT {id_col}, {source_col}, src_rank, n_src
        FROM ranked WHERE src_rank <= {k}
    """


def sample_rates_sql(
    strata_col: str, rates: dict[str, float], default_rate: float, id_col: str
) -> str:
    """The WHERE predicate `stratified_sample` applies, as ANSI SQL (used
    by the DuckDB oracle; kept next to the Spark expression so the two can
    never drift)."""
    branches = "".join(
        f"WHEN '{v}' THEN '{rate_threshold_hex(r)}' "
        for v, r in sorted(rates.items())
    )
    return (
        f"substr(md5({id_col}::VARCHAR), 1, 8) < "
        f"(CASE {strata_col} {branches}ELSE '{rate_threshold_hex(default_rate)}' END)"
    )


_HASH_SPACE = float(2**32)


def score_weighted_keep(id_col, score_col, base_rate: float = 1.0):
    """Boolean column: deterministic Bernoulli whose keep probability is
    ``base_rate * score`` — importance sampling for corpus mixing (keep
    high-quality documents with proportionally higher probability instead
    of a hard threshold, the soft variant of the curation gate).

    The hash prefix is compared NUMERICALLY (not lexicographically): the
    per-row threshold is a computed column, and `base_rate * 2^32` times a
    0.25-multiple score is exactly representable in double on both
    engines, so membership is bit-deterministic — rerun-, resume- and
    partitioning-stable like every sampler in this module.
    """
    h = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast("long")
    return h < F.lit(float(base_rate) * _HASH_SPACE) * score_col


def quality_weighted_sample(
    docs: DataFrame,
    score_col: str,
    base_rate: float = 1.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Rows kept with probability ``base_rate * docs[score_col]`` (score in
    [0, 1]); zero-score rows never survive, full-score rows behave like a
    plain Bernoulli(base_rate).  Pure projection — zero shuffle."""
    return docs.where(score_weighted_keep(F.col(id_col), F.col(score_col), base_rate))


def hash_split(
    docs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: every row gets exactly one
    split label, decided by which cumulative hash range its md5 prefix
    falls in — the standard leakage-safe split for training corpora
    (membership depends only on the row's own id, so a doc can NEVER move
    between train and eval across reruns, resumes, repartitions, or
    appends of other rows; sampling-based splits re-deal on every one of
    those).

    ``weights`` maps label -> weight (normalized internally); labels are
    assigned ranges in SORTED label order so the mapping is itself
    deterministic.  Output: all input columns + ``split_col``.

    Scale: one md5 + a CASE chain per row, whole-stage codegen, zero
    shuffle; replayable in ANSI SQL (the same cumulative thresholds).
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum > 0")
    prefix = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    acc = 0.0
    expr = None
    labels = sorted(weights)
    for label in labels[:-1]:
        acc += weights[label] / total
        # inclusive upper bound: prefix <= int(acc*SPACE) - 1 is the same
        # range as the half-open [.., acc*SPACE) EXCEPT it stays correct
        # when acc reaches 1.0 early — 'ffffffff' rows then land HERE, not
        # on a possibly zero-weight trailing label (ADVICE r3).
        thr_int = int(acc * _SPACE) - 1
        if thr_int < 0:
            continue  # zero cumulative mass so far: label gets no rows
        thr = F.lit(format(min(thr_int, _SPACE - 1), "08x"))
        expr = (
            F.when(prefix <= thr, F.lit(label))
            if expr is None
            else expr.when(prefix <= thr, F.lit(label))
        )
    last = F.lit(labels[-1])
    expr = expr.otherwise(last) if expr is not None else last
    return docs.withColumn(split_col, expr)
