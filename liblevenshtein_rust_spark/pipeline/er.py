"""End-to-end entity-resolution pipeline (the north-rule centerpiece).

    interleaved docs ──> span text ──> rare tokens ──> vocab token-pair
    matching (blocked kernel) ──> doc-pair evidence ──> match edges ──>
    connected components ──> (doc_id, entity)

Spark-first restatement of the reference's full query stack: blocking =
dictionary intersection (``/root/reference/src/dictionary/dawg.rs`` traversal
pruning), pairwise scoring = the universal-automaton accept kernel
(``src/transducer/universal/automaton.rs:242-283``) as an Arrow-batched
pandas UDF, clustering = the FuzzyMultiMap-style aggregation taken to its
transitive closure.

Scale design (each stage annotated for the 10^12-doc target):

- **Vocabulary-level matching.**  Token pairs are scored once over the
  *distinct token vocabulary* (Heaps' law: vocab grows ~ N^0.5, so at
  10^12 docs the vocab self-join is orders of magnitude smaller than any
  doc-level join).  This is the distributed MemoCache
  (``src/distance/mod.rs:29-208``): d(a,b)=d(b,a), computed once, reused by
  every doc pair that shares the tokens.
- **Rare-token filter before everything.**  Document frequency is the value
  filter of ``value_filtered_query.rs`` — stopword-grade tokens are both
  skew bombs (hottest keys) and signal-free; dropping them bounds every
  downstream fan-out by ``max_df``.
- **Deletion-neighborhood blocking** (SymSpell family) is *exact*: any
  OSA-d<=2 pair shares a depth-2 deletion variant, and d=3 uses the
  length-banded hybrid, so blocking loses no recall — candidate
  generation mirrors automaton-guided trie intersection (bounded-error
  neighborhood enumeration, not scans).  The vocabulary match is
  ``blocking.vocab_matches``' self-join — the same keys → blocked join →
  length prefilter → kernel body linkage runs as its A × B cross join.
- **Skew**: that join is ``blocking.blocked_pairs`` (the skew policy is
  stated in that module); its band record is the ``token_matches``
  manifest's skew counters.  Evidence-join fan-out is bounded by
  ``max_df`` per token by construction.  ``doc_match_edges`` stays ER's
  own: its canonical doc-pair fold serves only the self-join.
- **Per-stage parquet checkpoints** (:mod:`.runstate`) give resumability +
  per-partition lineage; the CC loop additionally ``localCheckpoint``s per
  iteration (lineage truncation inside the fixpoint).
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..kernel.distances import TRANSPOSITION
from ..operators import blocking, clustering
from ..session import conf_scope
from .runstate import Runstate


@dataclass(frozen=True)
class ERConfig:
    max_distance: int = 2            # token-pair edit threshold (kernel n)
    variant: str = TRANSPOSITION     # typos include adjacent swaps
    min_token_len: int = 3
    max_df: int = 50                 # rare-token document-frequency cutoff
    min_token_matches: int = 2       # doc-pair evidence threshold
    # When set, the whole pipeline runs with exactly this many shuffle
    # partitions and AQE partition *coalescing* disabled (skew splitting
    # stays on): the cluster model is ~128 MB per shuffle partition sized to
    # the DATA, identical at every cluster size — locally, parallelism-first
    # coalescing re-sizes each exchange to the current core count, so a
    # 2-core and an 8-core run execute different physical plans and the
    # scaling comparison measures AQE's local heuristics, not the engine
    # (measured: match_edges coalesced to 10-13 tasks at 8 cores — 1.3 task
    # waves, ~35% of the wall lost to wave quantization).
    static_shuffle_partitions: int | None = None


def vocab_token_matches(
    toks: DataFrame, cfg: ERConfig, band: dict | None = None
) -> DataFrame:
    """All (tok_a <= tok_b, distance) pairs within ``max_distance`` over the
    distinct token vocabulary: :func:`blocking.vocab_matches`' self-join
    plus the d=0 diagonal (tok, tok, 0), which never touches the kernel.
    ``band``, when given, receives :func:`blocking.blocked_pairs`' band
    record (``hot_keys_salted``, ``extreme_keys_dropped``,
    ``key_pairs_dropped``).
    """
    vocab = toks.select("token").distinct()
    scored = blocking.vocab_matches(
        vocab, max_distance=cfg.max_distance, variant=cfg.variant, band=band
    )
    diagonal = vocab.select(
        F.col("token").alias("tok_a"),
        F.col("token").alias("tok_b"),
        F.lit(0).alias("distance"),
    )
    return scored.unionByName(diagonal)


def doc_match_edges(
    toks: DataFrame, token_matches: DataFrame, cfg: ERConfig
) -> DataFrame:
    """Doc pairs with >= ``min_token_matches`` distinct matched token pairs.

    Fan-out bound: each (tok_a, tok_b) row joins <= max_df docs per side, so
    the evidence join produces <= |matches| * max_df^2 rows — linear in the
    vocabulary, never quadratic in documents.

    Shuffle diet (this stage is two wide joins + a wide agg — at 10^12 docs
    its exchanges dominate the pipeline's network bill):

    - ``token_matches`` is already canonical (tok_a <= tok_b), so instead of
      symmetrizing it (doubling the largest join input, the old shape) the
      *doc pair* is canonicalized after the join: every unordered doc-pair ×
      token-pair evidence combination still appears exactly once (diagonal
      tok_a == tok_b rows are filtered to left < right; off-diagonal rows to
      left != right, and least/greatest folds the two orientations).
    - Evidence rows carry a precomputed ``(pair_id, w)`` — an xxhash64 of the
      canonical token pair and its score contribution, both computed ONCE per
      vocabulary pair instead of once per evidence row — so the wide
      exchanges and the final agg shuffle longs + doubles, never token
      strings or per-row length arithmetic.  countDistinct(pair_id) equals
      countDistinct(tok_a, tok_b) up to a 64-bit collision *within one doc
      pair's token pairs* (p < 1e-15 at max_df^2 pairs).
    - Both joins take ``shuffle_hash`` hints: the build sides (the vocabulary
      pair table and the token table) are the sublinear sides (Heaps' law),
      and per-partition build size is bounded by data/num_partitions, so the
      sort-merge sorts of the (much larger) evidence stream are pure waste
      (measured: the two SMJ sorts were ~60% of this stage's CPU at 1.2M
      docs; AQE skew-splitting is not needed here because per-token fan-out
      is bounded by max_df upstream).
    """
    tm = token_matches.select(
        "tok_a",
        "tok_b",
        F.xxhash64("tok_a", "tok_b").alias("pair_id"),
        (
            1.0 - F.col("distance") / F.greatest(F.length("tok_a"), F.length("tok_b"))
        ).alias("w"),
        (F.col("tok_a") == F.col("tok_b")).alias("diag"),
    )
    left = toks.select(F.col("doc_id").alias("la"), F.col("token").alias("tok_a"))
    right = toks.select(F.col("doc_id").alias("rb"), F.col("token").alias("tok_b"))
    ev = (
        left.join(tm.hint("shuffle_hash"), "tok_a")
        # project the join key + carried strings away BEFORE the next
        # exchange: the second join shuffles only (la, tok_b, pair_id, w)
        .select("la", "tok_b", "pair_id", "w", "diag")
        .join(right.hint("shuffle_hash"), "tok_b")
        .where(
            F.when(F.col("diag"), F.col("la") < F.col("rb")).otherwise(
                F.col("la") != F.col("rb")
            )
        )
        .select(
            F.least("la", "rb").alias("left_id"),
            F.greatest("la", "rb").alias("right_id"),
            "pair_id",
            "w",
        )
    )
    agg = ev.groupBy("left_id", "right_id").agg(
        F.countDistinct("pair_id").alias("n_matched"),
        F.sum("w").alias("score"),
    )
    return agg.where(F.col("n_matched") >= cfg.min_token_matches)


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    run_dir: str,
    cfg: ERConfig | None = None,
) -> DataFrame:
    """Full resumable run; returns (doc_id, entity).

    Every stage checkpoints to ``run_dir`` (see :mod:`.runstate`); a rerun
    with the same config resumes from the last completed stage.
    """
    cfg = cfg or ERConfig()
    rs = Runstate(spark, run_dir, asdict(cfg))

    # data-sized static exchanges, identical at every cluster size — see the
    # ERConfig field comment
    overrides = {"spark.sql.shuffle.partitions": cfg.static_shuffle_partitions}
    if cfg.static_shuffle_partitions is not None:
        overrides["spark.sql.adaptive.coalescePartitions.enabled"] = "false"
    with conf_scope(spark, overrides):
        return _run_stages(spark, docs, rs, cfg)


def _run_stages(
    spark: SparkSession, docs: DataFrame, rs: Runstate, cfg: ERConfig
) -> DataFrame:
    from ..session import release_pooled

    docs_ck = rs.stage(
        "docs",
        lambda: docs,
        observe={"n_docs": F.count(F.lit(1))},
    )

    # the token table has one consumer, rare_tokens' window pass, so it
    # needs no persist; ``rare`` counts what the max_df guard drops, in the
    # stage's write job
    rare = Observation()
    toks = rs.stage(
        "tokens",
        lambda: blocking.rare_tokens(
            blocking.doc_tokens(docs_ck, min_len=cfg.min_token_len),
            max_df=cfg.max_df,
            dropped=rare,
        ),
        inputs=("docs",),
        metrics=lambda: rare.get,
    )

    band: dict = {}
    tok_matches = rs.stage(
        "token_matches",
        lambda: vocab_token_matches(toks, cfg, band),
        inputs=("tokens",),
        observe={
            "kernel_pairs": F.coalesce(
                F.sum((F.col("tok_a") != F.col("tok_b")).cast("long")), F.lit(0)
            )
        },
        metrics=lambda: band,
    )
    # the stage above is parquet-materialized — the pooled key cache that
    # blocked_pairs persisted is dead weight from here on
    release_pooled()

    edges = rs.stage(
        "match_edges",
        lambda: doc_match_edges(toks, tok_matches, cfg),
        inputs=("tokens", "token_matches"),
    )

    # edge count from the stage manifest just written — sizes the CC
    # fixpoint's partitioning without a pre-loop count job over the edges
    edges_manifest = rs.manifest("match_edges") or {}
    ent_partitions = clustering.fixpoint_partitions(
        spark, edges_manifest.get("rows") or 0
    )
    entities = rs.stage(
        "entities",
        lambda: clustering.cluster_matches(
            edges,
            docs_ck.select("doc_id"),
            id_col="doc_id",
            left_col="left_id",
            right_col="right_id",
            num_partitions=ent_partitions,
        ),
        inputs=("match_edges", "docs"),
        # the whole stage (fixpoint + singleton attach + write) runs at the
        # fixpoint's data-sized partition count: its output is ~1 node row
        # per input doc, far below the pipeline's static shuffle sizing
        shuffle_partitions=ent_partitions,
    )
    # entities is parquet-materialized; drop the CC fixpoint's final
    # localCheckpoint blocks (registered by connected_components)
    release_pooled()
    return entities


# ---------------------------------------------------------------------------
# evaluation — pairwise F1 on labeled pairs at shared blocking keys
# ---------------------------------------------------------------------------


def pairwise_f1(
    entities: DataFrame,
    labels: DataFrame,
    toks: DataFrame | None = None,
) -> dict:
    """Pairwise precision/recall/F1 of predicted co-membership on labels.

    If ``toks`` is given, labels are restricted to pairs sharing >= 1 token
    blocking key ("labeled pairs at shared blocking keys", BASELINE.json) —
    blocking recall is reported separately as ``blocked_fraction``.  The
    shared-key pairs are :func:`blocking.blocked_pairs` over the depth-2
    deletion keys, and its band record is merged into the result.
    """
    lab = labels
    n_total = lab.count()
    band: dict = {}
    if toks is not None:
        from ..functions.blocking_keys import deletion_key_rows

        keys = deletion_key_rows(toks.select("token").distinct(), "token", 2)
        keyed = toks.join(keys, "token").select(F.col("doc_id").alias("id"), "key")
        shared = blocking.blocked_pairs(keyed, band=band)
        # labels come in either order; the blocked pairs have left < right
        lo = F.least("left_doc_id", "right_doc_id")
        hi = F.greatest("left_doc_id", "right_doc_id")
        lab = lab.join(
            shared, (lo == F.col("left_id")) & (hi == F.col("right_id")), "left_semi"
        )
    n_blocked = lab.count()

    ea = entities.select(F.col("doc_id").alias("left_doc_id"), F.col("entity").alias("ea"))
    eb = entities.select(F.col("doc_id").alias("right_doc_id"), F.col("entity").alias("eb"))
    j = (
        lab.join(ea, "left_doc_id")
        .join(eb, "right_doc_id")
        .withColumn("pred", F.col("ea") == F.col("eb"))
    )
    c = j.agg(
        F.sum(F.when(F.col("is_match") & F.col("pred"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("is_match") & F.col("pred"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("is_match") & ~F.col("pred"), 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    tp, fp, fn = c["tp"] or 0, c["fp"] or 0, c["fn"] or 0
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {
        "tp": tp,
        "fp": fp,
        "fn": fn,
        "precision": prec,
        "recall": rec,
        "f1": f1,
        "blocked_fraction": n_blocked / n_total if n_total else 1.0,
        **band,
    }
