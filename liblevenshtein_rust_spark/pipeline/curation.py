"""Resumable corpus-curation pipeline — the training-data twin of the ER
pipeline (`pipeline/er.py`).

Chains the curation operators into checkpointed stages with per-stage
lineage + metrics (the same :class:`~.runstate.Runstate` protocol the
north rule requires of the ER pipeline — reference analog: the resumable
contexts of ``contextual/engine.rs``):

    docs ──> gate ──> lines ──> near_dup ──> decontam ──> corpus

- **gate**: the one-pass row-local rule projection
  (`text.curate_documents`) — quality band, language allowlist,
  repetition, PII.  Per-rule drop counts ride the write job itself
  (`df.observe`), so the reason ledger costs zero extra scans.
- **lines**: CCNet-style boilerplate line removal (`dedup.line_dedup`).
- **near_dup**: n-gram near-duplicate resolution to canonical survivors
  (`dedup.near_dup_clusters` — blocked pairs → large/small-star CC).
- **decontam**: Bloom-prefiltered train/eval overlap
  (`dedup.bloom_contamination_overlap`); any doc sharing
  ``decontam_min_shared`` shingles with the eval suite is dropped via a
  broadcast anti-join on the (small) contaminated-id set.
- **corpus**: the final checkpoint — what a training job reads.

Every stage is parquet-materialized with a manifest (rows, wall, metrics,
config fingerprint); a rerun with the same config resumes after the last
completed stage, and a config change invalidates exactly the stages whose
fingerprint no longer matches.  Each stage's semantics are individually
value-checked against the DuckDB oracle through their `queries()` entries
(curate_documents / line_dedup / near_dup_clusters / bloom_contamination);
the pipeline test asserts the composition end-to-end plus byte-identical
resume.

Scale notes (100 TB): the gate and line stages are scan-shaped (zero or
two shuffles); near-dup is the blocked-pair machinery with its skew caps;
decontam's train side is filtered in the scan stage by the broadcast
Bloom bit array, so the only corpus-sized exchanges in the whole pipeline
are the near-dup pair stage and the final partitioned write.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, text
from ..session import conf_scope
from .runstate import Runstate


@dataclass
class CurationConfig:
    allowed_langs: tuple = ("en",)
    max_dup_frac: float = 0.2
    max_pii: int = 5
    min_tokens: int = 5
    max_tokens: int = 100_000
    # line-level boilerplate removal
    line_min_docs: int = 5
    # corpora that arrive as one physical line (the synthetic tables) get
    # deterministic fixed-width segmentation first; real corpora with
    # native newlines set this False
    segment_lines: bool = False
    tokens_per_line: int = 3
    # near-duplicate resolution
    near_dup_threshold: float = 0.5
    # decontamination
    decontam_k: int = 3
    decontam_min_shared: int = 2
    decontam_max_df: int | None = 1000
    decontam_fpp: float = 0.01
    # pin every exchange to one data-sized partition count (scaling runs)
    static_shuffle_partitions: int | None = None
    passthrough_cols: tuple = field(default_factory=tuple)


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    eval_docs: DataFrame | None,
    run_dir: str,
    cfg: CurationConfig | None = None,
) -> DataFrame:
    """Run (or resume) the curation pipeline; returns the final corpus
    DataFrame (doc_id, text, *cfg.passthrough_cols)."""
    cfg = cfg or CurationConfig()
    rs = Runstate(spark, run_dir, asdict(cfg))
    with conf_scope(
        spark, {"spark.sql.shuffle.partitions": cfg.static_shuffle_partitions}
    ):
        return _run_stages(spark, docs, eval_docs, rs, cfg)


def _run_stages(
    spark: SparkSession,
    docs: DataFrame,
    eval_docs: DataFrame | None,
    rs: Runstate,
    cfg: CurationConfig,
) -> DataFrame:
    from ..session import release_pooled

    keep_cols = ["doc_id", "text", *cfg.passthrough_cols]
    docs_ck = rs.stage(
        "docs",
        lambda: docs.select(*keep_cols),
        observe={"n_docs": F.count(F.lit(1))},
    )

    def build_gate() -> DataFrame:
        # full_rows appends the verdict to each row in the SAME projection,
        # so the gate stage is one filtered scan — no verdict re-join
        return (
            text.curate_documents(
                docs_ck,
                allowed_langs=cfg.allowed_langs,
                max_dup_frac=cfg.max_dup_frac,
                max_pii=cfg.max_pii,
                min_tokens=cfg.min_tokens,
                max_tokens=cfg.max_tokens,
                full_rows=True,
            )
            .where(F.col("keep"))
            .select(*keep_cols, "reasons")
        )

    gate = rs.stage(
        "gate",
        build_gate,
        inputs=("docs",),
        # per-rule drop accounting rides the write job: these aggregates see
        # the KEPT rows, so drops are derived in the manifest against the
        # docs stage's n_docs (kept + dropped = in)
        observe={"n_kept": F.count(F.lit(1))},
    )

    def build_lines() -> DataFrame:
        src = gate.select(*keep_cols)
        if cfg.segment_lines:
            src = src.withColumn(
                "text", dedup.tokens_to_lines(F.col("text"), cfg.tokens_per_line)
            )
        cleaned = dedup.line_dedup(src, min_dup_docs=cfg.line_min_docs)
        return src.drop("text").join(
            cleaned.select("doc_id", F.col("clean_text").alias("text")), "doc_id"
        ).select(*keep_cols)

    lines = rs.stage("lines", build_lines, inputs=("gate",))

    def build_near_dup() -> DataFrame:
        clusters = dedup.near_dup_clusters(
            lines, threshold=cfg.near_dup_threshold
        )
        return (
            lines.join(
                clusters.where(F.col("is_canonical") == 1).select("doc_id"),
                "doc_id",
            )
        )

    near = rs.stage(
        "near_dup",
        build_near_dup,
        inputs=("lines",),
        observe={"n_canonical": F.count(F.lit(1))},
    )
    release_pooled()

    def build_decontam() -> DataFrame:
        if eval_docs is None:
            return near
        hits = dedup.bloom_contamination_overlap(
            near,
            eval_docs,
            k=cfg.decontam_k,
            min_shared=cfg.decontam_min_shared,
            max_df=cfg.decontam_max_df,
            fpp=cfg.decontam_fpp,
        )
        contaminated = hits.select(F.col("train_id").alias("doc_id")).distinct()
        # the contaminated set is bounded by the eval suite's reach — tiny
        # against the corpus, hence the broadcast anti-join
        return near.join(F.broadcast(contaminated), "doc_id", "left_anti")

    corpus = rs.stage(
        "corpus",
        build_decontam,
        inputs=("near_dup",),
        observe={"n_final": F.count(F.lit(1))},
    )
    release_pooled()
    return corpus
