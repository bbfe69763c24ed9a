"""Document blocking — span extraction → rare-token keys → salted equi-join.

The distributed analog of the reference's dictionary index: instead of
walking a DAWG (``src/dictionary/dawg.rs``), we generate, per document, a
bounded set of blocking keys such that any true duplicate pair shares at
least one key, then let a shuffled equi-join produce candidates.

Stages:
1. ``extract_span_text`` — explode the interleaved spans array, keep text
   spans, preserve order via the offset column (the per-row invariant
   ``(kind, text, media_ref, order)`` is testable by reassembly).
2. ``doc_tokens`` — tokenization + normalization per doc.
3. ``rare_tokens`` — corpus DF filter: tokens with document frequency above
   ``max_df`` carry no entity signal (stopword-like) and produce the hottest
   keys; dropping them is both a recall no-op and the first line of skew
   defense.  This is the value-filtered traversal analog
   (``src/transducer/value_filtered_query.rs``): filter *before* exploring.
   The DF is one window count per token over the token table, so the filter
   is a single pass with no broadcast job of its own, and an optional
   ``Observation`` on the same pass counts what the guard dropped.

Blocking keys for the surviving vocabulary come from the one key-row
generator, ``functions.blocking_keys.blocking_key_rows`` (compiled
``(token, key: long)`` rows).  :func:`vocab_matches` is the one blocked
vocabulary match — keys, :func:`blocked_pairs`, length prefilter, kernel —
for ER's vocabulary self-join (``pipeline/er.vocab_token_matches``) and
linkage's A × B cross join.

Skew policy — its one statement and, in :func:`blocked_pairs`, its one
implementation, for ER's self-join, linkage's edit and phonetic cross
joins, the dedup self-joins (``dedup.minhash_lsh_pairs``,
``simhash_near_pairs``, ``ngram_jaccard_pairs``,
``lsh_embedding_near_pairs``) and the evaluation self-joins
(:func:`blocking_quality`, ``er.pairwise_f1``).  A key's join cost is its
pair count, n(n−1)/2 in a self-join and n_a·n_b in a cross join (the
multiplicity estimate of the ICDE 2021 join-size paper, PAPERS.md).  Keys
above ``HOT_KEY_PAIRS`` are salted into ``N_SALT`` groups and kept; keys
above ``EXTREME_KEY_PAIRS`` are dropped and counted, ``key_pairs_dropped``
bounding the true pairs lost.  In a self-join the bands are n > 1,000 and
n > 100,000.  With no hot or extreme key the join is the band-free plan
(no anti-join).  Otherwise a broadcast anti-join against the small set of
banded keys leaves the cold rows to the same plain join, and the hot rows
alone take a salted shape that still yields all their pairs, split before
the shuffle (AQE's skew splitting acts only after it): the self-join is a
triangle over salt groups, one task per unordered group pair i <= j, and
the cross join splits the left side and replicates the right.  It persists
its own inputs; the caller releases them (``release_pooled``).
Outside this policy: ``fuzzy_query``'s broadcast join,
:func:`pair_block_weights`' ``hot_threshold`` (meta-blocking's block
purging) and the ``max_df`` shingle cut of ``dedup.contamination_overlap``
and ``bloom_contamination_overlap`` (documented semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.blocking_keys import (
    blocking_key_rows, normalize_term, variant_key_budget,
)
from ..functions.udfs import edit_distance_udf, length_prefilter

HOT_KEY_PAIRS = 499_500  # n(n-1)/2 at n = 1,000: above this a key is salted
EXTREME_KEY_PAIRS = 4_999_950_000  # n(n-1)/2 at n = 100,000: dropped + counted
N_SALT = 8  # salt groups per hot key


def explode_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, kind, text, media_ref, offset) — one row per span, all
    kinds.  The flat projection of the interleaved input contract
    (BASELINE.json input_hint); order is recoverable from ``offset``."""
    return docs.select("doc_id", F.explode("spans").alias("span")).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def extract_span_text(docs: DataFrame) -> DataFrame:
    """(doc_id, offset, text) for text spans, order preserved by offset."""
    ex = explode_spans(docs)
    return ex.where(F.col("kind") == "text").select("doc_id", "offset", "text")


def reassemble_spans(docs: DataFrame) -> DataFrame:
    """Round-trip check for the span-sequence invariant: explode then
    re-aggregate ordered by offset; output (doc_id, spans) with the original
    ordering.  Equality with the input proves no stage loses
    (kind, text, media_ref, order)."""
    ex = docs.select("doc_id", F.explode("spans").alias("span"))
    return ex.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("span.offset").alias("offset"),
                    F.col("span.kind").alias("kind"),
                    F.col("span.text").alias("text"),
                    F.col("span.media_ref").alias("media_ref"),
                )
            )
        ).alias("spans_sorted")
    ).select(
        "doc_id",
        F.transform(
            "spans_sorted",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )


def text_tokens(df: DataFrame, text: Column, min_len: int, *keys) -> DataFrame:
    """Distinct ``(*keys, token)`` rows: ``text`` normalized, split on
    spaces, tokens shorter than ``min_len`` dropped — the one tokenizer of
    ER and linkage."""
    toks = df.select(*keys, F.explode(F.split(normalize_term(text), " ")).alias("token"))
    return toks.where(F.length("token") >= min_len).distinct()


def doc_tokens(docs: DataFrame, min_len: int = 3) -> DataFrame:
    """(doc_id, token) distinct, normalized."""
    return text_tokens(extract_span_text(docs), F.col("text"), min_len, "doc_id")


def rare_tokens(
    tok: DataFrame, max_df: int = 50, dropped: Observation | None = None
) -> DataFrame:
    """Drop stopword-like tokens by corpus document frequency.

    ``tok``: distinct ``(doc_id, <group>…)`` rows — ``(doc_id, token)`` for
    ER, ``(doc_id, field, token)`` for field-wise linkage — so a group's row
    count is its document frequency; groups with df > ``max_df`` are
    dropped.  ``max_df`` is absolute here (testdata scale); at corpus scale
    it becomes a fraction of N.

    The DF is ``count(*) over (partition by <every column but doc_id>)``:
    one exchange and sort inside the consuming job, no job of its own, and
    ``tok`` is read once, so a caller need not persist it.  ``dropped``,
    when given, observes the pre-filter window frame in the same job:
    ``rare_tokens_dropped`` counts the distinct groups dropped (one row
    per group has ``doc_id == min(doc_id)`` over the window — exact, no
    sort) and ``rare_token_rows_dropped`` their rows.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*[c for c in tok.columns if c != "doc_id"])
    counted = tok.select(
        *tok.columns,
        F.count(F.lit(1)).over(w).alias("_df"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("_first"),
    )
    if dropped is not None:
        rare = F.col("_df") > max_df
        counted = counted.observe(
            dropped,
            F.count_if(rare & F.col("_first")).alias("rare_tokens_dropped"),
            F.count_if(rare).alias("rare_token_rows_dropped"),
        )
    return counted.where(F.col("_df") <= max_df).select(*tok.columns)


def _salt_group(id_col: str, n_salt: int) -> Column:
    """The salt group of a row: ``pmod(xxhash64(id), n_salt)``."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt))


def _hot_self_pairs(hot: DataFrame, n_salt: int) -> DataFrame:
    """All ``(left_id < right_id)`` pairs of the hot ``(key, id)`` rows,
    one task per unordered salt-group pair (i <= j): the triangle
    decomposition of one n(n−1)/2 bucket into s(s+1)/2 tasks."""
    hot = hot.select("key", "id", _salt_group("id", n_salt).alias("_g"))
    # the left side replicates each row to every (g, j >= g) task, the right
    # side to every (i <= g, g) task: each group pair meets once on (key, i, j)
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
    # the salt group, not the id, decides a row's side: canonicalize with
    # least/greatest instead of filtering on order
    joined = tasks_l.join(tasks_r, ["key", "_i", "_j"]).where(
        F.col("left_id") != F.col("right_id")
    )
    return joined.select(
        F.least("left_id", "right_id").alias("left_id"),
        F.greatest("left_id", "right_id").alias("right_id"),
    )


def _hot_cross_pairs(left: DataFrame, right: DataFrame, n_salt: int) -> DataFrame:
    """All ``(left_id, right_id)`` pairs of the hot ``(key, id)`` rows of
    both sides: the left side split into salt groups, the right side
    replicated to every group — s tasks per hot key."""
    lk = left.select(
        "key", F.col("id").alias("left_id"), _salt_group("id", n_salt).alias("_g")
    )
    rk = right.select(
        "key",
        F.col("id").alias("right_id"),
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("_g"),
    )
    return lk.join(rk, ["key", "_g"]).select("left_id", "right_id")


def blocked_pairs(
    left: DataFrame, right: DataFrame | None = None, *, band: dict | None = None
) -> DataFrame:
    """Skew-guarded distinct ``(left_id, right_id)`` pairs of a blocked
    join on ``key`` (policy in the module docstring); ``band``, when given,
    receives the band record ``{hot_keys_salted, extreme_keys_dropped,
    key_pairs_dropped}``.

    ``left`` / ``right``: ``(id, key)`` rows; ``right=None`` is the
    self-join of ``left``, with ``left_id < right_id``.  The band count is
    one driver action over the key rows and the join reads them again, so
    each side is persisted here (pooled: the caller releases it with
    ``session.release_pooled`` after the consuming plan has run).
    """
    from ..session import pooled_persist

    # Hash-partition by `key` BEFORE the persist: the self-join's two sides
    # are alias-projections of one table, distinct plans to ReuseExchange,
    # so each paid its own full exchange (measured at 1.2M docs: 2 x 2.2 GB
    # shuffle writes + a 4.4 GB read, ER's largest cost center).  From a
    # HashPartitioning(key) cache the band count, the banded-key anti-join
    # and both join sides read without another exchange.  The distinct (no
    # exchange of its own here) makes per-key counts count ids, not the
    # deletion positions that reach one key.
    sides = [
        pooled_persist(s.repartition("key").distinct())
        for s in (left, right)
        if s is not None
    ]
    if right is None:
        n = F.count("*")
        per_key = sides[0].groupBy("key").agg(F.shiftright(n * (n - 1), 1).alias("pairs"))
    else:
        keys = sides[0].select("key", F.lit(True).alias("_l")).unionByName(
            sides[1].select("key", F.lit(False).alias("_l"))
        )
        per_key = keys.groupBy("key").agg(
            (F.count_if("_l") * F.count_if(~F.col("_l"))).alias("pairs")
        )
    p = F.col("pairs")
    is_hot = (p > HOT_KEY_PAIRS) & (p <= EXTREME_KEY_PAIRS)
    is_extreme = p > EXTREME_KEY_PAIRS
    counts = per_key.agg(
        F.count_if(is_hot).alias("hot_keys_salted"),
        F.count_if(is_extreme).alias("extreme_keys_dropped"),
        F.coalesce(F.sum(F.when(is_extreme, p)), F.lit(0)).alias("key_pairs_dropped"),
    ).first()
    if band is not None:
        band.update({k: int(v) for k, v in counts.asDict().items()})

    banded = counts["hot_keys_salted"] or counts["extreme_keys_dropped"]
    if banded:
        # the banded key sets are small: broadcast them; the cold side is
        # nearly the whole key table and must never be a broadcast build
        hot_keys = F.broadcast(per_key.where(is_hot).select("key"))
        hot = [s.join(hot_keys, "key", "left_semi") for s in sides]
        skewed = F.broadcast(per_key.where(p > HOT_KEY_PAIRS).select("key"))
        sides = [s.join(skewed, "key", "left_anti") for s in sides]

    lk = sides[0].select("key", F.col("id").alias("left_id"))
    if right is None:
        # shuffle_hash: the key-partitioned cache feeds both sides, so the
        # hint only swaps the per-partition algorithm — a build-side hash
        # map instead of sorting both sides
        rk = sides[0].select("key", F.col("id").alias("right_id")).hint("shuffle_hash")
        pairs = lk.join(rk, "key").where(F.col("left_id") < F.col("right_id"))
    else:
        pairs = lk.join(sides[1].select("key", F.col("id").alias("right_id")), "key")
    pairs = pairs.select("left_id", "right_id")
    if banded:
        if right is None:
            pairs = pairs.unionByName(_hot_self_pairs(hot[0], N_SALT))
        else:
            pairs = pairs.unionByName(_hot_cross_pairs(hot[0], hot[1], N_SALT))
    return pairs.distinct()


def vocab_matches(
    left: DataFrame,
    right: DataFrame | None = None,
    *,
    max_distance: int,
    variant: str,
    band: dict | None = None,
) -> DataFrame:
    """``(tok_a, tok_b, distance)`` for every pair of distinct ``token``
    rows within ``max_distance``: :func:`blocking_key_rows` at the
    variant's exact key budget (``ValueError`` where none exists), then
    :func:`blocked_pairs`, length prefilter, kernel.  ``right=None`` is the
    self-join (``tok_a < tok_b``, no diagonal); otherwise ``tok_a`` comes
    from ``left``, ``tok_b`` from ``right``.  ``band`` receives the band
    record."""
    budget = variant_key_budget(variant, max_distance)

    def keyed(vocab: DataFrame) -> DataFrame:
        rows = vocab.select(F.col("token").alias("id"))
        return blocking_key_rows(rows, "id", budget, variant)

    raw = blocked_pairs(keyed(left), None if right is None else keyed(right), band=band)
    pairs = raw.select(
        F.col("left_id").alias("tok_a"), F.col("right_id").alias("tok_b")
    ).where(length_prefilter(F.col("tok_a"), F.col("tok_b"), max_distance))
    dist = edit_distance_udf(max_distance, variant)
    scored = pairs.withColumn("distance", dist(F.col("tok_a"), F.col("tok_b")))
    return scored.where(F.col("distance") >= 0)


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    window: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (the north star's second key family):
    total-order rows by ``(key, id)``, pair every row with its ``window - 1``
    successors.  Output: canonical distinct (left_id, right_id).

    Scale design — no single-partition global sort:

    1. ``repartitionByRange(key, id)`` + ``sortWithinPartitions`` gives a
       range-partitioned total order (partition ids ascend with key ranges).
    2. Global rank = per-partition ``row_number`` + partition offset; the
       offsets come from one tiny per-partition count (``num_partitions``
       rows to the driver — bounded, not data-sized).
    3. Window pairing is a plain **equi-join on shifted rank** (each row
       explodes to ranks ``rn+1 .. rn+w-1``): shuffle-friendly, no range
       join, fan-out exactly ``w - 1`` per row.

    The reference analog is ordered dictionary iteration
    (``/root/reference/src/dictionary/iterator.rs``) over the sorted term
    universe; the sorted-neighborhood method turns that order into bounded
    candidate windows.
    """
    from pyspark.sql import Window

    if window < 2:
        raise ValueError("sorted-neighborhood window must be >= 2")
    spark = df.sparkSession
    base = (
        df.select(F.col(id_col).alias("_id"), F.col(key_col).alias("_k"))
        .where(F.col("_id").isNotNull())
        .dropDuplicates(["_id"])
    )
    if num_partitions is None:
        # size to the data like the CC fixpoint: ~100k rows per partition,
        # capped at the session shuffle parallelism
        n_rows = base.count()
        cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        num_partitions = max(1, min(cap, n_rows // 100_000 + 1))
    # pooled: released by the materializing caller (release_pooled); a
    # release-then-reuse recompute is deterministic because
    # repartitionByRange + sortWithinPartitions is a deterministic layout
    from ..session import pooled_persist

    p = pooled_persist(
        base.repartitionByRange(num_partitions, "_k", "_id")
        .sortWithinPartitions("_k", "_id")
        .withColumn("_pid", F.spark_partition_id())
    )
    cnts = {
        r["_pid"]: r["c"]
        for r in p.groupBy("_pid").agg(F.count("*").alias("c")).collect()
    }
    offs, acc = [], 0
    for pid in range(num_partitions):
        offs.append((pid, acc))
        acc += cnts.get(pid, 0)
    off_df = spark.createDataFrame(offs, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy("_k", "_id")
    ranked = (
        p.withColumn("_lrn", F.row_number().over(w))
        .join(F.broadcast(off_df), "_pid")
        .select("_id", "_k", (F.col("_lrn") + F.col("_off")).alias("_rn"))
    )
    left = ranked.select(
        F.col("_id").alias("_lid"),
        F.explode(
            F.sequence(F.col("_rn") + 1, F.col("_rn") + (window - 1))
        ).alias("_rn2"),
    )
    right = ranked.select(F.col("_id").alias("_rid"), F.col("_rn").alias("_rn2"))
    return (
        left.join(right, "_rn2")
        .select(
            F.least("_lid", "_rid").alias("left_id"),
            F.greatest("_lid", "_rid").alias("right_id"),
        )
        .where(F.col("left_id") != F.col("right_id"))
        .distinct()
    )


def blocking_quality(
    docs: DataFrame,
    truth_pairs: DataFrame,
    keyed: DataFrame,
    id_col: str = "doc_id",
    *,
    band: dict | None = None,
) -> DataFrame:
    """Blocking-scheme evaluation: reduction ratio + pairs completeness —
    the two standard blocking metrics (how much of the O(n²) pair space the
    scheme prunes, and what fraction of true matches survive the pruning).
    The reference's analog is its recall gating of index-guided traversal
    against labeled misspelling corpora (`/root/reference/tests/
    corpus_validation.rs:22-28`): a blocking scheme, like an automaton
    walk, is only useful if it skips almost everything *except* the
    matches.

    Inputs:
      docs        — the record universe (defines n for the O(n²) base);
      truth_pairs — labeled matches (left_id < right_id);
      keyed       — (id_col, key): one row per (record, blocking key),
                    the same table candidate generation consumes.

    Output: ONE row —
      (n_docs, n_candidates, n_truth, n_truth_in_candidates,
       reduction_ratio, pairs_completeness).

    Scale: the candidates come from :func:`blocked_pairs` over ``keyed``,
    the skew-guarded join candidate generation itself runs (so measuring
    costs what running costs — no extra pass over the raw corpus);
    ``band`` receives its band record.  The four metric aggregates are single-row and combine
    via 1-row broadcast joins — nothing returns to the driver.
    """
    cand = blocked_pairs(keyed.select(F.col(id_col).alias("id"), "key"), band=band)
    truth = truth_pairs.select("left_id", "right_id").distinct()
    # ONE pass over the candidate set: flag each candidate as truth/not via
    # a left join, then count + sum in a single aggregate — a separate
    # n_candidates aggregate and truth semi-join would rebuild the whole
    # candidate shuffle twice (verified in the physical plan).
    flagged = cand.join(
        truth.withColumn("_t", F.lit(1)), ["left_id", "right_id"], "left"
    )
    counts = flagged.agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.sum(F.coalesce(F.col("_t"), F.lit(0)))
        .cast("bigint")
        .alias("n_truth_in_candidates"),
    )
    n_docs = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    n_truth = truth.agg(F.count("*").cast("bigint").alias("n_truth"))
    row = n_docs.crossJoin(counts).crossJoin(n_truth)
    total_pairs = (F.col("n_docs") * (F.col("n_docs") - 1) / 2).cast("double")
    return row.select(
        "n_docs",
        "n_candidates",
        "n_truth",
        "n_truth_in_candidates",
        F.round(F.lit(1.0) - F.col("n_candidates") / total_pairs, 6).alias(
            "reduction_ratio"
        ),
        F.round(
            F.col("n_truth_in_candidates") / F.col("n_truth"), 6
        ).alias("pairs_completeness"),
    )


def pair_block_weights(
    keyed: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "key",
    hot_threshold: int | None = 200,
) -> DataFrame:
    """CBS (Common Block Scheme) meta-blocking weights: for every candidate
    pair, the number of DISTINCT blocking keys the two records share.

    Meta-blocking (Papadakis et al., "Meta-Blocking: Taking Entity
    Resolution to the Next Level", TKDE 2014 — published technique, public
    knowledge) re-frames the block collection as a weighted pair graph and
    prunes low-evidence comparisons BEFORE the expensive scoring kernel
    runs.  The reference's analog is its intersection-traversal premise
    (``/root/reference/src/transducer/mod.rs``: only dictionary paths
    compatible with the automaton are ever visited) — meta-blocking brings
    the same "never score what the index already refutes" discipline to the
    blocked-pair graph itself.

    Output: (left_id, right_id, w) with left < right, w = shared-key count.

    Scale (10^12 docs): the weight aggregation is the SAME shuffle candidate
    generation performs (self-join on key → groupBy pair); no extra pass
    over the corpus.  The hot-key guard drops keys shared by more than
    ``hot_threshold`` records first (a broadcast anti-join against the small
    hot-key set), so the quadratic blow-up of stopword-grade keys never
    reaches the shuffle.
    """
    k = keyed.select(
        F.col(id_col).alias("_id"), F.col(key_col).alias("_k")
    ).distinct()
    if hot_threshold is not None:
        counts = k.groupBy("_k").agg(F.countDistinct("_id").alias("_n"))
        hot = counts.where(F.col("_n") > hot_threshold).select("_k")
        k = k.join(F.broadcast(hot), "_k", "left_anti")
    left = k.select("_k", F.col("_id").alias("left_id"))
    right = k.select("_k", F.col("_id").alias("right_id"))
    # (doc, key) is deduped above, so each shared key contributes exactly
    # one joined row: count(*) IS the distinct shared-key count — no
    # count-distinct state in the aggregate.
    return (
        left.join(right, "_k")
        .where(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count("*").cast("bigint").alias("w"))
    )


def meta_block_wep(weights: DataFrame) -> DataFrame:
    """Weighted Edge Pruning: keep pairs whose weight is >= the global mean
    weight.  The comparison is integer-exact (``w * n_pairs >= sum_w``) so
    Spark and any SQL oracle agree bit-for-bit — no float threshold.

    Scale: the threshold is ONE scalar aggregate over the (already
    candidate-sized, never corpus-sized) weight table, broadcast back as a
    1-row join; the prune itself is a stateless filter.
    """
    tot = weights.agg(
        F.sum("w").cast("bigint").alias("_s"),
        F.count("*").cast("bigint").alias("_n"),
    )
    return (
        weights.join(F.broadcast(tot))
        .where(F.col("w") * F.col("_n") >= F.col("_s"))
        .select("left_id", "right_id", "w")
    )


def meta_block_cnp(weights: DataFrame, k: int = 5) -> DataFrame:
    """Cardinality Node Pruning: each record retains its top-k weighted
    neighbors (ties broken by neighbor id ascending — deterministic); a
    pair survives if EITHER endpoint retains it (the standard redefined-CNP
    union semantics).

    Scale: the pair graph is exploded to both orientations (2× candidate
    rows, still never corpus-sized) and ranked by one window partitioned on
    the node id — a single keyed shuffle; per-node state is the O(k) heap
    inside the window sort.  Skewed nodes are bounded by the upstream
    hot-key guard, which caps any node's degree at
    hot_threshold × keys-per-record.
    """
    from pyspark.sql import Window

    und = weights.select(
        F.col("left_id").alias("node"), F.col("right_id").alias("nbr"), "w"
    ).unionByName(
        weights.select(
            F.col("right_id").alias("node"), F.col("left_id").alias("nbr"), "w"
        )
    )
    win = Window.partitionBy("node").orderBy(F.desc("w"), F.asc("nbr"))
    # w is functionally dependent on the pair, so carrying it through the
    # canonicalize+distinct is exact and saves the join back to `weights`
    # (one whole shuffle of the kept set).
    return (
        und.withColumn("_rk", F.row_number().over(win))
        .where(F.col("_rk") <= k)
        .select(
            F.least("node", "nbr").alias("left_id"),
            F.greatest("node", "nbr").alias("right_id"),
            "w",
        )
        .distinct()
    )
