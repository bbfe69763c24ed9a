"""Transitive clustering — connected components over the match graph.

Implements the alternating large-star / small-star map-reduce of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC'14),
as a driver-controlled fixpoint of DataFrame self-joins — the custom
strategy SURVEY.md §4 item 3 (Catalyst cannot express the loop).

Scale design:
- every iteration repartitions on the node column so successive joins reuse
  the same hash partitioning;
- `localCheckpoint` per iteration truncates lineage (without it the plan
  doubles per round and the 10th iteration recompiles 2^10 joins);
- convergence is `changed == 0`, checked via a cheap aggregate;
- expected rounds: O(log^2 n) worst case, 2-5 in practice on ER graphs.

Semantics: returns (node, component) where component = min node id reachable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import conf_scope


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star: connect every strictly-larger neighbor of u to min(N+(u)).

    Plan shape: ONE hash exchange on ``u`` + partition-local sort (a window),
    not groupBy-then-self-join (which exchanges the neighbor table twice per
    round — measured as the dominant fixed cost of the fixpoint at small
    sizes).  ``F.first("v")`` over an ascending window is the group min for
    every row (the default frame always contains the first row).

    No trailing ``distinct()``: duplicate edges are absorbed for free by the
    consumer (small-star re-dedupes each round) and duplicate multiplicity
    is bounded by the vertex degree — no blowup across the alternation."""
    nbrs = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    w = Window.partitionBy("u").orderBy("v")
    out = (
        nbrs.withColumn("mn", F.first("v").over(w))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.least("mn", F.col("u")).alias("b"))
    )
    return out.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).where(F.col("u") != F.col("v"))


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star: for each node, link all smaller-or-equal neighbors to the
    min.  Same one-exchange window shape as :func:`_large_star`; the per-node
    (u -> mn) star edge rides the first row of each window group (rn == 1)
    instead of a second groupBy+union pass."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    w = Window.partitionBy("u").orderBy("v")
    vm = F.struct(F.col("v").alias("a"), F.col("mn").alias("b"))
    um = F.struct(F.col("u").alias("a"), F.col("mn").alias("b"))
    out = (
        directed.withColumn("mn", F.first("v").over(w))
        .withColumn("rn", F.row_number().over(w))
        .select(
            F.explode(
                F.when(F.col("rn") == 1, F.array(vm, um)).otherwise(F.array(vm))
            ).alias("e")
        )
        .select("e.a", "e.b")
    )
    return out.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).where(F.col("u") != F.col("v")).distinct()


def fixpoint_partitions(spark, n_edges: int) -> int:
    """Shuffle-partition count for the CC fixpoint and its consumers, sized
    to max(DATA, CLUSTER WIDTH): each iteration is ~6 shuffles, and
    scheduling hundreds of near-empty partitions per shuffle makes small
    graphs anti-scale with cores — but fewer partitions than cores caps the
    stage below the cluster width (measured: a 400k-edge graph on 4
    data-sized partitions ran the entities stage at identical speed on 8 and
    32 cores).  ~100k edges per partition keeps tasks meaningful; floor at
    the cluster width so every core gets a task — but only once the graph
    can FILL the width (>= ~2k edges/core): below that the floor itself is
    the anti-scaling it exists to prevent (measured: a 2k-edge contracted
    delta graph at 32 partitions spent 1.4 s/round on pure scheduling vs
    ~0.3 s at data-sized partitions — the dominant cost of incremental
    cluster maintenance, whose whole point is a delta-sized graph).
    Capped at the session shuffle parallelism so huge graphs use the full
    cluster."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    width = spark.sparkContext.defaultParallelism
    filled_width = min(width, n_edges // 2_000 + 1)
    return max(1, min(cap, max(filled_width, n_edges // 100_000 + 1)))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
    num_partitions: int | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in `edges`.

    Isolated nodes don't appear (callers union them back with
    component = own id — see :func:`attach_singletons`).
    """
    spark = edges.sparkSession
    e = _canonical_edges(edges, src, dst)
    sizing_cache = None
    if num_partitions is None:
        # The sizing count would otherwise evaluate the FULL upstream edge
        # lineage (often an expensive candidate-pair join), and the first
        # checkpoint materialization below would evaluate it a SECOND time.
        # Cache across the two so the join runs once — at 100 TB the extra
        # pass over the pair join is the single biggest avoidable cost of a
        # CC call without ``num_partitions``.
        sizing_cache = e = e.persist()
        num_partitions = fixpoint_partitions(spark, e.count())
    n_part = num_partitions
    # Size EVERY shuffle inside the fixpoint to the data: each iteration is
    # ~5 shuffles (groupBy/join ×2 + dedupe), and at the session default
    # (4× cores) a small graph schedules hundreds of near-empty tasks per
    # round — measured 16-22 s for a 200k-edge graph at 32 cores, pure
    # scheduling.  On a 10^12-doc graph n_part hits the session cap and the
    # conf is unchanged.  Restored on exit (driver-controlled loop,
    # same pattern as AQE's own runtime coalescing — but AQE can only
    # coalesce DOWN from the static number, paying planning cost each time).
    # AQE off inside the loop: the rounds are windows + a distinct — no
    # joins to re-plan, no coalescing wanted (partitions are already
    # data-sized above) — so adaptive execution only adds a driver
    # re-planning barrier and an extra job submission per query stage,
    # pure per-round latency in a driver-controlled fixpoint.
    with conf_scope(
        spark, {"spark.sql.shuffle.partitions": n_part, "spark.sql.adaptive.enabled": "false"}
    ):
        def _sig(df: DataFrame) -> tuple[int, int]:
            """(count, order-insensitive xxhash64 sum) in ONE agg job —
            the convergence signature.  Equal signatures ⇒ equal edge sets
            (both sides are distinct sets of identical cardinality; a missed
            change needs a 64-bit sum collision between two same-size edge
            sets one iteration apart — astronomically unlikely, and a miss
            only ends the fixpoint one round early on an almost-converged
            graph).  Replaces the count + exceptAll two-job probe."""
            r = df.agg(
                F.count(F.lit(1)).alias("n"),
                # decimal(38,0) sum: exact (no ANSI long overflow) and
                # order-insensitive across partitions
                F.coalesce(
                    F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias("h"),
            ).first()
            return int(r["n"]), int(r["h"])

        # LAZY localCheckpoint + signature agg = ONE job per round: the agg
        # scans every partition, which materializes the checkpoint blocks as
        # a side effect — an eager checkpoint would run its own job first
        # and the signature a second (measured: 2 jobs/round -> 1 halves the
        # fixpoint's scheduler latency, the dominant cost on small graphs).
        e = e.repartition(n_part, "u")
        e = e.localCheckpoint(eager=False)
        sig_prev = _sig(e)  # materializes the checkpoint blocks
        if sizing_cache is not None:
            sizing_cache.unpersist()
        for _ in range(max_iterations):
            e2 = _large_star(e)
            # no explicit repartition: small-star's trailing distinct already
            # hash-shuffles on (u, v) at n_part — the checkpoint snapshots
            # that layout, and the next round's groupBy re-hashes on u anyway
            e2 = _small_star(e2)
            e2 = e2.localCheckpoint(eager=False)
            # converged when the edge set is stable (small-star output is
            # always (node -> current min) star edges; stability == fixpoint)
            sig2 = _sig(e2)
            old = e
            e = e2
            # e2 is eagerly checkpointed and no longer references old — drop
            # the superseded iteration's blocks NOW, not only at convergence
            # (a 10-iteration fixpoint would otherwise hold 10 generations of
            # the edge set in the block manager)
            old.unpersist()
            if sig2 == sig_prev:
                break
            sig_prev = sig2
    # e is a star graph: v -> u = component root.  e's localCheckpoint blocks
    # back the returned (lazy) result — register them for release once the
    # caller has materialized it (pipeline: after the entities parquet write).
    from ..session import register_pooled

    register_pooled(e)
    comps = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("node"), F.col("u").alias("component")).distinct()
    return comps.unionByName(roots).distinct()


def attach_singletons(components: DataFrame, all_nodes: DataFrame, node_col: str) -> DataFrame:
    """Union nodes without any edge as their own singleton component."""
    nodes = all_nodes.select(F.col(node_col).alias("node")).distinct()
    missing = nodes.join(components, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return components.unionByName(missing)


def cluster_matches(
    match_pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    left_col: str = "left_id",
    right_col: str = "right_id",
    **cc_kwargs,
) -> DataFrame:
    """match pairs → (doc_id, entity) assignment (entity = min doc_id)."""
    comps = connected_components(match_pairs, left_col, right_col, **cc_kwargs)
    comps = attach_singletons(comps, all_ids, id_col)
    return comps.select(
        F.col("node").alias(id_col), F.col("component").alias("entity")
    )


def incremental_cluster_update(
    assignments: DataFrame,
    new_edges: DataFrame,
    new_nodes: DataFrame,
    node_col: str = "node",
    cluster_col: str = "cluster",
    src: str = "src",
    dst: str = "dst",
    **cc_kwargs,
) -> DataFrame:
    """Fold a batch of new records into an EXISTING clustering without
    recomputing it — the pipeline-level analog of the reference's online
    ``DynamicDawg::insert`` (``/root/reference/src/dictionary/
    dynamic_dawg.rs:344``): repair only what the delta touches.

    Inputs:
    - ``assignments``: the standing (node, cluster) table, cluster = min
      member id (the CC fixpoint's converged label);
    - ``new_edges``: match pairs involving at least one arriving node
      (new-new and new-old edges; old-old edges are tolerated and contract
      to self-loops);
    - ``new_nodes``: the arriving batch, for singleton attachment.

    Method — graph contraction: every old endpoint is replaced by its
    cluster label, then connected components run on the CONTRACTED graph,
    whose size is bounded by the delta (edges + touched clusters), never by
    the corpus.  Because an existing label is the min of its members, the
    contracted component min equals the full-graph component min, so the
    result is IDENTICAL to re-running CC on the union graph (the oracle
    checks exactly that).

    Scale (10^12 standing rows, 10^6-row delta):
    - the standing table is only ever the STREAMED side of two broadcast
      hash joins (endpoint lookup, relabel) — zero shuffles of the big side,
      no repartition; verify with .explain(): no Exchange above the
      assignments scan;
    - the CC fixpoint runs on the contracted delta graph only;
    - with Iceberg the relabel is `MERGE INTO assignments USING relabel_map`
      — same broadcast shape.

    Output: (node, cluster) for ALL nodes (updated standing rows + the new
    batch, singletons as their own cluster).
    """
    from ..session import pooled_persist

    ep = (
        new_edges.select(F.col(src).alias("n"))
        .unionByName(new_edges.select(F.col(dst).alias("n")))
        .distinct()
    )
    a = assignments.select(
        F.col(node_col).alias("n"), F.col(cluster_col).alias("lbl")
    )
    # endpoint -> standing label; inner join keeps old endpoints only.
    # Broadcast the DELTA side: the standing table streams through.
    # Persist the (delta-sized) lookup: it feeds TWO broadcast exchanges
    # below plus the relabel-key set, and without the cache each one
    # re-streams the standing table through the endpoint join (measured
    # ~1.5 s x4 re-evaluations at sf0.1 — the dominant cost of this
    # operator; at 10^12 standing rows it would be four full passes).
    emap = pooled_persist(a.join(F.broadcast(ep), "n").select("n", "lbl"))
    e = new_edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    e = (
        e.join(
            F.broadcast(emap.withColumnsRenamed({"n": "_s", "lbl": "_sl"})),
            "_s",
            "left",
        )
        .join(
            F.broadcast(emap.withColumnsRenamed({"n": "_d", "lbl": "_dl"})),
            "_d",
            "left",
        )
        .select(
            F.coalesce("_sl", "_s").alias("cu"),
            F.coalesce("_dl", "_d").alias("cv"),
        )
    )
    comps = connected_components(e, "cu", "cv", **cc_kwargs)
    # comps nodes are old cluster labels or new node ids; split by membership
    old_lbls = emap.select(F.col("lbl").alias("node")).distinct()
    relabel = comps.join(F.broadcast(old_lbls), "node").select(
        F.col("node").alias("_old"), F.col("component").alias("_new")
    )
    updated = assignments.join(
        F.broadcast(relabel), assignments[cluster_col] == F.col("_old"), "left"
    ).select(
        F.col(node_col),
        F.coalesce("_new", F.col(cluster_col)).alias(cluster_col),
    )
    fresh = (
        new_nodes.select(F.col(node_col).alias("node"))
        .distinct()
        .join(F.broadcast(comps), "node", "left")
        .select(
            F.col("node").alias(node_col),
            F.coalesce("component", F.col("node")).alias(cluster_col),
        )
    )
    return updated.unionByName(fresh)
