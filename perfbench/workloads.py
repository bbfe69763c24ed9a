"""The three benchmark workloads: staging by seed, the timed op, the checks.

Every workload follows one protocol:

- ``stage(spark, seed, cache, work)`` builds its inputs from the seed, or
  reuses them from the cache, before anything is timed;
- ``prepare(i)`` is untimed work before op ``i``;
- ``run_once(spark, i)`` is the timed op; it returns what the check needs;
- ``check(spark, out)`` validates that output outside the timing and
  returns (problems, info): an empty list when the output is correct;
- ``verify(spark)`` is one more check made once after the timed window.

The ``check_*`` functions are pure, so a test can feed them corrupted
outputs and see them fail.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pandas as pd

# ----------------------------------------------------------------------------
# sizes: a warm op takes a few seconds on 4 cores, so a 15 s window holds
# several ops and a whole run stays well inside its time box
# ----------------------------------------------------------------------------
ER_DOCS = 2_000
ER_PARTITIONS = 4            # data-sized static shuffle partitions, pinned
ER_MIN_F1 = 0.99
FUZZY_DICT_TERMS = 20_000
FUZZY_PROBES = 100           # probes per batch (one op = one batch)
FUZZY_BATCHES = 32
FUZZY_DISTANCE = 2
KERNEL_PAIRS = 400_000
KERNEL_PARTITIONS = 8
KERNEL_DISTANCE = 2
KERNEL_SAMPLE = 10_000


class StagedCache:
    """Seeded inputs under ``root/<key>``, trusted only when Spark's
    ``_SUCCESS`` marker is present and the recorded row count matches the
    parquet on disk."""

    def __init__(self, root: str):
        self.root = root

    def parquet(self, spark, key: str, rows: int, build) -> str:
        path = os.path.join(self.root, key)
        meta = path + ".json"
        if self._valid(spark, path, meta, rows):
            return path
        shutil.rmtree(path, ignore_errors=True)
        build().write.mode("overwrite").parquet(path)
        if not self._valid(spark, path, None, rows):
            raise RuntimeError(f"staged input {key} does not hold {rows} rows")
        with open(meta, "w") as f:
            json.dump({"rows": rows}, f)
        return path

    @staticmethod
    def _valid(spark, path: str, meta: str | None, rows: int) -> bool:
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            return False
        if meta is not None:
            if not os.path.exists(meta):
                return False
            with open(meta) as f:
                if json.load(f).get("rows") != rows:
                    return False
        return spark.read.parquet(path).count() == rows

    def digest(self, key: str, value: dict) -> list[str]:
        """Record ``value`` for ``key`` on first sight; afterwards report any
        difference from the recorded value (outputs must repeat per seed)."""
        path = os.path.join(self.root, key + ".digest.json")
        if os.path.exists(path):
            with open(path) as f:
                old = json.load(f)
            return [] if old == value else [f"digest {value} != earlier run's {old}"]
        with open(path, "w") as f:
            json.dump(value, f)
        return []


def input_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, n))
        for r, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )


# ----------------------------------------------------------------------------
# pure checks
# ----------------------------------------------------------------------------


def pairwise_f1(pred: pd.Series, truth: pd.Series) -> float:
    """Pairwise F1 of a predicted clustering against the planted one, over
    all document pairs (both Series are indexed by doc_id)."""
    df = pd.DataFrame({"p": pred, "t": truth.reindex(pred.index)})

    def pairs(sizes) -> int:
        return int((sizes * (sizes - 1) // 2).sum())

    tp = pairs(df.groupby(["p", "t"]).size())
    pp = pairs(df.groupby("p").size())
    tt = pairs(df.groupby("t").size())
    prec = tp / pp if pp else 1.0
    rec = tp / tt if tt else 1.0
    return 2 * prec * rec / (prec + rec) if prec + rec else 0.0


def check_er(entities: pd.DataFrame, truth: pd.Series, digest: dict,
             ref: dict | None, min_f1: float = ER_MIN_F1) -> tuple[list, float]:
    """Problems with one ER output, and its F1.  ``entities`` has columns
    (doc_id, entity); ``truth`` maps doc_id to the planted entity id."""
    problems = []
    if len(entities) != len(truth) or entities["doc_id"].nunique() != len(truth):
        problems.append(f"{len(entities)} entity rows for {len(truth)} docs")
    f1 = pairwise_f1(entities.set_index("doc_id")["entity"], truth)
    if f1 < min_f1:
        problems.append(f"F1 {f1:.4f} < {min_f1}")
    if ref is not None and digest != ref:
        problems.append(f"digest {digest} != first op's {ref}")
    return problems, f1


def check_fuzzy(rows: list, planted: list, variant: str, n: int) -> list[str]:
    """``rows`` are (query, term, distance) results; ``planted`` the
    (query, source word) pairs the batch was built from."""
    from liblevenshtein_rust_spark.kernel.distances import distance

    problems = []
    found = {(q, t) for q, t, _ in rows}
    missing = [p for p in planted if tuple(p) not in found]
    if missing:
        problems.append(f"{len(missing)} planted source words not returned, e.g. {missing[0]}")
    for q, t, d in rows:
        want = distance(q, t, variant)
        if d != want or d > n:
            problems.append(f"distance({q!r}, {t!r}) returned {d}, scalar {want}")
            break
    return problems


def check_kernel_sample(rows: list, variant: str, n: int) -> list[str]:
    """``rows`` are (a, b, distance) kernel outputs; each must equal the
    scalar distance, or -1 when that exceeds ``n``."""
    from liblevenshtein_rust_spark.kernel.distances import distance

    for a, b, d in rows:
        want = distance(a, b, variant)
        if d != (want if want <= n else -1):
            return [f"kernel({a!r}, {b!r}) = {d}, scalar distance {want}"]
    return []


def check_count(n: int, ref: int | None) -> list[str]:
    return [] if ref is None or n == ref else [f"count {n} != first op's {ref}"]


# ----------------------------------------------------------------------------
# workloads
# ----------------------------------------------------------------------------


class Workload:
    """Defaults for the optional parts of the protocol."""

    def prepare(self, i: int) -> None:
        """Untimed work before op ``i``."""

    def verify(self, spark) -> list[str]:
        return []

    def manifests(self, spark) -> dict:
        """Runstate manifests of the last op, for workloads that write any."""
        return {}


class ERDedup(Workload):
    """``pipeline.er.run_pipeline`` on a pre-staged fixture corpus."""

    name = "er_dedup"
    op_span = "er.run_pipeline"

    def stage(self, spark, seed: int, cache: StagedCache, work: str) -> None:
        from liblevenshtein_rust_spark.pipeline import er
        from liblevenshtein_rust_spark.sources import fixtures

        self.cache, self.seed = cache, seed
        key = f"er_docs-s{seed}-n{ER_DOCS}-p{ER_PARTITIONS}"
        path = cache.parquet(
            spark, key, ER_DOCS,
            lambda: fixtures.generate_docs(spark, ER_DOCS, seed=seed, partitions=ER_PARTITIONS),
        )
        self.digest_key = key
        self.input_bytes = input_bytes(path)
        # the pipeline sees only the document columns, never the planted truth
        self.docs = spark.read.parquet(path).select("doc_id", "spans")
        truth = spark.read.parquet(path).select("doc_id", "entity_id").toPandas()
        self.truth = truth.set_index("doc_id")["entity_id"]
        self.cfg = er.ERConfig(
            max_df=max(10, ER_DOCS // 150), static_shuffle_partitions=ER_PARTITIONS
        )
        self.run_dir = os.path.join(work, "er_run")
        self.items = ER_DOCS
        self.ref = None

    def prepare(self, i: int) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)

    def run_once(self, spark, i: int):
        from liblevenshtein_rust_spark.pipeline import er

        er.run_pipeline(spark, self.docs, self.run_dir, self.cfg)
        return self.run_dir

    def manifests(self, spark) -> dict:
        from dataclasses import asdict

        from liblevenshtein_rust_spark.pipeline.runstate import Runstate

        return Runstate(spark, self.run_dir, asdict(self.cfg)).manifests()

    def check(self, spark, run_dir: str) -> tuple[list, dict]:
        import pyarrow.parquet as pq

        man = self.manifests(spark)
        ent = pq.read_table(os.path.join(run_dir, "entities", "data")).to_pandas()
        digest = {
            "entities": int(ent["entity"].nunique()),
            "kernel_pairs": int(man["token_matches"]["metrics"]["kernel_pairs"]),
            "edge_rows": int(man["match_edges"]["rows"]),
        }
        problems, f1 = check_er(ent[["doc_id", "entity"]], self.truth, digest, self.ref)
        if self.ref is None:
            self.ref = digest
            problems += self.cache.digest(self.digest_key, digest)
        return problems, {"f1": round(f1, 6), **digest}


class FuzzyLookup(Workload):
    """Batches of planted-typo probes through ``matching.fuzzy_query`` at
    d=2, Standard variant, against one fixed seeded dictionary."""

    name = "fuzzy_lookup"
    op_span = "matching.fuzzy_query"
    variant = "standard"

    def stage(self, spark, seed: int, cache: StagedCache, work: str) -> None:
        from liblevenshtein_rust_spark.kernel.distances import distance
        from liblevenshtein_rust_spark.sources import fixtures

        words = fixtures.random_dictionary(FUZZY_DICT_TERMS, seed, min_len=4, max_len=12)
        path = cache.parquet(
            spark, f"fuzzy_dict-s{seed}-n{FUZZY_DICT_TERMS}", FUZZY_DICT_TERMS,
            lambda: spark.createDataFrame(pd.DataFrame({"term": words})).coalesce(4),
        )
        self.input_bytes = input_bytes(path)
        self.dictionary = spark.read.parquet(path)
        rng = random.Random(seed ^ 0x5EED)
        self.batches = []
        for _ in range(FUZZY_BATCHES):
            planted = []
            while len(planted) < FUZZY_PROBES:
                src = rng.choice(words)
                q = fixtures.apply_typos(src, rng.choice((1, 2)), rng)
                if 1 <= distance(src, q, self.variant) <= FUZZY_DISTANCE:
                    planted.append((q, src))
            probes = spark.createDataFrame(
                pd.DataFrame({"query": [q for q, _ in planted]})
            )
            self.batches.append((probes, planted))
        self.items = FUZZY_PROBES

    def run_once(self, spark, i: int):
        from liblevenshtein_rust_spark.operators import matching

        probes, planted = self.batches[i % FUZZY_BATCHES]
        rows = matching.fuzzy_query(
            probes, self.dictionary, FUZZY_DISTANCE, self.variant
        ).collect()
        return [(r["query"], r["term"], r["distance"]) for r in rows], planted

    def check(self, spark, out) -> tuple[list, dict]:
        rows, planted = out
        return check_fuzzy(rows, planted, self.variant, FUZZY_DISTANCE), {"matches": len(rows)}


def _kernel_pairs(seed: int, words: list):
    """mapInPandas body: row id -> (a, b) with 0-4 fixture typos, a pure
    function of (seed, id) so partitioning never changes the input."""

    def gen(batches):
        from liblevenshtein_rust_spark.sources.fixtures import apply_typos

        for pdf in batches:
            ids, a, b = [], [], []
            for i in pdf["id"]:
                rng = random.Random((seed << 32) ^ int(i))
                w = rng.choice(words)
                ids.append(int(i))
                a.append(w)
                b.append(apply_typos(w, rng.randint(0, 4), rng))
            yield pd.DataFrame({"id": ids, "a": a, "b": b})

    return gen


class ScoreKernel(Workload):
    """Pre-staged near-miss pairs -> ``edit_distance_udf(2, "transposition")``
    -> count of accepted pairs; no blocking, Runstate or clustering."""

    name = "score_kernel"
    op_span = "kernel.edit_distance_udf"
    variant = "transposition"

    def stage(self, spark, seed: int, cache: StagedCache, work: str) -> None:
        from pyspark.sql import functions as F

        from liblevenshtein_rust_spark.functions.udfs import edit_distance_udf
        from liblevenshtein_rust_spark.sources import fixtures

        words = fixtures.random_dictionary(20_000, seed, min_len=4, max_len=12)
        key = f"kernel_pairs-s{seed}-n{KERNEL_PAIRS}-p{KERNEL_PARTITIONS}"
        path = cache.parquet(
            spark, key, KERNEL_PAIRS,
            lambda: spark.range(0, KERNEL_PAIRS, 1, KERNEL_PARTITIONS).mapInPandas(
                _kernel_pairs(seed, words), "id long, a string, b string"
            ),
        )
        self.cache, self.digest_key, self.seed = cache, key, seed
        self.input_bytes = input_bytes(path)
        self.pairs = spark.read.parquet(path)
        self.dist = edit_distance_udf(KERNEL_DISTANCE, self.variant)
        self.accepted = (
            self.pairs.select(self.dist(F.col("a"), F.col("b")).alias("d"))
            .where(F.col("d") >= 0)
        )
        self.items = KERNEL_PAIRS
        self.ref = None

    def run_once(self, spark, i: int):
        return self.accepted.count()

    def check(self, spark, n: int) -> tuple[list, dict]:
        problems = check_count(n, self.ref)
        if self.ref is None:
            self.ref = n
            problems += self.cache.digest(self.digest_key, {"accepted": n})
        return problems, {"accepted": n}

    def verify(self, spark) -> list[str]:
        """A seeded sample of the staged pairs through the same kernel must
        equal the scalar oracle row by row."""
        from pyspark.sql import functions as F

        step = KERNEL_PAIRS // KERNEL_SAMPLE
        rows = (
            self.pairs.where(F.col("id") % step == self.seed % step)
            .select("a", "b", self.dist(F.col("a"), F.col("b")).alias("d"))
            .collect()
        )
        if len(rows) != KERNEL_SAMPLE:
            return [f"sample has {len(rows)} rows, expected {KERNEL_SAMPLE}"]
        return check_kernel_sample(
            [(r["a"], r["b"], r["d"]) for r in rows], self.variant, KERNEL_DISTANCE
        )


WORKLOADS = {w.name: w for w in (ERDedup, FuzzyLookup, ScoreKernel)}
