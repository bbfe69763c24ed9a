"""Benchmark harness on one fixed measurement protocol.

Prints a CUMULATIVE compact JSON line after every phase (the round harness
keeps the last ~2000 stdout chars and parses the LAST line), so a kill at any
point still leaves a parseable record of everything that finished; the full
record goes to the detail file.  The final line on a full run:

    {"sf": ..., "queries": {...}, "er": {...}, "english_dict": {...},
     "scaling": {...}, "metric": "headline_total", "value": N, "unit": "sec"}

Phases, always this list in this order, each a subprocess with one constant
hard time box (cut only to what is left of the run budget).  Workers print a
cumulative line per reading, so a phase killed by its box keeps its readings.

1. ``--gen-input`` (box 150 s): stage the shared 16M-pair score-job input
   parquet, cached across runs behind its ``_SUCCESS`` marker.
2. ``--scale-worker N`` for N in CPUS//16, CPUS//4, CPUS (floor 1, deduped;
   box 300 s each, 2400 s in campaign mode): pin CPU affinity to N cores,
   warm up, then two full score passes, cold then steady.  Skipped when
   phase 1 failed.
3. ``--main-worker`` (box 420 s): the ER pipeline at 8k docs, the English
   dictionary fuzzy query, one pass over every ``__spark_entry__.queries()``
   entry.  headline_total = query walls + ER wall.

Readings are stamped with the host probes (``perfbench.host.host_probe``,
page-fault bandwidth) taken just before and after each.  A reading whose
probe reads < 300 MB/s is kept in the detail file with ``rejected:
"throttled"`` and never enters an efficiency.  Each size reports the reading
fixed in advance, its steady (second full) pass; the cold pass is recorded,
never aggregated, and nothing is min- or max-merged.  An N -> 4N pair's
efficiency is (T_N / T_4N) / 4, null when a side is rejected; the headline
pair is the lowest one.

Env knobs, the only five:

- ``SPARK_GRAFT_SF_DIR``: query input directory (an ``sf0.1`` dir by default).
- ``SPARK_GRAFT_CPUS``: cores of the largest size (default 32).
- ``SPARK_GRAFT_BENCH_BUDGET_S``: hard run deadline in seconds (default 620).
- ``SPARK_GRAFT_BENCH_DETAIL_NAME``: detail file name (default
  BENCH_DETAIL.json, or BENCH_DETAIL_smoke.json off the default SF dir,
  budget or campaign gate).
- ``SPARK_GRAFT_BENCH_SCALE_ER=1``: campaign mode.  Each scale worker also
  runs the ER pipeline at 1.2M docs, cold then steady; 2-core passes take
  ~600 s each, so give it a 7200 s budget and its own detail name.

``--gen-er-docs N`` and ``--er-mini-worker CORES N`` are not driver-run
phases: they are the entries ``scripts/er_floor_curve.py`` uses.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from perfbench.host import host_probe  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# 620 s: the round-2 driver run completed a ~650 s headline phase before
# its kill landed mid-campaign, so the driver timeout is provably > 650 s;
# 620 exits (rc=0) safely under it.
BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "620"))
SCALE_ER = os.environ.get("SPARK_GRAFT_BENCH_SCALE_ER", "0") == "1"
# a non-default run must not clobber the committed full-run BENCH_DETAIL.json
DETAIL_NAME = os.environ.get("SPARK_GRAFT_BENCH_DETAIL_NAME") or (
    "BENCH_DETAIL.json" if BUDGET_S == 620 and not SCALE_ER and "sf0.1" in SF_DIR
    else "BENCH_DETAIL_smoke.json"
)
N_DOCS = 8000
# 16M pairs: big enough that the 2-core wall (~50 s) dwarfs per-pass fixed
# cost (~2 s scheduling) so the 2->8 efficiency reading is not
# overhead-dominated (measured: 0.836-0.844 at 16M vs 0.803 at 12M), small
# enough that the three sizes fit the driver budget with both passes
# (measured per-worker walls at 16M: 158/81/48 s for 2/8/32 cores).
SCALE_PAIRS = 16_000_000
# 1.2M docs: at 480k the 2->8 pair measured 0.62-0.68 — the pipeline's
# ~45 s of size-invariant cost (stage barriers, checkpoint write+read, CC
# rounds) is a third of the 8-core wall.  At 1.2M the parallel work is 2.5x
# while the fixed term barely moves, putting both sizes of the headline
# 2->8 pair in the compute-dominated regime a real cluster runs in (the
# plan is identical: scale_partitions still floors at 128).
SCALE_DOCS = 1_200_000
# pair-count-suffixed so a small test invocation can never clobber the
# shared input of a concurrently-running full-size measurement (observed:
# a 400k-pair smoke run silently replaced the 24M-pair input mid-campaign)
SCALE_INPUT = f"/tmp/spark_graft_scale_pairs_{SCALE_PAIRS}.parquet"

# Hard time box per phase (s).  Sized from measured walls: a cold 16M-pair
# gen ~40 s; scale workers 158/81/48 s at 2/8/32 cores with both passes on
# a 32-core host, ~245 s for the 1-core worker of a 4-vCPU VM (107 s per
# pass); the main worker ~230 s.
GEN_BOX_S = 150.0
SCALE_BOX_S = 2400.0 if SCALE_ER else 300.0
MAIN_BOX_S = 420.0

# A shared host can throttle fresh-page faults to ~10 MB/s (normal: >2000)
# for minutes at a time, and those swings are larger than any code effect.
THROTTLED_MB_S = 300.0
AGGREGATION = (
    "steady (second full) pass per size, fixed in advance; readings with a "
    f"bracketing probe < {THROTTLED_MB_S:.0f} MB/s rejected; cold pass never used"
)


def stamp(rec: dict, key: str, before: float) -> float:
    """Stamp reading ``rec[key]`` with the probes just before it (``before``)
    and just after it (taken now).  A throttled reading stays in ``rec``,
    marked ``rec["rejected"][key] = "throttled"``.  Returns the after-probe:
    the before-probe of a reading taken right after this one."""
    after = host_probe()
    rec.setdefault("probes_mb_s", {})[key] = [before, after]
    if min(before, after) < THROTTLED_MB_S:
        rec.setdefault("rejected", {})[key] = "throttled"
    return after


def accepted(rec: dict, key: str) -> float | None:
    """The reading ``rec[key]``, or None when it is missing or rejected."""
    return None if key in rec.get("rejected", {}) else rec.get(key)


def take_readings(rec: dict, readings: dict) -> None:
    """Take the readings back to back, ``rec[key] = take()``, each stamped,
    printing the cumulative record after each so a time-box kill keeps
    every reading that finished."""
    p = host_probe()
    for key, take in readings.items():
        rec[key] = take()
        p = stamp(rec, key, p)
        print(json.dumps(rec), flush=True)


def _fresh_spark(cores: int, shuffle_partitions: int | None = None):
    from liblevenshtein_rust_spark.session import get_spark

    return get_spark(
        f"bench_local{cores}", cores=cores, shuffle_partitions=shuffle_partitions
    )


def bench_queries(spark, on_progress) -> dict[str, float]:
    """One pass over every query.  ``on_progress(walls)`` runs every 8
    queries so a time-box kill mid-pass still salvages most of the walls."""
    import __spark_entry__ as entry

    # Warm the session once: JVM codegen for the (large) deletion-key
    # expressions + Python worker spawn at every core + Arrow init.  One-time
    # driver-side compile cost, irrelevant at cluster scale; without this the
    # first query absorbs ~20-60 s of compilation and the numbers are noise.
    from pyspark.sql import functions as F

    from liblevenshtein_rust_spark.operators import matching
    from liblevenshtein_rust_spark.session import release_pooled

    probes = spark.createDataFrame([("warm",)], "query string")
    terms = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("term"))
        .where(F.length("term").between(3, 20))
        .limit(5000)
        .repartition(CPUS)
    )
    matching.fuzzy_query(probes, terms, 2).count()

    out: dict[str, float] = {}
    for i, (name, fn) in enumerate(entry.queries().items()):
        t0 = time.time()
        fn(spark, SF_DIR).count()
        out[name] = round(time.time() - t0, 3)
        release_pooled()  # pooled operator caches die with the timing window
        if i % 8 == 7:
            on_progress(out)
    return out


ENGLISH_WORDS = "/root/reference/data/english_words.txt"


def bench_english_dict(spark) -> dict:
    """Fuzzy query against the reference's real 123,985-word dictionary
    (the dataset behind its README.md:415-419 d=1/d=2 numbers): 100 planted
    typos, blocked path end-to-end, d=1 and d=2 walls + match counts."""
    import random

    from liblevenshtein_rust_spark.operators import matching
    from liblevenshtein_rust_spark.sources.corpus import load_word_list

    if not os.path.exists(ENGLISH_WORDS):
        return {}
    rng = random.Random(99)
    words = sorted(
        w.strip().lower()
        for w in open(ENGLISH_WORDS)
        if 6 <= len(w.strip()) <= 12 and w.strip().isalpha()
    )
    alpha = "abcdefghijklmnopqrstuvwxyz"

    def edit(w):
        i = rng.randrange(len(w))
        op = rng.randrange(3)
        c = rng.choice(alpha)
        return (
            w[:i] + w[i + 1 :] if op == 0
            else w[:i] + c + w[i + 1 :] if op == 1
            else w[:i] + c + w[i:]
        )

    probes = [edit(w) if j % 2 == 0 else edit(edit(w))
              for j, w in enumerate(rng.sample(words, 100))]
    d = load_word_list(spark, ENGLISH_WORDS)
    p = spark.createDataFrame([(t,) for t in probes], "query string")
    out = {"n_terms": d.count(), "n_probes": len(probes)}
    for n in (1, 2):
        t0 = time.time()
        out[f"d{n}_matches"] = matching.fuzzy_query(p, d, n, "standard").count()
        out[f"d{n}_wall_s"] = round(time.time() - t0, 3)
    return out


def bench_er(
    spark,
    n_docs: int,
    prefix: str,
    partitions: int | None = None,
    docs_path: str | None = None,
) -> dict:
    """One ER pipeline pass over the synthetic interleaved corpus in a fresh
    run dir, removed afterwards (checkpoint dirs are ~400 MB each).

    ``partitions`` pins the generator's task count AND the pipeline's static
    shuffle-partition count (see :func:`scale_partitions`) so every cluster
    size runs the identical physical plan; AQE would otherwise re-size every
    exchange to the local core count.  ``docs_path`` reads a pre-staged
    docs parquet, so generation stays out of the timed window and every
    size reads byte-identical input (the north rule's same-input rule)."""
    from liblevenshtein_rust_spark.pipeline import er
    from liblevenshtein_rust_spark.sources import fixtures

    cfg = er.ERConfig(
        max_df=max(10, n_docs // 150), static_shuffle_partitions=partitions
    )
    if docs_path:
        docs = spark.read.parquet(docs_path)
    else:
        docs = fixtures.generate_docs(spark, n_docs, seed=42, partitions=partitions)
    run_dir = tempfile.mkdtemp(prefix=prefix)
    try:
        t0 = time.time()
        er.run_pipeline(spark, docs, run_dir, cfg)
        wall = time.time() - t0
        rs = er.Runstate(spark, run_dir, er.asdict(cfg)).manifests()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "n_docs": n_docs,
        "wall_s": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 1),
        "kernel_pairs": rs["token_matches"]["metrics"].get("kernel_pairs", 0),
        "stage_wall_s": {s: m["wall_s"] for s, m in rs.items()},
    }


def main_worker() -> None:
    """ER headline, english dict, then one query pass, in one subprocess.

    ER + english run FIRST: they are cheap (~25 s) and atomic, and without
    ``er`` the headline value is null.  The query pass emits partial
    records, so it is the phase that absorbs a time-box kill."""
    spark = _fresh_spark(CPUS)
    out: dict = {}

    def partial(q: dict) -> None:
        print(json.dumps(dict(out, queries=q, _partial=True)), flush=True)

    take_readings(out, {
        "er": lambda: bench_er(spark, N_DOCS, "bench_er_"),
        "english_dict": lambda: bench_english_dict(spark),
        "queries": lambda: bench_queries(spark, on_progress=partial),
    })


def _stage(path: str, build) -> None:
    """Write ``build()``'s DataFrame to ``path`` unless already there.  Only
    a _SUCCESS marker makes it "there": a kill mid job-commit leaves partial
    files, and fewer rows than requested would overstate every rate."""
    cached = os.path.exists(os.path.join(path, "_SUCCESS"))
    if not cached:
        build().write.mode("overwrite").parquet(path)
    print(json.dumps({"ok": True, "cached": cached}))


def scale_pairs_df():
    """The shared scaling-job input (every cluster size reads the SAME
    parquet — the north rule's same-input requirement)."""
    from pyspark.sql import functions as F

    base = _fresh_spark(CPUS).range(0, SCALE_PAIRS, 1, 128)

    # deterministic pseudo-words from the id: base-26 digits of two mixes
    def word(col, salt):
        h = F.conv(F.hex(F.xxhash64(col, F.lit(salt))), 16, 26)
        return F.lower(F.translate(h, "0123456789abcdefghijklmnop",
                                   "abcdefghijklmnopqrstuvwxyz"))

    return base.select(
        word(F.col("id"), 1).alias("a"),
        # second string: same word for half the rows (accept path), an
        # unrelated word otherwise (reject path)
        F.when(F.col("id") % 2 == 0, word(F.col("id"), 1))
        .otherwise(word(F.col("id"), 2))
        .alias("b"),
    )


def _score_job(spark, cores: int, limit: int | None = None) -> float:
    """Kernel pair-scoring wall (s): shared parquet -> repartition to
    cores*4 (the shuffle is part of the measured job) -> vectorized
    transposition distance -> count."""
    from pyspark.sql import functions as F

    from liblevenshtein_rust_spark.functions.udfs import edit_distance_udf

    df = spark.read.parquet(SCALE_INPUT)
    if limit:
        df = df.limit(limit)
    pairs = df.repartition(cores * 4)
    dist = edit_distance_udf(2, "transposition")
    t0 = time.time()
    pairs.select(dist(F.col("a"), F.col("b")).alias("d")).where(F.col("d") >= 0).count()
    return round(time.time() - t0, 3)


def scale_partitions(n_docs: int) -> int:
    """Shuffle-partition count for the ER scaling runs, sized to the DATA
    and so identical at every cluster size: a real job targets ~128 MB per
    shuffle partition whatever its executor count, and more executors mean
    fewer task WAVES over the same partitions.  The floor of 128 (4x the
    largest size) keeps every wave full at 32 cores."""
    return max(128, min(1024, n_docs // 15_000))


def scale_worker(cores: int) -> None:
    """Subprocess entry: emulate a ``cores``-core cluster by pinning
    affinity BEFORE the JVM starts (inherited by executor threads and Python
    workers; unpinned, a local[8] run on a 32-core box quietly uses up to 16
    cores and the comparison measures nothing), then take its readings.

    The first full pass faults every executor/worker page once; first-touch
    of fresh pages is 10-100x slower than steady state on a shared host and
    SERIALIZES, so it anti-scales with cores.  The steady pass stands in for
    a long-running cluster executor and is the one reading reported."""
    os.sched_setaffinity(0, set(range(cores)))
    n_part = scale_partitions(SCALE_DOCS) if SCALE_ER else None
    spark = _fresh_spark(cores, shuffle_partitions=n_part)
    out: dict = {"cores": cores}

    def er_wall() -> float:
        er = bench_er(spark, SCALE_DOCS, f"er_scale{cores}_", n_part)
        out.update(er_stage_wall_s=er["stage_wall_s"],
                   er_kernel_pairs=er["kernel_pairs"])
        return er["wall_s"]

    if SCALE_ER:
        # ER runs FIRST: the score job's long-lived Python workers degrade a
        # shared session's later stages (observed 6-8x slowdowns).  Small
        # warm pass first (JVM heap growth, codegen, Arrow init, worker
        # spawn all fault fresh pages — a long-lived cluster executor is
        # always warm; measure that regime).
        bench_er(spark, max(SCALE_DOCS // 25, 2000), f"er_warm{cores}_", n_part)
        take_readings(out, {"er_wall_cold_s": er_wall, "er_wall_s": er_wall})
    _score_job(spark, cores, limit=SCALE_PAIRS // 10)  # warm JIT/Arrow
    score = lambda: _score_job(spark, cores)  # noqa: E731
    take_readings(out, {"score_wall_cold_s": score, "score_wall_s": score})


def er_docs_path(n_docs: int) -> str:
    """Pre-staged ER input corpus, doc-count-suffixed like the score input."""
    return f"/tmp/spark_graft_er_docs_{n_docs}.parquet"


def er_docs_df(n_docs: int):
    """The ER docs corpus at FULL width, staged by ``--gen-er-docs`` outside
    any timed window so generation is never billed to a measured pass."""
    from liblevenshtein_rust_spark.sources import fixtures

    return fixtures.generate_docs(
        _fresh_spark(CPUS), n_docs, seed=42, partitions=scale_partitions(n_docs)
    )


def er_mini_worker(cores: int, n_docs: int) -> None:
    """Subprocess entry for one reduced-corpus ER reading: pin affinity,
    one small warm pass (JVM/codegen/Arrow/worker spawn), one stamped pass
    at ``n_docs`` over the docs staged by ``--gen-er-docs`` (same input
    files at every size).  Same partition rule as the campaign."""
    os.sched_setaffinity(0, set(range(cores)))
    n_part = scale_partitions(n_docs)
    spark = _fresh_spark(cores, shuffle_partitions=n_part)
    # the warm pass only faults JVM/Arrow/worker pages and triggers codegen;
    # 1,200 docs do that
    bench_er(spark, max(n_docs // 100, 1200), f"er_mini_warm{cores}_", n_part)
    out: dict = {"cores": cores, "n_docs": n_docs}

    def wall() -> float:
        er = bench_er(spark, n_docs, f"er_mini{cores}_", n_part,
                      docs_path=er_docs_path(n_docs))
        out["stage_wall_s"] = er["stage_wall_s"]
        return er["wall_s"]

    take_readings(out, {"wall_s": wall})


def _run_worker(*args: str, timeout: float) -> dict:
    """Run one phase in a fresh subprocess and return its last JSON line
    (the parent NEVER starts a JVM: a lingering driver JVM was measured to
    slow a concurrent subprocess's stages 3-6x).  On a time-box kill, the
    last complete line of the partial stdout, with ``_truncated`` set."""
    try:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), *args],
            capture_output=True, text=True, timeout=timeout, check=True,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])
    except subprocess.TimeoutExpired as exc:
        # bytes, even in text mode, on the TimeoutExpired path
        raw = exc.stdout or b""
        stdout = raw.decode(errors="replace") if isinstance(raw, bytes) else raw
        for ln in reversed(stdout.strip().splitlines()):
            try:
                salvaged = json.loads(ln)
            except ValueError:
                continue
            if isinstance(salvaged, dict):
                salvaged["_truncated"] = True
                return salvaged
        raise


def _efficiency(sizes: list[int], walls: dict, n: int, rate: str) -> dict:
    """Walls, rates and N -> 4N pair efficiencies over the planned
    ``sizes``; a size without an accepted wall nulls its pairs."""
    ok = [c for c in sizes if walls.get(c) is not None]
    pairs = {
        f"{a}->{b}": round((walls[a] / walls[b]) / (b / a), 3)
        if a in ok and b in ok else None
        for a, b in zip(sizes, sizes[1:])
    }
    # headline = the compute-rich low pair (the high pair runs into the
    # single-box fixed floor + shared-DRAM ceiling, measured 0.79 for 32-way
    # pure NumPy on a 32-core box — it understates a real cluster)
    head = f"{sizes[0]}->{sizes[1]}" if len(sizes) > 1 else None
    return {
        "walls_s": {str(c): walls[c] for c in ok},
        rate: {str(c): round(n / walls[c], 1) for c in ok},
        "pairs": pairs,
        "efficiency": pairs.get(head),
        "headline_pair": head,
    }


def build_scaling(samples: list[dict], errors: list[dict]) -> dict:
    """Aggregate the scale workers' samples (one per size) into the scaling
    block by the rule fixed in advance: each size reports its steady-pass
    wall (``score_wall_s``; ``er_wall_s`` in campaign mode) unless that
    reading was rejected.  No other field is read, so cold walls never
    count and nothing is chosen across readings.  Sizes whose worker failed
    (``errors``) stay in the plan, so the headline pair never shifts."""
    sizes = sorted({s["cores"] for s in samples} | {e["cores"] for e in errors})
    out: dict = {
        "cores": sizes,
        "affinity_pinned": True,
        "aggregation": AGGREGATION,
        "samples": samples,
        "errors": errors,
        "score_job": {"pairs_scored": SCALE_PAIRS, **_efficiency(
            sizes, {s["cores"]: accepted(s, "score_wall_s") for s in samples},
            SCALE_PAIRS, "pairs_per_sec",
        )},
        "er_pipeline": "campaign artifact: BASELINE.md §scaling",
    }
    if any("er_wall_s" in s for s in samples):
        out["er_pipeline"] = {"n_docs": SCALE_DOCS, **_efficiency(
            sizes, {s["cores"]: accepted(s, "er_wall_s") for s in samples},
            SCALE_DOCS, "docs_per_sec",
        )}
    return out


def main() -> None:
    deadline = time.time() + BUDGET_S
    result: dict = {"sf": SF_DIR.rstrip("/").split("sf")[-1], "queries": {}}
    notes: list[str] = []

    def emit() -> None:
        """Cumulative compact line + detail file after every phase — the
        harness parses the LAST stdout line, so each emission supersedes
        the previous and a kill at any point leaves a complete record."""
        if notes:
            result["notes"] = notes[-3:]
        result["metric"] = "headline_total"
        ok = result["queries"] and result.get("er") and "queries_partial" not in result
        result["value"] = (
            round(sum(result["queries"].values()) + result["er"]["wall_s"], 3)
            if ok else None
        )
        result["unit"] = "sec"
        try:
            (Path(__file__).resolve().parent / DETAIL_NAME).write_text(
                json.dumps(result, indent=1) + "\n"
            )
        except OSError:
            pass
        print(json.dumps(compact_result(result), separators=(",", ":")), flush=True)

    def phase(box_s: float, *args: str) -> dict:
        """One phase inside its time box, cut to the run's deadline."""
        box = min(box_s, deadline - time.time() - 10)
        if box < 30:
            raise TimeoutError(f"{int(box)} s of budget left")
        return _run_worker(*args, timeout=box)

    try:
        phase(GEN_BOX_S, "--gen-input")
    except Exception as exc:  # noqa: BLE001
        notes.append(f"gen-input failed: {repr(exc)[:120]}")
    else:
        samples: list[dict] = []
        errors: list[dict] = []
        # headline pair (tiny, low) first; dedup keeps that order (at
        # CPUS=4, tiny == low == 1)
        for cores in dict.fromkeys([max(CPUS // 16, 1), max(CPUS // 4, 1), CPUS]):
            try:
                s = phase(SCALE_BOX_S, "--scale-worker", str(cores))
            except Exception as exc:  # noqa: BLE001
                stderr = str(getattr(exc, "stderr", "") or "")
                errors.append({"cores": cores, "error": repr(exc)[:200],
                               "stderr_tail": stderr[-1200:]})
            else:
                samples.append(s)
                if accepted(s, "score_wall_s") is None:
                    why = s.get("rejected", {}).get("score_wall_s", "missing")
                    notes.append(f"scale size {cores}: steady pass {why}")
            result["scaling"] = build_scaling(samples, errors)
            emit()

    try:
        head = phase(MAIN_BOX_S, "--main-worker")
    except Exception as exc:  # noqa: BLE001
        notes.append(f"main-worker failed: {repr(exc)[:120]}")
    else:
        if head.pop("_truncated", False):
            notes.append("main-worker truncated by its time box")
        if head.pop("_partial", False):
            # mid-query-pass kill: the walls on record are a partial set —
            # keep them, but a headline_total summed over a partial set
            # would READ AS faster-than-baseline
            result["queries_partial"] = True
        result.update(head)
    emit()


def compact_result(result: dict) -> dict:
    """Shrink the full bench result to a <=~1900-char summary: drop
    per-sample host probes and per-stage walls (kept in the detail file),
    round walls, and order keys so the scaling summary and headline land at
    the END of the serialized line (the part a bounded stdout tail
    preserves — the round harness stores only the last ~2000 chars and
    JSON-parses the final line)."""
    def pick(d: dict, keys: str) -> dict:
        return {k: d[k] for k in keys.split() if k in d}

    out: dict = {"sf": result.get("sf")}
    out["queries"] = {k: round(v, 1) for k, v in result.get("queries", {}).items()}
    out["er"] = pick(result.get("er", {}), "n_docs wall_s docs_per_sec kernel_pairs")
    if result.get("english_dict"):
        out["english_dict"] = result["english_dict"]
    if result.get("notes"):
        out["notes"] = result["notes"]
    if isinstance(result.get("scaling"), dict):
        s = result["scaling"]
        # pairs_per_sec per size = pairs_scored / walls_s (detail file);
        # compact keeps the walls + both pairwise efficiencies
        out["scaling"] = {"detail": "BENCH_DETAIL.json", "score_job": pick(
            s.get("score_job", {}),
            "pairs_scored walls_s pairs efficiency headline_pair",
        )}
        ep = s.get("er_pipeline")
        if isinstance(ep, dict):
            ep = pick(ep, "n_docs walls_s pairs efficiency headline_pair")
        if ep:
            out["scaling"]["er_pipeline"] = ep
    for k in ("metric", "value", "unit"):
        out[k] = result.get(k)
    # hard guard on the ~1900-char stdout contract: fold the FASTEST queries
    # into an "_others" aggregate one at a time until the line fits — the
    # slow walls a reader actually wants stay named; the full set stays in
    # the detail file
    q = out["queries"]
    by_wall = sorted(q, key=lambda k: (q[k], k))
    n = 0
    while len(json.dumps(out, separators=(",", ":"))) > 1900 and n < len(by_wall):
        n += 1
        gone = set(by_wall[:n])
        out["queries"] = {k: v for k, v in q.items() if k not in gone}
        out["queries"]["_others"] = {
            "n": n,
            "total_s": round(sum(result["queries"][k] for k in gone), 1),
            "detail": "BENCH_DETAIL.json",
        }
    return out


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--scale-worker":
        scale_worker(int(sys.argv[2]))
    elif len(sys.argv) >= 2 and sys.argv[1] == "--main-worker":
        main_worker()
    elif len(sys.argv) >= 4 and sys.argv[1] == "--er-mini-worker":
        er_mini_worker(int(sys.argv[2]), int(sys.argv[3]))
    elif len(sys.argv) >= 2 and sys.argv[1] == "--gen-input":
        _stage(SCALE_INPUT, scale_pairs_df)
    elif len(sys.argv) >= 3 and sys.argv[1] == "--gen-er-docs":
        n = int(sys.argv[2])
        _stage(er_docs_path(n), lambda: er_docs_df(n))
    else:
        main()
