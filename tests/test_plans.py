"""Physical-plan audits — assert the plans are the ones we designed for
100 TB, not whatever happened to pass.

Checks (via executedPlan/explain text):
- parquet scans carry PushedFilters / pruned ReadSchema (Catalyst pushdown
  reaches the source);
- small probe sides broadcast (no shuffle of the dictionary for
  interactive queries);
- the blocking stage contains no Python UDF (JVM-only until the kernel)
  and its key derivation no interpreted higher-order function;
- whole-stage codegen covers the key-generation projections.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.functions.blocking_keys import blocking_key_rows
from liblevenshtein_rust_spark.operators import blocking, matching
from liblevenshtein_rust_spark.session import get_spark
from liblevenshtein_rust_spark.sources import tables

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_plans", cores=4, shuffle_partitions=4)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    docs = tables.documents(spark, SF)
    q = docs.where(F.col("lang") == "en").select("doc_id")
    plan = _plan(q)
    assert "PushedFilters: [" in plan and "lang" in plan.split("PushedFilters")[1][:120]


def test_column_pruning(spark):
    docs = tables.documents(spark, SF)
    q = docs.select("doc_id")
    plan = _plan(q)
    rs = plan.split("ReadSchema:")[1][:160]
    assert "doc_id" in rs and "text" not in rs  # 2-col projection prunes text


def test_probe_broadcast_in_fuzzy_join(spark):
    probes = spark.createDataFrame([("spark",)], "query string")
    terms = tables.documents(spark, SF).select(
        F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).distinct()
    q = matching.candidate_pairs(probes, terms, 1)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan  # dictionary side never shuffles


def test_deletion_blocking_keys_dictionary_at_scan(spark):
    """The d<=2 blocking path keys the dictionary in the stage that scans
    it: no Exchange on the dictionary side of the join (a pre-explode
    ``distinct()`` shuffled the terms, AQE coalesced that small shuffle to
    one partition, and the key explode and join then ran in one task), and
    no interpreted higher-order function in its key derivation."""
    probes = spark.createDataFrame([("spark",), ("spark",)], "query string")
    terms = tables.documents(spark, SF).select(
        F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    plan = _plan(matching.candidate_pairs(probes, terms, 2))
    below_join = plan[plan.index("BroadcastHashJoin"):].splitlines()[1:]
    # the broadcast (probe) child's lines carry the ":" tree rail
    dict_side = "\n".join(l for l in below_join if not l.lstrip().startswith(":"))
    assert "Generate explode(sequence" in dict_side and "FileScan" in dict_side
    assert "Exchange" not in dict_side
    assert "lambdafunction" not in dict_side

    # every other key family comes from the same compiled generator: no
    # interpreted higher-order function anywhere in its key derivation
    others = {
        "prefix": matching.prefix_candidate_pairs(probes, terms, 2),
        "substring": matching.substring_candidate_pairs(probes, terms, 2),
        **{
            f"{v} d={d}": matching.candidate_pairs(probes, terms, d, variant=v)
            for v, d in (
                ("standard", 3),
                ("transposition", 3),
                ("merge_and_split", 1),
                ("merge_and_split", 2),
            )
        },
    }
    for name, pairs in others.items():
        plan = _plan(pairs)
        assert "Generate explode(sequence" in plan, name
        assert "lambdafunction" not in plan, name


def test_blocking_stage_is_jvm_only(spark):
    docs = tables.documents(spark, SF).withColumnRenamed("text", "t").selectExpr(
        "cast(doc_id as string) as doc_id",
        "array(struct('text' as kind, t as text, '' as media_ref, 0 as offset)) as spans",
    )
    toks = blocking.doc_tokens(docs)
    vocab = toks.select("token").distinct()
    keyed = blocking_key_rows(vocab, "token", 2, "transposition")
    plan = _plan(keyed)
    # the entire blocking stage is JVM expressions: explode/generate +
    # hash aggregate, zero Python evaluation nodes
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "Generate explode" in plan and "HashAggregate" in plan


def test_exact_contains_is_semi_join(spark):
    probes = spark.createDataFrame([("spark",)], "query string")
    terms = tables.documents(spark, SF).select(
        F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    q = probes.join(terms, F.col("query") == F.col("term"), "left_semi")
    plan = _plan(q)
    assert "LeftSemi" in plan


def test_length_prefilter_below_kernel(spark):
    """The |len(a)-len(b)|<=n guard must sit in the join/filter, evaluated
    before any Arrow exchange (no pairs cross into Python just to be
    length-rejected).  On the JVM Standard path, whose accept filter is
    pushed into the join condition, the guard precedes ``levenshtein``."""
    probes = spark.createDataFrame([("spark",)], "query string")
    terms = spark.createDataFrame([("sprak",), ("a",)], "term string")
    q = matching.fuzzy_query(probes, terms, 1, "transposition")
    opt = _optimized(q)
    kernel_pos = opt.find("_dist")
    len_pos = opt.find("abs((length(")
    assert len_pos != -1 and kernel_pos != -1
    # optimized plan is printed top-down: the length filter must be BELOW
    # (after in text) the kernel projection — i.e. evaluated earlier
    assert len_pos > kernel_pos

    opt = _optimized(matching.fuzzy_query(probes, terms, 1, "standard"))
    join = next(line for line in opt.splitlines() if "Join Inner" in line)
    assert -1 < join.find("abs((length(") < join.find("levenshtein(")


def test_standard_scoring_stays_in_jvm(spark):
    """Plain Standard scoring is the codegen'd ``levenshtein`` expression:
    no Python worker.  Every other variant, mode or substitution policy
    keeps the Arrow kernel, evaluated once per distinct pair (one
    ArrowEvalPython node: the nondeterministic fence keeps the accept
    filter from being pushed below the pair-distinct)."""
    probes = spark.createDataFrame([("spark",)], "query string")
    terms = spark.createDataFrame([("sprak",), ("spork",), ("a",)], "term string")
    plan = _plan(matching.fuzzy_query(probes, terms, 2, "standard"))
    assert "levenshtein(" in plan
    assert "ArrowEvalPython" not in plan and "PythonUDF" not in plan
    for kwargs in (
        {"variant": "transposition"},
        {"prefix_mode": True},
        {"allowed_subs": frozenset({("o", "a")})},
    ):
        plan = _plan(matching.fuzzy_query(probes, terms, 2, **kwargs))
        assert plan.count("ArrowEvalPython") == 1, kwargs
        assert "levenshtein(" not in plan, kwargs


def test_vocab_self_join_consumes_one_cached_exchange(spark):
    """The ER vocab self-join's two sides are alias-projections of the same
    keyed table; as distinct plans they defeat ReuseExchange, so each side
    used to pay its own full exchange (measured 2 x 2.2 GB at 1.2M docs)
    plus the join's 4.4 GB read.  The fix repartitions by key ONCE before
    the persist — both join sides must be InMemoryTableScans with NO
    Exchange between cache and join, and the join must be the sort-free
    ShuffledHashJoin."""
    from liblevenshtein_rust_spark.pipeline import er
    from liblevenshtein_rust_spark.sources import fixtures

    docs = fixtures.generate_docs(spark, 300, seed=7, partitions=4)
    toks = blocking.rare_tokens(
        blocking.doc_tokens(docs, min_len=3), max_df=50
    )
    tm = er.vocab_token_matches(toks, er.ERConfig(max_df=50))
    tm.count()
    plan = _plan(tm)
    join_pos = plan.find("ShuffledHashJoin")
    assert join_pos != -1, "cold self-join should be a ShuffledHashJoin"
    # the join subtree: from the join line to the first InMemoryRelation
    # (the cached build plan reprint); no exchange may appear in between
    sub = plan[join_pos : plan.find("InMemoryRelation", join_pos)]
    assert "Exchange" not in sub
    assert sub.count("InMemoryTableScan") >= 1
    from liblevenshtein_rust_spark.session import release_pooled

    release_pooled()


def _join_sides(text: str, join: str) -> list[str]:
    """The plan text of each side of the first ``join`` node, from the
    side's root down to its first cached-plan reprint (InMemoryRelation)."""
    lines = text.splitlines()
    j = next(i for i, ln in enumerate(lines) if join in ln)
    col = lines[j].rfind("- ", 0, lines[j].index(join)) + 2  # node name
    first = next(i for i in range(j + 1, len(lines)) if lines[i][col:col + 3] == ":- ")
    last = next(i for i in range(first + 1, len(lines)) if lines[i][col:col + 3] == "+- ")
    sides = []
    for start in (first, last):
        side = "\n".join(lines[start:])
        sides.append(side[: side.find("InMemoryRelation")])
    return sides


def test_band_free_vocab_join_has_no_skew_machinery(spark, monkeypatch):
    """With no hot or extreme key, the blocked vocabulary join — ER's
    self-join and linkage's A × B cross join — is the band-free plan: no
    LeftAnti join and no key Exchange beyond the persisted
    ``repartition("key")`` (reprinted under each InMemoryRelation).  Both
    sides of the cross join read their key rows from the caches
    ``blocked_pairs`` persists (InMemoryTableScan).  Forcing
    every key extreme brings the anti-join in, so the audit has teeth."""
    from liblevenshtein_rust_spark.kernel.distances import TRANSPOSITION
    from liblevenshtein_rust_spark.pipeline import er
    from liblevenshtein_rust_spark.session import release_pooled

    words = ["batch", "bacth", "battch", "join", "jion", "joins", "merge",
             "mrege", "spark", "spork", "sparc", "window"]
    toks = spark.createDataFrame(list(enumerate(words)), "doc_id long, token string")
    va = spark.createDataFrame([(w,) for w in words[::2]], "token string")
    vb = spark.createDataFrame([(w,) for w in words[1::2]], "token string")
    joins = {
        "er": lambda band: er.vocab_token_matches(toks, er.ERConfig(max_df=100), band),
        "linkage": lambda band: blocking.vocab_matches(
            va, vb, max_distance=2, variant=TRANSPOSITION, band=band
        ),
    }

    def plan(join):
        band: dict = {}
        tm = join(band)
        tm.count()
        out = _plan(tm)
        release_pooled()
        return out, band

    for name, join in joins.items():
        text, band = plan(join)
        assert band["hot_keys_salted"] == band["extreme_keys_dropped"] == 0, name
        assert "LeftAnti" not in text, name
        key_exchanges = [
            ln for ln in text.splitlines() if "Exchange hashpartitioning(key#" in ln
        ]
        assert key_exchanges, name
        assert all("REPARTITION_BY_COL" in ln for ln in key_exchanges), name
        if name == "linkage":
            sides = _join_sides(text, "Join [key#")
            assert all("InMemoryTableScan" in side for side in sides), sides

    monkeypatch.setattr(blocking, "EXTREME_KEY_PAIRS", 0)
    for name, join in joins.items():
        text, band = plan(join)
        assert band["extreme_keys_dropped"] > 0, name
        assert "LeftAnti" in text, name


def test_rare_tokens_window_matches_pandas_reference(spark):
    """The window-count filter keeps exactly the rows a DF group-by keeps,
    at the cutoff (df == max_df kept, df == max_df + 1 dropped), and its
    Observation counts the dropped groups and rows.  The group is every
    column but ``doc_id``: on ``(doc_id, field, token)`` rows a token
    frequent in one field is dropped there and kept in another."""
    import random

    import pandas as pd
    from pyspark.sql import Observation

    max_df = 6

    def check(pdf):
        group = [c for c in pdf.columns if c != "doc_id"]
        df_ = pdf.groupby(group)["doc_id"].transform("size")
        kept, dropped = pdf[df_ <= max_df], pdf[df_ > max_df]
        obs = Observation()
        schema = ", ".join(f"{c} string" for c in group)
        tok = spark.createDataFrame(pdf, f"doc_id long, {schema}").repartition(3)
        got = blocking.rare_tokens(tok, max_df=max_df, dropped=obs).collect()
        assert sorted(tuple(r) for r in got) == sorted(
            kept.itertuples(index=False, name=None)
        )
        assert obs.get == {
            "rare_tokens_dropped": len(dropped[group].drop_duplicates()),
            "rare_token_rows_dropped": len(dropped),
        }
        return kept, dropped

    rng = random.Random(11)
    vocab = [f"w{i:03d}" for i in range(60)]
    rows = {(d, rng.choice(vocab)) for d in range(80) for _ in range(rng.randint(1, 8))}
    rows |= {(d, "atcutoff") for d in range(max_df)}
    rows |= {(d, "overcutoff") for d in range(10, 10 + max_df + 1)}
    kept, dropped = check(pd.DataFrame(sorted(rows), columns=["doc_id", "token"]))
    assert "atcutoff" in set(kept["token"]) and "overcutoff" in set(dropped["token"])

    rows = {
        (d, rng.choice(("name", "city")), rng.choice(vocab))
        for d in range(80)
        for _ in range(rng.randint(1, 8))
    }
    rows |= {(d, "city", "springfield") for d in range(max_df + 1)}
    rows |= {(d, "name", "springfield") for d in range(2)}
    kept, dropped = check(
        pd.DataFrame(sorted(rows), columns=["doc_id", "field", "token"])
    )
    assert ("name", "springfield") in set(zip(kept["field"], kept["token"]))
    assert ("city", "springfield") in set(zip(dropped["field"], dropped["token"]))


def test_tokens_stage_has_no_broadcast_or_cache(spark, tmp_path, monkeypatch):
    """The ER ``tokens`` stage is one window pass over an unpersisted token
    table (no broadcast-exchange job, no InMemoryRelation), and its
    manifest counts what the ``max_df`` guard dropped."""
    from liblevenshtein_rust_spark.pipeline import er
    from liblevenshtein_rust_spark.sources import fixtures

    built = []
    real = blocking.rare_tokens

    def spy(*a, **kw):
        built.append(real(*a, **kw))
        return built[-1]

    monkeypatch.setattr(blocking, "rare_tokens", spy)
    docs = fixtures.generate_docs(spark, 300, seed=7, partitions=4).select(
        "doc_id", "spans"
    )
    cfg = er.ERConfig(max_df=10)
    run_dir = str(tmp_path / "run")
    er.run_pipeline(spark, docs, run_dir, cfg)
    plan = _plan(built[0])
    assert "Window" in plan
    assert "BroadcastExchange" not in plan
    assert "InMemoryRelation" not in plan

    t = blocking.doc_tokens(docs, min_len=cfg.min_token_len).toPandas()
    dropped = t[t.groupby("token")["doc_id"].transform("size") > cfg.max_df]
    assert len(dropped) > 0
    metrics = er.Runstate(spark, run_dir, er.asdict(cfg)).manifest("tokens")["metrics"]
    assert metrics == {
        "rare_tokens_dropped": dropped["token"].nunique(),
        "rare_token_rows_dropped": len(dropped),
    }


def test_phonetic_linkage_scores_edit_join_once(spark):
    """With the phonetic channel on, the edit-channel token pairs are read
    once: the blocked edit join and its Arrow kernel appear in one
    ArrowEvalPython node, and an edit match keeps its own weight."""
    from liblevenshtein_rust_spark.pipeline import linkage
    from liblevenshtein_rust_spark.session import release_pooled

    a = spark.createDataFrame(
        [(1, "brdgstn kramden fernsby"), (2, "holloway quinton marsh")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(101, "brdgstnaaa kramdan fernsby"), (102, "holloway quintin marsh")],
        "doc_id long, text string",
    )
    cfg = linkage.LinkConfig(max_distance=1, use_phonetic=True)
    scored = linkage.score_pairs(a, b, cfg)
    got = {(r["a_id"], r["b_id"], r["n_matched"], r["score"]) for r in scored.collect()}
    # kramden~kramdan and quinton~quintin are edit matches (1 - 1/7), not
    # phonetic ones (0.5); brdgstn~brdgstnaaa matches only phonetically
    w = round(1 - 1 / 7, 6)
    assert got == {
        (1, 101, 3, round(1.0 + w + 0.5, 6)),
        (2, 102, 3, round(2.0 + w, 6)),
    }
    # after the run the text holds AQE's final and initial plans (and the
    # cached inputs' own): count distinct kernel nodes by output attribute
    nodes = re.findall(r"ArrowEvalPython \[.*?\], \[(pythonUDF\d+#\d+)\]", _plan(scored))
    assert len(set(nodes)) == 1
    release_pooled()


def test_fs_decisions_cache_only_the_blocked_join_inputs(spark):
    """``link_records_decisions`` reads its agreement table once (the
    pattern-count collect), so it registers no cache beyond the ones the
    blocked join itself persists; ``link_records_learned`` reads it twice
    and adds exactly one."""
    from liblevenshtein_rust_spark import session
    from liblevenshtein_rust_spark.pipeline import linkage

    a = spark.createDataFrame(
        [(1, "jonathan smithers", "springfield"), (2, "margaret chalmers", "shelbyville")],
        "doc_id long, name string, city string",
    )
    b = spark.createDataFrame(
        [(11, "jonathon smithers", "springfield"), (12, "margaret chalmers", "ogdenville")],
        "doc_id long, name string, city string",
    )
    fields = ["name", "city"]
    cfg = linkage.LinkConfig(max_distance=1, min_token_len=3)

    def registered(build) -> int:
        session.release_pooled()
        df = build()
        n = len(session._POOLED)
        df.collect()
        session.release_pooled()
        return n

    blocked = registered(lambda: linkage.field_agreements(a, b, fields, cfg))
    assert blocked > 0
    assert registered(
        lambda: linkage.link_records_decisions(a, b, fields, cfg)
    ) == blocked
    assert registered(
        lambda: linkage.link_records_learned(a, b, fields, cfg)
    ) == blocked + 1
