"""End-to-end ER pipeline tests — the north-rule acceptance criteria.

1. pairwise F1 >= 0.99 on labeled pairs at shared blocking keys
   (BASELINE.json metric) over the deterministic synthetic corpus;
2. span-sequence invariant (kind, text, media_ref, order) survives the
   explode/reassemble round-trip;
3. resumability: a rerun reuses completed stage checkpoints byte-for-byte
   and produces identical entities; a config change invalidates them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.operators import blocking
from liblevenshtein_rust_spark.pipeline import er
from liblevenshtein_rust_spark.session import get_spark
from liblevenshtein_rust_spark.sources import fixtures

N_DOCS = 1500
SEED = 42
CFG = er.ERConfig(max_df=10)


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test_pipeline_e2e", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="module")
def docs(spark):
    return fixtures.generate_docs(spark, N_DOCS, seed=SEED).cache()


@pytest.fixture(scope="module")
def run(spark, docs, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("er_run"))
    entities = er.run_pipeline(spark, docs, run_dir, CFG)
    return run_dir, entities


def test_span_sequence_invariant(spark, docs):
    """explode → reassemble must reproduce (kind, text, media_ref, order)."""
    orig = {r["doc_id"]: r["spans"] for r in docs.select("doc_id", "spans").collect()}
    back = {
        r["doc_id"]: r["spans"]
        for r in blocking.reassemble_spans(docs).collect()
    }
    assert orig.keys() == back.keys()
    for k in orig:
        assert [tuple(s) for s in back[k]] == [tuple(s) for s in orig[k]], k


def test_pairwise_f1(spark, docs, run):
    _, entities = run
    labels = fixtures.generate_labels(docs, seed=SEED)
    toks = blocking.rare_tokens(
        blocking.doc_tokens(docs, min_len=CFG.min_token_len), max_df=CFG.max_df
    )
    m = er.pairwise_f1(entities, labels, toks)
    assert m["precision"] >= 0.99, m
    assert m["recall"] >= 0.99, m
    assert m["f1"] >= 0.99, m
    assert {"hot_keys_salted", "extreme_keys_dropped", "key_pairs_dropped"} <= m.keys()


def test_entities_cover_all_docs(docs, run):
    _, entities = run
    assert entities.count() == N_DOCS
    assert entities.select("doc_id").distinct().count() == N_DOCS


def test_cluster_count_sane(docs, run):
    """#entities found ≈ #planted entities (exact under perfect resolution)."""
    _, entities = run
    planted = docs.select("entity_id").distinct().count()
    found = entities.select("entity").distinct().count()
    assert abs(found - planted) <= max(2, planted // 100), (found, planted)


def test_resume_reuses_checkpoints(spark, docs, run):
    run_dir, entities = run
    rs_before = er.Runstate(spark, run_dir, er.asdict(CFG)).manifests()
    before = sorted((r["doc_id"], r["entity"]) for r in entities.collect())

    entities2 = er.run_pipeline(spark, docs, run_dir, CFG)
    after = sorted((r["doc_id"], r["entity"]) for r in entities2.collect())
    assert before == after

    rs_after = er.Runstate(spark, run_dir, er.asdict(CFG)).manifests()
    for stage, man in rs_before.items():
        assert rs_after[stage]["ts"] == man["ts"], f"{stage} recomputed on resume"


def test_resume_after_partial_run(spark, docs, tmp_path):
    """Kill-and-resume: wipe the later stages, rerun, identical output and
    untouched early checkpoints."""
    import shutil
    from pathlib import Path

    run_dir = str(tmp_path / "partial")
    entities = er.run_pipeline(spark, docs, run_dir, CFG)
    expect = sorted((r["doc_id"], r["entity"]) for r in entities.collect())

    for stage in ("match_edges", "entities"):
        shutil.rmtree(Path(run_dir) / stage)
    early_ts = {
        s: m["ts"]
        for s, m in er.Runstate(spark, run_dir, er.asdict(CFG)).manifests().items()
    }

    entities2 = er.run_pipeline(spark, docs, run_dir, CFG)
    got = sorted((r["doc_id"], r["entity"]) for r in entities2.collect())
    assert got == expect

    manifests = er.Runstate(spark, run_dir, er.asdict(CFG)).manifests()
    for s, ts in early_ts.items():
        assert manifests[s]["ts"] == ts, f"{s} recomputed despite valid checkpoint"
    assert "entities" in manifests


def test_config_change_invalidates(spark, docs, tmp_path):
    run_dir = str(tmp_path / "cfgchange")
    er.run_pipeline(spark, docs, run_dir, CFG)
    ts0 = er.Runstate(spark, run_dir, er.asdict(CFG)).manifests()["tokens"]["ts"]
    cfg2 = er.ERConfig(max_df=10, min_token_matches=3)
    er.run_pipeline(spark, docs, run_dir, cfg2)
    ts1 = er.Runstate(spark, run_dir, er.asdict(cfg2)).manifests()["tokens"]["ts"]
    assert ts1 != ts0


def test_manifest_lineage_and_metrics(spark, docs, run):
    run_dir, _ = run
    ms = er.Runstate(spark, run_dir, er.asdict(CFG)).manifests()
    assert set(ms) == {"docs", "tokens", "token_matches", "match_edges", "entities"}
    assert ms["token_matches"]["inputs"] == ["tokens"]
    assert ms["entities"]["inputs"] == ["match_edges", "docs"]
    for m in ms.values():
        assert m["rows"] > 0
        assert m["partitions"] >= 1
        assert m["wall_s"] >= 0
    assert "kernel_pairs" in ms["token_matches"]["metrics"]
    # the band record of blocking.blocked_pairs, all three counters
    band = ms["token_matches"]["metrics"]
    for k in ("hot_keys_salted", "extreme_keys_dropped", "key_pairs_dropped"):
        assert isinstance(band[k], int) and band[k] >= 0, k
    assert (band["extreme_keys_dropped"] == 0) == (band["key_pairs_dropped"] == 0)


def test_link_tables_cross_corpus(spark):
    """Cross-table linkage: typo'd B twins are found as best matches with
    fuzzy token evidence; unrelated records stay unlinked."""
    from liblevenshtein_rust_spark.pipeline import linkage

    a = spark.createDataFrame(
        [
            (1, "jonathan smithers acme corporation boulevard headquarters"),
            (2, "margaret chalmers globex incorporated riverside campus"),
            (3, "totally unrelated record about gardening tomatoes"),
        ],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [
            (101, "jonathon smithers acme corporatian boulevard building"),
            (102, "margret chalmers globex incorporated riverside offices"),
            (103, "another unrelated supplier of machinery parts"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["a_id"]: r
        for r in linkage.link_tables(
            a, b, linkage.LinkConfig(min_token_matches=2)
        ).collect()
    }
    assert set(got) == {1, 2}  # the unrelated record links to nothing
    assert got[1]["b_id"] == 101 and got[1]["n_matched"] >= 4
    assert got[2]["b_id"] == 102 and got[2]["n_matched"] >= 4
    assert all(r["rank"] == 1 for r in got.values())


def test_cross_vocab_matches_d3_and_budget_guard(spark):
    """Round-4 review fix: the vocab join must honor max_distance=3 via
    the d=3 banded key rows (it used to clamp key depth to 2, silently losing
    long-token d=3 pairs), and must RAISE outside the exact-key envelope
    instead of losing pairs silently."""
    import pytest as _pytest

    from liblevenshtein_rust_spark.kernel.distances import STANDARD

    va = spark.createDataFrame([("projection",)], "token string")
    vb = spark.createDataFrame(
        # 3 substitutions on a 10-char token (o→u, c→f, n→m): depth-2
        # deletion neighborhoods are disjoint, so the old clamp lost it
        [("prujeftiom",)],
        "token string",
    )
    got = blocking.vocab_matches(va, vb, max_distance=3, variant=STANDARD).collect()
    assert [(r.tok_a, r.tok_b, r.distance) for r in got] == [
        ("projection", "prujeftiom", 3)
    ]
    with _pytest.raises(ValueError, match="key budget"):
        blocking.vocab_matches(va, vb, max_distance=4, variant=STANDARD)


def test_link_tables_phonetic_channel(spark):
    """A token beyond the edit threshold but phonetically equal (appended
    vowels strip under the skeleton code) links through the phonetic
    channel at the discounted weight; edit matches keep full weight."""
    from liblevenshtein_rust_spark.pipeline import linkage

    a = spark.createDataFrame(
        [(1, "brdgstn kramden fernsby")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        # brdgstn -> brdgstnaaa: distance 3, same consonant skeleton
        [(101, "brdgstnaaa kramden fernsby")], "doc_id long, text string"
    )
    cfg = linkage.LinkConfig(
        max_distance=1, use_phonetic=True, phonetic_ruleset="skeleton"
    )
    rows = linkage.link_tables(a, b, cfg).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a_id"], r["b_id"], r["n_matched"]) == (1, 101, 3)
    assert abs(r["score"] - 2.5) < 1e-9  # 1 + 1 + phonetic 0.5
    # without the channel the heavy typo contributes nothing
    base = linkage.link_tables(a, b, linkage.LinkConfig(max_distance=1)).collect()
    assert base[0]["n_matched"] == 2 and abs(base[0]["score"] - 2.0) < 1e-9


def test_link_tables_mutual_and_floor(spark):
    """Assignment hardening: a duplicate A contending for the same B
    resolves one-to-one under mutual=True (a_id tie-break), and an A whose
    only candidate scores under min_score links to nothing instead of
    being force-assigned."""
    from liblevenshtein_rust_spark.pipeline import linkage

    a = spark.createDataFrame(
        [
            (1, "jonathan smithers acme corporation"),
            (2, "jonathan smithers acme corporation"),   # duplicate of 1
            (3, "margaret chalmers globex riverside"),
        ],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [
            (101, "jonathon smithers acme corporatian"),  # twin of 1/2
            # weak decoy for 3: two shared tokens only
            (102, "margaret chalmers unrelated machinery"),
        ],
        "doc_id long, text string",
    )
    cfg = linkage.LinkConfig(min_token_matches=2, min_score=2.5, mutual=True)
    rows = linkage.link_tables(a, b, cfg).collect()
    got = {(r["a_id"], r["b_id"]) for r in rows}
    # one-to-one: only the lowest a_id of the duplicate pair keeps 101;
    # a=3's sole candidate (score 2.0) is under the floor
    assert got == {(1, 101)}
    # without hardening: both duplicates link, and 3 gets the weak decoy
    base = {
        (r["a_id"], r["b_id"])
        for r in linkage.link_tables(
            a, b, linkage.LinkConfig(min_token_matches=2)
        ).collect()
    }
    assert base == {(1, 101), (2, 101), (3, 102)}


def test_update_assignments_incremental(spark):
    """Delta merge semantics: strictly-better displaces, ties keep the
    incumbent, unmatched A records gain assignments, replaying the same
    delta is a no-op, and the result equals a batch rebuild over B∪delta."""
    from liblevenshtein_rust_spark.pipeline import linkage

    a = spark.createDataFrame(
        [
            (1, "jonathan smithers acme corporation"),
            (2, "margaret chalmers globex riverside"),
            (3, "wilhelmina vanterpool initech headquarters"),
        ],
        "doc_id long, text string",
    )
    b0 = spark.createDataFrame(
        [
            (101, "jonathon smithers acme corporatian"),  # typo twin of 1
            (102, "margaret chalmers globex riverside"),   # exact twin of 2
        ],
        "doc_id long, text string",
    )
    cfg = linkage.LinkConfig(min_token_matches=2)
    standing = linkage.link_tables(a, b0, cfg).select(
        "a_id", "b_id", "n_matched", "score"
    )
    delta = spark.createDataFrame(
        [
            (201, "jonathan smithers acme corporation"),   # exact: beats 101
            (202, "margaret chalmers globex riverside"),   # ties 102: keep
            (203, "wilhelmina vanterpool initech offices"),  # new for 3
        ],
        "doc_id long, text string",
    )
    out = {r["a_id"]: r for r in
           linkage.update_assignments(standing, a, delta, cfg).collect()}
    assert out[1]["b_id"] == 201 and out[1]["changed"]          # displaced
    assert out[2]["b_id"] == 102 and not out[2]["changed"]      # tie keeps
    assert out[3]["b_id"] == 203 and out[3]["changed"]          # created
    # idempotent: replaying the same delta changes nothing
    new_standing = spark.createDataFrame(
        [(r["a_id"], r["b_id"], r["n_matched"], r["score"])
         for r in out.values()],
        "a_id long, b_id long, n_matched long, score double",
    )
    replay = linkage.update_assignments(new_standing, a, delta, cfg).collect()
    assert all(not r["changed"] for r in replay)
    assert {r["a_id"]: r["b_id"] for r in replay} == {
        k: v["b_id"] for k, v in out.items()
    }
    # batch-rebuild equivalence on assignments (where ties coincide)
    rebuilt = {
        r["a_id"]: r["b_id"]
        for r in linkage.link_tables(a, b0.unionByName(delta), cfg).collect()
    }
    # a=2 ties between 102 and 202: batch picks min b_id (102), incremental
    # keeps incumbent 102 — identical here by construction
    assert rebuilt == {k: v["b_id"] for k, v in out.items()}


def test_update_assignments_rejects_mutual(spark):
    """cfg.mutual needs cross-A resolution (a rebuild) — the incremental
    path must refuse rather than silently emit many-to-one."""
    import pytest as _pytest

    from liblevenshtein_rust_spark.pipeline import linkage

    a = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    d = spark.createDataFrame([(9, "alpha beta")], "doc_id long, text string")
    standing = spark.createDataFrame(
        [], "a_id long, b_id long, n_matched long, score double"
    )
    with _pytest.raises(ValueError, match="mutual"):
        linkage.update_assignments(
            standing, a, d, linkage.LinkConfig(mutual=True)
        )


def test_field_paths_reject_use_phonetic(spark):
    """The phonetic channel is read by score_pairs / link_tables only: the
    field-wise paths raise on ``use_phonetic`` instead of ignoring it."""
    from liblevenshtein_rust_spark.pipeline import linkage

    recs = spark.createDataFrame(
        [(1, "jonathan smith", "springfield")], "doc_id long, name string, city string"
    )
    cfg = linkage.LinkConfig(use_phonetic=True)
    calls = {
        "link_records": lambda: linkage.link_records(recs, recs, {"name": 1.0}, cfg),
        "field_agreements": lambda: linkage.field_agreements(recs, recs, ["name"], cfg),
        "link_records_learned": lambda: linkage.link_records_learned(
            recs, recs, ["name"], cfg
        ),
        "link_records_decisions": lambda: linkage.link_records_decisions(
            recs, recs, ["name"], cfg
        ),
    }
    for name, call in calls.items():
        with pytest.raises(ValueError, match="use_phonetic"):
            call()
            pytest.fail(name)


def test_link_records_field_weights(spark):
    """Field-weighted linkage semantics: (a) a token match only counts in
    the SAME field, (b) field weights decide between candidates with
    equal token counts, (c) per-field rare filter kills a within-field
    stopword without touching the same string in another field."""
    from liblevenshtein_rust_spark.pipeline import linkage

    a = spark.createDataFrame(
        [(1, "marisol quintero", "springfield", "5551234")],
        "doc_id long, name string, city string, phone string",
    )
    b = spark.createDataFrame(
        [
            # matches name (2 tokens, weight 2.0 each) only
            (101, "marisol quintero", "elsewhere", "9999999"),
            # matches city (1.0) + phone (3.0) only
            (102, "nobody inparticular", "springfield", "5551234"),
        ],
        "doc_id long, name string, city string, phone string",
    )
    cfg = linkage.LinkConfig(max_distance=1, min_token_matches=2)
    # name-weight 2.0: the two name tokens (4.0) beat city+phone (1+3=4.0)
    # → tie on score, tie on n_matched (2 each) → min b_id wins: 101
    rows = linkage.link_records(
        a, b, {"name": 2.0, "city": 1.0, "phone": 3.0}, cfg
    ).collect()
    assert [(r["a_id"], r["b_id"], r["score"]) for r in rows] == [(1, 101, 4.0)]
    # raise phone weight: 102 now wins outright
    rows2 = linkage.link_records(
        a, b, {"name": 2.0, "city": 1.0, "phone": 5.0}, cfg
    ).collect()
    assert [(r["a_id"], r["b_id"], r["score"]) for r in rows2] == [(1, 102, 6.0)]
    # cross-field matches don't count: a record whose NAME contains the
    # city string gains no city evidence
    b3 = spark.createDataFrame(
        [(103, "springfield someone", "nowhere", "1112223")],
        "doc_id long, name string, city string, phone string",
    )
    assert (
        linkage.link_records(
            a, b3, {"name": 2.0, "city": 1.0, "phone": 3.0}, cfg
        ).count()
        == 0
    )


def test_link_records_learned_em_planted_truth(spark):
    """Fellegi-Sunter EM gate (round 4): with NO hand-set field weights,
    the EM-learned LLR scoring must (a) recover every planted twin —
    P/R = 1.0/1.0 on the planted truth, matching the fixed-weight path's
    gate — and (b) actually LEARN that the unique phone field outweighs
    the 10-value city field (m/u odds), which is the whole point of
    learning the weights from the evidence."""
    import math

    from liblevenshtein_rust_spark.pipeline import linkage

    import hashlib

    def h(s):  # md5-style tokens: distinct ids are many edits apart
        return hashlib.md5(s.encode()).hexdigest()

    n = 120
    a_rows = [
        (i, f"fn{h(f'{i}n')[:5]} ln{h(f'{i}m')[:5]}", f"city{i % 10}",
         f"p{h(f'{i}p')[:6]}")
        for i in range(n)
    ]
    b_rows = [
        # twins: name typo (4th char of the fn token dropped), same
        # city+phone — withheld for i % 7 == 0
        (1000 + i,
         f"fn{h(f'{i}n')[:1]}{h(f'{i}n')[2:5]} ln{h(f'{i}m')[:5]}",
         f"city{i % 10}", f"p{h(f'{i}p')[:6]}")
        for i in range(n)
        if i % 7 != 0
    ] + [
        # decoys: unrelated name, same city, different phone
        (2000 + i, f"zz{h(f'{i}q')[:5]}", f"city{i % 10}", f"q{h(f'{i}r')[:6]}")
        for i in range(n)
        if i % 3 == 0
    ]
    schema = "doc_id long, name string, city string, phone string"
    a = spark.createDataFrame(a_rows, schema)
    b = spark.createDataFrame(b_rows, schema)
    fields = ["name", "city", "phone"]
    cfg = linkage.LinkConfig(max_distance=1)
    out = {
        r["a_id"]: r
        for r in linkage.link_records_learned(a, b, fields, cfg).collect()
    }
    truth = {i: 1000 + i for i in range(n) if i % 7 != 0}
    predicted = {i: out[i]["b_id"] for i in truth if i in out}
    assert predicted == truth  # precision 1.0 AND recall 1.0 on planted truth
    # the learned weights rank the fields by their true discriminativity
    g = linkage.field_agreements(a, b, fields, cfg)
    pats = [
        (tuple(int(r[f"g_{f}"]) for f in fields), int(r["c"]))
        for r in g.groupBy(*[f"g_{f}" for f in fields])
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    _, m, u = linkage.fellegi_sunter_em(pats, len(fields))
    wa = [math.log2(m[f] / u[f]) for f in range(len(fields))]
    assert wa[2] > wa[1]  # phone agreement outweighs city agreement


def test_link_records_learned_empty_evidence(spark):
    """Disjoint vocabularies produce zero blocked pairs: the EM must fall
    back to its init parameters (not ZeroDivisionError) and the learned
    path must return an empty linkage exactly like the fixed-weight
    sibling does."""
    from liblevenshtein_rust_spark.pipeline import linkage

    schema = "doc_id long, name string, city string"
    a = spark.createDataFrame([(1, "aaaaaaa bbbbbbb", "ccccccc")], schema)
    b = spark.createDataFrame([(2, "zzzzzzz yyyyyyy", "xxxxxxx")], schema)
    fields = ["name", "city"]
    cfg = linkage.LinkConfig(max_distance=1)
    assert linkage.link_records_learned(a, b, fields, cfg).count() == 0
    p0, m0, u0 = linkage.fellegi_sunter_em([], len(fields))
    assert (p0, m0, u0) == (0.1, [0.9, 0.9], [0.1, 0.1])


def test_fs_decision_bands_hand_computed():
    """FS decision rule on a hand-solved 2-field pattern table:
    P(g|M)/(g|U) products, mu/lam error budgets, band boundaries."""
    from liblevenshtein_rust_spark.pipeline import linkage

    m, u = [0.9, 0.8], [0.1, 0.2]
    pats = [((1, 1), 10), ((1, 0), 5), ((0, 0), 100)]
    out = {
        gamma: band
        for gamma, _, _, band in linkage.fs_decision_bands(
            pats, m, u, mu=0.05, lam=0.05
        )
    }
    # P(g|U): (1,1)=.02<=mu -> link; asc P(g|M): (0,0)=.02<=lam ->
    # non_link; (1,0) fails both budgets -> possible
    assert out == {(1, 1): "link", (1, 0): "possible", (0, 0): "non_link"}
    llrs = {
        gamma: llr
        for gamma, _, llr, _ in linkage.fs_decision_bands(pats, m, u)
    }
    import math

    assert abs(llrs[(1, 1)] - math.log2(36.0)) < 1e-9
    assert abs(llrs[(0, 0)] - math.log2(1.0 / 36.0)) < 1e-9


def test_link_records_decisions_planted(spark):
    """Decision-table gate on the planted-twin fixture: posteriors are
    valid probabilities, monotone in LLR, and the all-agree pattern is an
    auto-link with posterior ~1 while its band survives the error
    budgets."""
    import hashlib

    from liblevenshtein_rust_spark.pipeline import linkage

    def h(x):
        return hashlib.md5(x.encode()).hexdigest()

    n = 60
    a = spark.createDataFrame(
        [
            (i, f"fn{h(f'{i}n')[:5]} ln{h(f'{i}m')[:5]}", f"city{i % 10}",
             f"p{h(f'{i}p')[:6]}")
            for i in range(n)
        ],
        "doc_id long, name string, city string, phone string",
    )
    b = spark.createDataFrame(
        [
            (1000 + i,
             f"fn{h(f'{i}n')[:1]}{h(f'{i}n')[2:5]} ln{h(f'{i}m')[:5]}",
             f"city{i % 10}", f"p{h(f'{i}p')[:6]}")
            for i in range(n)
        ],
        "doc_id long, name string, city string, phone string",
    )
    rows = linkage.link_records_decisions(
        a, b, ["name", "city", "phone"], linkage.LinkConfig(max_distance=1)
    ).collect()
    assert rows
    by_llr = sorted(rows, key=lambda r: r["llr"])
    posts = [r["posterior"] for r in by_llr]
    assert all(0.0 <= x <= 1.0 for x in posts)
    assert posts == sorted(posts)  # posterior monotone in LLR
    full = [r for r in rows if (r.g_name, r.g_city, r.g_phone) == (1, 1, 1)]
    assert full and full[0]["band"] == "link" and full[0]["posterior"] > 0.99


def test_fs_decision_bands_budget_zero_all_clerical():
    """mu=lam=0: nothing can enter either decided band — every pattern
    is clerical, the conservative degenerate point of the rule."""
    from liblevenshtein_rust_spark.pipeline import linkage

    out = linkage.fs_decision_bands(
        [((1,), 3), ((0,), 7)], [0.9], [0.1], mu=0.0, lam=0.0
    )
    assert {band for _, _, _, band in out} == {"possible"}


def test_update_assignments_mutual_equals_rebuild(spark):
    """Round-4 mutual incremental path: folding a B delta into the two
    standing tables must produce EXACTLY the mutual assignment of a full
    rebuild over B-union — including the one-to-one contention case
    (duplicate A records fighting for one new B resolve to the smaller
    a_id from both paths)."""
    import hashlib

    from liblevenshtein_rust_spark.pipeline import linkage

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()[:8]

    n = 60
    a_rows = [(i, f"{h(f'{i}a')} {h(f'{i}b')} {h(f'{i}c')}") for i in range(n)]
    # duplicate-A contenders for ids % 10 == 0
    a_rows += [(50000 + i, t) for i, t in a_rows if i % 10 == 0]
    # standing B: typo twins for even ids
    b0_rows = [
        (100000 + i, f"{h(f'{i}a')[:3]}{h(f'{i}a')[4:8]} {h(f'{i}b')} {h(f'{i}c')}")
        for i in range(n) if i % 2 == 0
    ]
    # delta: exact copies for ids % 3 == 0 (beats the twin; contended by
    # the duplicate A when i % 30 == 0)
    delta_rows = [
        (300000 + i, f"{h(f'{i}a')} {h(f'{i}b')} {h(f'{i}c')}")
        for i in range(n) if i % 3 == 0
    ]
    schema = "doc_id long, text string"
    a = spark.createDataFrame(a_rows, schema)
    b0 = spark.createDataFrame(b0_rows, schema)
    delta = spark.createDataFrame(delta_rows, schema)
    cfg = linkage.LinkConfig(max_distance=1, mutual=True)
    from dataclasses import replace

    base = replace(cfg, mutual=False)
    scores0 = linkage.score_pairs(a, b0, base)
    standing_a = linkage.best_per_a(scores0, base)
    standing_b = linkage.best_per_b(scores0, base)
    _, _, assign = linkage.update_assignments_mutual(
        standing_a, standing_b, a, delta, cfg
    )
    got = {(r["a_id"], r["b_id"]) for r in assign.collect()}
    rebuilt = {
        (r["a_id"], r["b_id"])
        for r in linkage.link_tables(a, b0.unionByName(delta), cfg).collect()
    }
    assert got == rebuilt
    assert len(got) == len({a_ for a_, _ in got})  # one-to-one per A
    assert len(got) == len({b_ for _, b_ in got})  # one-to-one per B
    # contention actually happened: for i % 30 == 0 both a=i and
    # a=50000+i prefer the delta copy; mutual keeps only the smaller
    assert (0, 300000) in got and all(a_ != 50000 for a_, _ in got)


def test_update_assignments_mutual_enforces_b_invariant(spark):
    """Round-5 (VERDICT r4 task 6 + ADVICE): the mutual delta merge must
    not TRUST its two caller invariants — standing_b one-row-per-b_id and
    delta b_ids disjoint from standing_b.  Feed it a standing_b with a
    planted duplicate b_id row AND a delta that re-delivers an existing
    b_id: the per-B rank-1 enforcement must resolve both deterministically
    (score DESC, n_matched DESC, a_id ASC — the batch rebuild's tie rule)
    instead of fanning duplicate 'one-to-one' assignments out of the
    mutual inner join."""
    import hashlib

    from liblevenshtein_rust_spark.pipeline import linkage

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()[:8]

    n = 24
    a_rows = [(i, f"{h(f'{i}a')} {h(f'{i}b')} {h(f'{i}c')}") for i in range(n)]
    b0_rows = [
        (100000 + i, f"{h(f'{i}a')[:3]}{h(f'{i}a')[4:8]} {h(f'{i}b')} {h(f'{i}c')}")
        for i in range(n) if i % 2 == 0
    ]
    # delta VIOLATES disjointness: re-delivers b_id 100000 (an exact copy
    # of A row 0's text, strictly better than the standing typo twin) plus
    # one genuinely new record
    delta_rows = [
        (100000, f"{h('0a')} {h('0b')} {h('0c')}"),
        (300001, f"{h('1a')} {h('1b')} {h('1c')}"),
    ]
    schema = "doc_id long, text string"
    a = spark.createDataFrame(a_rows, schema)
    b0 = spark.createDataFrame(b0_rows, schema)
    delta = spark.createDataFrame(delta_rows, schema)
    cfg = linkage.LinkConfig(max_distance=1, mutual=True)
    from dataclasses import replace

    base = replace(cfg, mutual=False)
    scores0 = linkage.score_pairs(a, b0, base)
    standing_a = linkage.best_per_a(scores0, base)
    standing_b = linkage.best_per_b(scores0, base)
    # VIOLATE the shape invariant too: duplicate a standing_b row with a
    # different (worse) a_id so a naive union would fan out b_id 100002
    dup = standing_b.where(F.col("b_id") == 100002).select(
        (F.col("a_id") + 7000).alias("a_id"), "b_id",
        F.lit(0).alias("n_matched"), F.lit(-1.0).alias("score"),
    )
    malformed_b = standing_b.unionByName(dup)
    new_a, new_b, assign = linkage.update_assignments_mutual(
        standing_a, malformed_b, a, delta, cfg
    )
    b_rows = new_b.collect()
    # one row per b_id survived enforcement (dup resolved AND overlap merged)
    assert len(b_rows) == len({r["b_id"] for r in b_rows})
    # the overlapping b_id resolved to the delta's strictly-better exact copy
    winner = {r["b_id"]: r for r in b_rows}[100000]
    assert winner["a_id"] == 0 and winner["n_matched"] == 3
    got = {(r["a_id"], r["b_id"]) for r in assign.collect()}
    assert len(got) == len({a_ for a_, _ in got})  # still one-to-one per A
    assert len(got) == len({b_ for _, b_ in got})  # still one-to-one per B
    # the planted worse duplicate never surfaces in the assignment
    assert all(a_ < 7000 for a_, _ in got)
