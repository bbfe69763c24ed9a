"""Unit tests for the dedup / similarity / text / dictionary / multimodal /
phonetic operator suites (the pieces the DuckDB oracle can't fully grade:
approximate recall, stub plumbing, semantics on controlled inputs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.operators import (
    dedup,
    dictionary_ops,
    multimodal,
    similarity,
    text,
)
from liblevenshtein_rust_spark.functions.phonetic import phonetic_normalize
from liblevenshtein_rust_spark.session import get_spark
from liblevenshtein_rust_spark.sources import fixtures


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_operators", cores=4, shuffle_partitions=4)


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_duplicates(spark):
    docs = _docs(spark, [(1, "Hello, World!"), (2, "hello world"), (3, "other text")])
    out = {r["keep_id"]: r["n_docs"] for r in dedup.exact_duplicates(docs).collect()}
    assert out == {1: 2, 3: 1}  # punctuation-normalized texts 1 and 2 collide


def test_minhash_lsh_finds_planted_near_dup(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    far = "one two three four five six seven eight nine ten"
    docs = _docs(spark, [(1, base), (2, near), (3, far)])
    pairs = {
        (r["left_id"], r["right_id"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    for num_hashes, bands in [(16, 5), (4, 8), (0, 4)]:
        with pytest.raises(ValueError):
            dedup.minhash_lsh_pairs(docs, num_hashes=num_hashes, bands=bands)


def test_ngram_jaccard_exact_value(spark):
    a = "w1 w2 w3 w4"  # shingles: {w1 w2 w3, w2 w3 w4}
    b = "w1 w2 w3 w5"  # shingles: {w1 w2 w3, w2 w3 w5}
    docs = _docs(spark, [(1, a), (2, b)])
    rows = dedup.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    assert len(rows) == 1
    assert rows[0]["jaccard"] == pytest.approx(1 / 3)
    with pytest.raises(ValueError):
        dedup.ngram_jaccard_pairs(docs, threshold=0)


def test_simhash_identical_and_near(spark):
    t = "the quick brown fox jumps over the lazy dog again and again today"
    docs = _docs(spark, [(1, t), (2, t), (3, t + " extra"), (4, "completely different words here")])
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash_fingerprints(docs).collect()}
    assert fp[1] == fp[2]
    pairs = {(r["left_id"], r["right_id"]): r["hamming"]
             for r in dedup.simhash_near_pairs(docs, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0
    with pytest.raises(ValueError):
        dedup.simhash_near_pairs(docs, max_hamming=4)


def test_embedding_lsh_recall_vs_bruteforce(spark):
    import random

    rng = random.Random(7)
    rows = []
    for c in range(20):
        center = [rng.gauss(0, 1) for _ in range(16)]
        for m in range(3):
            v = [x + rng.gauss(0, 0.01) for x in center]
            rows.append((c * 3 + m, v))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    exact = {(r["left_id"], r["right_id"])
             for r in dedup.embedding_near_pairs(emb, threshold=0.99).collect()}
    approx = {(r["left_id"], r["right_id"])
              for r in dedup.lsh_embedding_near_pairs(
                  emb, dim=16, n_planes=6, threshold=0.99).collect()}
    assert approx <= exact  # verify step → perfect precision
    assert len(approx) >= 0.5 * len(exact)  # single-table LSH recall


def _hot_docs(spark):
    """30 docs: six copies of one text, four of another that ends in the
    first one's opening words, 20 distinct fillers — every key of a copy
    group is a hot key, and the four copies share one key with the six."""
    import random

    rng = random.Random(3)

    def text():
        return " ".join(f"w{rng.randrange(300)}" for _ in range(12))

    a = text()
    b = text() + " " + " ".join(a.split()[:3])
    texts = [a] * 6 + [b] * 4 + [text() for _ in range(20)]
    return _docs(spark, list(enumerate(texts)))


def _hot_vectors(spark):
    """The vector twin of :func:`_hot_docs`: 6 + 4 identical vectors and
    20 distinct ones."""
    import random

    rng = random.Random(5)

    def vec():
        return [rng.gauss(0, 1) for _ in range(8)]

    vecs = [vec()] * 6 + [vec()] * 4 + [vec() for _ in range(20)]
    return spark.createDataFrame(list(enumerate(vecs)), "vec_id bigint, embedding array<float>")


def _hot_blocking_quality(spark, band):
    from liblevenshtein_rust_spark.operators import blocking

    docs = _hot_docs(spark)
    keyed = docs.select("doc_id", F.explode(dedup.word_shingles(F.col("text"))).alias("key"))
    truth = spark.createDataFrame([(0, 1), (6, 7), (10, 11)], "left_id bigint, right_id bigint")
    return blocking.blocking_quality(docs, truth, keyed, band=band)


HOT_FAMILIES = {
    "minhash": lambda spark, band: dedup.minhash_lsh_pairs(_hot_docs(spark), band=band),
    "simhash": lambda spark, band: dedup.simhash_near_pairs(_hot_docs(spark), band=band),
    "ngram": lambda spark, band: dedup.ngram_jaccard_pairs(_hot_docs(spark), band=band),
    "lsh_embedding": lambda spark, band: dedup.lsh_embedding_near_pairs(
        _hot_vectors(spark), dim=8, n_planes=4, band=band
    ),
    "blocking_quality": _hot_blocking_quality,
}


@pytest.mark.parametrize("family", sorted(HOT_FAMILIES))
def test_hot_buckets_lose_only_counted_pairs(spark, monkeypatch, family):
    """Each dedup and evaluation self-join runs ``blocking.blocked_pairs``:
    with ``HOT_KEY_PAIRS`` patched to 3 the copy groups' keys are salted
    and the output equals the default run's; with ``EXTREME_KEY_PAIRS``
    patched to 10 the six-copy keys are dropped, every missing pair shares
    only dropped keys, and no more pairs go missing than were counted."""
    from collections import Counter, defaultdict

    from liblevenshtein_rust_spark.operators import blocking

    seen = []
    real = blocking.blocked_pairs

    def spy(left, right=None, *, band=None):
        seen.append(left)
        return real(left, right, band=band)

    monkeypatch.setattr(blocking, "blocked_pairs", spy)

    def run(**constants):
        for name, value in constants.items():
            monkeypatch.setattr(blocking, name, value)
        band: dict = {}
        return set(map(tuple, HOT_FAMILIES[family](spark, band).collect())), band

    want, band = run()
    assert band == {"hot_keys_salted": 0, "extreme_keys_dropped": 0, "key_pairs_dropped": 0}
    got, band = run(HOT_KEY_PAIRS=3)
    assert got == want
    assert band["hot_keys_salted"] > 0 and band["extreme_keys_dropped"] == 0

    got, band = run(EXTREME_KEY_PAIRS=10)
    keys = defaultdict(set)
    for r in seen[-1].collect():
        keys[r["id"]].add(r["key"])
    n = Counter(k for ks in keys.values() for k in ks)
    dropped = {k for k, c in n.items() if c * (c - 1) // 2 > 10}
    lost = {
        (a, b) for a in keys for b in keys if a < b and (shared := keys[a] & keys[b]) <= dropped and shared
    }
    assert band["extreme_keys_dropped"] == len(dropped) > 0
    assert 0 < len(lost) <= band["key_pairs_dropped"]
    if family == "blocking_quality":
        (w,), (g,) = want, got
        assert w[1] - g[1] == len(lost)  # n_candidates
    else:
        assert got <= want
        missing = {r[:2] for r in want - got}
        assert missing and missing <= lost


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


def test_ivf_topk_recall(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    probes = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r["query_id"], r["vec_id"])
             for r in similarity.brute_force_topk(probes, emb, k=5).collect()}
    approx = {(r["query_id"], r["vec_id"])
              for r in similarity.ivf_topk(probes, emb, k=5, n_cells=8, nprobe=4).collect()}
    # nprobe/n_cells = half the cells → expect well over half the true top-k
    assert len(approx & exact) >= 0.5 * len(exact)


def test_ivf_recall_sweep_monotone_and_exact_at_full_probe(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    probes = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    sweep = {
        r["nprobe"]: r
        for r in similarity.ivf_recall_sweep(
            probes, emb, k=5, n_cells=8, nprobes=(1, 2, 4, 8)
        ).collect()
    }
    recalls = [sweep[n]["recall_at_k"] for n in (1, 2, 4, 8)]
    fracs = [sweep[n]["candidate_frac"] for n in (1, 2, 4, 8)]
    assert recalls == sorted(recalls)  # monotone in nprobe
    assert fracs == sorted(fracs)
    assert recalls[-1] == 1.0  # nprobe = n_cells scans everything → exact
    assert abs(fracs[-1] - 1.0) < 1e-6
    # closed form agrees with actually running the index at each point
    exact = {(r["query_id"], r["vec_id"])
             for r in similarity.brute_force_topk(probes, emb, k=5).collect()}
    for n in (1, 2, 4):
        approx = {(r["query_id"], r["vec_id"])
                  for r in similarity.ivf_topk(
                      probes, emb, k=5, n_cells=8, nprobe=n).collect()}
        assert sweep[n]["n_found"] == len(approx & exact)


def test_ivf_recall_gate_on_clustered_corpus(spark):
    """The >=0.9 recall gate at LOW nprobe on data with real cluster
    structure (the regime the reference's corpus gates assume,
    tests/corpus_validation.rs:22-28): 12 tight planted clusters, 2 of 12
    cells probed.  On the structureless sandbox corpus the same gate needs
    nprobe=12/16 (see q_ann_recall) — recall is a property of the data."""
    import random

    rng = random.Random(5)
    rows = []
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(12)]
    for ci, center in enumerate(centers):
        for m in range(10):
            rows.append(
                (ci * 10 + m, [x + rng.gauss(0, 0.05) for x in center])
            )
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    probes = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    row = similarity.ann_recall(
        probes, emb, k=5, n_cells=12, nprobe=2
    ).collect()[0]
    assert row["n_queries"] == 12
    assert row["recall_at_k"] >= 0.9


def _blended_corpus(spark, n=400, dim=16, seed=23):
    """Seeded iid corpus + blend_clusters — the round-4 planted-structure
    fixture (same construction as q_ann_recall's)."""
    import random

    rng = random.Random(seed)
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    return similarity.blend_clusters(emb, n_clusters=8, weight=0.75).select(
        "vec_id", "embedding"
    )


def test_ann_recall_operating_point_cost_gated(spark):
    """The round-4 shipping gate (VERDICT r3 task 2): at derived ~sqrt(N)
    cells and nprobe=4, the clustered-corpus index must reach recall >=
    0.9 while scanning <= 25% of the corpus — i.e. the index PAYS for
    itself at its own gate point, unlike the round-3 75%-scanned one."""
    cl = _blended_corpus(spark)
    probes = cl.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    row = similarity.ann_recall(probes, cl, k=5, n_cells=None, nprobe=4).collect()[0]
    assert row["recall_at_k"] >= 0.9
    assert row["candidate_frac"] <= 0.25


def test_ivf_sq8_matches_float_ivf_path(spark):
    """IVF-SQ8 = IVF + int8 shortlist + exact float re-rank: with a
    generous shortlist the result must (a) carry exact float cos values
    (re-rank is exact: every returned cos equals the brute-force cos for
    that pair) and (b) recover >= 90% of the float IVF path's top-k at
    the same nprobe — the quantization loss budget."""
    cl = _blended_corpus(spark)
    probes = cl.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    sq8 = similarity.ivf_sq8_topk(
        probes, cl, k=5, n_cells=None, nprobe=4, rerank=30
    ).collect()
    flt = similarity.ivf_topk(
        probes, cl, k=5, n_cells=similarity.default_n_cells(400), nprobe=4
    ).collect()
    exact_cos = {
        (r["query_id"], r["vec_id"]): r["cos"]
        for r in similarity.brute_force_topk(probes, cl, k=400).collect()
    }
    for r in sq8:
        assert r["cos"] == exact_cos[(r["query_id"], r["vec_id"])]
    s_pairs = {(r["query_id"], r["vec_id"]) for r in sq8}
    f_pairs = {(r["query_id"], r["vec_id"]) for r in flt}
    assert len(s_pairs & f_pairs) >= 0.9 * len(f_pairs)


# ---------------------------------------------------------------------------
# text
# ---------------------------------------------------------------------------


def test_token_and_quality(spark):
    docs = _docs(spark, [(1, "The cat sat on the mat with a hat today"), (2, "x")])
    ts = {r["doc_id"]: r["ws_tokens"] for r in text.token_stats(docs).collect()}
    assert ts == {1: 10, 2: 1}
    q = {r["doc_id"]: r for r in text.quality_features(docs).collect()}
    assert q[1]["quality_score"] == 1.0  # long, wordy, alpha, stopwordy
    assert q[2]["quality_score"] < 0.8


def test_lang_id(spark):
    docs = _docs(
        spark,
        [
            (1, "the cat and the dog in that house was big"),
            (2, "der hund ist nicht mit der katze und"),
            (3, "qqq www eee"),
        ],
    )
    out = {r["doc_id"]: r["lang_pred"] for r in text.lang_id(docs).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_fingerprint_shared_substrings(spark):
    docs = _docs(
        spark,
        [(1, "shared prefix of quite some length here A"),
         (2, "shared prefix of quite some length here B"),
         (3, "totally unrelated content string")],
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(docs).collect()}
    assert fp[1] == fp[2]  # min-k sketch dominated by the shared prefix
    assert fp[1] != fp[3]
    assert len(fp[1]) == 4 * 32


# ---------------------------------------------------------------------------
# dictionary ops
# ---------------------------------------------------------------------------


def test_union_with_and_replace(spark):
    d1 = spark.createDataFrame([("a", 1), ("b", 2)], "term string, value bigint")
    d2 = spark.createDataFrame([("b", 10), ("c", 3)], "term string, value bigint")
    u = {r["term"]: r["value"] for r in dictionary_ops.union_with(d1, d2).collect()}
    assert u == {"a": 1, "b": 12, "c": 3}
    r = {r["term"]: r["value"] for r in dictionary_ops.union_replace(d1, d2).collect()}
    assert r == {"a": 1, "b": 10, "c": 3}


def test_substring_positions(spark):
    docs = _docs(spark, [(1, "abcabcab"), (2, "xxx")])
    out = {(r["doc_id"], r["pos"])
           for r in dictionary_ops.substring_match_positions(docs, "abc").collect()}
    assert out == {(1, 1), (1, 4)}


def test_fuzzy_substring(spark):
    probes = spark.createDataFrame([("filtering",)], "query string")
    terms = spark.createDataFrame([("filter",), ("xyz",)], "term string")
    out = dictionary_ops.fuzzy_substring_query(probes, terms, 0).collect()
    assert [(r["query"], r["term"], r["distance"]) for r in out] == [
        ("filtering", "filter", 0)
    ]


# ---------------------------------------------------------------------------
# phonetic
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "a,b",
    [("sparck", "spark"), ("skan", "scan"), ("phast", "fast"), ("kwik", "quick"),
     ("nite", "knite")],
)
def test_phonetic_collisions(spark, a, b):
    df = spark.createDataFrame([(a, b)], "a string, b string")
    row = df.select(
        phonetic_normalize(F.col("a")).alias("pa"),
        phonetic_normalize(F.col("b")).alias("pb"),
    ).collect()[0]
    assert row["pa"] == row["pb"], row


def test_phonetic_rulesets(spark):
    """Three selectable rule sets (reference ships three curated sets,
    ``phonetic/rules.rs:246-286``): sound-alike pairs collide under each,
    distinct-sounding words stay distinct, empty input stays empty."""
    words = ["robert", "rupert", "smith", "smyth", "banana", "phast",
             "fast", "", "quick", "kwik"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    out = {
        rs: {
            r["w"]: r["c"]
            for r in df.select(
                "w", phonetic_normalize(F.col("w"), rs).alias("c")
            ).collect()
        }
        for rs in ("default", "soundex_like", "skeleton")
    }
    # soundex-family consonant classes: classic collision pairs collide
    assert out["soundex_like"]["robert"] == out["soundex_like"]["rupert"] == "r163"
    assert out["soundex_like"]["smith"] == out["soundex_like"]["smyth"] == "s530"
    assert out["soundex_like"]["fast"] != out["soundex_like"]["banana"]
    # skeleton: consonant skeleton after the default chain, runs squeezed
    assert out["skeleton"]["smith"] == out["skeleton"]["smyth"] == "smth"
    assert out["skeleton"]["phast"] == out["skeleton"]["fast"] == "fst"
    assert out["skeleton"]["banana"] == "bn"
    # default chain unchanged by the refactor
    assert out["default"]["quick"] == out["default"]["kwik"] == "kwik"
    for rs in out:
        assert out[rs][""] == ""
    with pytest.raises(ValueError):
        phonetic_normalize(F.col("w"), "nope")


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def media_docs(spark):
    return fixtures.generate_docs(spark, 200, seed=7).cache()


def test_media_features_shape_and_determinism(spark, media_docs):
    feats = multimodal.media_features(media_docs).collect()
    assert len(feats) > 0
    for r in feats[:10]:
        assert r["n_bytes"] == 100
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r["feature"])
    again = multimodal.media_features(media_docs).collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))


def test_media_decode_stub_boundary():
    with pytest.raises(NotImplementedError):
        multimodal._decode_stub("s3://bucket/object")


def test_media_resize_nearest_neighbor(spark, media_docs):
    import numpy as np

    out = multimodal.media_resize(media_docs, width=4, height=4).collect()
    assert len(out) > 0
    for r in out[:10]:
        assert (r["width"], r["height"], r["n_bytes"]) == (4, 4, 16)
        # replay the stub + index arithmetic locally
        grid = np.frombuffer(
            multimodal._decode_stub(r["media_ref"]), dtype=np.uint8
        )[:100].reshape(10, 10)
        ri = (np.arange(4) * 10) // 4
        want = grid[np.ix_(ri, ri)].tobytes()
        assert bytes(r["payload"]) == want
    with pytest.raises(ValueError):
        multimodal.media_resize(media_docs, width=11)


def test_frame_sample_keeps_order(spark, media_docs):
    sampled = multimodal.frame_sample(media_docs, every=2)
    full = multimodal.extract_media_refs(media_docs)
    per_doc_full = full.groupBy("doc_id").count().withColumnRenamed("count", "n")
    per_doc_samp = sampled.groupBy("doc_id").count().withColumnRenamed("count", "k")
    j = per_doc_full.join(per_doc_samp, "doc_id").collect()
    assert len(j) > 0
    for r in j:
        assert r["k"] == (r["n"] + 1) // 2


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking
# ---------------------------------------------------------------------------


def test_sorted_neighborhood_pairs_matches_global_window(spark):
    """Distributed two-phase rank == naive single-window semantics, exercised
    across multiple range partitions (offsets must chain correctly)."""
    from liblevenshtein_rust_spark.operators import blocking

    ids = [f"t{i:03d}" for i in range(47)]
    import random

    rng = random.Random(13)
    keys = ["".join(rng.choice("abcde") for _ in range(4)) for _ in ids]
    df = spark.createDataFrame(list(zip(ids, keys)), "id string, key string")
    w = 4
    got = {
        (r["left_id"], r["right_id"])
        for r in blocking.sorted_neighborhood_pairs(
            df, "key", "id", window=w, num_partitions=5
        ).collect()
    }
    order = sorted(zip(keys, ids))
    want = set()
    for i in range(len(order)):
        for j in range(i + 1, min(i + w, len(order))):
            a, b = order[i][1], order[j][1]
            want.add((min(a, b), max(a, b)))
    assert got == want


def test_sorted_neighborhood_window_validation(spark):
    from liblevenshtein_rust_spark.operators import blocking

    df = spark.createDataFrame([("a", "k")], "id string, key string")
    with pytest.raises(ValueError):
        blocking.sorted_neighborhood_pairs(df, "key", "id", window=1)


def test_ppm_wav_decode_real(spark):
    """The round-4 REAL decode paths: the P6 parser and the wave parser
    must reproduce the exact pixel/sample values the committed fixtures
    were generated from (scripts/gen_media_fixtures.py closed forms) —
    no stub anywhere in this path."""
    mod, pixels, meta = multimodal.decode_media("ppm:img_rgb_4x4")
    assert (mod, meta) == ("image", {"width": 4, "height": 4, "maxval": 255})
    expect = bytes(
        (r * 31 + c * 17 + ch * 53) % 256
        for r in range(4) for c in range(4) for ch in range(3)
    )
    assert pixels == expect

    mod, frames, meta = multimodal.decode_media("wav:tone_a")
    assert mod == "audio"
    assert meta == {"n_channels": 1, "framerate": 8000, "n_samples": 120}
    import numpy as np

    got = np.frombuffer(frames, dtype="<i2").tolist()
    assert got == [((i * 37) % 201 - 100) * 127 for i in range(120)]

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        multimodal.decode_media("jpeg:not_supported")


def test_media_stats_real_values(spark):
    """media_stats computes REAL statistics: per-channel means equal the
    closed-form integer sums; audio amplitude stats equal the waveform's
    exact values."""
    rows = [("d0", [("media", "", "ppm:img_rgb_4x4", 0),
                    ("media", "", "wav:tone_a", 1),
                    ("media", "", "m000009", 2)])]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct"
        "<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = {r["media_ref"]: r for r in multimodal.media_stats(docs).collect()}
    img = out["ppm:img_rgb_4x4"]
    vals = [(r * 31 + c * 17 + ch * 53) % 256
            for r in range(4) for c in range(4) for ch in range(3)]
    assert img["modality"] == "image" and img["n_bytes"] == 48
    assert img["mean_r"] == round(sum(vals[0::3]) / 16, 6)
    assert img["mean_g"] == round(sum(vals[1::3]) / 16, 6)
    assert img["mean_b"] == round(sum(vals[2::3]) / 16, 6)
    aud = out["wav:tone_a"]
    samples = [((i * 37) % 201 - 100) * 127 for i in range(120)]
    assert aud["modality"] == "audio"
    assert aud["n_samples"] == 120 and aud["framerate"] == 8000
    assert aud["mean_abs"] == round(sum(abs(s) for s in samples) / 120, 6)
    assert aud["peak"] == max(abs(s) for s in samples)
    assert out["m000009"]["modality"] == "stub"
