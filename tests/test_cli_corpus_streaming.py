"""CLI smoke tests, corpus parsers, streaming incremental ingest."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark import cli
from liblevenshtein_rust_spark.session import get_spark
from liblevenshtein_rust_spark.sources import corpus
from liblevenshtein_rust_spark.streaming import ingest


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_cli", cores=4, shuffle_partitions=4)


@pytest.fixture(scope="module")
def dict_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("dict") / "terms.parquet")
    spark.createDataFrame(
        [("test",), ("text",), ("toast",), ("best",), ("rest",)], "term string"
    ).write.parquet(p)
    return p


def test_cli_query(spark, dict_path, capsys):
    cli.COMMANDS["query"](
        spark,
        cli.build_parser().parse_args(
            ["query", "--dict", dict_path, "--term", "tst", "--max-distance", "1",
             "--show-distances"]
        ),
    )
    out = capsys.readouterr().out.strip().splitlines()
    assert "tst\ttest\t1" in out


def test_cli_info(spark, dict_path, capsys):
    cli.COMMANDS["info"](
        spark, cli.build_parser().parse_args(["info", "--dict", dict_path])
    )
    info = json.loads(capsys.readouterr().out)
    assert info["rows"] == 5 and info["distinct_terms"] == 5


def test_cli_convert_roundtrip(spark, dict_path, tmp_path, capsys):
    txt = str(tmp_path / "terms_txt")
    cli.COMMANDS["convert"](
        spark,
        cli.build_parser().parse_args(
            ["convert", "--input", dict_path, "--output", txt,
             "--from-format", "parquet", "--to-format", "text"]
        ),
    )
    back = spark.read.text(txt)
    assert {r["value"] for r in back.collect()} == {"test", "text", "toast", "best", "rest"}


def test_cli_upsert_delete(spark, dict_path, tmp_path, capsys):
    out1 = str(tmp_path / "after_upsert")
    cli.COMMANDS["upsert"](
        spark,
        cli.build_parser().parse_args(
            ["upsert", "--dict", dict_path, "--term", "new", "--output", out1]
        ),
    )
    assert {r["term"] for r in spark.read.parquet(out1).collect()} == {
        "test", "text", "toast", "best", "rest", "new"
    }
    out2 = str(tmp_path / "after_delete")
    cli.COMMANDS["delete"](
        spark,
        cli.build_parser().parse_args(
            ["delete", "--dict", out1, "--term", "toast", "--output", out2]
        ),
    )
    assert "toast" not in {r["term"] for r in spark.read.parquet(out2).collect()}


def test_cli_minimize(spark, tmp_path, capsys):
    """Minimize ≈ table compaction: duplicates dropped, many small files
    rewritten into the target count, terms sorted within files (the columnar
    analog of DAWG suffix merging — see ``cli.cmd_minimize``)."""
    src = str(tmp_path / "fragmented.parquet")
    terms = [("alpha",), ("beta",), ("alpha",), ("gamma",), ("beta",), ("delta",)]
    spark.createDataFrame(terms, "term string").repartition(6).write.parquet(src)
    out = str(tmp_path / "compacted.parquet")
    cli.COMMANDS["minimize"](
        spark,
        cli.build_parser().parse_args(
            ["minimize", "--dict", src, "--output", out, "--target-files", "1"]
        ),
    )
    stats = json.loads(capsys.readouterr().out)
    assert stats["rows_in"] == 6 and stats["rows_out"] == 4
    back = spark.read.parquet(out)
    got = [r["term"] for r in back.collect()]
    assert sorted(got) == ["alpha", "beta", "delta", "gamma"]
    assert got == sorted(got)  # single sorted file: scan order == term order


def test_cli_clear(spark, tmp_path, capsys):
    """Clear = snapshot truncate: zero rows, schema preserved, still
    queryable (the reference's ``Commands::Clear`` over an immutable table)."""
    src = str(tmp_path / "full.parquet")
    spark.createDataFrame([("alpha",), ("beta",)], "term string").write.parquet(src)
    out = str(tmp_path / "cleared.parquet")
    cli.COMMANDS["clear"](
        spark,
        cli.build_parser().parse_args(["clear", "--dict", src, "--output", out]),
    )
    stats = json.loads(capsys.readouterr().out)
    assert stats["rows_in"] == 2 and stats["rows_out"] == 0
    back = spark.read.parquet(out)
    assert back.count() == 0 and back.columns == ["term"]


# ---------------------------------------------------------------------------
# corpus parsers
# ---------------------------------------------------------------------------


def test_mitton_pairs(spark, tmp_path):
    f = tmp_path / "missp.dat"
    f.write_text("$apple\napple1\napples\n$banana\nbananna\n")
    pairs = {
        (r["correct"], r["misspelling"])
        for r in corpus.load_mitton_pairs(spark, str(f)).collect()
    }
    assert pairs == {
        ("apple", "apple1"), ("apple", "apples"), ("banana", "bananna"),
    }


def test_mitton_pairs_frequency(spark, tmp_path):
    """Reference line semantics (parser.rs:208-219): 'word freq' lines —
    misspelling is the first token, optional frequency defaults to 1 and
    unparseable frequencies fall back to 1."""
    f = tmp_path / "missp.dat"
    f.write_text("$hello\nhelo 2\nhllo 1\n\n$world\nwrld\nworlld x\n")
    rows = {
        (r["correct"], r["misspelling"]): r["freq"]
        for r in corpus.load_mitton_pairs(spark, str(f)).collect()
    }
    assert rows == {
        ("hello", "helo"): 2,
        ("hello", "hllo"): 1,
        ("world", "wrld"): 1,
        ("world", "worlld"): 1,
    }


def test_mini_mitton_blocked_recall_gate(spark):
    """E2E corpus gate on the COMMITTED mini corpus through the full
    blocked path (parse → deletion-key blocking → kernel) — the
    corpus_validation.rs analog on shipped data.  Expected values are
    recomputed here with an independent pure-python DP, so the test fails
    on parser drift, blocking loss, or kernel mis-scoring alike."""
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "data/corpora/mini_mitton.dat"

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expected = []
    cur = None
    for line in path.read_text().splitlines():
        t = line.strip()
        if not t:
            continue
        if t.startswith("$"):
            cur = t[1:]
            continue
        parts = t.split()
        freq = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 1
        expected.append((cur, parts[0], freq, lev(cur, parts[0])))
    n = len(expected)
    tot_f = sum(f for *_, f, _d in [(c, m, f, d) for c, m, f, d in expected])
    exp_d1 = sum(1 for *_, d in expected if d <= 1) / n
    exp_d2 = sum(1 for *_, d in expected if d <= 2) / n
    exp_w2 = sum(f for *_, f, d in expected if d <= 2) / tot_f

    pairs = corpus.load_mitton_pairs(spark, str(path))
    row = corpus.blocked_misspelling_recall(pairs, 2, variant="standard").collect()[0]
    assert row["n_pairs"] == n
    assert row["total_freq"] == tot_f
    assert abs(row["recall_d1"] - exp_d1) < 1e-6
    assert abs(row["recall_d2"] - exp_d2) < 1e-6
    assert abs(row["weighted_recall_d2"] - exp_w2) < 1e-6
    # the corpus plants exactly one beyond-d2 pair: recall_d2 < 1 by design
    assert row["recall_d2"] < 1.0


def test_misspelling_recall_gate(spark, tmp_path):
    """Planted d<=2 typos must give 100% recall@2 — the corpus_validation.rs
    analog on synthetic data (FIXTURES.md T5)."""
    from liblevenshtein_rust_spark.sources import fixtures
    import random

    rng = random.Random(3)
    rows = []
    for w in fixtures.VOCAB[:100]:
        for k in (1, 2):
            rows.append((w, fixtures.apply_typos(w, k, rng)))
    pairs = spark.createDataFrame(rows, "correct string, misspelling string")
    # typos draw from {del, ins, sub, transpose} — transposition variant
    # counts an adjacent swap as one edit (standard counts two)
    rec = corpus.misspelling_recall(pairs, 2, variant="transposition").collect()[0]
    # >= 0.99, not == 1.0: two composed edits touching the same substring
    # (e.g. a substitution inside a transposed pair) can cost 3 under OSA —
    # the same gap the reference's own corpus targets allow
    # (Holbrook 86.6% @ d<=2, corpus_validation.rs:25)
    assert rec["recall_d2"] >= 0.99
    assert 0 < rec["recall_d1"] <= 1.0


# ---------------------------------------------------------------------------
# streaming ingest
# ---------------------------------------------------------------------------


def test_streaming_incremental_ingest(spark, tmp_path):
    src = tmp_path / "feed"
    src.mkdir()
    (src / "batch1.txt").write_text("alpha\nbeta\n")
    dict_path = str(tmp_path / "dict.parquet")
    key_path = str(tmp_path / "keys.parquet")
    ck = str(tmp_path / "ck")

    stream = ingest.stream_terms_from_files(spark, str(src))
    q = ingest.run_incremental_ingest(stream, dict_path, key_path, ck)
    q.awaitTermination(120)

    terms = {r["term"] for r in spark.read.parquet(dict_path).collect()}
    assert terms == {"alpha", "beta"}

    # second file → second availableNow run resumes from the checkpoint and
    # processes ONLY the new file (exactly-once over the source)
    (src / "batch2.txt").write_text("beta\ngamma\n")
    q2 = ingest.run_incremental_ingest(
        ingest.stream_terms_from_files(spark, str(src)), dict_path, key_path, ck
    )
    q2.awaitTermination(120)
    terms2 = {r["term"] for r in spark.read.parquet(dict_path).collect()}
    assert terms2 == {"alpha", "beta", "gamma"}

    # key table consistent with a rebuild
    from liblevenshtein_rust_spark.operators import incremental

    nk = spark.read.parquet(key_path)
    rebuilt = incremental.blocking_key_delta(
        spark.read.parquet(dict_path), n=1
    )
    assert sorted((r["term"], r["key"]) for r in nk.collect()) == sorted(
        (r["term"], r["key"]) for r in rebuilt.collect()
    )


def test_cli_curate(spark, tmp_path, capsys):
    """The curate verb runs the checkpointed pipeline end-to-end and prints
    the per-stage ledger; distinct docs all survive a high near-dup bar."""
    src = str(tmp_path / "docs.parquet")
    rows = [
        (i, f"the quick brown fox jumps over dog {i} plus distinct words "
            f"{'alpha beta' if i % 2 else 'gamma delta'} {i * 17} {i * 31}")
        for i in range(6)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "corpus.parquet")
    cli.COMMANDS["curate"](
        spark,
        cli.build_parser().parse_args(
            [
                "curate", "--docs", src, "--run-dir", str(tmp_path / "run"),
                "--output", out, "--segment-lines", "--line-min-docs", "7",
                "--near-dup-threshold", "0.95",
            ]
        ),
    )
    ledger = json.loads(capsys.readouterr().out)
    assert set(ledger["stages"]) == {"docs", "gate", "lines", "near_dup", "corpus"}
    assert ledger["stages"]["docs"]["rows"] == 6
    assert spark.read.parquet(out).count() == ledger["stages"]["corpus"]["rows"] == 6


def test_cli_config_profile(tmp_path, capsys):
    """config show/set/unset/clear round-trip (no Spark — driver-local),
    plus flag > profile > builtin precedence in query arg resolution."""
    import json as _json

    from liblevenshtein_rust_spark import cli

    prof = str(tmp_path / "prof.json")

    def run(*argv):
        cli.main(["config", *argv, "--profile", prof])
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert run("show")["settings"] == {}
    assert run("set", "max_distance", "3")["settings"] == {"max_distance": 3}
    out = run("set", "algorithm", "transposition")
    assert out["settings"] == {"max_distance": 3, "algorithm": "transposition"}
    assert run("unset", "max_distance")["settings"] == {"algorithm": "transposition"}
    assert run("clear")["settings"] == {}
    # invalid key / algorithm / value all exit nonzero
    import pytest as _pytest

    for argv in (["set", "bogus", "1"], ["set", "algorithm", "nope"],
                 ["set", "max_distance", "abc"], ["set", "dict"]):
        with _pytest.raises(SystemExit):
            cli.main(["config", *argv, "--profile", prof])
    capsys.readouterr()

    # precedence: builtin when profile empty; profile overrides builtin;
    # explicit flag overrides profile
    cli.main(["config", "set", "max_distance", "1", "--profile", prof])
    cli.main(["config", "set", "dict", "/some/dict.parquet", "--profile", prof])
    capsys.readouterr()
    import os

    os.environ["LIBLEVENSHTEIN_SPARK_CONFIG"] = prof
    try:
        p = cli.build_parser()
        a1 = p.parse_args(["query", "--term", "x"])
        cli._resolve_query_defaults(a1)
        assert a1.max_distance == 1 and a1.dict == "/some/dict.parquet"
        assert a1.algorithm == "standard" and a1.format == "parquet"
        a2 = p.parse_args(["query", "--term", "x", "--max-distance", "2"])
        cli._resolve_query_defaults(a2)
        assert a2.max_distance == 2
    finally:
        del os.environ["LIBLEVENSHTEIN_SPARK_CONFIG"]


def test_cli_lineage(tmp_path, capsys):
    """lineage prints the manifest DAG in dependency order (no Spark)."""
    import json as _json
    import os

    run = tmp_path / "run"
    manifests = {
        "entities": {"rows": 10, "partitions": 2, "wall_s": 1.5,
                     "inputs": ["match_edges"], "fingerprint": "f1",
                     "metrics": {}},
        "match_edges": {"rows": 50, "partitions": 4, "wall_s": 2.0,
                        "inputs": ["tokens"], "fingerprint": "f1",
                        "metrics": {"kernel_pairs": 7}},
        "tokens": {"rows": 100, "partitions": 4, "wall_s": 0.5,
                   "inputs": [], "fingerprint": "f1", "metrics": {}},
    }
    for name, man in manifests.items():
        os.makedirs(run / name)
        (run / name / "manifest.json").write_text(_json.dumps(man))
    cli.main(["lineage", "--run-dir", str(run)])
    out = _json.loads(capsys.readouterr().out)
    order = [s["stage"] for s in out["stages"]]
    assert order.index("tokens") < order.index("match_edges") < order.index("entities")
    edges = {s["stage"]: s["inputs"] for s in out["stages"]}
    assert edges["entities"] == ["match_edges"]
    assert out["stages"][1]["metrics"] == {"kernel_pairs": 7}
