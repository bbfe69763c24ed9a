"""Tests of the benchmark itself: its declared metrics, its event-log
parser and layer rows on a tiny traced run, and its output checks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import eventlog, layers, run, workloads  # noqa: E402

# ---------------------------------------------------------------------------
# the declared benchmark matches the code
# ---------------------------------------------------------------------------


def test_benchmark_json_matches_code():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_dedup",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""


# ---------------------------------------------------------------------------
# event-log parser on a hand-made log
# ---------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def _task(stage, run_ms, acc):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {
            "Launch Time": 1000, "Finish Time": 1000 + run_ms,
            "Accumulables": [
                {"ID": a, "Update": str(v), "Metadata": "sql"} for a, v in acc
            ] + [{"ID": 999, "Update": 5}],  # not a SQL metric: ignored
        },
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
            "JVM GC Time": 1, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Output Metrics": {"Bytes Written": 7},
        },
    }


def _events():
    plan = {
        "nodeName": "Filter", "metrics": [
            {"name": "number of output rows", "accumulatorId": 1, "metricType": "sum"}],
        "children": [{"nodeName": "InputAdapter", "metrics": [], "children": [{
            "nodeName": "ArrowEvalPython", "metrics": [
                {"name": "number of output rows", "accumulatorId": 2, "metricType": "sum"},
                {"name": "time to run Python workers", "accumulatorId": 3,
                 "metricType": "timing"}],
            "children": []}]}],
    }
    return [
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerJobStart", "Properties": {}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0},
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0}, "Properties": {}},
        {"Event": _SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
         "jobGroupId": "g", "sparkPlanInfo": plan},
        _task(0, 200, [(1, 3), (2, 10), (3, 40)]),
        _task(0, 300, [(1, 4), (2, 10), (3, 60)]),
        _task(1, 1000, [(2, 99)]),
        {"Event": _SQL + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[1, 1]]},
    ]


def test_parser_rolls_up_per_job_group():
    log = eventlog.parse(_events())
    g = log.groups["g"]
    assert (g.jobs, g.tasks) == (1, 2)
    assert g.run_s == pytest.approx(0.5)
    assert g.cpu_s == pytest.approx(0.25)
    assert g.busy_s == pytest.approx(0.5)
    assert (g.shuffle_write_bytes, g.output_bytes) == (200, 14)
    assert log.metrics[1].child == "ArrowEvalPython"
    assert log.metrics[3].path == ("Filter", "InputAdapter")
    rows = log.node_sum(g, lambda m: m.node == "ArrowEvalPython"
                        and m.metric == "number of output rows")
    assert rows == 20  # the ungrouped stage's 99 rows stay out
    assert log.node_sum(g, lambda m: m.node == "Filter") == 8  # 3 + 4 + driver 1
    assert log.node_sum(g, lambda m: m.metric.startswith("time to run")) == pytest.approx(0.1)
    assert log.groups[None].tasks == 1


# ---------------------------------------------------------------------------
# the output checks fail on corrupted outputs
# ---------------------------------------------------------------------------


def test_er_check_rejects_merged_entities_and_changed_digest():
    truth = pd.Series([0, 0, 1, 1, 2, 3], index=[f"d{i}" for i in range(6)])
    good = pd.DataFrame({"doc_id": truth.index, "entity": ["d0", "d0", "d2", "d2", "d4", "d5"]})
    digest = {"entities": 4, "kernel_pairs": 10, "edge_rows": 2}
    assert workloads.check_er(good, truth, digest, digest) == ([], 1.0)

    merged = good.assign(entity=["d0", "d0", "d0", "d0", "d4", "d5"])
    problems, f1 = workloads.check_er(merged, truth, digest, digest)
    assert f1 < 0.99 and any("F1" in p for p in problems)
    changed = dict(digest, kernel_pairs=11)
    assert workloads.check_er(good, truth, changed, digest)[0]
    assert workloads.check_er(good.iloc[:5], truth, digest, digest)[0]


def test_fuzzy_check_rejects_missing_source_and_wrong_distance():
    planted = [("tesst", "test")]
    rows = [("tesst", "test", 1), ("tesst", "tests", 2)]
    assert workloads.check_fuzzy(rows, planted, "standard", 2) == []
    assert workloads.check_fuzzy(rows[1:], planted, "standard", 2)
    assert workloads.check_fuzzy([("tesst", "test", 2)] + rows[1:], planted, "standard", 2)


def test_kernel_checks_reject_wrong_distance_and_count():
    rows = [("abcd", "abdc", 1), ("abcd", "wxyz", -1), ("abcd", "abcd", 0)]
    assert workloads.check_kernel_sample(rows, "transposition", 2) == []
    assert workloads.check_kernel_sample([("abcd", "abdc", 2)], "transposition", 2)
    assert workloads.check_kernel_sample([("abcd", "wxyz", 4)], "transposition", 2)
    assert workloads.check_count(5, 5) == [] and workloads.check_count(5, None) == []
    assert workloads.check_count(4, 5)


# ---------------------------------------------------------------------------
# a tiny traced run: spans + event log -> layer rows
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    saved = dict(os.environ)
    work = tmp_path_factory.mktemp("work")
    cpus = run.configure_env(work)
    evdir = work / "eventlog"
    spark = run.start_session(work, "perfbench-test", evdir)
    try:
        yield spark, work, evdir, cpus
    finally:
        run.stop_jvm()
        os.environ.clear()
        os.environ.update(saved)


def test_tiny_traced_run_pins_layer_rows(traced):
    from dataclasses import asdict

    from pyspark.sql import functions as F

    from liblevenshtein_rust_spark.functions.udfs import edit_distance_udf
    from liblevenshtein_rust_spark.kernel.distances import distance
    from liblevenshtein_rust_spark.operators import matching
    from liblevenshtein_rust_spark.pipeline import er
    from liblevenshtein_rust_spark.pipeline.runstate import Runstate
    from liblevenshtein_rust_spark.sources import fixtures

    spark, work, evdir, cpus = traced
    tracer = layers.Tracer(spark.sparkContext)

    docs = fixtures.generate_docs(spark, 300, seed=5, partitions=2).select("doc_id", "spans")
    cfg = er.ERConfig(max_df=10, static_shuffle_partitions=2)
    run_dir = str(work / "er")
    with tracer.patched(layers.package_targets()), tracer.span("er.run_pipeline") as er_op:
        er.run_pipeline(spark, docs, run_dir, cfg)
    manifests = Runstate(spark, run_dir, asdict(cfg)).manifests()
    n_entities = spark.read.parquet(run_dir + "/entities/data").select("entity").distinct().count()

    rng = random.Random(1)
    words = fixtures.random_dictionary(300, seed=2, min_len=4, max_len=9)
    pairs = [(w, fixtures.apply_typos(w, rng.randint(0, 4), rng)) for w in words]
    pdf = spark.createDataFrame(pd.DataFrame(pairs, columns=["a", "b"]))
    dist = edit_distance_udf(2, "transposition")
    with tracer.span("kernel.edit_distance_udf") as k_op:
        n_acc = pdf.select(dist(F.col("a"), F.col("b")).alias("d")).where(F.col("d") >= 0).count()
    oracle_acc = sum(distance(a, b, "transposition") <= 2 for a, b in pairs)

    probes = [fixtures.apply_typos(w, 1, rng) for w in words[:5]]
    dictionary = spark.createDataFrame(pd.DataFrame({"term": words}))
    with tracer.span("matching.fuzzy_query") as f_op:
        found = matching.fuzzy_query(
            spark.createDataFrame(pd.DataFrame({"query": probes})), dictionary, 2, "standard"
        ).collect()
    oracle_matches = {(q, t) for q in probes for t in words if distance(q, t, "standard") <= 2}

    run.stop_jvm()
    log = eventlog.parse(eventlog.read_events(str(evdir)))
    ctx = {"session_s": 1.0, "stage_s": 2.0, "input_bytes": 1000, "manifests": manifests,
           "components": n_entities, "untraced_median_s": 0.0}

    er_rows = layers.derive(log, tracer, er_op, cpus, ctx)
    assert set(er_rows) == {name for name, _ in layers.PER_LAYER}
    for s in layers.STAGES:
        assert er_rows[f"stage.{s}.wall_s"] > 0
        assert er_rows[f"stage.{s}.rows"] == manifests[s]["rows"]
        assert er_rows[f"stage.{s}.task_run_s"] > 0
        assert 0 <= er_rows[f"stage.{s}.slot_idle_frac"] <= 1
    assert er_rows["stage.docs.rows"] == 300
    assert er_rows["kernel.accepted"] == manifests["token_matches"]["metrics"]["kernel_pairs"]
    assert er_rows["blocking.candidate_pairs"] == er_rows["kernel.rows_in"] > 0
    assert er_rows["blocking.key_rows"] > er_rows["blocking.join_rows"] >= er_rows["kernel.rows_in"]
    assert er_rows["edges.rows"] == manifests["match_edges"]["rows"]
    assert er_rows["edges.evidence_rows"] >= er_rows["edges.rows"]
    assert er_rows["clustering.components"] == n_entities
    assert er_rows["clustering.jobs"] >= 1
    assert er_rows["runstate.bytes_written"] > 0
    assert er_rows["matching.matches"] == 0

    k_rows = layers.derive(log, tracer, k_op, cpus, ctx)
    assert k_rows["kernel.rows_in"] == len(pairs)
    assert k_rows["kernel.accepted"] == n_acc == oracle_acc
    assert k_rows["kernel.bytes_sent"] > 0 and k_rows["kernel.run_s"] > 0
    assert k_rows["stage.token_matches.wall_s"] == 0 and k_rows["blocking.key_rows"] == 0

    f_rows = layers.derive(log, tracer, f_op, cpus, ctx)
    assert f_rows["matching.matches"] == len(found) == len(oracle_matches)
    assert f_rows["matching.candidate_pairs"] == f_rows["kernel.rows_in"] >= len(found)
    assert f_rows["matching.dict_key_rows"] > len(words)
    assert f_rows["trace.wall_s"] == pytest.approx(f_op.wall_s)
