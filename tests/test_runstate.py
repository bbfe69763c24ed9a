"""Runstate stage protocol: one write per fresh stage, no job on resume.

A fresh stage writes its frame once and reads it back with the schema it
wrote; a resumed stage reads with the manifest's ``schema``.  Neither read
may start a Spark job (a schema-less ``read.parquet`` runs a footer-merge
job), so a fresh stage costs exactly its write job and a resumed stage
costs none.  Job counts come from a job group and ``statusTracker``.
"""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.pipeline.runstate import Runstate
from liblevenshtein_rust_spark.session import get_spark
from liblevenshtein_rust_spark.sources import fixtures


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_runstate", cores=4, shuffle_partitions=4)


def _flat(spark):
    return spark.range(0, 500, 1, 2).select(
        "id",
        (F.col("id") % 7).alias("k"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("s"),
    )


def _docs(spark):
    # the ER input contract: spans is a nested array<struct>
    return fixtures.generate_docs(spark, 120, seed=5, partitions=2).select(
        "doc_id", "spans"
    )


FRAMES = {"flat": _flat, "docs": _docs}


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"runstate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the tracker learns of jobs from the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("kind", sorted(FRAMES))
def test_fresh_stage_one_job_resumed_stage_none(spark, tmp_path, kind):
    src = FRAMES[kind](spark)
    run_dir = str(tmp_path / "run")

    fresh, n_fresh = _jobs(
        spark, lambda: Runstate(spark, run_dir).stage("s", lambda: src)
    )
    assert n_fresh == 1
    man = Runstate(spark, run_dir).manifest("s")
    assert man["schema"] == src.schema.jsonValue()

    def build():
        raise AssertionError("a resumed stage must not rebuild")

    resumed, n_resumed = _jobs(
        spark, lambda: Runstate(spark, run_dir).stage("s", build)
    )
    assert n_resumed == 0
    assert Runstate(spark, run_dir).manifest("s")["ts"] == man["ts"]
    assert resumed.schema == fresh.schema
    assert _rows(resumed) == _rows(fresh) == _rows(src)


def test_manifest_without_schema_reruns(spark, tmp_path):
    run_dir = str(tmp_path / "run")
    src = _flat(spark)
    Runstate(spark, run_dir).stage("s", lambda: src)
    mpath = os.path.join(run_dir, "s", "manifest.json")
    with open(mpath) as f:
        man = json.load(f)
    del man["schema"]
    with open(mpath, "w") as f:
        json.dump(man, f)

    out = Runstate(spark, run_dir).stage("s", lambda: src)
    again = Runstate(spark, run_dir).manifest("s")
    assert again["ts"] != man["ts"]
    assert again["schema"] == src.schema.jsonValue()
    assert _rows(out) == _rows(src)


def test_metrics_read_after_the_write(spark, tmp_path):
    """``metrics`` takes no argument and runs after the write, so it can
    report an ``Observation`` the build attached to its own frame."""
    from pyspark.sql import Observation

    obs = Observation()
    out = Runstate(spark, str(tmp_path / "run")).stage(
        "s",
        lambda: _flat(spark).observe(obs, F.max("k").alias("max_k")),
        metrics=lambda: obs.get,
    )
    man = Runstate(spark, str(tmp_path / "run")).manifest("s")
    assert man["metrics"] == {"max_k": 6}
    assert man["rows"] == out.count() == 500
