"""Resumable run state — per-stage checkpoints with lineage + metrics.

The north rule demands "resumable from checkpoint with per-partition
lineage + metrics".  The reference's analog is the 8-byte contextual
checkpoint (``/root/reference/src/contextual/checkpoint.rs:14-18`` —
cheap, frequent snapshots) and the undo stack (``engine.rs:646,697``).

Spark restatement: a pipeline run is a DAG of *stages*; each stage's output
is written once to parquet under ``<run_dir>/<stage>/data`` together with a
manifest ``<run_dir>/<stage>/manifest.json`` recording

- ``rows``            — output row count,
- ``partitions``      — number of output files/partitions (per-partition
                        lineage: each parquet part maps 1:1 to the task that
                        produced it, and the manifest records the stage's
                        input manifests so provenance is a chain),
- ``inputs``          — upstream stage names (lineage edges),
- ``wall_s``          — stage wall time,
- ``metrics``         — stage-specific counters (hot keys dropped,
                        candidate pairs scored, ...),
- ``schema``          — the written frame's schema (``StructType`` JSON),
- ``fingerprint``     — config fingerprint; a resume with a different
                        config refuses to reuse the stage.

``Runstate.stage(...)`` is idempotent: if the manifest exists and the
fingerprint matches, the stage is *skipped* and its parquet is read back —
so a killed run resumes exactly where it stopped (tested by
``tests/test_pipeline_e2e.py::test_resume``).  Writes go to a temp dir
that is renamed before the manifest is durably written, so a crash
mid-stage never leaves a half-stage that a resume would trust.

One read per stage: a fresh stage writes once and reads its output back
once, after the rename, with the schema it wrote; a resumed stage reads
with the manifest's ``schema``.  A read with a given schema starts no
Spark job (a schema-less ``read.parquet`` runs one footer-merge job), so a
fresh stage runs only its write's jobs and a resumed one runs none.  Run
dirs written before manifests carried ``schema`` have no such field: their
stages re-run, exactly as after a config change.

The fingerprint hashes every field of the config, so adding or removing a
field changes it even where no value changed: run dirs written before
``ERConfig`` dropped ``num_partitions`` re-run every stage.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..session import conf_scope


def _fingerprint(cfg: dict) -> str:
    import hashlib

    return hashlib.sha256(
        json.dumps(cfg, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


@dataclass
class Runstate:
    spark: SparkSession
    run_dir: str
    config: dict = field(default_factory=dict)
    completed: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        os.makedirs(self.run_dir, exist_ok=True)
        self.fingerprint = _fingerprint(self.config)

    # -- manifest helpers ---------------------------------------------------

    def _paths(self, stage: str) -> tuple[str, str, str]:
        base = os.path.join(self.run_dir, stage)
        return base, os.path.join(base, "data"), os.path.join(base, "manifest.json")

    def manifest(self, stage: str) -> dict | None:
        _, _, mpath = self._paths(stage)
        if not os.path.exists(mpath):
            return None
        with open(mpath) as f:
            return json.load(f)

    def manifests(self) -> dict[str, dict]:
        out = {}
        if os.path.isdir(self.run_dir):
            for s in sorted(os.listdir(self.run_dir)):
                m = self.manifest(s)
                if m is not None:
                    out[s] = m
        return out

    # -- the stage protocol -------------------------------------------------

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        inputs: tuple[str, ...] = (),
        metrics: Callable[[], dict] | None = None,
        observe: dict | None = None,
        shuffle_partitions: int | None = None,
    ) -> DataFrame:
        """Run (or resume) one stage; returns its output DataFrame.

        On a fresh run: ``build()`` → write parquet → write manifest.
        On resume: manifest present + fingerprint match + recorded schema →
        read parquet back with that schema (lineage is truncated at the
        checkpoint, exactly like the reference's resumable contexts).

        ``observe`` maps metric name → aggregate Column; these are collected
        *during the write job itself* (``df.observe``) — zero extra scans.
        ``metrics`` is called once after the write and its dict merged into
        the manifest's ``metrics``: it reports counters the build gathered
        on the side (a band record, an ``Observation`` of its own), and must
        not start Spark jobs — at the latency floor every extra per-stage
        job is pure fixed cost.

        ``shuffle_partitions`` scopes ``spark.sql.shuffle.partitions`` around
        this stage's build AND write: stages whose output is far smaller than
        their input (the CC fixpoint + singleton attach) size their own
        exchanges to the data, and the session/pipeline default would plan
        the stage's final exchanges at the global count (conf is read at
        execution, which happens in the write below — an override inside the
        build closure would be restored too early).
        """
        from pyspark.sql.types import StructType

        _, dpath, _ = self._paths(name)
        m = self.manifest(name)
        if (
            m is not None
            and m.get("fingerprint") == self.fingerprint
            and "schema" in m
        ):
            self.completed[name] = m
            return self.spark.read.schema(StructType.fromJson(m["schema"])).parquet(
                dpath
            )

        with conf_scope(self.spark, {"spark.sql.shuffle.partitions": shuffle_partitions}):
            return self._run_stage(name, build, inputs, metrics, observe)

    def _run_stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        inputs: tuple[str, ...],
        metrics: Callable[[], dict] | None,
        observe: dict | None,
    ) -> DataFrame:
        base, dpath, mpath = self._paths(name)
        if os.path.isdir(base):
            shutil.rmtree(base)
        t0 = time.time()
        df = build()
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        # row count rides the write job itself (one more agg column in the
        # same observation) — a follow-up .count() would re-scan the written
        # parquet, one extra job per stage of pure fixed cost
        cols = dict(observe or {})
        cols.setdefault("__rows", F.count(F.lit(1)))
        df = df.observe(obs, *[c.alias(k) for k, c in cols.items()])
        schema = df.schema
        tmp = dpath + ".tmp"
        df.write.mode("overwrite").parquet(tmp)
        n_files = len(
            [
                f
                for root, _, files in os.walk(tmp)
                for f in files
                if f.endswith(".parquet")
            ]
        )
        observed = {
            k: (v.item() if hasattr(v, "item") else v) for k, v in obs.get.items()
        }
        rows = int(observed.pop("__rows") or 0)
        stage_metrics: dict = observed
        if metrics:
            stage_metrics.update(metrics())
        man = {
            "stage": name,
            "rows": rows,
            "partitions": n_files,
            "inputs": list(inputs),
            "wall_s": round(time.time() - t0, 3),
            "fingerprint": self.fingerprint,
            "metrics": stage_metrics,
            "schema": schema.jsonValue(),
            "ts": time.time(),
        }
        os.rename(tmp, dpath)
        with open(mpath + ".tmp", "w") as f:
            json.dump(man, f, indent=1)
        os.replace(mpath + ".tmp", mpath)
        self.completed[name] = man
        # with the written schema the read back starts no footer-merge job
        return self.spark.read.schema(schema).parquet(dpath)
