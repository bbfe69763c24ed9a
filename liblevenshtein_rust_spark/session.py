"""SparkSession factory tuned for the ER engine.

Local-mode defaults mirror what we would set on a 1000-executor cluster:
AQE on (runtime skew-join splitting + partition coalescing), Arrow enabled
for every pandas UDF batch, shuffle partitions sized to cores (locally) or
to ~2-3x total cores (cluster), session timezone pinned to UTC so results
are comparable with the DuckDB oracle.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


# cgroup v2, then v1: a container's memory limit ("max" or a huge v1
# value when unlimited); physical pages report the host, not the container
CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def host_memory_bytes() -> int:
    """Physical memory, or the cgroup memory limit when that is smaller."""
    mem = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    for path in CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            mem = min(mem, int(limit))
    return mem


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEM`` is unset: 48g, or
    half of the host's (or container's) memory when that is smaller — a
    local-mode driver heap sized past it invites the kernel's OOM killer."""
    return f"{min(48 << 10, host_memory_bytes() // 2 >> 20)}m"


def get_spark(
    app_name: str = "liblevenshtein_rust_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores=None`` → ``local[$SPARK_GRAFT_CPUS]`` (driver contract).
    ``shuffle_partitions`` defaults to 4x the core count (the standard
    2-4x rule): finer tasks bound per-task memory in wide self-joins (32
    core-wide partitions in one heap caused GC storms), and AQE coalesces
    whatever ends up small; every operator also takes explicit
    ``num_partitions`` overrides so the same code scales by config.
    """
    n = cores or default_parallelism()
    sp = shuffle_partitions or n * 4
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def conf_scope(spark: SparkSession, overrides: dict):
    """Set the session conf ``overrides`` (a ``None`` value leaves its key
    alone) for the ``with`` body, then restore each key to its prior value
    (unset when it had none), also when the body raises.  Conf is read when
    a plan executes, so the body must run the jobs it is meant for."""
    overrides = {k: str(v) for k, v in overrides.items() if v is not None}
    saved = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# pooled persist registry — caches that outlive their operator call
# ---------------------------------------------------------------------------
# Operators persist expensive reused intermediates (shingle tables, key
# tables, fingerprints).  A lazy DataFrame API can't unpersist them inside
# the operator (the returned plan still references them), so they register
# here and the *materializing* caller — bench between queries, the ER
# pipeline after each checkpointed stage, tests — calls release_pooled()
# once the consuming plan has been executed.  Unpersisting a plain persist()
# is always safe (Spark falls back to recompute); entries registered with
# ``checkpointed=True`` (localCheckpoint: lineage is truncated, recompute
# impossible) are only released explicitly for objects the caller knows are
# dead, which release_pooled() honors by releasing them too — callers must
# therefore only invoke it at a true materialization boundary.

_POOLED: list = []


def pooled_persist(df):
    """persist() + register for a later release_pooled()."""
    out = df.persist()
    _POOLED.append(out)
    return out


def register_pooled(df):
    """Register an already-persisted/checkpointed DataFrame for release."""
    _POOLED.append(df)
    return df


def release_pooled() -> int:
    """Unpersist every registered cache; returns how many were released.
    Call only after the plans consuming them have been materialized."""
    n = 0
    while _POOLED:
        df = _POOLED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n
