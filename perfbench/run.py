"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload er_dedup --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The run

1. sizes Spark to the host from outside the package (``SPARK_GRAFT_CPUS``
   = usable cores, a fixed 2 GB driver heap) and keeps every file it writes
   under ``.bench_work/`` in the checkout;
2. sets up: starts the session, stages the seeded inputs (cached, see
   :class:`perfbench.workloads.StagedCache`) and runs untimed warm-up ops
   for at least ``WARMUP_S`` seconds;
3. runs a closed loop with one client: the next op starts when the previous
   one and its output check are done, until the timed ops add up to
   ``--seconds``; no op is dropped and no reading is picked afterwards;
4. with ``--trace 1``, then restarts the session with Spark's event log on,
   warms it up the same way, runs one op with spans around the package's
   layer calls, and reports the per-layer rows of :mod:`perfbench.layers`.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer ones with ``--trace 1``).  The full record of the run, host
stamps and every sample included, goes to ``.bench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import threading
import time
import traceback
from contextlib import contextmanager, nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
DRIVER_MEM = "2g"          # a fixed heap; leaves most of a 15 GB host free
OP_TIMEOUT_S = 60.0        # an op still running then is cancelled and failed
WINDOW_DEADLINE_S = 110.0  # no new op starts this long after process start
TRACED_DEADLINE_S = 75.0   # the same when a traced session must still fit
WARMUP_S = 5.0             # set-up runs untimed ops for at least this long

END_TO_END = [
    ("setup_s", "s"),
    ("run_wall_s", "s"),
    ("items_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
]


def configure_env(work: Path) -> int:
    """Point every process and temp file at ``work``; return the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # every JVM, the spark-submit launcher included: temp files in the
        # checkout, and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
    })
    tempfile.tempdir = None
    return cpus


def start_session(work: Path, app: str, eventlog_dir: Path | None = None):
    from liblevenshtein_rust_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap: no run-to-run heap resizing decisions
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }
    if eventlog_dir is not None:
        eventlog_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            # Spark 4 defaults to zstd, and no zstd module is installed
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": eventlog_dir.as_uri(),
        })
    spark = get_spark(app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session and the gateway JVM it runs in."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


@contextmanager
def op_timeout(spark, seconds: float):
    timer = threading.Timer(seconds, spark.sparkContext.cancelAllJobs)
    timer.daemon = True
    timer.start()
    try:
        yield
    finally:
        timer.cancel()


class Run:
    """State of one benchmark invocation."""

    def __init__(self, wl, seed: int, seconds: float, work: Path, cpus: int):
        from perfbench.workloads import StagedCache

        self.wl, self.seed, self.seconds = wl, seed, seconds
        self.work, self.cpus = work, cpus
        self.cache = StagedCache(str(work / "inputs"))
        self.t_start = time.monotonic()
        self.attempted = self.failed = 0
        self.problems: list = []
        self.ops: list = []
        self.op_index = 0

    def one_op(self, spark, timed: bool, around=nullcontext) -> float | None:
        """Run, time and check one op; returns its wall (None on error).
        ``around()`` is entered around the op itself (a tracing span)."""
        i = self.op_index
        self.op_index += 1
        self.wl.prepare(i)
        t0 = time.perf_counter()
        try:
            with op_timeout(spark, OP_TIMEOUT_S), around():
                out = self.wl.run_once(spark, i)
        except Exception as e:  # a failed op is counted, never fatal
            wall = time.perf_counter() - t0
            problems, info = [f"op {i}: {type(e).__name__}: {str(e)[:300]}"], {}
            ok_wall = None
        else:
            wall = ok_wall = time.perf_counter() - t0
            problems, info = self.wl.check(spark, out)
        if timed:
            self.attempted += 1
            self.failed += bool(problems)
        self.problems += problems
        self.ops.append({"i": i, "timed": timed, "wall_s": wall, "ok": not problems, **info})
        return ok_wall

    def setup(self, spark_app: str, eventlog_dir: Path | None = None):
        t0 = time.perf_counter()
        spark = start_session(self.work, spark_app, eventlog_dir)
        t1 = time.perf_counter()
        self.wl.stage(spark, self.seed, self.cache, str(self.work))
        t2 = time.perf_counter()
        # warm up until the JIT, codegen cache and Python workers settle: the
        # first ops of a session run slower for several seconds
        while time.perf_counter() - t2 < WARMUP_S:
            self.one_op(spark, timed=False)
        t3 = time.perf_counter()
        return spark, {"session_s": t1 - t0, "stage_s": t2 - t1, "warmup_s": t3 - t2}

    def window(self, spark, deadline_s: float) -> dict:
        from perfbench.host import RssSampler

        walls: list = []
        timed = 0.0
        with RssSampler() as rss:
            while timed < self.seconds and time.monotonic() - self.t_start < deadline_s:
                wall = self.one_op(spark, timed=True)
                timed += self.ops[-1]["wall_s"]
                if wall is not None:
                    walls.append(wall)
        verify = self.wl.verify(spark)
        if verify:
            # the kernel that produced every output of this run is wrong
            self.failed = self.attempted
            self.problems += verify
        return {"walls": walls, "timed_s": timed, "peak_rss_mb": rss.peak_mb,
                "peak_rss_parts_mb": rss.peak_parts}


def measure(args, work: Path, cpus: int) -> tuple[dict, dict]:
    from perfbench import host, layers, workloads

    wl = workloads.WORKLOADS[args.workload]()
    run = Run(wl, args.seed, args.seconds, work, cpus)
    detail: dict = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "driver_mem": DRIVER_MEM,
        "host_before": host.stamp(),
    }
    spark, setup = run.setup(f"perfbench-{args.workload}")
    deadline = TRACED_DEADLINE_S if args.trace else WINDOW_DEADLINE_S
    win = run.window(spark, deadline)
    stop_jvm()
    median = statistics.median(win["walls"]) if win["walls"] else 0.0
    e2e = {
        "setup_s": setup["session_s"] + setup["stage_s"] + setup["warmup_s"],
        "run_wall_s": median,
        # work per second at the median op: docs, probes or pairs per second
        "items_per_s": wl.items / median if median else 0.0,
        "peak_rss_mb": win["peak_rss_mb"],
    }
    detail.update(setup=setup, window=win, end_to_end=e2e)
    if win["walls"]:
        detail["tail"] = dict([layers.percentile_supported(win["walls"])])
    metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

    if args.trace:
        rows = traced_op(run, wl, median, setup, detail)
        metrics = {k: {"value": rows[k], "unit": u} for k, u in layers.PER_LAYER}
    detail["host_after"] = host.stamp()
    detail["ops"] = run.ops
    detail["problems"] = run.problems
    result = {
        "correct": run.failed == 0 and not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    return result, detail


def traced_op(run: Run, wl, untraced_median: float, setup: dict, detail: dict) -> dict:
    """A fresh session with the event log on: warm-up ops, then one op with
    spans around the package's layer calls."""
    from perfbench import eventlog, layers

    evdir = run.work / "eventlog" / f"{wl.name}-s{run.seed}-{os.getpid()}"
    spark, traced_setup = run.setup(f"perfbench-{wl.name}-traced", evdir)
    tracer = layers.Tracer(spark.sparkContext)
    with tracer.patched(layers.package_targets()):
        run.one_op(spark, timed=True, around=lambda: tracer.span(wl.op_span))
    op, info = tracer.spans[0], run.ops[-1]
    info["traced"] = True
    manifests = wl.manifests(spark)
    stop_jvm()  # flushes and closes the event log
    log = eventlog.parse(eventlog.read_events(str(evdir)))
    ctx = {
        "session_s": setup["session_s"],
        "stage_s": setup["stage_s"],
        "input_bytes": wl.input_bytes,
        "manifests": manifests,
        "components": info.get("entities", 0),
        "untraced_median_s": untraced_median,
    }
    rows = layers.derive(log, tracer, op, run.cpus, ctx)
    detail["traced"] = {
        "setup": traced_setup,
        "spans": [vars(s) for s in tracer.spans],
        "untraced_groups": log.groups[None].jobs if None in log.groups else 0,
        "rows": rows,
    }
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "liblevenshtein_rust_spark" / "__init__.py").is_file():
        print(f"perfbench: no liblevenshtein_rust_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work"
    cpus = configure_env(work)
    try:
        result, detail = measure(args, work, cpus)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        host.reap_children()
    out = work / "results"
    out.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}.json"
    with open(out / name, "w") as f:
        json.dump({"result": result, "detail": detail}, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
