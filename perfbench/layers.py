"""Spans around the package's layer calls, and the per-layer metric rows.

Spans live in the benchmark, not in the package: :class:`Tracer` wraps the
public layer functions from outside (``Runstate.stage``,
``er.vocab_token_matches``, ``er.doc_match_edges``,
``clustering.cluster_matches``) and gives every span its own Spark job
group.  :func:`derive` joins the spans with the parsed event log
(:mod:`perfbench.eventlog`) into the named rows of ``PER_LAYER``.

A workload that never enters a layer reports that layer's rows as 0: for
example ``score_kernel`` runs no Runstate stage.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGES = ("docs", "tokens", "token_matches", "match_edges", "entities")
_STAGE_FIELDS = (
    ("wall_s", "s"),
    ("rows", "count"),
    ("task_run_s", "s"),
    ("task_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("slot_idle_frac", "fraction"),
)

# (name, unit) of every per-layer row, in report order
PER_LAYER = (
    [
        ("session.start_s", "s"),
        ("sources.stage_s", "s"),
        ("sources.input_bytes", "bytes"),
    ]
    + [(f"stage.{s}.{f}", u) for s in STAGES for f, u in _STAGE_FIELDS]
    + [
        ("runstate.bytes_written", "bytes"),
        ("runstate.bytes_per_input_byte", "ratio"),
        ("blocking.key_rows", "count"),
        ("blocking.join_rows", "count"),
        ("blocking.candidate_pairs", "count"),
        ("blocking.join_build_s", "s"),
        ("blocking.distinct_ratio", "ratio"),
        ("matching.dict_key_rows", "count"),
        ("matching.candidate_pairs", "count"),
        ("matching.matches", "count"),
        ("kernel.rows_in", "count"),
        ("kernel.accepted", "count"),
        ("kernel.accept_ratio", "ratio"),
        ("kernel.bytes_sent", "bytes"),
        ("kernel.worker_start_s", "s"),
        ("kernel.worker_init_s", "s"),
        ("kernel.run_s", "s"),
        ("kernel.rows_per_run_s", "1/s"),
        ("edges.evidence_rows", "count"),
        ("edges.rows", "count"),
        ("clustering.jobs", "count"),
        ("clustering.components", "count"),
        ("op.jobs", "count"),
        ("op.task_run_s", "s"),
        ("op.task_cpu_s", "s"),
        ("op.shuffle_write_bytes", "bytes"),
        ("op.slot_idle_frac", "fraction"),
        ("trace.wall_s", "s"),
        ("trace.overhead_s", "s"),
    ]
)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory spans; each span is the Spark job group of the jobs it
    submits directly (a child span's jobs belong to the child)."""

    sc: object
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"perfbench-{len(self.spans)}", name, parent and parent.id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def patched(self, targets):
        """Wrap ``owner.attr`` in a span for every ``(owner, attr, namer)``;
        ``namer`` is the span name or a function of the call arguments."""
        saved = []
        try:
            for owner, attr, namer in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(orig, namer))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _wrap(self, fn, namer):
        def traced(*args, **kwargs):
            name = namer(args, kwargs) if callable(namer) else namer
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def subtree(self, root: Span) -> list[str]:
        """Ids of ``root`` and every span nested under it."""
        ids = [root.id]
        for s in self.spans:
            if s.parent in ids:
                ids.append(s.id)
        return ids

    def children(self, root: Span, name: str) -> list[Span]:
        ids = set(self.subtree(root))
        return [s for s in self.spans if s.id in ids and s.name == name]


def package_targets():
    """The package's layer entry points the traced run puts spans around."""
    from liblevenshtein_rust_spark.operators import clustering
    from liblevenshtein_rust_spark.pipeline import er, runstate

    return [
        (runstate.Runstate, "stage",
         lambda a, kw: "stage." + (a[1] if len(a) > 1 else kw["name"])),
        (er, "vocab_token_matches", "blocking.vocab_token_matches"),
        (er, "doc_match_edges", "edges.doc_match_edges"),
        (clustering, "cluster_matches", "clustering.cluster_matches"),
    ]


def _rows(m) -> bool:
    return m.metric == "number of output rows"


def _is_join(m) -> bool:
    return m.node.endswith("Join")


def _py(metric: str):
    return lambda m: m.node == "ArrowEvalPython" and m.metric == metric


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _idle(stats, wall_s: float, slots: int) -> float:
    if wall_s <= 0:
        return 0.0
    return min(1.0, max(0.0, 1.0 - stats.busy_s / (wall_s * slots)))


def derive(log, tracer: Tracer, op: Span, slots: int, ctx: dict) -> dict:
    """Every ``PER_LAYER`` row for one traced op.

    ``ctx`` carries what the benchmark measured itself: ``session_s``,
    ``stage_s``, ``input_bytes``, ``manifests`` (stage -> Runstate
    manifest, ER only), ``components`` (ER only) and ``untraced_median_s``.
    """
    out = {name: 0.0 for name, _ in PER_LAYER}
    manifests = ctx.get("manifests", {})
    total = log.rollup(tracer.subtree(op))
    out.update({
        "session.start_s": ctx["session_s"],
        "sources.stage_s": ctx["stage_s"],
        "sources.input_bytes": ctx["input_bytes"],
        "op.jobs": total.jobs,
        "op.task_run_s": total.run_s,
        "op.task_cpu_s": total.cpu_s,
        "op.shuffle_write_bytes": total.shuffle_write_bytes,
        "op.slot_idle_frac": _idle(total, op.wall_s, slots),
        "trace.wall_s": op.wall_s,
        "trace.overhead_s": op.wall_s - ctx["untraced_median_s"],
    })

    # kernel: the ArrowEvalPython node(s) and the accept filter right above
    rows_in = log.node_sum(total, _py("number of output rows"))
    accepted = log.node_sum(
        total, lambda m: m.node == "Filter" and m.child == "ArrowEvalPython" and _rows(m)
    )
    run_s = log.node_sum(total, _py("time to run Python workers"))
    out.update({
        "kernel.rows_in": rows_in,
        "kernel.accepted": accepted,
        "kernel.accept_ratio": _ratio(accepted, rows_in),
        "kernel.bytes_sent": log.node_sum(total, _py("data sent to Python workers")),
        "kernel.worker_start_s": log.node_sum(total, _py("time to start Python workers")),
        "kernel.worker_init_s": log.node_sum(total, _py("time to initialize Python workers")),
        "kernel.run_s": run_s,
        "kernel.rows_per_run_s": _ratio(rows_in, run_s),
    })

    if op.name == "matching.fuzzy_query":
        out.update({
            "matching.dict_key_rows": log.node_sum(
                total,
                lambda m: m.node == "Generate" and _rows(m)
                and "BroadcastExchange" not in m.path,
            ),
            "matching.candidate_pairs": rows_in,
            "matching.matches": accepted,
        })

    stages = {}
    for s in STAGES:
        found = tracer.children(op, f"stage.{s}")
        if not found:
            continue
        span = found[0]
        st = log.rollup(tracer.subtree(span))
        stages[s] = st
        out.update({
            f"stage.{s}.wall_s": span.wall_s,
            f"stage.{s}.rows": manifests.get(s, {}).get("rows", 0),
            f"stage.{s}.task_run_s": st.run_s,
            f"stage.{s}.task_cpu_s": st.cpu_s,
            f"stage.{s}.gc_s": st.gc_s,
            f"stage.{s}.shuffle_write_bytes": st.shuffle_write_bytes,
            f"stage.{s}.spill_bytes": st.spill_bytes,
            f"stage.{s}.slot_idle_frac": _idle(st, span.wall_s, slots),
        })
    if stages:
        out["runstate.bytes_written"] = total.output_bytes
        out["runstate.bytes_per_input_byte"] = _ratio(total.output_bytes, ctx["input_bytes"])
    if "token_matches" in stages:
        tm = stages["token_matches"]
        join_rows = log.node_sum(tm, lambda m: _is_join(m) and _rows(m))
        cand = log.node_sum(tm, _py("number of output rows"))
        out.update({
            "blocking.key_rows": log.node_sum(tm, lambda m: m.node == "Generate" and _rows(m)),
            "blocking.join_rows": join_rows,
            "blocking.candidate_pairs": cand,
            "blocking.join_build_s": log.node_sum(
                tm, lambda m: _is_join(m) and m.metric == "time to build hash map"
            ),
            "blocking.distinct_ratio": _ratio(cand, join_rows),
        })
    if "match_edges" in stages:
        me = stages["match_edges"]
        # evidence rows: the output of the join nearest the plan root, the
        # one that feeds the doc-pair aggregate
        top = min(
            (len(m.path) for a in me.acc
             if (m := log.metrics.get(a)) and _is_join(m) and _rows(m)),
            default=None,
        )
        out["edges.evidence_rows"] = log.node_sum(
            me, lambda m: _is_join(m) and _rows(m) and len(m.path) == top
        )
        out["edges.rows"] = manifests.get("match_edges", {}).get("rows", 0)
    if "entities" in stages:
        out["clustering.jobs"] = stages["entities"].jobs
        out["clustering.components"] = ctx.get("components", 0)
    return out


def percentile_supported(samples: list) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it, and its
    value; the median when the sample is too small for any tail."""
    n = len(samples)
    if n < 20:
        return "p50", statistics.median(samples)
    q = 1.0 - 10.0 / n
    pct = int(q * 100)
    cuts = statistics.quantiles(samples, n=100, method="inclusive")
    return f"p{pct}", cuts[pct - 1]
