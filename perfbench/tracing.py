"""Per-layer spans recorded from outside the engine.

``Tracer.installed()`` wraps the engine's public layer functions as
module attributes (the functions the operators look up when they call
them) and restores the originals on exit. Every span sets its own Spark
job group, so Spark's status tracker gives its job and failed-task
counts, and the event log (``SparkListenerTaskEnd``) gives its task
metrics. A layer's self time is its spans' time minus the part
covered by child spans.

With tracing off the harness uses ``NullTracer``, whose spans cost
nothing.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field

import numpy as np

import schema

#: plans.gather kernels; each call is one gather-tier superstep pass
GATHER_KERNELS = (
    "gather_sum",
    "gather_extreme",
    "gather_hindex",
    "gather_min_plus",
    "gather_weighted_sum",
    "gather_in_weight_sums",
    "gather_weighted_rank_msgs",
    "gather_min_rows",
    "gather_lpa_votes",
    "gather_louvain_votes",
    "gather_own_comm_weight",
    "gather_key_weight_sums",
)
#: GatherGraph methods that build (or return) an adjacency table
GATHER_ADJACENCY = (
    "in_adjacency",
    "out_adjacency",
    "sym_adjacency",
    "sym_adjacency_merged",
    "sym_weighted_adjacency",
    "in_weighted_adjacency",
    "receiver_weighted_adjacency",
    "out_degree",
)
#: modules that bind plans.iteration.materialize/truncate at import
ITERATION_BINDERS = (
    "distributed_graph_analytics_spark.plans.iteration",
    "distributed_graph_analytics_spark.operators.pagerank",
    "distributed_graph_analytics_spark.operators.wcc",
    "distributed_graph_analytics_spark.operators.kcore",
    "distributed_graph_analytics_spark.operators.louvain",
)


@dataclass
class Span:
    layer: str
    kind: str
    group: str
    start: float
    end: float = 0.0
    parent: int | None = None
    child_s: float = 0.0
    #: bytes written (checkpoint and sink spans)
    written: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class NullTracer:
    """Tracing off: spans are no-ops."""

    enabled = False

    def span(self, layer: str, kind: str = ""):
        return contextlib.nullcontext()


@dataclass
class Tracer:
    spark: object
    #: makes group names unique across the jobs of one session
    prefix: str = ""
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    enabled = True

    @contextlib.contextmanager
    def span(self, layer: str, kind: str = ""):
        sc = self.spark.sparkContext
        idx = len(self.spans)
        group = f"{self.prefix}:{layer}.{kind or 'call'}#{idx}"
        parent = self._stack[-1] if self._stack else None
        sp = Span(layer, kind or layer, group, time.perf_counter(), parent=parent)
        self.spans.append(sp)
        self._stack.append(idx)
        sc.setJobGroup(group, f"{layer}:{kind}")
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += sp.dur
                ps = self.spans[parent]
                sc.setJobGroup(ps.group, f"{ps.layer}:{ps.kind}")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, fn, layer, kind, written_arg=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, kind) as sp:
                out = fn(*args, **kwargs)
                if written_arg is not None:
                    sp.written = dir_bytes(written_arg(args, kwargs, out))
                return out

        return wrapper

    def _wrap_run(self, run):
        """IterationController.run: each ``step`` call is one superstep."""
        tracer = self

        @functools.wraps(run)
        def wrapper(ctrl, state, step, *args, **kwargs):
            def traced_step(cur, i):
                with tracer.span("iteration", "superstep"):
                    return step(cur, i)

            return run(ctrl, state, traced_step, *args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def installed(self):
        """Wrap the layer functions for the duration of the block."""
        import importlib

        from distributed_graph_analytics_spark import sinks
        from distributed_graph_analytics_spark.plans import adjacency, checkpoint, gather
        from distributed_graph_analytics_spark.plans import iteration

        patches = []  # (owner, attr, original)

        def patch(owner, attr, new):
            patches.append((owner, attr, owner.__dict__[attr]))
            setattr(owner, attr, new)

        G = gather.GatherGraph
        patch(G, "build", classmethod(self._wrap(G.build.__func__, "gather", "graph_build")))
        for name in GATHER_ADJACENCY:
            patch(G, name, self._wrap(G.__dict__[name], "gather", "adjacency"))
        for name in GATHER_KERNELS:
            patch(gather, name, self._wrap(getattr(gather, name), "gather", "superstep"))
        S = adjacency.ShuffleGraph
        patch(S, "out_adjacency", self._wrap(S.out_adjacency, "adjacency", "out_pack"))
        patch(S, "in_adjacency", self._wrap(S.in_adjacency, "adjacency", "in_pack"))
        patch(S, "vertices", self._wrap(S.vertices, "adjacency", "vertices"))
        for modname in ITERATION_BINDERS:
            mod = importlib.import_module(modname)
            for name in ("materialize", "truncate"):
                if name in mod.__dict__:
                    patch(mod, name, self._wrap(mod.__dict__[name], "iteration", "materialize"))
        C = iteration.IterationController
        patch(C, "run", self._wrap_run(C.run))
        M = checkpoint.CheckpointManager
        patch(
            M, "save",
            self._wrap(M.save, "checkpoint", "save", written_arg=lambda a, k, out: out),
        )
        for name in ("write_vertex_sink", "write_edge_sink"):
            patch(
                sinks, name,
                self._wrap(getattr(sinks, name), "sinks", "write", written_arg=lambda a, k, out: a[1]),
            )
        try:
            yield self
        finally:
            for owner, attr, orig in reversed(patches):
                setattr(owner, attr, orig)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------- counts


@dataclass
class GroupCounts:
    jobs: int = 0
    failed_tasks: int = 0


def status_counts(spark, spans: list[Span]) -> dict[str, GroupCounts]:
    """Job and failed-task counts per span group from the status tracker."""
    st = spark.sparkContext.statusTracker()
    out = {}
    for sp in spans:
        c = GroupCounts()
        for job_id in st.getJobIdsForGroup(sp.group):
            c.jobs += 1
            info = st.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                s = st.getStageInfo(stage_id)
                if s is not None:
                    c.failed_tasks += s.numFailedTasks
        out[sp.group] = c
    return out


@dataclass
class TaskTotals:
    gc_ms: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    #: (stage id, attempt) → task durations (ms)
    stage_tasks: dict = field(default_factory=dict)


def event_log_totals(log_dir: str) -> dict[str, TaskTotals]:
    """Task metrics per job group, read from the (uncompressed) event
    log of the stopped session: SparkListenerJobStart maps stages to
    the group, SparkListenerTaskEnd carries the metrics."""
    stage_group: dict[int, str] = {}
    totals: dict[str, TaskTotals] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev["Stage IDs"]:
                            stage_group[sid] = group
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    t = totals.setdefault(group, TaskTotals())
                    m = ev.get("Task Metrics") or {}
                    t.gc_ms += m.get("JVM GC Time", 0)
                    t.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    t.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                    info = ev["Task Info"]
                    key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    t.stage_tasks.setdefault(key, []).append(
                        info["Finish Time"] - info["Launch Time"]
                    )
    return totals


# --------------------------------------------------------------- metrics

MB = 1 << 20


def _pct(values, q):
    return float(np.percentile(values, q)) if len(values) else 0.0


def _skew(stage_tasks: dict) -> float:
    """Median over stages (≥ 2 tasks) of max / median task time."""
    ratios = []
    for durs in stage_tasks.values():
        if len(durs) >= 2:
            med = float(np.median(durs))
            ratios.append(max(durs) / med if med > 0 else 1.0)
    return float(np.median(ratios)) if ratios else 0.0


def layer_metrics(spans: list[Span], counts: dict, totals: dict) -> dict[str, float]:
    """The per-layer metric values of one traced job (see schema.py)."""

    def pick(layer, kind=None):
        return [s for s in spans if s.layer == layer and (kind is None or s.kind == kind)]

    def jobs(ss):
        return sum(counts[s.group].jobs for s in ss if s.group in counts)

    def failed(ss):
        return sum(counts[s.group].failed_tasks for s in ss if s.group in counts)

    def tot(ss) -> TaskTotals:
        out = TaskTotals()
        for s in ss:
            t = totals.get(s.group)
            if t is None:
                continue
            out.gc_ms += t.gc_ms
            out.shuffle_write += t.shuffle_write
            out.spill += t.spill
            out.stage_tasks.update(t.stage_tasks)
        return out

    def self_s(ss):
        return sum(s.self_s for s in ss)

    m: dict[str, float] = {}
    rt = pick("repo_table")
    m["repo_table.edge_build_s"] = self_s(rt)
    m["repo_table.jobs"] = jobs(rt)
    m["repo_table.shuffle_write_mb"] = tot(rt).shuffle_write / MB
    ed = pick("edges")
    m["edges.read_edge_list_s"] = self_s(ed)

    steps = pick("gather", "superstep")
    step_durs = [s.dur for s in steps]
    g_all = pick("gather")
    m["gather.graph_build_s"] = self_s(pick("gather", "graph_build"))
    m["gather.adjacency_build_s"] = self_s(pick("gather", "adjacency"))
    m["gather.supersteps"] = len(steps)
    m["gather.superstep_s.p50"] = _pct(step_durs, 50)
    m["gather.superstep_s.p90"] = _pct(step_durs, 90)
    m["gather.jobs_per_superstep"] = jobs(steps) / len(steps) if steps else 0.0
    m["gather.task_skew"] = _skew(tot(steps).stage_tasks)

    adj = pick("adjacency")
    m["adjacency.out_pack_s"] = self_s(pick("adjacency", "out_pack"))
    m["adjacency.in_pack_s"] = self_s(pick("adjacency", "in_pack"))
    m["adjacency.vertices_s"] = self_s(pick("adjacency", "vertices"))
    m["adjacency.shuffle_write_mb"] = tot(adj).shuffle_write / MB

    it = pick("iteration")
    it_steps = pick("iteration", "superstep")
    it_durs = [s.dur for s in it_steps]
    it_tot = tot(it)
    m["iteration.supersteps"] = len(it_steps)
    m["iteration.superstep_s.p50"] = _pct(it_durs, 50)
    m["iteration.superstep_s.p90"] = _pct(it_durs, 90)
    # a superstep's jobs include those of the materialize spans inside it
    nested = [s for s in it if s.kind == "materialize" and s.parent is not None
              and spans[s.parent].layer == "iteration"]
    m["iteration.jobs_per_superstep"] = (
        (jobs(it_steps) + jobs(nested)) / len(it_steps) if it_steps else 0.0
    )
    m["iteration.shuffle_write_mb"] = it_tot.shuffle_write / MB
    m["iteration.gc_s"] = it_tot.gc_ms / 1000.0
    m["iteration.spill_mb"] = it_tot.spill / MB

    ck = pick("checkpoint")
    m["checkpoint.saves"] = len(ck)
    m["checkpoint.save_s"] = sum(s.dur for s in ck)
    m["checkpoint.written_mb"] = sum(s.written for s in ck) / MB
    sk = pick("sinks")
    m["sinks.write_s"] = sum(s.dur for s in sk)
    m["sinks.written_mb"] = sum(s.written for s in sk) / MB

    for layer in schema.LAYERS:
        ss = pick(layer)
        m[f"{layer}.self_s"] = self_s(ss)
        m[f"{layer}.failed_tasks"] = failed(ss)
    return m

