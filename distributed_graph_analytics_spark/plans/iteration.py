"""Iteration controller — the DataFrame analog of the Pregel driver loop.

The reference iterates with GraphX Pregel / Giraph supersteps
(WeaklyConnectionComponentsCore.scala:55, PageRankCore.scala:68,
LouvainMasterCompute.java:69-107). Here each analytic supplies a step
function ``state -> (new_state, metrics)`` and the controller owns the
cross-cutting physics that the reference hand-codes per algorithm:

- persist current state / unpersist the previous generation
  (reference cache+unpersist choreography, LouvainCore.scala:124-140);
- lineage truncation via ``localCheckpoint`` every iteration — absent
  in the RDD reference but mandatory for DataFrame loops, else the
  Catalyst plan grows O(iterations);
- durable checkpoints every k iterations through a CheckpointManager,
  recording row-count/value-hash totals + metrics so a run resumes
  mid-convergence (north rule), standing in for the reference's HDFS
  marker files (LouvainRunner.java:85-127);
- convergence decided by the caller from driver-side scalar metrics
  (the DataFrame analog of Giraph aggregators,
  PageRankMasterCompute.java:41-52).

``run_gather`` is the same driver loop for the broadcast-gather tier
(plans/gather.py), whose state is one numpy vector on the driver (its
supersteps Spark jobs or driver arrays, by the graph's placement): the
same stats, resume, periodic and converged saves in the shuffle tier's
checkpoint shape, so either tier resumes the other's save.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
from pyspark.sql import Column, DataFrame, Observation
from pyspark import StorageLevel


@contextmanager
def aqe_off(spark):
    """Disable adaptive execution for one action.

    ``localCheckpoint`` captures ``physicalPlan.outputPartitioning``
    into the resulting LogicalRDD — but under AQE the physical plan is
    an AdaptiveSparkPlanExec whose partitioning reports
    UnknownPartitioning, so every later join against the checkpointed
    state/adjacency re-exchanges it (measured: the packed adjacency
    arrays re-shuffled EVERY superstep). With AQE off for just the
    checkpoint action the concrete hashpartitioning(key, n) survives,
    and per-superstep joins against it need no exchange on that side.
    The loss is AQE's runtime skew-split for that one job — hub skew is
    already handled explicitly by ADJ_CHUNK salting."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


@contextmanager
def hash_agg_pack(spark, threshold: int = 1 << 22):
    """Keep ObjectHashAggregate hash-based for the CSR adjacency pack.

    ``collect_list`` is a TypedImperativeAggregate, so it runs on
    ObjectHashAggregateExec — which abandons its hash map for SORT-based
    aggregation after ``spark.sql.objectHashAggregate.sortBased.
    fallbackThreshold`` distinct keys, default 128. Any realistic
    per-partition group count (|V|/p) blows past that, so every
    adjacency pack was sorting 2|E|/p rows per partition: measured 3-4x
    of the whole build at 38M edges / 4 cores (BENCH/BASELINE.md, round 2:
    PR 43-64s -> 15-25s, WCC 92-109s -> 21-38s). Raising the threshold
    for just the pack action keeps it hash-based; the fallback still
    guards pathological partitions beyond ``threshold`` groups. Memory
    is bounded by the pack's own output (the per-key neighbor buffers
    the task materializes anyway), so the raise adds no new worst case.
    """
    key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(threshold))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def materialize(
    df: DataFrame,
    metrics: dict[str, Column] | None = None,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    project: list[str] | None = None,
) -> tuple[DataFrame, dict]:
    """Materialize + truncate lineage AND statistics — in ONE Spark job —
    optionally computing driver-side aggregate metrics in the same pass.

    ``localCheckpoint`` alone truncates the logical plan but carries the
    child plan's *estimated* statistics into the new LogicalRDD
    (LogicalRDD.fromDataset → rewriteStatsAndConstraints). In an
    iterative loop where each superstep joins the state against itself
    /messages, those estimates compound multiplicatively: sizeInBytes
    digit count grows ~2-3x per iteration (measured 27→84→256→773→2322
    digits over five Louvain cycles) until Catalyst's
    SizeInBytesOnlyStatsPlanVisitor spends minutes in BigInteger
    Karatsuba multiplication and the driver appears hung.

    Fix: persist first — the eager checkpoint's own count materializes
    the cache, and ``LogicalRDD.fromDataset`` reads the plan's stats
    AFTER that count, so it captures the InMemoryRelation's REAL byte
    size, constant across iterations (verified: sizeInBytes digit count
    stays flat over an 8-iteration join loop).

    ``metrics`` (name → aggregate Column) ride the same job through
    ``Observation`` — the DataFrame analog of Giraph aggregators
    (PageRankMasterCompute.java:36) with zero extra passes: one job per
    superstep computes the state, fills the cache, truncates lineage,
    and delivers the convergence scalars.
    """
    cached = df.persist(storage_level)
    with aqe_off(df.sparkSession):
        if metrics:
            obs = Observation()
            observed = cached.observe(obs, *[c.alias(k) for k, c in metrics.items()])
            # project AFTER observe: the metric exprs see every column,
            # the checkpointed RDD stores only the kept ones
            if project:
                observed = observed.select(*project)
            out = observed.localCheckpoint(eager=True)
            vals = dict(obs.get)
        else:
            out = (
                cached.select(*project) if project else cached
            ).localCheckpoint(eager=True)
            vals = {}
    cached.unpersist()
    return out, vals


def truncate(
    df: DataFrame, storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """One-job materialize + lineage/stats truncation (see materialize)."""
    out, _ = materialize(df, None, storage_level)
    return out


@dataclass
class IterationStats:
    iterations: int = 0
    converged: bool = False
    wall_seconds: float = 0.0
    history: list[dict] = field(default_factory=list)
    #: which kernel tier ran ("shuffle" superstep joins or the
    #: broadcast-"gather" vectorized kernel — see plans/gather.py)
    kernel: str = "shuffle"
    #: where the supersteps ran: "spark" jobs, or "driver" arrays (a
    #: gather-tier graph under plans/gather.py's byte budget)
    placement: str = "spark"


class IterationController:
    def __init__(
        self,
        max_iterations: int = 200,
        checkpoint_manager=None,
        checkpoint_every: int = 10,
        storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
        eager_localcheckpoint: bool = True,
        step_materializes: bool = False,
    ):
        self.max_iterations = max_iterations
        self.checkpoint_manager = checkpoint_manager
        self.checkpoint_every = checkpoint_every
        self.storage_level = storage_level
        self.eager = eager_localcheckpoint
        # step_materializes=True → the step function already returned a
        # localCheckpoint'ed DataFrame (it usually wants to compute its
        # convergence scalar from the materialized state anyway, saving
        # one job per superstep); the controller then skips its own.
        self.step_materializes = step_materializes

    def run(
        self,
        state: DataFrame,
        step: Callable[[DataFrame, int], tuple[DataFrame, dict]],
        converged: Callable[[dict, int], bool],
        name: str = "analytic",
    ) -> tuple[DataFrame, IterationStats]:
        """Run ``step`` until ``converged(metrics, i)`` or max_iterations.

        ``step`` gets the persisted current state and the 1-based
        iteration number; it returns the next state plus a metrics dict
        of driver-side scalars (its own actions may already have
        materialized the next state).
        """
        t0 = time.time()
        stats = IterationStats()
        start_iter = 0
        if self.checkpoint_manager is not None:
            resumed = self.checkpoint_manager.try_resume(name)
            if resumed is not None:
                state, start_iter = resumed
        current = truncate(state, self.storage_level)
        for i in range(start_iter + 1, self.max_iterations + 1):
            t_iter = time.time()
            new_state, metrics = step(current, i)
            metrics["sec"] = round(time.time() - t_iter, 3)
            # Truncate lineage: the new plan must not reference the old
            # generation, or iteration k carries k joins of history.
            if not self.step_materializes:
                new_state = truncate(new_state, self.storage_level)
            current.unpersist()
            current = new_state
            stats.iterations = i
            stats.history.append(metrics)
            if self.checkpoint_manager is not None and i % self.checkpoint_every == 0:
                self.checkpoint_manager.save(name, current, i, metrics)
            if converged(metrics, i):
                stats.converged = True
                break
        stats.wall_seconds = time.time() - t0
        if self.checkpoint_manager is not None and stats.converged:
            self.checkpoint_manager.save(name, current, stats.iterations, {"converged": True})
        return current, stats

    def run_gather(
        self,
        g,
        start: Callable[[], tuple[np.ndarray, Callable]],
        converged: Callable[[dict, int], bool],
        name: str,
        value: tuple[str, str],
        state_df: Callable[[np.ndarray, bool], DataFrame] | None = None,
        release: bool = True,
    ) -> tuple[DataFrame, IterationStats]:
        """:meth:`run` for the gather tier, over a GatherGraph ``g``.

        ``start()`` builds what the supersteps read and returns the
        initial vector plus ``step(vec, i) -> (new_vec, metrics)``; it
        is not called on an empty graph. ``value`` is the result's
        (column, type): the result is (id LONG, <column>), and a resume
        writes the saved column into the initial vector by id.
        ``state_df(vec, converged)`` gives the periodic and converged
        saves in the shuffle tier's checkpoint shape (default: the
        result shape). ``release`` drops the graph's tables at the end
        (False for a graph the caller shares).
        """
        from distributed_graph_analytics_spark.plans.gather import vector_to_df

        t0 = time.time()
        stats = IterationStats(kernel="gather", placement=g.placement)
        spark = g.edges.sparkSession
        col, dtype = value
        mgr = self.checkpoint_manager

        def result(vec):
            return vector_to_df(spark, g.orig_id, vec, col, dtype)

        state_df = state_df or (lambda vec, _converged: result(vec))
        if g.n == 0:
            stats.converged = True
            vec = np.empty(0, dtype=np.float64 if dtype == "double" else np.int64)
        else:
            vec, step = start()
            start_iter = 0
            if mgr is not None:
                resumed = mgr.try_resume(name)
                if resumed is not None:
                    saved, start_iter = resumed
                    pdf = saved.select("id", col).toPandas()
                    vec[g.cid_of(pdf["id"].to_numpy())] = pdf[col].to_numpy()
            for i in range(start_iter + 1, self.max_iterations + 1):
                t_iter = time.time()
                vec, metrics = step(vec, i)
                metrics["sec"] = round(time.time() - t_iter, 3)
                stats.iterations = i
                stats.history.append(metrics)
                if mgr is not None and i % self.checkpoint_every == 0:
                    mgr.save(name, state_df(vec, False), i, metrics)
                if converged(metrics, i):
                    stats.converged = True
                    break
            if mgr is not None and stats.converged:
                mgr.save(name, state_df(vec, True), stats.iterations, {"converged": True})
        out = result(vec)
        if release:
            g.release()
        stats.wall_seconds = time.time() - t0
        return out, stats
