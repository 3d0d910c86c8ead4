"""Label Propagation — community assignment by synchronous label voting.

The north rule lists label propagation alongside WCC. The reference's
WCC *is* max-label propagation run to fixed point (SURVEY.md §7.1 step
5 factors the kernel); this module is the classic community-detection
variant: each vertex adopts the label held by the (weighted) majority
of its neighbors, ties broken deterministically by the larger label —
synchronous updates, a fixed iteration budget (synchronous LPA can
oscillate on bipartite structures, so it is iteration-capped, not
fixed-point-gated).

Each superstep: one join (neighbors ⋈ labels) + one two-level groupBy
(count votes per (vertex, label), then argmax per vertex via a single
max(struct) — no window, no second shuffle beyond the vertex key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

from distributed_graph_analytics_spark.plans.gather import resolve_tier
from distributed_graph_analytics_spark.plans.iteration import (
    IterationController,
    IterationStats,
)
from distributed_graph_analytics_spark.plans.join_strategy import maybe_broadcast
from distributed_graph_analytics_spark.sources.edges import undirected_view, vertices_of


def label_propagation(
    edges: DataFrame,
    max_iterations: int = 10,
    weighted: bool = True,
    num_partitions: int | None = None,
    strategy: str = "auto",
) -> tuple[DataFrame, IterationStats]:
    """Returns (labels(id LONG, label LONG), stats).

    ``strategy`` picks the tier (plans/gather.py::resolve_tier); a
    fractional-typed weight column keeps ``"auto"`` on this join-agg
    kernel when ``weighted``."""
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    controller = IterationController(
        max_iterations=max_iterations, step_materializes=True
    )

    def converged(m, i):
        return m["changed"] == 0

    g = resolve_tier(
        edges, strategy, "label_propagation", weight="weight" if weighted else None
    )
    if g is not None:
        return controller.run_gather(
            g, _lpa_gather(g, weighted, n_part), converged, "lpa", ("label", "long")
        )
    nbrs = (
        undirected_view(edges)
        .groupBy("u", "v")
        .agg(F.sum("weight").alias("w"))
        .repartition(n_part, "v")  # pin parallelism of the cached table
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vertices = vertices_of(edges).persist(StorageLevel.MEMORY_AND_DISK)
    n = vertices.count()
    init = vertices.select("id", F.col("id").alias("label"))
    vote = F.sum("w") if weighted else F.count(F.lit(1))

    def step(state: DataFrame, i: int) -> tuple[DataFrame, dict]:
        bstate = maybe_broadcast(state, n)
        votes = (
            nbrs.join(bstate, nbrs["v"] == bstate["id"])
            .groupBy(F.col("u").alias("vid"), "label")
            .agg(vote.alias("votes"))
        )
        # argmax by (votes, label): one aggregate, no window shuffle
        best = votes.groupBy("vid").agg(
            F.max(F.struct("votes", "label")).alias("best")
        ).select(F.col("vid").alias("id"), F.col("best.label").alias("new_label"))
        new_state = state.join(maybe_broadcast(best, n), "id", "left_outer").select(
            "id",
            F.coalesce("new_label", "label").alias("label"),
            (F.coalesce("new_label", "label") != F.col("label")).alias("changed"),
        )
        # stats-safe truncation (see plans.iteration.truncate): the
        # changed-count materializes the cache, the checkpoint then
        # captures real sizes instead of compounding estimates
        cached = new_state.persist(StorageLevel.MEMORY_AND_DISK)
        changed = cached.where("changed").count()
        new_state = cached.localCheckpoint(eager=True)
        cached.unpersist()
        return new_state.select("id", "label"), {"changed": changed}

    final, stats = controller.run(init, step, converged, name="lpa")
    nbrs.unpersist()
    return final.select("id", "label"), stats


def _lpa_gather(g, weighted: bool, n_part: int):
    """``start`` of gather-tier LPA: the merged undirected vote view
    (parallel edges weight-merged, both directions) becomes
    receiver-keyed weighted blobs; each superstep is ONE shuffle-free
    ``gather_lpa_votes`` pass (integer vote sums, the (max votes, max
    label) tie-break). Labels live in original-id space, so the
    tie-break compares the same values as the join kernel —
    integer-exact parity round for round."""
    import numpy as np

    from distributed_graph_analytics_spark.plans.gather import (
        _LPA_NONE,
        gather_lpa_votes,
    )

    def start():
        # weighted: merged edge weight per (u, v); unweighted: each
        # DISTINCT neighbor casts exactly ONE vote (the join kernel's
        # count(1) over the merged view — NOT the parallel multiplicity)
        view = undirected_view(g.edges).groupBy("u", "v").agg(
            (F.sum("weight") if weighted else F.lit(1).cast("long")).alias("w")
        )
        adj = g.receiver_weighted_adjacency(view, n_part)

        def step(L, i):
            best = gather_lpa_votes(adj, L, g.n)
            new = np.where(best != _LPA_NONE, best, L)
            return new, {"changed": int(np.count_nonzero(new != L))}

        return g.orig_id.copy(), step

    return start
