"""k-core decomposition — core numbers via synchronous h-index
propagation (Montresor, De Pellegrini, Miorandi, "Distributed k-core
decomposition", 2013).

Engine extension (no reference analog — the reference's analytics stop
at WCC/PR/LC/Louvain/HBSE; k-core is the standard next link-graph
primitive for influence/robustness pruning).

Algorithm: every vertex starts at its degree; each superstep sets
``core(v) = min(core(v), H({core(u) : u ∈ N(v)}))`` where H is the
h-index (the largest h such that at least h neighbors currently hold
value ≥ h). Estimates are integers, decrease monotonically, and the
fixed point is exactly the core number — convergence is a zero-changed
count, and (unlike the float kernels) the trajectory is bit-exact, so
a fixed-round SQL unroll is a precise oracle at any scale.

Spark-first plan, same discipline as WCC (operators/wcc.py) plus two
scale properties the first cut lacked:

- **frontier** (the Pregel active set): estimates are monotone, so a
  vertex's h-index can only change if a NEIGHBOR's estimate dropped
  last superstep. Each round recomputes only the "dirty" receivers
  (neighbors of changed vertices) by PULLING their full neighborhood
  values — per-superstep traffic is Σ deg(dirty), which tracks the
  shrinking frontier instead of a flat 2|E| explode for an iteration
  count that grows with scale (10 rounds at sf0.001 → 38 at sf0.1);
- **skew-safe h-index**: neighbor values are capped at the receiver's
  current estimate (``least(nval, cur)`` — exact: for thresholds
  t ≤ cur the ≥t counts are unchanged, and H ≥ cur collapses to cur),
  then histogrammed by ``groupBy(id, capped_value)`` — a map-side
  combined hash aggregate a hub cannot skew — and the h-index falls
  out of the distinct-value cumulative counts:
  ``H = max over values d of min(d, count(values ≥ d))``. No
  per-receiver ``row_number`` sort over raw message rows, so a
  10M-degree hub costs one combinable aggregate, not one task sorting
  10M rows per superstep (the round-2 plan's weak spot).

The gather tier (``_kcore_gather``) walks the same frontier: its
h-index pass scores only the keys with a changed neighbor, so both
tiers recompute the same vertices in every superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributed_graph_analytics_spark.operators.wcc import (
    build_sym_adjacency,
    frontier_state,
)
from distributed_graph_analytics_spark.plans.gather import resolve_tier
from distributed_graph_analytics_spark.plans.iteration import (
    IterationController,
    IterationStats,
    aqe_off,
    hash_agg_pack,
    materialize,
)
from distributed_graph_analytics_spark.plans.join_strategy import maybe_broadcast


def core_numbers(
    edges: DataFrame,
    max_iterations: int = 100,
    checkpoint_manager=None,
    checkpoint_every: int = 10,
    num_partitions: int | None = None,
    edges_canonical: bool = False,
    strategy: str = "auto",
    gather_graph=None,
) -> tuple[DataFrame, IterationStats]:
    """Returns (cores(id LONG, core LONG), stats). ``core`` is the
    vertex's core number; isolated vertices never appear (the edge
    list defines the vertex set, as in WCC).

    ``stats.history[i]["recomputed"]`` records the dirty-receiver count
    per superstep — the frontier size the round's cost tracks.

    ``strategy`` and ``gather_graph`` pick the tier and its placement
    (plans/gather.py::resolve_tier). The gather tier scores the same
    dirty frontier in one h-index pass — one stage over the blobs, or
    one call on driver arrays when the graph fits the driver budget —
    so cores, changed counts and ``recomputed`` match the shuffle tier
    superstep by superstep (pinned by tests/test_gather_tier.py in
    both placements)."""
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    controller = IterationController(
        max_iterations=max_iterations,
        checkpoint_manager=checkpoint_manager,
        checkpoint_every=checkpoint_every,
        step_materializes=True,
    )

    def converged(m, i):
        return m["changed"] == 0

    g = resolve_tier(edges, strategy, "core_numbers", gather_graph=gather_graph)
    if g is not None:
        return controller.run_gather(
            g, _kcore_gather(g, n_part), converged, "kcore", ("core", "long"),
            frontier_state(g, "core"), release=gather_graph is None,
        )
    nbrs = build_sym_adjacency(edges, n_part, edges_canonical=edges_canonical)
    with aqe_off(spark), hash_agg_pack(spark):
        nbrs = nbrs.localCheckpoint(eager=True)
    # degree from the packed rows: size-sum per v — already
    # hash(v)-clustered, the groupBy adds no exchange (hub-split rows
    # re-aggregate here)
    deg = nbrs.select("v", F.size("us").alias("d")).groupBy("v").agg(
        F.sum("d").alias("core")
    )
    init = deg.select(
        F.col("v").alias("id"),
        F.col("core").cast("long"),
        F.lit(True).alias("changed"),  # superstep 1 recomputes everyone
    )
    n = nbrs.select(F.countDistinct("v")).first()[0]

    # cumulative neighbor count per receiver, walking capped values
    # descending — input is the (id, value)-collapsed histogram, so the
    # sort is over distinct values per receiver, not raw messages
    w_cum = (
        Window.partitionBy("id")
        .orderBy(F.desc("cv"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def step(state: DataFrame, i: int) -> tuple[DataFrame, dict]:
        # frontier: receivers adjacent to a vertex whose estimate
        # dropped last superstep (state is hash(id)-partitioned and
        # nbrs hash(v) — the join adds no exchange on either side)
        changed_senders = state.where("changed").select(F.col("id").alias("v"))
        dirty = (
            nbrs.join(maybe_broadcast(changed_senders, n), "v")
            .select(F.explode("us").alias("id"))
            .distinct()
        )
        # pull the FULL neighborhood values of just the dirty receivers,
        # carrying each receiver's current estimate for the value cap
        pulls = (
            dirty.join(state.select("id", F.col("core").alias("cur")), "id")
            .select(F.col("id").alias("v"), "cur")
            .join(nbrs, "v")
            .select(F.col("v").alias("id"), "cur", F.explode("us").alias("u"))
        )
        vals = pulls.join(
            state.select(F.col("id").alias("u"), F.col("core").alias("nval")),
            "u",
        )
        # capped-value histogram: hash aggregate, map-side combined —
        # a hub's messages collapse to its distinct neighbor values
        hist = (
            vals.select("id", F.least("nval", "cur").alias("cv"))
            .groupBy("id", "cv")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # H = max over distinct values d of min(d, count(values >= d))
        h = (
            hist.withColumn("cum", F.sum("cnt").over(w_cum))
            .select("id", F.least("cv", "cum").alias("hc"))
            .groupBy("id")
            .agg(F.max("hc").alias("h"))
        )
        new_state = state.join(maybe_broadcast(h, n), "id", "left_outer").select(
            "id",
            F.least("core", F.coalesce("h", F.col("core"))).alias("core"),
            F.coalesce(F.col("h") < F.col("core"), F.lit(False)).alias("changed"),
            F.col("h").isNotNull().alias("_recomputed"),
        )
        new_state, m = materialize(
            new_state,
            metrics={
                "changed": F.sum(F.col("changed").cast("long")),
                "recomputed": F.sum(F.col("_recomputed").cast("long")),
            },
            project=["id", "core", "changed"],
        )
        return new_state, {
            "changed": int(m["changed"] or 0),
            "recomputed": int(m["recomputed"] or 0),
        }

    final, stats = controller.run(init, step, converged, name="kcore")
    return final.select("id", "core"), stats


def _kcore_gather(g, n_part: int):
    """``start`` of gather-tier k-core (plans/gather.py): identical
    h-index semantics and iteration trajectory as the shuffle kernel —
    integer estimates, the same cap (``min(nval, cur)``) and the same
    ``min(core, H)`` update over the same frontier: the step keeps the
    previous round's ``changed`` mask (all set on the first step,
    resumes included) and scores only the keys with a changed
    neighbor, so changed counts, ``recomputed`` and the halt match the
    frontier kernel exactly. Each superstep is ONE shuffle-free
    vectorized pass (``gather_hindex``) over the merged, deduped sym
    adjacency (Spark blobs or driver arrays); degrees fall out of one
    ``gather_sum`` of ones over the same table."""
    import numpy as np

    from distributed_graph_analytics_spark.plans.gather import (
        gather_hindex,
        gather_sum,
    )

    def start():
        n = g.n
        sym = g.sym_adjacency_merged(n_part)
        changed = np.ones(n, dtype=bool)  # the first step scores everyone

        def step(core, i):
            nonlocal changed
            new, scored = gather_hindex(sym, core, changed, n)
            changed = new < core
            return new, {"changed": int(np.count_nonzero(changed)), "recomputed": scored}

        # degree = deduped undirected neighbor count: Σ 1 per key over
        # the merged blobs (exact in float64 far beyond the tier cap)
        return gather_sum(sym, np.ones(n, dtype=np.float64), n).astype(np.int64), step

    return start
