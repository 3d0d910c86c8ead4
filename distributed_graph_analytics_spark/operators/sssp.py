"""Single-source shortest paths — frontier Bellman-Ford over the
weighted undirected co-occurrence graph (engine extension; the
reference runs SSSP only inside HBSE's pivot batches,
HighBetweennessCore.scala — this exposes it as a first-class
analytic).

Distances over integer edge weights stay integral, monotonically
decrease, and the relaxation operator is idempotent at the fixed
point — so (like k-core) a fixed-round SQL unroll with rounds ≥ the
convergence count is an EXACT oracle.

Plan: packed (v, array<struct(nb, w)>) adjacency rows, hub-chunked and
hash(v)-clustered like WCC's (localCheckpoint under aqe_off — no
exchange on the packed side); per round only the CHANGED frontier
joins the adjacency (Pregel active-set pruning: a settled vertex
re-sends nothing), candidates min-combine map-side, and the state
updates through one fused materialize/Observation job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

from distributed_graph_analytics_spark.operators.pagerank import ADJ_CHUNK
from distributed_graph_analytics_spark.plans.gather import resolve_tier
from distributed_graph_analytics_spark.plans.iteration import (
    IterationController,
    IterationStats,
    aqe_off,
    hash_agg_pack,
    materialize,
)
from distributed_graph_analytics_spark.plans.join_strategy import maybe_broadcast
from distributed_graph_analytics_spark.sources.edges import canonicalize_edges


def _packed_weighted(sym: DataFrame, n_part: int) -> DataFrame:
    """(v, nbs ARRAY<STRUCT<nb,w>>) hub-chunked, hash(v)-clustered."""
    return (
        sym.repartition(n_part, "v")
        .groupBy("v")
        .agg(F.collect_list(F.struct("nb", "w")).alias("all_nbs"))
        .select(
            "v",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        ((F.size("all_nbs") - F.lit(1)) / F.lit(ADJ_CHUNK)).cast(
                            "int"
                        ),
                    ),
                    lambda i: F.slice(
                        F.col("all_nbs"), i * F.lit(ADJ_CHUNK) + F.lit(1), ADJ_CHUNK
                    ),
                )
            ).alias("nbs"),
        )
    )


def sssp(
    edges: DataFrame,
    source: int,
    max_iterations: int = 200,
    num_partitions: int | None = None,
    strategy: str = "auto",
) -> tuple[DataFrame, IterationStats]:
    """Returns (dists(id LONG, dist LONG), stats) for vertices
    reachable from ``source`` (unreachable vertices are absent, like
    the HBSE internal SSSP). Edge weights are the canonical-merged
    co-occurrence counts (LONG ≥ 1).

    ``strategy`` picks the tier (plans/gather.py::resolve_tier). The
    gather tier runs one shuffle-free min-plus relaxation of every
    vertex per superstep; a full relaxation of an already-settled
    vertex reproduces its distance (min over all neighbors was applied
    the round after each neighbor last changed), so the full-recompute
    gather trajectory equals the frontier trajectory exactly (pinned by
    tests/test_gather_tier.py)."""
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if "weight" not in edges.columns:
        edges = edges.withColumn("weight", F.lit(1).cast("long"))
    canon = canonicalize_edges(edges).select(
        "src", "dst", F.col("weight").cast("long").alias("w")
    )
    g = resolve_tier(canon.withColumnRenamed("w", "weight"), strategy, "sssp")
    if g is not None:
        return _sssp_gather(g, source, max_iterations=max_iterations, n_part=n_part)
    sym = canon.select(
        F.col("src").alias("v"), F.col("dst").alias("nb"), "w"
    ).union(canon.select(F.col("dst").alias("v"), F.col("src").alias("nb"), "w"))
    nbrs = _packed_weighted(sym, n_part)
    with aqe_off(spark), hash_agg_pack(spark):
        nbrs = nbrs.localCheckpoint(eager=True)
    n = nbrs.select("v").distinct().count()

    init = spark.createDataFrame(
        [(int(source), 0, True)], "id LONG, dist LONG, changed BOOLEAN"
    )

    def step(state: DataFrame, i: int) -> tuple[DataFrame, dict]:
        frontier = state.where("changed").select("id", "dist")
        cands = (
            nbrs.join(maybe_broadcast(frontier, n), nbrs["v"] == frontier["id"])
            .select(
                F.explode("nbs").alias("e"),
                F.col("dist").alias("d0"),
            )
            .select(F.col("e.nb").alias("id"), (F.col("d0") + F.col("e.w")).alias("cand"))
            .groupBy("id")
            .agg(F.min("cand").alias("cand"))
        )
        new_state = (
            state.select("id", "dist")
            .join(maybe_broadcast(cands, n), "id", "full_outer")
            .select(
                "id",
                F.least(
                    F.coalesce("dist", F.lit(None)), F.coalesce("cand", F.col("dist"))
                ).alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.col("cand") < F.col("dist"))
                ).alias("changed_raw"),
            )
            .select(
                "id",
                "dist",
                F.coalesce("changed_raw", F.lit(False)).alias("changed"),
            )
        )
        new_state, m = materialize(
            new_state,
            metrics={"changed": F.sum(F.col("changed").cast("long"))},
        )
        return new_state, {"changed": int(m["changed"] or 0)}

    controller = IterationController(
        max_iterations=max_iterations, step_materializes=True
    )
    final, stats = controller.run(
        init, step, converged=lambda m, i: m["changed"] == 0, name="sssp"
    )
    return final.select("id", "dist"), stats


def _sssp_gather(
    g, source: int, max_iterations: int, n_part: int
) -> tuple[DataFrame, IterationStats]:
    """Gather-tier SSSP (plans/gather.py): per superstep ONE
    shuffle-free vectorized min-plus pass over the weighted symmetric
    blob adjacency (``gather_min_plus``); distances are exact int64
    and the trajectory matches the shuffle kernel round for round."""
    import time

    import numpy as np

    from distributed_graph_analytics_spark.plans.gather import (
        _SSSP_INF,
        gather_min_plus,
        vector_to_df,
    )

    t0 = time.time()
    spark = g.edges.sparkSession
    stats = IterationStats(kernel="gather", placement=g.placement)
    n = g.n
    src_pos = np.searchsorted(g.uniq, source) if n else 0
    if n == 0 or src_pos >= n or g.uniq[src_pos] != source:
        # source absent from the (self-loop-free canonical) graph:
        # only the source itself is "reached" (dist 0) — exactly the
        # shuffle kernel, whose single init row never joins any packed
        # adjacency row and converges after one changed=0 round
        stats.converged = True
        stats.iterations = 1
        stats.history.append({"changed": 0, "sec": 0.0})
        return (
            vector_to_df(
                spark,
                np.asarray([source], dtype=np.int64),
                np.zeros(1, dtype=np.int64),
                "dist",
                "long",
            ),
            stats,
        )
    adj = g.sym_weighted_adjacency(n_part)
    d = np.full(n, _SSSP_INF, dtype=np.int64)
    d[src_pos] = 0
    for i in range(1, max_iterations + 1):
        t_iter = time.time()
        new = gather_min_plus(adj, d, n)
        changed = int(np.count_nonzero(new < d))
        d = new
        stats.iterations = i
        stats.history.append(
            {"changed": changed, "sec": round(time.time() - t_iter, 3)}
        )
        if changed == 0:
            stats.converged = True
            break
    reached = d < _SSSP_INF
    out = vector_to_df(
        spark, g.orig_id[reached], d[reached], "dist", "long"
    )
    g.release()
    stats.wall_seconds = time.time() - t0
    return out, stats
