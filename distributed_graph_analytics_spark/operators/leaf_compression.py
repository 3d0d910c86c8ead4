"""Leaf Compression — iterative pruning of out-degree ≤ 1 vertices.

Two reference semantics, both implemented:

- ``leaf_compression`` — the GraphX core (dga-graphx
  LeafCompressionCore.scala:36-47): attach out-degree (parallel edges
  count separately — the graph is NOT pre-merged), drop vertices with
  out-degree ∈ {0, 1} and edges whose source has out-degree ∈ {0, 1}
  or whose endpoint was dropped, recurse until the vertex count
  reaches a fixed point.

- ``leaf_compression_giraph`` — the Giraph computation (dga-giraph
  LeafCompressionComputation.java:57-93): out-degree-1 vertices
  message ``id:count`` to their single target and mark themselves -1;
  survivors accumulate ``1 + msg_count`` per absorbed leaf, remove
  their back-edge to it, and the leaf is deleted. Out-degree-0
  vertices SURVIVE (they just halt), dangling edges to deleted
  vertices persist on halted owners, and a message to a deleted
  vertex resurrects it with value 0 — all faithful to Giraph's
  dynamic-mutation model (edge case pinned by
  LeafCompressionComputationTest.java:132-152's goldens).

Spark-first design: GraphX variant — the relation SHRINKS every
iteration, so each pass is a groupBy(src).count + two semi-joins over
an ever-smaller edge table. Giraph variant — rounds touch only the
message frontier; edge/vertex updates are anti-joins keyed on
frontier-sized sets (broadcast-able at scale). localCheckpoint
truncates lineage so iteration k doesn't replay k-1 prunes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

from distributed_graph_analytics_spark.plans.gather import resolve_tier
from distributed_graph_analytics_spark.plans.iteration import IterationStats, truncate
from distributed_graph_analytics_spark.sources.edges import vertices_of

import time


def leaf_compression(
    edges: DataFrame, max_iterations: int = 100, strategy: str = "auto"
) -> tuple[DataFrame, DataFrame, IterationStats]:
    """Returns (surviving_vertices(id), surviving_edges(src,dst,weight), stats).

    ``strategy`` picks the tier (plans/gather.py::resolve_tier)."""
    g = resolve_tier(edges, strategy, "leaf_compression")
    if g is not None:
        return _leaf_compression_gather(g, edges, max_iterations)
    t0 = time.time()
    stats = IterationStats()
    cur_edges = truncate(edges)
    cur_vertices = vertices_of(cur_edges).persist(StorageLevel.MEMORY_AND_DISK)
    n_vertices = cur_vertices.count()
    for i in range(1, max_iterations + 1):
        out_deg = cur_edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        # vpred: out-degree not in {0,1}; vertices absent from out_deg have 0
        keep = (
            cur_vertices.join(out_deg, cur_vertices["id"] == out_deg["src"], "left_outer")
            .where(F.coalesce("deg", F.lit(0)) > 1)
            .select("id")
        )
        # subgraph: both endpoints must survive (epred src-degree filter is
        # implied by the src semi-join, since kept vertices have deg > 1)
        new_edges = cur_edges.join(
            keep.withColumnRenamed("id", "src"), "src", "left_semi"
        ).join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
        # stats-safe truncation per pass (see plans.iteration.truncate)
        new_edges = truncate(new_edges.select(*cur_edges.columns))
        new_vertices = keep.persist(StorageLevel.MEMORY_AND_DISK)
        new_count = new_vertices.count()
        stats.iterations = i
        stats.history.append({"vertices": new_count})
        changed = new_count != n_vertices
        cur_edges.unpersist()
        cur_vertices.unpersist()
        cur_edges, cur_vertices, n_vertices = new_edges, new_vertices, new_count
        if not changed:
            stats.converged = True
            break
    stats.wall_seconds = time.time() - t0
    return cur_vertices, cur_edges, stats


def leaf_compression_giraph(
    edges: DataFrame, max_iterations: int = 1000
) -> tuple[DataFrame, DataFrame, IterationStats]:
    """Giraph count-accumulating leaf compression
    (LeafCompressionComputation.java:57-93), synchronous supersteps.

    Returns (vertices(id LONG, value LONG), edges(src, dst), stats):
    the surviving graph, where ``value`` counts the leaf-chain vertices
    absorbed into each survivor (0 for untouched survivors; -1 marks a
    vertex that announced itself for deletion but whose removal request
    is still pending when the loop hits max_iterations — never the case
    at a true fixed point).

    Superstep mapping (message semantics, not degree-pruning):
    - sender: out-degree == 1 and value != -1 → emits (target, value),
      sets value = -1 [sendEdges, :81-93];
    - receiver: value = coalesce(value, 0) + Σ(1 + msg_value) — the
      coalesce IS Giraph's resurrection of a deleted vertex that is
      messaged again; removes its edges to each message sender
      [compute, :57-72];
    - every processed sender is removed (with its out-edges) before the
      NEXT superstep — Giraph mutation timing, which is what makes the
      mutual-pair case (both endpoints message each other, both get
      removed, the -1 + 1 + 0 bookkeeping keeps counts exact) come out
      right [edge case: LeafCompressionComputationTest.java:132-152].
    """
    t0 = time.time()
    stats = IterationStats()
    spark = edges.sparkSession
    e = truncate(edges.select("src", "dst"))
    v = truncate(vertices_of(e).select("id", F.lit(0).cast("long").alias("value")))

    def _mark_senders(v: DataFrame, senders: DataFrame) -> DataFrame:
        marked = senders.select("id", F.lit(True).alias("_sent"))
        return truncate(
            v.join(marked, "id", "left_outer").select(
                "id",
                F.when(F.col("_sent"), F.lit(-1).cast("long"))
                .otherwise(F.col("value"))
                .alias("value"),
            )
        )

    def _emit(e: DataFrame, v: DataFrame, senders: DataFrame) -> DataFrame:
        # each sender has exactly one out-edge; message value = the
        # sender's CURRENT value (pre -1 marking)
        return truncate(
            e.join(senders.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(
                v.withColumnRenamed("id", "src").withColumnRenamed("value", "mval"),
                "src",
            )
            .select(F.col("dst").alias("to_id"), F.col("src").alias("from_id"), "mval")
        )

    # superstep 0: every vertex is active; out-degree-1 vertices send
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    sender_ids = deg.where(F.col("deg") == 1).select(F.col("src").alias("id"))
    msgs = _emit(e, v, sender_ids)
    v = _mark_senders(v, sender_ids)
    # removeVertexRequest is issued when the RECEIVER processes the
    # message (next superstep) and applied before the superstep after —
    # so nothing is pending yet
    pending_removals = truncate(spark.createDataFrame([], "id long"))

    for i in range(1, max_iterations + 1):
        if msgs.limit(1).count() == 0:
            stats.converged = True
            break
        stats.iterations = i
        # 1. apply last round's removal requests (vertex + its out-edges;
        #    in-edges dangle, faithfully)
        v = v.join(pending_removals, "id", "left_anti")
        e = e.join(
            pending_removals.withColumnRenamed("id", "src"), "src", "left_anti"
        )
        # 2. deliver messages: absorb counts, drop receiver→sender edges
        recv = msgs.groupBy(F.col("to_id").alias("id")).agg(
            F.sum(F.lit(1) + F.col("mval")).alias("absorb")
        )
        v = truncate(
            v.join(recv, "id", "full_outer").select(
                "id",
                (F.coalesce("value", F.lit(0)) + F.coalesce("absorb", F.lit(0))).alias(
                    "value"
                ),
            )
        )
        e = truncate(
            e.join(
                msgs.select(
                    F.col("to_id").alias("src"), F.col("from_id").alias("dst")
                ).distinct(),
                ["src", "dst"],
                "left_anti",
            )
        )
        # 3. every processed sender is removed before the next superstep
        new_pending = msgs.select(F.col("from_id").alias("id")).distinct()
        # 4. sendEdges for the active set (= this round's receivers)
        active = recv.select("id")
        act_deg = (
            e.join(active.withColumnRenamed("id", "src"), "src", "left_semi")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        new_senders = (
            act_deg.where(F.col("deg") == 1)
            .select(F.col("src").alias("id"))
            .join(v.where(F.col("value") >= 0), "id", "left_semi")
        )
        msgs = _emit(e, v, new_senders)
        v = _mark_senders(v, new_senders)
        pending_removals = truncate(new_pending)
        stats.history.append({"superstep": i})
    # final mutation flush (the break leaves the last round's requests
    # unapplied, exactly like Giraph's end-of-job mutation drain)
    v = truncate(v.join(pending_removals, "id", "left_anti"))
    e = truncate(
        e.join(pending_removals.withColumnRenamed("id", "src"), "src", "left_anti")
    )
    stats.wall_seconds = time.time() - t0
    return v, e, stats


def _leaf_compression_gather(
    g, edges: DataFrame, max_iterations: int
) -> tuple[DataFrame, DataFrame, IterationStats]:
    """Gather-tier GraphX leaf compression: survival flags s (float64
    0/1) gather over the raw out-adjacency blobs — per round ONE
    shuffle-free stage computing ``d(v) = Σ s[dst]`` over v's
    out-edges (parallel edges separate, like the shuffle kernel's
    count per src), then ``s' = s & (d > 1)``. The per-round survivor
    counts equal the shrinking-relation kernel's exactly: an edge
    survives iff both endpoints do, so counting surviving endpoints
    over the STATIC edge set equals counting edges of the shrunken
    relation. Final vertex/edge DataFrames come from one semi-join
    against the survivor set."""
    import numpy as np

    from distributed_graph_analytics_spark.plans.gather import (
        gather_sum,
        vector_to_df,
    )

    t0 = time.time()
    stats = IterationStats(kernel="gather", placement=g.placement)
    spark = edges.sparkSession
    n = g.n
    if n == 0:
        stats.converged = True
        empty_v = vector_to_df(
            spark, np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64),
            "_drop", "long",
        ).select(F.lit(0).alias("id")).where("id > 0")
        return empty_v, edges.where(F.lit(False)), stats
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out_adj = g.out_adjacency(n_part)
    s_flag = np.ones(n, dtype=np.float64)
    n_surv = n
    for i in range(1, max_iterations + 1):
        d = gather_sum(out_adj, s_flag, n)
        new_flag = np.where((s_flag > 0) & (d > 1), 1.0, 0.0)
        new_count = int(np.count_nonzero(new_flag))
        s_flag = new_flag
        stats.iterations = i
        stats.history.append({"vertices": new_count})
        if new_count == n_surv:
            stats.converged = True
            break
        n_surv = new_count
    keep_ids = g.orig_id[s_flag > 0]
    verts = vector_to_df(
        spark, keep_ids, np.zeros(len(keep_ids), dtype=np.int64), "_z", "long"
    ).select("id")
    verts = verts.persist()
    surv_edges = edges.join(
        verts.withColumnRenamed("id", "src"), "src", "left_semi"
    ).join(verts.withColumnRenamed("id", "dst"), "dst", "left_semi").select(
        *edges.columns
    )
    g.release()
    stats.wall_seconds = time.time() - t0
    return verts, surv_edges, stats
