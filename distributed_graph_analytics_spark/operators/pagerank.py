"""PageRank — Giraph semantics (the reference's canonical formulation).

Per superstep every vertex recomputes
``rank = (1-d)/N + d * Σ(incoming rank/out_edges)``
and redistributes ``rank / out_edges`` along its out-edges
(dga-giraph PageRankComputation.java:51-81; out_edges counts parallel
edges, weights are ignored). Convergence: max over vertices of
``|rank - old| / old`` < ε after at least two updates
(PageRankMasterCompute.java:40-53, ε = 0.001 default). Dangling
vertices (no out-edges) send nothing and keep receiving the teleport
term — identical to Giraph, where sendMessageToAllEdges over zero edges
is a no-op.

Spark-first design — two kernel tiers behind one signature (the north
star's "broadcast-or-shuffle" decision, made from the known |V|):

- **gather tier** (default when 8·|V| fits a broadcast,
  plans/gather.py): the packed int32 in-adjacency stays distributed;
  each superstep broadcasts the rank vector as a raw numpy array and
  reduces every vertex's messages with one shuffle-free vectorized
  mapInArrow pass — measured 4-8x the shuffle tier's superstep rate at
  76.5M edges (BENCH/BASELINE.md "Gather tier", BENCH/scaling_result.json);
- **shuffle tier** (any |V|): the adjacency is packed ONCE before the
  loop into CSR-style array rows (out-degree falls out of the array
  size — no degree join), so the per-superstep work is one shuffle join
  (packed adjacency ⋈ ranks on src, no exchange on the packed side) +
  one partial-aggregated groupBy(dst) + one left join back to the
  vertex set; the convergence scalar piggybacks on the state
  materialization (single agg over the new state), the DataFrame analog
  of Giraph's DoubleMax aggregator; everything is native column
  expressions → whole-stage codegen; no Python in the loop body.

Both tiers produce identical scores through the identical iteration
trajectory (pinned by tests/test_gather_tier.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

from distributed_graph_analytics_spark.plans.gather import resolve_tier
from distributed_graph_analytics_spark.plans.iteration import (
    IterationController,
    IterationStats,
    aqe_off,
    hash_agg_pack,
    materialize,
)
from distributed_graph_analytics_spark.plans.join_strategy import maybe_broadcast
from distributed_graph_analytics_spark.sources.edges import vertices_of

#: max out-neighbors packed into one adjacency-array row; hubs above
#: this degree are salted across ceil(deg / ADJ_CHUNK) chunk rows so no
#: single row (or its explode task) concentrates a hub's fan-out
ADJ_CHUNK = 65_536


def _int_packable(col: Column) -> Column:
    """Guarded int cast for compact_ids packs: ids beyond 31 bits would
    silently wrap under non-ANSI cast semantics and corrupt every
    downstream score with no error, so the bound is enforced per value
    (``raise_error`` aborts the build job). compact_ids is opt-in and
    the branch is a codegen'd comparison, so the default paths pay
    nothing."""
    return F.when(
        (col >= 0) & (col <= F.lit((1 << 31) - 1)), col.cast("int")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("compact_ids requires ids in [0, 2^31-1]; got "),
                col.cast("string"),
            )
        ).cast("int")
    )


def _chunked(arr_col: str) -> Column:
    """Split a packed neighbor array into ADJ_CHUNK-bounded slices
    (1-based F.slice), ready to explode into one row per chunk."""
    return F.transform(
        F.sequence(
            F.lit(0), ((F.size(arr_col) - F.lit(1)) / F.lit(ADJ_CHUNK)).cast("int")
        ),
        lambda i: F.slice(F.col(arr_col), i * F.lit(ADJ_CHUNK) + F.lit(1), ADJ_CHUNK),
    )


def build_out_adjacency(
    edges: DataFrame, n_part: int, compact_ids: bool = False
) -> DataFrame:
    """Chunked CSR-style out-adjacency: (src, dsts ARRAY<LONG>, inv_deg).

    The hash(src) layout pin lives on the cheap FLAT (src,dst) rows: the
    packing groupBy clusters on src (HashPartitioning(src) satisfies
    ClusteredDistribution of any key set containing src), so the
    packed-array output inherits this exact partitioning with NO further
    exchange — and the hub split below is a Generate node, which also
    preserves it. Repartitioning AFTER packing instead (one explicit
    exchange of array rows) measured ~50s of a ~62s adjacency build at
    38M edges / 4 cores — array rows are expensive to shuffle and
    columnar-encode.

    Hub salting happens AFTER the pack: rows above ADJ_CHUNK out-degree
    are sliced into ceil(deg/ADJ_CHUNK) chunk rows by position, so no
    single row (or the explode task scanning it) concentrates a hub's
    fan-out. Packing first removes the degree pre-join an up-front salt
    would need — a 0.65-scaling 38M-row shuffle-hash join measured as
    the worst phase of the whole build (BENCH/BASELINE.md). The cost is
    one transient aggregation buffer holding a hub's full neighbor list
    (8 bytes/neighbor: a 10M-degree hub = one 80 MB buffer, within
    executor budgets; ObjectHashAggregate falls back to sort-based
    spill past spark.sql.objectHashAggregate.sortBased.fallbackThreshold
    keys, so many concurrent hubs degrade gracefully).

    out_deg counts parallel edges separately (Giraph
    sendMessageToAllEdges, PageRankComputation.java:51-81) and falls
    out of the packed array size — no degree join at all.
    """
    # compact_ids: pack neighbor ids as INT with a per-value bound
    # guard (true for every tested scale incl. the x64 replicate's
    # 640M ceiling). Halves the array payload of the pack buffers, the
    # localCheckpoint copy and every superstep's adjacency scan — the
    # DRAM-bandwidth-bound share of the build (BENCH/BASELINE.md).
    # Key columns stay LONG, so partitioning/join invariants and the
    # public (id LONG) contract are untouched; explode sites cast back.
    dst_col = _int_packable(F.col("dst")) if compact_ids else F.col("dst")
    e_parted = edges.select("src", "dst").repartition(n_part, "src")
    return (
        e_parted.groupBy("src")
        .agg(F.collect_list(dst_col).alias("all_dsts"))
        .select(
            "src",
            F.explode(_chunked("all_dsts")).alias("dsts"),
            (F.lit(1.0) / F.size("all_dsts")).alias("inv_deg"),
        )
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    epsilon: float = 0.001,
    max_iterations: int = 100,
    checkpoint_manager=None,
    checkpoint_every: int = 10,
    num_partitions: int | None = None,
    compact_ids: bool = False,
    strategy: str = "auto",
    gather_graph=None,
    shuffle_graph=None,
) -> tuple[DataFrame, IterationStats]:
    """Returns (ranks(id LONG, rank DOUBLE), stats). ``compact_ids``
    packs adjacency arrays as int (caller asserts ids < 2^31; shuffle
    tier only). ``strategy``, ``gather_graph`` and ``shuffle_graph``
    pick the tier (plans/gather.py::resolve_tier). A shared
    ``shuffle_graph``'s ``compact_ids`` governs; the packed
    out-adjacency and the vertex set are built at most once across
    every operator sharing the instance.
    """
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    controller = IterationController(
        max_iterations=max_iterations,
        checkpoint_manager=checkpoint_manager,
        checkpoint_every=checkpoint_every,
        step_materializes=True,
    )

    def converged(m, i):
        return i >= 2 and m["max_delta"] < epsilon

    g = resolve_tier(
        edges, strategy, "pagerank",
        gather_graph=gather_graph, shuffle_graph=shuffle_graph,
    )
    if g is not None:
        return controller.run_gather(
            g, _pagerank_gather(g, damping, n_part), converged, "pagerank",
            ("rank", "double"), release=gather_graph is None,
        )

    # CSR-style adjacency blocks (north star: "range-partitioned
    # CSR-style adjacency blocks persisted per iteration"): out-edges
    # grouped per source into arrays, hub rows sliced to ADJ_CHUNK after
    # the pack (see build_out_adjacency). vs a flat (src, dst) table
    # this shrinks the per-superstep cache scan ~3x (one row + one
    # packed array per source instead of out_deg rows) and the state
    # join probes |V|-ish rows instead of |E|.
    if shuffle_graph is not None:
        # shared pipeline artifact (plans/adjacency.py): pack + vertex
        # set built at most once across PR/WCC over the same edges
        adj = shuffle_graph.out_adjacency()
        vertices = shuffle_graph.vertices()
        n = shuffle_graph.n
    else:
        adj = build_out_adjacency(edges, n_part, compact_ids=compact_ids)
        # materialize via localCheckpoint, not persist: RDD blocks hold
        # raw UnsafeRows, skipping the InMemoryRelation columnar encode
        # on write AND the per-superstep columnar decode of the packed
        # arrays (measured ~6s/scan at 0.6M array rows). aqe_off so the
        # LogicalRDD keeps the concrete hash(src) partitioning (under
        # AQE it would be UnknownPartitioning and every superstep would
        # re-shuffle the arrays — see plans.iteration.aqe_off)
        # hash_agg_pack: keep the collect_list pack hash-based (the
        # 128-key sort fallback default cost 3-4x of the build — see
        # plans.iteration)
        with aqe_off(spark), hash_agg_pack(spark):
            adj = adj.localCheckpoint(eager=True)
        # vertex set from the cheapest available sources: the
        # checkpointed adjacency's src column (already distinct-ish and
        # hash(src) clustered — every vertex with out-edges) unioned
        # with one pruned dst scan covers dangling vertices too.
        # Equivalent to vertices_of(edges) (explode src+dst -> distinct)
        # at roughly half the probe volume: 0.6M + |E| rows instead of
        # 2|E| exploded rows.
        vertices = (
            adj.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n = vertices.count()
    if n == 0:  # empty graph: no 1/N seed to compute
        stats = IterationStats()
        stats.converged = True
        return vertices.select("id", F.lit(0.0).alias("rank")), stats
    teleport = (1.0 - damping) / n
    init = vertices.select("id", F.lit(1.0 / n).alias("rank"))

    def step(state: DataFrame, i: int) -> tuple[DataFrame, dict]:
        # broadcast-or-shuffle: decided explicitly from the known vertex
        # count (broadcast small states; hinted shuffle-hash otherwise)
        bstate = maybe_broadcast(state, n)
        contribs = (
            adj.join(bstate, adj["src"] == bstate["id"])
            .select(
                F.explode("dsts").alias("_nb"),
                (F.col("rank") * F.col("inv_deg")).alias("c"),
            )
            .select(F.col("_nb").cast("long").alias("id"), "c")
            .groupBy("id")
            .agg(F.sum("c").alias("msg_sum"))
        )
        new_state = (
            state.withColumnRenamed("rank", "old_rank")
            .join(maybe_broadcast(contribs, n), "id", "left_outer")
            .select(
                "id",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce("msg_sum", F.lit(0.0))
                ).alias("rank"),
                "old_rank",
            )
        )
        # ONE fused job per superstep (plans.iteration.materialize):
        # compute + cache-fill + lineage/stats truncation + the
        # convergence scalar via Observation — the DataFrame analog of
        # Giraph's DoubleMax aggregator with no extra pass
        out, m = materialize(
            new_state,
            metrics={
                "max_delta": F.max(
                    F.abs(F.col("rank") - F.col("old_rank")) / F.col("old_rank")
                )
            },
            project=["id", "rank"],
        )
        return out, {"max_delta": float(m["max_delta"])}

    final, stats = controller.run(init, step, converged, name="pagerank")
    # adj is a localCheckpoint: its blocks are freed by the
    # ContextCleaner after driver GC (periodicGC.interval=1min).
    # A shared ShuffleGraph's vertex set stays persisted for the next
    # operator — the owner releases it.
    if shuffle_graph is None:
        vertices.unpersist()
    return final, stats


def _inv_out_degree(g, n_part: int):
    """1/out-degree per vertex over the gather tier's in-adjacency;
    dangling vertices never appear as a sender there, so their 0 slot
    is never read (the guard only avoids a divide warning)."""
    import numpy as np

    out_deg = g.out_degree(n_part)
    return np.where(out_deg > 0, 1.0 / np.maximum(out_deg, 1.0), 0.0)


def _pagerank_gather(g, damping: float, n_part: int):
    """``start`` of gather-tier PageRank (see plans/gather.py and the
    module docstring): identical Giraph semantics and iteration
    trajectory as the shuffle kernel — same teleport/damping
    arithmetic, same ``i >= 2 and max_delta < ε`` halt — with each
    superstep one shuffle-free vectorized pass over the in-adjacency
    keyed by the RECEIVER (message reduction with no per-superstep
    shuffle). Checkpoints hold the shuffle tier's (id, rank) state."""
    import numpy as np

    from distributed_graph_analytics_spark.plans.gather import gather_sum

    def start():
        n = g.n
        in_adj = g.in_adjacency(n_part)
        inv_deg = _inv_out_degree(g, n_part)
        teleport = (1.0 - damping) / n

        def step(rank, i):
            new_rank = teleport + damping * gather_sum(in_adj, rank * inv_deg, n)
            max_delta = float(np.max(np.abs(new_rank - rank) / rank))
            return new_rank, {"max_delta": max_delta}

        return np.full(n, 1.0 / n, dtype=np.float64), step

    return start


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    damping: float = 0.85,
    epsilon: float = 1e-6,
    max_iterations: int = 100,
    checkpoint_manager=None,
    checkpoint_every: int = 10,
    num_partitions: int | None = None,
    strategy: str = "auto",
) -> tuple[DataFrame, IterationStats]:
    """Personalized PageRank (engine extension — the reference has
    only global PR): teleport mass is restricted to the source set S,
    ``rank = (1-d)·s(v) + d·Σ(incoming rank/out_edges)`` with
    ``s(v) = 1/|S|`` on S and 0 elsewhere, ``r0 = s``. Same packed
    CSR adjacency and fused-superstep plan as :func:`pagerank`; the
    seed column rides in the state so the teleport term needs no
    per-superstep join. Convergence on max-ABS delta (the global PR's
    relative delta is undefined while non-source ranks are 0); pass
    ``epsilon=0.0`` for exactly ``max_iterations`` rounds (the
    fixed-unroll oracle mode). Dangling mass vanishes, matching the
    Giraph formulation of the global kernel.

    ``sources``: DataFrame with an ``id`` column. Returns
    (ranks(id LONG, rank DOUBLE), stats).

    ``strategy`` picks the tier (plans/gather.py::resolve_tier).
    """
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    controller = IterationController(
        max_iterations=max_iterations,
        checkpoint_manager=checkpoint_manager,
        checkpoint_every=checkpoint_every,
        step_materializes=True,
    )

    def converged(m, i):
        return m["max_delta"] < epsilon

    g = resolve_tier(edges, strategy, "personalized_pagerank")
    if g is not None:
        start, state_df = _ppr_gather(g, sources, damping, n_part)
        return controller.run_gather(
            g, start, converged, "ppr", ("rank", "double"), state_df
        )
    adj = build_out_adjacency(edges, n_part)
    with aqe_off(spark), hash_agg_pack(spark):
        adj = adj.localCheckpoint(eager=True)
    vertices = (
        adj.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = vertices.count()
    if n == 0:
        stats = IterationStats()
        stats.converged = True
        return vertices.select("id", F.lit(0.0).alias("rank")), stats
    srcs = sources.select("id").distinct()
    n_s = srcs.count()
    if n_s == 0:
        raise ValueError("personalized_pagerank needs a non-empty source set")
    init = vertices.join(
        F.broadcast(srcs.withColumn("seed", F.lit(1.0 / n_s))), "id", "left_outer"
    ).select(
        "id",
        F.coalesce("seed", F.lit(0.0)).alias("rank"),
        F.coalesce("seed", F.lit(0.0)).alias("seed"),
    )

    def step(state: DataFrame, i: int) -> tuple[DataFrame, dict]:
        bstate = maybe_broadcast(state, n)
        contribs = (
            adj.join(bstate, adj["src"] == bstate["id"])
            .select(
                F.explode("dsts").alias("id"),
                (F.col("rank") * F.col("inv_deg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("msg_sum"))
        )
        new_state = (
            state.withColumnRenamed("rank", "old_rank")
            .join(maybe_broadcast(contribs, n), "id", "left_outer")
            .select(
                "id",
                (
                    F.lit(1.0 - damping) * F.col("seed")
                    + F.lit(damping) * F.coalesce("msg_sum", F.lit(0.0))
                ).alias("rank"),
                "seed",
                "old_rank",
            )
        )
        out, m = materialize(
            new_state,
            metrics={"max_delta": F.max(F.abs(F.col("rank") - F.col("old_rank")))},
            project=["id", "rank", "seed"],
        )
        return out, {"max_delta": float(m["max_delta"])}

    final, stats = controller.run(init, step, converged, name="ppr")
    vertices.unpersist()
    return final.select("id", "rank"), stats


def pagerank_delta_push(
    edges: DataFrame,
    delta: float = 0.001,
    damping: float = 0.85,
    max_iterations: int = 10_000,
    num_partitions: int | None = None,
) -> tuple[DataFrame, IterationStats]:
    """GraphX delta-push PageRank (the reference's `pr` GraphX analytic,
    PageRankCore.runPageRank, PageRankCore.scala:33-72): Pregel with
    state (rank, Δ), initial message 1/N to every vertex, vertex program
    ``rank += d·msgSum; Δ = d·msgSum``, and senders gated by
    ``Δ > delta`` — only vertices whose rank still moves push
    ``Δ / out_deg`` along their out-edges. Un-normalized fixed point
    (no (1-d)/N teleport re-add), faithfully reproduced.

    Frontier semantics matter and are preserved: a vertex sends only in
    the superstep AFTER it received messages (Pregel activeDirection =
    Out), so the per-round join is senders (shrinking frontier) ⋈
    adjacency — at scale the tail rounds touch a tiny fraction of the
    graph, which is the point of the delta formulation.

    Returns (ranks(id, rank), stats).
    """
    import time

    from distributed_graph_analytics_spark.plans.iteration import truncate

    t0 = time.time()
    stats = IterationStats()
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    adj = (
        edges.select("src", "dst")
        .join(out_deg.hint("shuffle_hash"), "src")
        .repartition(n_part, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vertices = vertices_of(edges)
    n = vertices.count()
    if n == 0:  # empty graph: no 1/N seed to compute
        stats.converged = True
        return vertices.select("id", F.lit(0.0).alias("rank")), stats
    init_rank = 1.0 / n
    # superstep 0: every vertex receives the initial message 1/N
    state = truncate(
        vertices.select(
            "id",
            F.lit(init_rank + damping * init_rank).alias("rank"),
            F.lit(damping * init_rank).alias("delta"),
            F.lit(True).alias("active"),
        )
    )
    for i in range(1, max_iterations + 1):
        senders = state.where(F.col("active") & (F.col("delta") > delta)).select(
            "id", "delta"
        )
        msgs = (
            adj.join(
                maybe_broadcast(senders.withColumnRenamed("id", "src"), n),
                "src",
            )
            .select("dst", (F.col("delta") / F.col("out_deg")).alias("m"))
            .groupBy("dst")
            .agg(F.sum("m").alias("msg_sum"))
        )
        # one fused job: materialize + truncate + active count
        new_state, m = materialize(
            state.select("id", "rank", "delta")
            .join(msgs.withColumnRenamed("dst", "id"), "id", "left_outer")
            .select(
                "id",
                (
                    F.col("rank") + F.lit(damping) * F.coalesce("msg_sum", F.lit(0.0))
                ).alias("rank"),
                F.when(
                    F.col("msg_sum").isNotNull(), F.lit(damping) * F.col("msg_sum")
                )
                .otherwise(F.col("delta"))
                .alias("delta"),
                F.col("msg_sum").isNotNull().alias("active"),
            ),
            metrics={"active": F.sum(F.col("active").cast("long"))},
        )
        n_active = int(m["active"] or 0)
        state = new_state
        stats.iterations = i
        stats.history.append({"active": n_active})
        if n_active == 0:
            stats.converged = True
            break
    adj.unpersist()
    stats.wall_seconds = time.time() - t0
    return state.select("id", "rank"), stats


def _ppr_gather(g, sources: DataFrame, damping: float, n_part: int):
    """``start`` and ``state_df`` of gather-tier personalized PageRank:
    the global gather PageRank kernel with the teleport term masked to the
    seed vector (``(1-d)·s + d·msgs``, s = 1/|S| on S) and the
    absolute-delta halt. One shuffle-free gather_sum per superstep.

    Checkpoints carry the shuffle tier's (id, rank, seed) state shape
    under the same "ppr" name, so either tier resumes the other's save
    (a resume reads only rank — the seed vector is recomputed
    deterministically from ``sources``)."""
    import numpy as np
    import pandas as pd

    from distributed_graph_analytics_spark.plans.gather import frame, gather_sum

    n = g.n
    seed = np.zeros(n, dtype=np.float64)

    def start():
        src_ids = np.unique(
            np.asarray(
                [r["id"] for r in sources.select("id").distinct().collect()],
                dtype=np.int64,
            )
        )
        if len(src_ids) == 0:
            raise ValueError("personalized_pagerank needs a non-empty source set")
        # seeds outside the graph's vertex set get no state row in the
        # shuffle kernel either (vertices come from the edge table); 1/|S|
        # is sized on the distinct input set exactly as the shuffle
        # kernel's broadcast join does, then filtered to known vertices
        pos = np.searchsorted(g.uniq, src_ids)
        valid = (pos < n) & (g.uniq[np.minimum(pos, n - 1)] == src_ids)
        seed[pos[valid]] = 1.0 / len(src_ids)
        in_adj = g.in_adjacency(n_part)
        inv_deg = _inv_out_degree(g, n_part)

        def step(rank, i):
            msg = gather_sum(in_adj, rank * inv_deg, n)
            new_rank = (1.0 - damping) * seed + damping * msg
            return new_rank, {"max_delta": float(np.max(np.abs(new_rank - rank)))}

        return seed.copy(), step

    def state_df(rank, _converged):
        pdf = pd.DataFrame({"id": g.orig_id, "rank": rank, "seed": seed})
        return frame(g.edges.sparkSession, pdf, "id long, rank double, seed double")

    return start, state_df
