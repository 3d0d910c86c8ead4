"""HITS hubs-and-authorities (Kleinberg JACM'99) — engine extension
(no reference analog; the natural companion to PageRank on a directed
link graph, here the canonical src→dst co-occurrence edge table).

Per iteration over directed edges E:
    a'(v) = Σ_{u→v} h(u)        (authority update)
    h'(u) = Σ_{u→v} a(v)        (hub update)
each followed by L1 normalization (scores sum to 1 — chosen over L2
so the oracle needs no sqrt). Fixed-iteration semantics: exactly
``iterations`` rounds, no convergence test — the DuckDB twin unrolls
the identical arithmetic and both sides round to 9 decimals.

Scale shape: each iteration is one shuffle join of the |V| score
vector against the edge table on the aggregate key plus a map-side
combined sum — the same superstep shape as the un-packed PageRank
variant; the two scalar normalizers per round ride a 1-row broadcast
cross join (no driver collect in the loop). Vertices with no
in-edges keep authority 0, no out-edges keep hub 0; every vertex of
the graph gets a row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

from distributed_graph_analytics_spark.plans.gather import resolve_tier
from distributed_graph_analytics_spark.sources.edges import (
    merge_parallel_edges,
    vertices_of,
)


def hits(
    edges: DataFrame, iterations: int = 10, strategy: str = "auto"
) -> DataFrame:
    """Returns (id LONG, hub DOUBLE, authority DOUBLE) after exactly
    ``iterations`` authority→hub rounds with L1 normalization.

    ``strategy`` picks the tier (plans/gather.py::resolve_tier). The
    tiers agree to float summation order (≤1e-13 relative — the
    tier-parity pin), absorbed by the driver oracle's 9-decimal
    rounding like every float kernel here."""
    merged = merge_parallel_edges(
        edges.where(F.col("src") != F.col("dst"))
    ).select("src", "dst")
    g = resolve_tier(merged, strategy, "hits")
    if g is not None:
        return _hits_gather(g, iterations)
    e = merged.persist(StorageLevel.MEMORY_AND_DISK)
    verts = vertices_of(e).persist(StorageLevel.MEMORY_AND_DISK)
    h = verts.select("id", F.lit(1.0).alias("hub"))
    a = None
    for _ in range(iterations):
        a_raw = (
            e.join(h.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("auth_raw"))
        )
        a_raw = verts.join(a_raw, "id", "left_outer").select(
            "id", F.coalesce("auth_raw", F.lit(0.0)).alias("auth_raw")
        )
        a_norm = a_raw.agg(F.sum("auth_raw").alias("a_tot"))
        a = a_raw.crossJoin(F.broadcast(a_norm)).select(
            "id", (F.col("auth_raw") / F.col("a_tot")).alias("authority")
        )
        h_raw = (
            e.join(a.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("authority").alias("hub_raw"))
        )
        h_raw = verts.join(h_raw, "id", "left_outer").select(
            "id", F.coalesce("hub_raw", F.lit(0.0)).alias("hub_raw")
        )
        h_norm = h_raw.agg(F.sum("hub_raw").alias("h_tot"))
        h = h_raw.crossJoin(F.broadcast(h_norm)).select(
            "id", (F.col("hub_raw") / F.col("h_tot")).alias("hub")
        )
        # truncate lineage every round: 10 unrolled join+agg rounds
        # otherwise compound Catalyst analysis cost quadratically
        h = h.localCheckpoint(eager=True)
        a = a.localCheckpoint(eager=True)
    # h/a are checkpointed — their lineage no longer references e/verts,
    # so the caches must not outlive the call (a long-lived driver
    # session running many queries otherwise accumulates leaked blocks)
    e.unpersist()
    verts.unpersist()
    return h.join(a, "id").select("id", "hub", "authority")


def weighted_pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    strategy: str = "auto",
) -> DataFrame:
    """Edge-weighted PageRank: each vertex splits its rank over its
    out-edges PROPORTIONALLY TO EDGE WEIGHT (contribution
    rank·w/Σw_out) instead of uniformly — the natural variant for the
    co-occurrence edge table, whose weights count shared (repo, commit)
    containers. Giraph-DGA base semantics otherwise (directed canonical
    edges, (1−d)/n base, no dangling redistribution — reference:
    dga-giraph PageRankComputation; `operators/pagerank.py` documents
    the unweighted contract this mirrors).

    Fixed-iteration unroll semantics; same join-agg superstep shape as
    hits() above (scalar n as a literal, per-round localCheckpoint).
    For the 100 TB path the weighted adjacency packs exactly like
    SSSP's (nb, w) struct arrays — this unpacked variant is the
    reference implementation the pack would be parity-tested against.

    ``strategy`` picks the tier (plans/gather.py::resolve_tier); a
    fractional-typed weight column keeps ``"auto"`` on the join-agg
    kernel below.

    Returns (id LONG, rank DOUBLE).
    """
    merged = merge_parallel_edges(edges.where(F.col("src") != F.col("dst")))
    g = resolve_tier(merged, strategy, "weighted_pagerank", weight="weight")
    if g is not None:
        return _weighted_pagerank_gather(g, iterations, damping)
    e = merged.persist(StorageLevel.MEMORY_AND_DISK)
    verts = vertices_of(e).persist(StorageLevel.MEMORY_AND_DISK)
    n = verts.count()
    sw = e.groupBy("src").agg(F.sum("weight").alias("sw"))
    ranks = verts.select("id", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    for _ in range(iterations):
        msgs = (
            e.join(sw, "src")
            .join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.sum(
                    F.col("rank") * F.col("weight") / F.col("sw")
                ).alias("msg_sum")
            )
        )
        ranks = verts.join(msgs, "id", "left_outer").select(
            "id",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce("msg_sum", F.lit(0.0))
            ).alias("rank"),
        )
        ranks = ranks.localCheckpoint(eager=True)
    # ranks is checkpointed — drop the build caches (see hits above)
    e.unpersist()
    verts.unpersist()
    return ranks


def _hits_gather(g, iterations: int) -> DataFrame:
    """Gather-tier HITS: per round, authority = one gather_sum of the
    hub vector over the in-adjacency blobs, hub = one gather_sum of
    the normalized authority over the out-adjacency blobs; L1
    normalizers are driver-side numpy sums over the O(|V|) vectors.
    20 shuffle-free stages total for the fixed 10 rounds."""
    import numpy as np

    from distributed_graph_analytics_spark.plans.gather import (
        gather_sum,
        vector_to_df,
    )

    spark = g.edges.sparkSession
    n = g.n
    if n == 0:
        empty = np.empty(0, dtype=np.int64)
        return (
            vector_to_df(spark, empty, empty.astype(np.float64), "hub", "double")
            .withColumn("authority", F.col("hub"))
        )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    in_adj = g.in_adjacency(n_part)
    out_adj = g.out_adjacency(n_part)
    hub = np.ones(n, dtype=np.float64)
    authority = np.zeros(n, dtype=np.float64)
    for _ in range(iterations):
        a_raw = gather_sum(in_adj, hub, n)
        authority = a_raw / a_raw.sum()
        h_raw = gather_sum(out_adj, authority, n)
        hub = h_raw / h_raw.sum()
    out = vector_to_df(spark, g.orig_id, hub, "hub", "double")
    auth_df = vector_to_df(spark, g.orig_id, authority, "authority", "double")
    res = out.join(auth_df, "id").select("id", "hub", "authority")
    g.release()
    return res


def _weighted_pagerank_gather(g, iterations: int, damping: float) -> DataFrame:
    """Gather-tier weighted PageRank: sw (out-weight sums) from one
    pass over the in-keyed weighted blobs, then one
    ``gather_weighted_rank_msgs`` stage per round — the weighted twin
    of the unweighted gather PR, sharing its (1−d)/n base semantics
    (no dangling redistribution, fixed iterations)."""
    import numpy as np

    from distributed_graph_analytics_spark.plans.gather import (
        gather_in_weight_sums,
        gather_weighted_rank_msgs,
        vector_to_df,
    )

    spark = g.edges.sparkSession
    n = g.n
    if n == 0:
        empty = np.empty(0, dtype=np.int64)
        return vector_to_df(
            spark, empty, empty.astype(np.float64), "rank", "double"
        )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    adj = g.in_weighted_adjacency(n_part)
    sw = gather_in_weight_sums(adj, n)
    rank = np.full(n, 1.0 / n, dtype=np.float64)
    base = (1.0 - damping) / n
    for _ in range(iterations):
        msg = gather_weighted_rank_msgs(adj, rank, sw, n)
        rank = base + damping * msg
    out = vector_to_df(spark, g.orig_id, rank, "rank", "double")
    g.release()
    return out
