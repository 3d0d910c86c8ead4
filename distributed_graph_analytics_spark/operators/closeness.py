"""Pivot-sampled closeness / harmonic centrality — engine extension
(no reference analog; the reference's only distance analytic is the
SSSP inside HBSE pivot batches, HighBetweennessCore.java's pivot
selection being the model for the sampling here).

Eppstein–Wang-style estimator: run one unweighted multi-source BFS
from K hash-chosen pivot vertices and aggregate, per vertex v, the
distances d(p, v) over the pivots that reach it:

- ``reached``   — number of pivots with a finite distance to v,
- ``sum_dist``  — Σ d(p, v) (closeness ≈ reached / sum_dist),
- ``harmonic``  — Σ 1/d(p, v) over d > 0 (harmonic centrality).

Determinism: pivots are the K smallest (H(id, seed), id) vertices —
a distributed sort-limit (TakeOrderedAndProject), never a global
row_number window — so the DuckDB oracle selects the identical set
with the sha2 family and replays the BFS closure exactly; the integer
outputs are exact and ``harmonic`` rounds to 9 decimals on both sides
(the summation-order convention every float oracle here uses).

Scale shape: frontier rows are bounded by K·|V| total across all
rounds (each (pivot, vertex) pair enters the frontier at most once);
each round is one join of the frontier against the chunked CSR pack
(hub rows pre-split to ADJ_CHUNK — no unbounded explode), a map-side
combined min-aggregate, and one anti-join against the visited set.
Round count = graph diameter (small for co-occurrence graphs; the
same bound WCC's superstep count rides on). All column expressions,
no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_graph_analytics_spark.functions.dedup import _hash64
from distributed_graph_analytics_spark.operators.walks import (
    _pack_sorted_adjacency,
)
from distributed_graph_analytics_spark.plans.gather import resolve_tier
from distributed_graph_analytics_spark.plans.iteration import materialize, truncate
from distributed_graph_analytics_spark.sources.edges import canonicalize_edges


def closeness_centrality(
    edges: DataFrame,
    num_pivots: int = 8,
    seed: int = 42,
    hash_family: str = "xxhash64",
    max_rounds: int = 64,
    num_partitions: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Returns (id LONG, reached BIGINT, sum_dist BIGINT,
    harmonic DOUBLE) for every vertex, aggregating BFS distances from
    ``num_pivots`` hash-sampled pivot vertices (unreached vertices get
    reached=0, sum_dist=0, harmonic=0.0).

    ``strategy`` picks the tier (plans/gather.py::resolve_tier). The
    gather tier's K-source BFS broadcasts a (K, n) distance matrix — K×
    the tier's 8·|V| per-vector budget — so the auto cap counts
    ``num_pivots`` vectors per vertex (at the 2^25 cap with K=8 an
    unscaled check would broadcast ~2 GB per superstep); pivot
    selection stays the Spark-side distributed sort-limit, so the
    sha2/xxhash64 pivot set and the integer results are identical."""
    spark = edges.sparkSession
    n_part = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    if "weight" not in edges.columns:
        edges = edges.withColumn("weight", F.lit(1).cast("long"))
    canon = canonicalize_edges(edges).select("src", "dst")
    g = resolve_tier(
        canon, strategy, "closeness_centrality",
        per_vertex_vectors=max(num_pivots, 1),
    )
    if g is not None:
        return _closeness_gather(
            g,
            num_pivots=num_pivots,
            seed=seed,
            hash_family=hash_family,
            max_rounds=max_rounds,
            n_part=n_part,
        )
    sym = canon.select(F.col("src").alias("v"), F.col("dst").alias("nb")).union(
        canon.select(F.col("dst").alias("v"), F.col("src").alias("nb"))
    )
    packed = _pack_sorted_adjacency(sym, n_part)
    verts = packed.select("v").distinct()

    h = _hash64(F.col("v"), F.lit(seed), family=hash_family)
    pivots = (
        verts.select(F.col("v").alias("p"), h.alias("h"))
        .orderBy("h", "p")
        .limit(num_pivots)
        .select("p")
    )

    # BFS loop discipline (SURVEY §4 "lineage truncation", the repo's
    # own rule for every iterative loop): each round's hop is
    # materialized through plans.iteration.materialize — ONE job that
    # fills the cache, truncates lineage AND statistics to a LogicalRDD
    # leaf, and delivers the emptiness scalar via Observation. The
    # visited set is a plain union of the checkpointed hop leaves (a
    # width-r union of leaves, not an O(rounds)-deep join lineage), so
    # plan analysis stays O(rounds) shallow on high-diameter graphs
    # (path/road topologies) and each (pivot, vertex) row is cached
    # exactly once — the old per-round ``visited`` persists duplicated
    # every prior row into each round's cache and leaked all of them
    # past return (tests/test_closeness.py pins the high-diameter
    # path-graph case).
    frontier = truncate(
        pivots.select("p", F.col("p").alias("v"), F.lit(0).cast("int").alias("d"))
    )
    visited = frontier
    for r in range(1, max_rounds + 1):
        hop = (
            frontier.join(
                packed.select(F.col("v").alias("_v"), "nbrs"),
                F.col("v") == F.col("_v"),
            )
            .select("p", F.explode("nbrs").alias("v"), (F.col("d") + 1).alias("d"))
            .groupBy("p", "v")
            .agg(F.min("d").alias("d"))
            .join(visited.select("p", "v"), ["p", "v"], "left_anti")
        )
        hop, m = materialize(hop, metrics={"rows": F.count(F.lit(1))})
        if int(m["rows"] or 0) == 0:
            break
        visited = visited.unionByName(hop)
        frontier = hop

    agg = visited.groupBy("v").agg(
        F.count(F.when(F.col("d") > 0, 1)).alias("reached_pos"),
        F.sum("d").alias("sum_dist"),
        F.sum(F.when(F.col("d") > 0, 1.0 / F.col("d")).otherwise(0.0)).alias(
            "harmonic"
        ),
    )
    return (
        verts.join(agg, "v", "left_outer")
        .select(
            F.col("v").alias("id"),
            F.coalesce("reached_pos", F.lit(0)).cast("long").alias("reached"),
            F.coalesce("sum_dist", F.lit(0)).cast("long").alias("sum_dist"),
            F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
        )
    )


def _closeness_gather(
    g,
    num_pivots: int,
    seed: int,
    hash_family: str,
    max_rounds: int,
    n_part: int,
) -> DataFrame:
    """Gather-tier closeness: the K pivot BFS vectors advance together
    as a (K, n) int64 matrix — one ``gather_min_rows`` pass per round
    over the (duplicate-tolerant) sym blob union, min-merged with the
    +1 hop. All outputs integer-exact; per-vertex aggregates computed
    driver-side over the K-row columns."""
    import numpy as np

    from distributed_graph_analytics_spark.plans.gather import (
        _BFS_INF,
        gather_min_rows,
        vector_to_df,
    )

    spark = g.edges.sparkSession
    n = g.n
    if n == 0:
        empty = np.empty(0, dtype=np.int64)
        return (
            vector_to_df(spark, empty, empty, "reached", "long")
            .withColumn("sum_dist", F.col("reached"))
            .withColumn("harmonic", F.col("reached").cast("double"))
        )
    # pivot selection: identical Spark-side distributed sort-limit as
    # the shuffle kernel (the hash family is a JVM function — the
    # DuckDB oracle replays it, so it must not be reimplemented here)
    verts_df = g.edges.select(F.col("src").alias("v")).union(
        g.edges.select(F.col("dst").alias("v"))
    ).distinct()
    h = _hash64(F.col("v"), F.lit(seed), family=hash_family)
    pivots = [
        r["p"]
        for r in verts_df.select(F.col("v").alias("p"), h.alias("h"))
        .orderBy("h", "p")
        .limit(num_pivots)
        .select("p")
        .collect()
    ]
    K = len(pivots)
    sym = g.sym_adjacency(n_part)
    D = np.full((K, n), _BFS_INF, dtype=np.int64)
    D[np.arange(K), g.cid_of(np.asarray(pivots, dtype=np.int64))] = 0
    for _ in range(1, max_rounds + 1):
        minima = gather_min_rows(sym, D, n)
        hop = np.where(minima < _BFS_INF, minima + 1, _BFS_INF)
        new = np.minimum(D, hop)
        if np.array_equal(new, D):
            break
        D = new
    finite = D < _BFS_INF
    pos = finite & (D > 0)
    reached = pos.sum(axis=0).astype(np.int64)
    sum_dist = np.where(finite, D, 0).sum(axis=0).astype(np.int64)
    with np.errstate(divide="ignore"):
        harmonic = np.where(pos, 1.0 / np.where(pos, D, 1), 0.0).sum(axis=0)
    out = vector_to_df(spark, g.orig_id, reached, "reached", "long")
    sd = vector_to_df(spark, g.orig_id, sum_dist, "sum_dist", "long")
    hm = vector_to_df(spark, g.orig_id, harmonic, "harmonic", "double")
    res = (
        out.join(sd, "id")
        .join(hm, "id")
        .select("id", "reached", "sum_dist", "harmonic")
    )
    g.release()
    return res
