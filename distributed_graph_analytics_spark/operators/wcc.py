"""Weakly Connected Components — max-label propagation to fixed point.

Semantics match the reference's custom WCC
(dga-graphx WeaklyConnectionComponentsCore.scala:31-56): every vertex
starts labeled with its own id; along every edge (both directions —
``EdgeDirection.Either``) the lower-labeled endpoint adopts the higher
label; merge is ``max``; fixed point when no label changes. Numeric
long comparison (GraphX semantics; the Giraph twin compares strings —
SURVEY.md §1.1 picks numeric).

Spark-first design:
- the symmetric neighbor view is built once, de-duplicated, packed into
  CSR-style array rows pre-partitioned on the join key, and
  materialized as raw rows (localCheckpoint under aqe_off) so every
  superstep joins it with no exchange on the packed side;
- frontier optimization (the DataFrame analog of Pregel's active set):
  max-labels only grow, so only vertices whose label changed last
  superstep need to re-broadcast — the per-iteration join probes a
  shrinking frontier, exactly Pregel's ``activeDirection`` pruning;
- each superstep = one shuffle join + one partial-aggregated groupBy;
  convergence is a driver-side count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
from distributed_graph_analytics_spark.operators.pagerank import (
    ADJ_CHUNK,
    _chunked,
    _int_packable,
)
from distributed_graph_analytics_spark.plans.join_strategy import maybe_broadcast


def build_sym_adjacency(
    edges: DataFrame,
    n_part: int,
    edges_canonical: bool = False,
    compact_ids: bool = False,
) -> DataFrame:
    """Symmetric packed adjacency keyed by the sender: (v, us ARRAY<LONG>).

    Same layout discipline as pagerank.build_out_adjacency: the hash(v)
    pin lives on the cheap FLAT rows — the packing groupBy clusters on
    v, so the packed output inherits hash(v) partitioning, and the hub
    split is a Generate node that preserves it; no exchange of array
    rows, and no degree pre-join (hubs are sliced into
    ceil(deg/ADJ_CHUNK) rows by position AFTER the pack — the degree
    join was measured as the worst-scaling phase of the whole WCC
    build, see BENCH/BASELINE.md)."""
    sym = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).union(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    if not edges_canonical:
        sym = sym.distinct()
    # compact_ids: int neighbor arrays (per-value bound guard — see
    # pagerank._int_packable) — halves the pack-buffer/checkpoint/scan
    # payload; the key column v stays LONG so every layout invariant
    # holds (see pagerank.build_out_adjacency)
    u_col = _int_packable(F.col("u")) if compact_ids else F.col("u")
    return (
        sym.repartition(n_part, "v")
        .groupBy("v")
        .agg(F.collect_list(u_col).alias("all_us"))
        .select("v", F.explode(_chunked("all_us")).alias("us"))
    )


def weakly_connected_components(
    edges: DataFrame,
    max_iterations: int = 200,
    checkpoint_manager=None,
    checkpoint_every: int = 10,
    num_partitions: int | None = None,
    edges_canonical: bool = False,
    compact_ids: bool = False,
    min_label: bool = False,
    strategy: str = "auto",
    gather_graph=None,
    shuffle_graph=None,
) -> tuple[DataFrame, IterationStats]:
    """Returns (components(id LONG, component LONG), stats).

    ``component`` is the max vertex id in the component (reference
    fixture semantics, WeaklyConnectedComponentsCoreTest.scala).
    ``min_label=True`` flips the merge to MIN — the GraphX built-in
    ``Graph.connectedComponents()`` semantics that the reference's
    ``wccGraphX`` CLI analytic dispatches to
    (dga-graphx DGARunner.scala:96-117, components labeled by the
    LOWEST vertex id). Same kernel, mirrored comparisons; labels are
    exact either way.

    ``edges_canonical=True`` asserts the input has unique undirected
    pairs (e.g. the co-occurrence build's src < dst contract) and skips
    the defensive ``distinct()`` on the symmetrized table — one full
    2|E|-row shuffle saved. Duplicate edges would only add duplicate
    max-merged messages (semantically harmless), so this is a pure
    traffic optimization, but the default stays defensive.

    ``strategy``, ``gather_graph`` and ``shuffle_graph`` pick the tier
    (plans/gather.py::resolve_tier). In the gather tier
    ``edges_canonical`` is moot: integer max/min merges absorb
    duplicate messages bit-identically, so the flat symmetric table is
    never deduped.

    With a ``shuffle_graph`` (plans/adjacency.py), instead of a
    standalone 2|E|-row symmetric pack, the supersteps join the
    frontier against the shared OUT pack plus the IN pack derived from it (half the flat-row
    exchange, and the out half is already paid by whichever operator
    built it — e.g. PageRank in the PR→WCC pipeline). The candidate
    multiset per vertex is identical (each edge contributes both
    directions exactly once), so labels and the changed-count
    trajectory match the single-pack kernel exactly
    (tests/test_shared_adjacency.py).
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
        return m["changed"] == 0

    g = resolve_tier(
        edges, strategy, "weakly_connected_components",
        gather_graph=gather_graph, shuffle_graph=shuffle_graph,
    )
    if g is not None:
        return controller.run_gather(
            g, _wcc_gather(g, n_part, min_label), converged, "wcc",
            ("component", "long"), frontier_state(g, "component"),
            release=gather_graph is None,
        )
    if shuffle_graph is not None:
        # shared pipeline artifact (plans/adjacency.py): the frontier
        # joins the OUT pack (reused from whichever operator built it)
        # plus the IN pack derived from its array rows — together the
        # exact symmetric neighbor multiset of the single-pack build
        nbr_tables = [
            shuffle_graph.out_adjacency().select(
                F.col("src").alias("v"), F.col("dsts").alias("us")
            ),
            shuffle_graph.in_adjacency(),
        ]
        vertices = shuffle_graph.vertices()
        n = shuffle_graph.n
    else:
        # symmetric, deduped adjacency, packed into CSR-style array rows
        # keyed by the *sender* v (north star: "CSR-style adjacency
        # blocks"): per superstep the frontier joins |V|-ish packed rows
        # instead of 2|E| flat rows, and the cache scan shrinks ~3x.
        # Materialized via localCheckpoint: raw UnsafeRows, no columnar
        # encode/decode of the arrays (see pagerank.py for the
        # measurement).
        nbrs = build_sym_adjacency(
            edges, n_part, edges_canonical=edges_canonical, compact_ids=compact_ids
        )
        # aqe_off: keep the concrete hash(v) partitioning in the
        # LogicalRDD (see plans.iteration.aqe_off and pagerank.py)
        # hash_agg_pack: keep the collect_list pack hash-based (the
        # 128-key sort fallback default cost 3-4x of the build — see
        # plans.iteration)
        with aqe_off(spark), hash_agg_pack(spark):
            nbrs = nbrs.localCheckpoint(eager=True)
        nbr_tables = [nbrs]
        # the symmetric table contains every vertex as a sender v, so
        # the vertex set falls out of the checkpointed 0.6M packed rows
        # (already hash(v)-clustered -> the distinct adds NO exchange)
        # instead of vertices_of's 2|E|-row explode+distinct
        vertices = (
            nbrs.select(F.col("v").alias("id"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n = vertices.count()
    # state carries the frontier flag; superstep 0 = everyone active
    init = vertices.select(
        F.col("id"), F.col("id").alias("component"), F.lit(True).alias("changed")
    )

    # max-label (DGA's own WCC) or min-label (GraphX built-in) — the
    # kernel is identical with the merge/compare mirrored
    merge = F.min if min_label else F.max
    pick = F.least if min_label else F.greatest

    def improves(cand, component):
        return cand < component if min_label else cand > component

    arr_extreme = F.array_min if min_label else F.array_max

    def step(state: DataFrame, i: int) -> tuple[DataFrame, dict]:
        if i == 1:
            # Fused first superstep: at i == 1 every label still equals
            # the vertex id (the controller enters a resumed run at
            # start_iter+1 > 1, so i == 1 is only reachable with the
            # pristine init state), so each sender's candidate IS its
            # id and the per-receiver message reduces to
            # array_max/array_min over the packed neighbor arrays —
            # a ~|V|-row scan of rows already hash(v)-clustered,
            # replacing the heaviest superstep of the run (full
            # frontier: a 2|E|-row explode through one exchange into
            # the max-aggregate). Labels are identical by construction,
            # so the changed-count trajectory and every later round
            # match the unfused kernel exactly.
            parts = [
                t.select("v", arr_extreme("us").cast("long").alias("cand"))
                for t in nbr_tables
            ]
        else:
            frontier = state.where("changed").select(
                F.col("id").alias("v"), "component"
            )
            # messages: each frontier vertex pushes its label to all
            # neighbors; frontier ≤ n rows → broadcast-or-shuffle decided
            # from the known vertex count (state is a stats-less LogicalRDD).
            # One join per packed table (one for the standalone symmetric
            # pack; out + in under a shared ShuffleGraph) — each keeps its
            # hash(v) side exchange-free, the union feeds one partial-
            # aggregated merge.
            parts = [
                t.join(maybe_broadcast(frontier, n), "v")
                .select(
                    F.explode("us").alias("_nb"),
                    F.col("component").alias("cand"),
                )
                .select(F.col("_nb").cast("long").alias("v"), "cand")
                for t in nbr_tables
            ]
        flat = parts[0]
        for p in parts[1:]:
            flat = flat.unionByName(p)
        msgs = (
            flat.select(F.col("v").alias("id"), "cand")
            .groupBy("id")
            .agg(merge("cand").alias("cand"))
        )
        new_state = (
            state.select("id", "component")
            .join(maybe_broadcast(msgs, n), "id", "left_outer")
            .select(
                "id",
                pick("component", "cand").alias("component"),
                improves(F.col("cand"), F.col("component")).alias("changed_raw"),
            )
            .select(
                "id",
                "component",
                F.coalesce("changed_raw", F.lit(False)).alias("changed"),
            )
        )
        # ONE fused job per superstep (plans.iteration.materialize):
        # compute + cache-fill + lineage/stats truncation + the frontier
        # count via Observation — no second pass over the state
        new_state, m = materialize(
            new_state,
            metrics={"changed": F.sum(F.col("changed").cast("long"))},
        )
        return new_state, {"changed": int(m["changed"] or 0)}

    final, stats = controller.run(init, step, converged, name="wcc")
    # nbrs is a localCheckpoint: blocks freed by ContextCleaner post-GC.
    # A shared ShuffleGraph's vertex set stays persisted for the next
    # operator — the owner releases it.
    if shuffle_graph is None:
        vertices.unpersist()
    return final.select("id", "component"), stats


def frontier_state(g, col: str):
    """``state_table`` of the gather tier for the frontier kernels'
    (id, <col> LONG, changed) checkpoint state: a periodic save marks
    every vertex changed, so a shuffle-tier resume re-sends all values
    once; the converged save marks none, as the shuffle tier's does."""
    import numpy as np
    import pyarrow as pa

    from distributed_graph_analytics_spark.plans.gather import vector_table

    def state_table(vec, converged):
        changed = pa.array(np.full(len(vec), not converged))
        return vector_table(g.orig_id, vec, col, "long").append_column("changed", changed)

    return state_table


def _wcc_gather(g, n_part: int, min_label: bool):
    """``start`` of gather-tier WCC (see plans/gather.py): identical
    label-propagation semantics and iteration trajectory as the
    shuffle kernel — integer max/min merge is bit-exact, and a
    full-adjacency gather sees a superset of the frontier's messages
    whose extra candidates are already-absorbed labels, so
    per-iteration labels (and therefore the changed-count trajectory
    and halt) are identical. Each superstep is one shuffle-free
    vectorized pass over the flat-sorted symmetric int32 adjacency
    (both directions as a narrow union of the in/out tables — no dedup
    needed, max/min absorbs duplicates)."""
    import numpy as np

    from distributed_graph_analytics_spark.plans.gather import gather_extreme

    merge = np.minimum if min_label else np.maximum

    def start():
        sym_adj = g.sym_adjacency(n_part)

        def step(labels, i):
            cand = gather_extreme(sym_adj, labels, g.n, minimum=min_label)
            new_labels = merge(labels, cand)
            return new_labels, {"changed": int(np.count_nonzero(new_labels != labels))}

        return g.orig_id.copy(), step

    return start
