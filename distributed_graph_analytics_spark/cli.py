"""CLI mirroring the reference's analytic-name dispatch.

Reference: dga-graphx DGARunner.scala:43-131 — ``dga-graphx <analytic>
-i <input> -o <output> -d <delimiter> ...`` with analytics
``wcc|hbse|louvain|lc|pr|neighboringCommunities``; Giraph twin
DGARunner.java:54-170. Here::

    spark-submit --py-files dga.zip -m distributed_graph_analytics_spark.cli \
        <analytic> -i edges.csv -o out/ [-d ','] [--sf-dir DIR] ...

Input is either a delimited edge list (-i) or the synthesized repo
table (--sf-dir). Output is parquet (the reference wrote delimited
text; pass --format csv for parity fixtures, sinks S6-S14).
"""

from __future__ import annotations

import argparse
import sys
import time

from pyspark.sql import functions as F


ANALYTICS = (
    "wcc", "pr", "lc", "louvain", "lpa", "hbse", "triangles",
    "neighboringCommunities", "kcore", "sssp", "linkPrediction",
    "randomWalks", "graphStats",
    # the reference's GraphX built-in variants (DGARunner.scala:96-117):
    # wccGraphX = Graph.connectedComponents() min-label semantics,
    # prGraphX = Pregel delta-push PageRank
    "wccGraphX", "prGraphX",
    # engine extension: pr + wcc over ONE shared packed adjacency
    # (plans/adjacency.py ShuffleGraph) — the multi-analytic pipeline a
    # real deployment runs over one edge table; ranks land in
    # <output>_pr, the main output is WCC's S7 edge sink
    "pipeline",
    # engine extension: O(log² n)-round star components (wcc labels)
    "wccStar",
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dga-spark")
    p.add_argument("analytic", choices=ANALYTICS)
    p.add_argument("-i", "--input", help="delimited edge list path")
    p.add_argument("--sf-dir", help="testdata dir (repo-table ingest) instead of -i")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("-d", "--delimiter", default=",")
    p.add_argument("--format", default="parquet", choices=("parquet", "csv", "text"))
    # S6 output-format parity (DGAAbstractEdgeOutputFormat.java:95-128):
    # delimited text lines src<d>dst[<d>vertexValue][<d>edgeValue]
    p.add_argument(
        "--output-delimiter",
        default=None,
        help="field delimiter for --format text (default: the input -d)",
    )
    p.add_argument("--write-vertex-value", action="store_true")
    p.add_argument("--write-edge-value", action="store_true")
    p.add_argument(
        "--resume",
        action="store_true",
        help="resume louvain from the last completed level checkpoint",
    )
    p.add_argument("--master", default=None)
    p.add_argument("--parallelism", type=int, default=None)
    # analytic knobs (reference defaults: DGARunner.scala:52-57)
    p.add_argument("--delta", type=float, default=0.001, help="PR epsilon")
    p.add_argument("--damping", type=float, default=0.85)
    p.add_argument("--minprogress", type=int, default=2000)
    p.add_argument("--progresscounter", type=int, default=1)
    p.add_argument("--k", type=int, default=10, help="HBSE top-K size")
    p.add_argument("--source", type=int, default=None,
                   help="sssp source vertex (default: smallest id)")
    p.add_argument("--min-common", type=int, default=2,
                   help="linkPrediction common-neighbor threshold")
    p.add_argument("--max-apex-degree", type=int, default=10_000,
                   help="linkPrediction hub stop-word cut (0 disables "
                   "and enumerates every wedge)")
    p.add_argument("--walk-length", type=int, default=4)
    p.add_argument("--pivot-batch-size", type=int, default=None)
    p.add_argument("--max-iterations", type=int, default=200)
    p.add_argument("--reverse", action="store_true", help="reverse-edge duplication")
    p.add_argument("--checkpoint-dir", default=None)
    # reference 4-layer config coalesce (DGARunner.java:87-170): minimal
    # defaults < --conf-file xml < --ca key=value < analytic-required
    p.add_argument(
        "--conf-file",
        default=None,
        help="dga-config.xml-shaped file (system/custom/giraph sections)",
    )
    p.add_argument(
        "--ca",
        action="append",
        default=[],
        metavar="KEY=VALUE",
        help="custom argument (repeatable); S:key or spark.key sets a "
        "session conf entry",
    )
    return p


def resolve_config(args):
    """Coalesce the 4 layers and fold the result into the argparse
    namespace. A flat CLI flag the user typed explicitly still wins
    (it IS command line); a flag left at its default yields to the
    coalesced config, so ``--conf-file``/``--ca`` behave exactly like
    the reference's layering."""
    from distributed_graph_analytics_spark import config as C

    file_conf = C.parse_config_xml(args.conf_file) if args.conf_file else None
    cli_conf = C.parse_ca_args(args.ca) if args.ca else None
    conf = C.resolve(args.analytic, file_conf, cli_conf, args.output)

    parser = build_parser()

    def fold(attr, key, cast):
        if key in conf.custom and getattr(args, attr) == parser.get_default(attr):
            setattr(args, attr, cast(conf.custom[key]))

    fold("delimiter", C.EDGE_DELIMITER, str)
    fold("reverse", C.EDGE_REVERSE_DUPLICATOR, lambda v: v.lower() == "true")
    fold("write_vertex_value", C.WRITE_VERTEX_VALUE, lambda v: v.lower() == "true")
    fold("write_edge_value", C.WRITE_EDGE_VALUE, lambda v: v.lower() == "true")
    fold("minprogress", C.LOUVAIN_MIN_PROGRESS, int)
    fold("progresscounter", C.LOUVAIN_PROGRESS_TRIES, int)
    fold("k", C.HBSE_SET_MAX_SIZE, int)
    fold("pivot_batch_size", C.HBSE_PIVOT_BATCH_SIZE, int)
    if "-w" in conf.engine and args.parallelism is None:
        args.parallelism = int(conf.engine["-w"])
    return conf


def main(argv=None):
    args = build_parser().parse_args(argv)
    conf = resolve_config(args)
    from distributed_graph_analytics_spark.session import get_spark

    spark = get_spark("dga-" + args.analytic, master=args.master,
                      shuffle_partitions=args.parallelism,
                      extra_conf=conf.system or None)
    rc = run(args, spark)
    spark.stop()
    return rc


def run(args, spark):
    """Everything between session creation and spark.stop() — separable
    so tests can drive the CLI against a shared session."""
    from distributed_graph_analytics_spark.sources.edges import read_edge_list
    from distributed_graph_analytics_spark.plans.checkpoint import CheckpointManager

    if args.input:
        edges = read_edge_list(spark, args.input, args.delimiter, reverse=args.reverse)
    elif args.sf_dir:
        from __spark_entry__ import load_edges

        edges = load_edges(spark, args.sf_dir)
    else:
        print("need -i or --sf-dir", file=sys.stderr)
        return 2

    ckpt = (
        CheckpointManager(spark, args.checkpoint_dir) if args.checkpoint_dir else None
    )
    t0 = time.time()
    out = dispatch(args, edges, ckpt)
    if args.format == "text":
        from distributed_graph_analytics_spark.sinks import (
            edge_lines,
            vertex_lines,
        )

        d = args.output_delimiter or args.delimiter
        if {"src", "dst"} <= set(out.columns):
            value_cols = [c for c in out.columns if c not in ("src", "dst")]
            vv = None
            if args.write_vertex_value and value_cols:
                # per-source vertex value (e.g. WCC's srcComponent)
                vv = out.select(
                    F.col("src").alias("id"), F.col(value_cols[0]).alias("value")
                ).distinct()
            lines = edge_lines(
                out,
                delimiter=d,
                write_vertex_value=args.write_vertex_value,
                write_edge_value=args.write_edge_value and "weight" in out.columns,
                vertex_values=vv,
            )
        else:
            lines = vertex_lines(out, delimiter=d)
        lines.write.mode("overwrite").text(args.output)
    else:
        writer = out.write.mode("overwrite")
        if args.format == "csv":
            writer.option("header", True).csv(args.output)
        else:
            writer.parquet(args.output)
    print(f"{args.analytic} done in {time.time() - t0:.1f}s -> {args.output}")
    return 0


def dispatch(args, edges, ckpt):
    a = args.analytic
    if a == "wcc":
        from distributed_graph_analytics_spark.operators.wcc import (
            weakly_connected_components,
        )

        comp, _ = weakly_connected_components(
            edges, args.max_iterations, checkpoint_manager=ckpt
        )
        # sink S7: src,dst,srcComponent per edge
        return edges.join(
            comp.withColumnRenamed("id", "src"), "src"
        ).select("src", "dst", "component")
    if a == "wccGraphX":
        # GraphX built-in connectedComponents(): min-label propagation
        # (WeaklyConnectionComponentsCore.scala:27-29 dispatches to it)
        from distributed_graph_analytics_spark.operators.wcc import (
            weakly_connected_components,
        )

        comp, _ = weakly_connected_components(
            edges, args.max_iterations, checkpoint_manager=ckpt, min_label=True
        )
        return edges.join(
            comp.withColumnRenamed("id", "src"), "src"
        ).select("src", "dst", "component")
    if a == "wccStar":
        # engine extension: O(log² n)-round large-star/small-star
        # components (Kiveris et al. SoCC'14) — identical labels to
        # wcc, far fewer rounds on high-diameter graphs
        from distributed_graph_analytics_spark.operators.star_components import (
            star_components,
        )

        comp, _ = star_components(edges, args.max_iterations)
        return edges.join(
            comp.withColumnRenamed("id", "src"), "src"
        ).select("src", "dst", "component")
    if a == "pipeline":
        # one ShuffleGraph serves both analytics: PageRank pays the out
        # pack + vertex set, WCC pays only the derived reverse pack
        # (plans/adjacency.py; parity pinned by test_shared_adjacency)
        from distributed_graph_analytics_spark.operators.pagerank import pagerank
        from distributed_graph_analytics_spark.operators.wcc import (
            weakly_connected_components,
        )
        from distributed_graph_analytics_spark.plans.adjacency import ShuffleGraph

        sg = ShuffleGraph(edges)
        # both packs are known-needed (WCC uses the reverse pack):
        # build it up front so vertices() takes the O(|V|) key-column
        # path instead of the out-only |E| dst-scan fallback
        sg.in_adjacency()
        ranks, _ = pagerank(
            edges, args.damping, args.delta, args.max_iterations,
            checkpoint_manager=ckpt, shuffle_graph=sg,
        )
        ranks.write.mode("overwrite").parquet(args.output + "_pr")
        comp, _ = weakly_connected_components(
            edges, args.max_iterations, checkpoint_manager=ckpt, shuffle_graph=sg
        )
        sg.release()
        return edges.join(
            comp.withColumnRenamed("id", "src"), "src"
        ).select("src", "dst", "component")
    if a == "pr":
        from distributed_graph_analytics_spark.operators.pagerank import pagerank

        ranks, _ = pagerank(
            edges, args.damping, args.delta, args.max_iterations,
            checkpoint_manager=ckpt,
        )
        return ranks  # sink S8
    if a == "prGraphX":
        # GraphX Pregel delta-push PageRank (PageRankCore.scala:33-72):
        # un-normalized fixed point, senders gated on delta > args.delta
        from distributed_graph_analytics_spark.operators.pagerank import (
            pagerank_delta_push,
        )

        ranks, _ = pagerank_delta_push(
            edges, delta=args.delta, damping=args.damping
        )
        return ranks
    if a == "lc":
        from distributed_graph_analytics_spark.operators.leaf_compression import (
            leaf_compression,
        )

        _verts, surviving, _ = leaf_compression(edges, args.max_iterations)
        return surviving.select("src", "dst")  # sink S9
    if a == "louvain":
        from distributed_graph_analytics_spark.operators.louvain import louvain

        # with --checkpoint-dir every level persists its vertices (the
        # manifest carries the q-history) + next-level input (S10/S11);
        # --resume restarts a killed run from the last completed level
        res = louvain(
            edges,
            args.minprogress,
            args.progresscounter,
            checkpoint_manager=ckpt,
            resume=args.resume,
        )
        return res.final  # synthesized node -> final community (S10 + synthesizer)
    if a == "lpa":
        from distributed_graph_analytics_spark.operators.lpa import label_propagation

        labels, _ = label_propagation(edges, max_iterations=10)
        return labels
    if a == "hbse":
        from distributed_graph_analytics_spark.operators.hbse import (
            hbse,
            save_hbse_run,
        )

        btwn, top, stats = hbse(
            edges, k=args.k, pivot_batch_size=args.pivot_batch_size
        )
        # sink S12: betweenness lines + final_set.csv + stats.csv under
        # <output>/hbse_run/ (the main writer below emits betweenness
        # in the requested --format as well)
        save_hbse_run(
            args.output + "_run",
            btwn,
            top,
            stats,
            delimiter=args.output_delimiter or args.delimiter,
        )
        return btwn
    if a == "triangles":
        from distributed_graph_analytics_spark.operators.triangle import (
            triangle_count_per_vertex,
        )

        return triangle_count_per_vertex(edges)
    if a == "kcore":
        from distributed_graph_analytics_spark.operators.kcore import core_numbers

        cores, _ = core_numbers(
            edges, args.max_iterations, checkpoint_manager=ckpt
        )
        return cores
    if a == "sssp":
        from distributed_graph_analytics_spark.operators.sssp import sssp

        src = args.source
        if src is None:
            src = edges.selectExpr("min(least(src, dst)) AS m").first()["m"]
        dists, _ = sssp(edges, src, args.max_iterations)
        return dists
    if a == "linkPrediction":
        from distributed_graph_analytics_spark.operators.link_prediction import (
            common_neighbor_scores,
        )

        return common_neighbor_scores(
            edges, min_common=args.min_common,
            max_apex_degree=args.max_apex_degree
            if args.max_apex_degree > 0 else None,
        )
    if a == "randomWalks":
        from distributed_graph_analytics_spark.operators.walks import random_walks

        return random_walks(edges, walk_length=args.walk_length)
    if a == "graphStats":
        from distributed_graph_analytics_spark.operators.stats import graph_summary

        return graph_summary(edges)
    if a == "neighboringCommunities":
        from distributed_graph_analytics_spark.operators.neighboring_communities import (
            neighboring_communities,
        )

        return neighboring_communities(
            edges, args.minprogress, args.progresscounter
        )  # sink S14
    raise ValueError(a)


if __name__ == "__main__":
    sys.exit(main())
