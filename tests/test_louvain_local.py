"""In-process Louvain levels ("local" kernel): differential against the
Spark gather levels and the shuffle kernel, the size guard, and the
kernel each level reports."""

import importlib

import numpy as np
import pytest

from tests.conftest import edges_df
from tests.test_louvain import EXAMPLE9

L = importlib.import_module("distributed_graph_analytics_spark.operators.louvain")
gather = importlib.import_module("distributed_graph_analytics_spark.plans.gather")


def planted(seed, groups=5, size=6):
    """Seeded planted-partition graph with weights 1–3; pairs of groups
    share extra edges so the compressed levels still have structure to
    merge."""
    rng = np.random.default_rng(seed)
    out = []
    for a in range(groups * size):
        for b in range(a + 1, groups * size):
            ga, gb = a // size, b // size
            p = 0.7 if ga == gb else (0.16 if ga // 2 == gb // 2 else 0.04)
            if rng.random() < p:
                out.append((a, b, int(rng.integers(1, 4))))
    return out


def clique(lo, hi, w=1):
    return [(a, b, w) for a in range(lo, hi) for b in range(a + 1, hi)]


def shifted(edge_list, by):
    return [(a + by, b + by, w) for a, b, w in edge_list]


#: the degenerate shapes share one graph as disjoint components (one
#: multi-level run each way keeps the test inside its time budget)
MIXED = (
    # self-loops
    [(1, 1, 3), (1, 2, 1), (2, 3, 1), (3, 1, 1), (3, 3, 1),
     (4, 4, 2), (4, 5, 1), (5, 6, 1), (6, 4, 1), (3, 4, 1)]
    # zero-weight edges, one of them a vertex's only edge
    + shifted(clique(1, 5) + clique(5, 9) + [(4, 5, 0), (8, 9, 0), (2, 6, 1)], 100)
    # a star hub
    + shifted([(0, v, 1) for v in range(1, 21)] + [(v, v + 1, 2) for v in range(1, 20, 2)], 200)
    # duplicate and reversed parallel edges
    + shifted([(1, 2, 1), (2, 1, 2), (1, 2, 1), (2, 3, 1), (3, 2, 1), (3, 1, 1),
               (4, 5, 1), (5, 4, 1), (5, 6, 3), (6, 4, 1), (3, 4, 1)], 300)
    # a clique whose edges are all internal after level 0: an
    # internal-only vertex at level 1
    + shifted(clique(0, 4), 400)
)

SHAPES = {
    "planted": planted(1),
    "single_edge": [(1, 2, 1)],
    "mixed": MIXED,
    # two disjoint cliques: level 0 compresses to zero cross edges
    "no_cross_edges": clique(1, 6) + clique(10, 15, 2),
}


def _run(spark, edge_list, monkeypatch=None, limit=None, **kw):
    if limit is not None:
        monkeypatch.setattr(gather, "_LOCAL_LEVEL_BYTES", limit)
    res = L.louvain(edges_df(spark, edge_list), min_progress=1, **kw)
    if limit is not None:
        monkeypatch.undo()
    return res


def _labels(df):
    return sorted((r["id"], r["community"]) for r in df.collect())


def _levels(res):
    return [(lv.q, lv.cycles) for lv in res.levels]


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_local_levels_match_spark_levels_and_shuffle(spark, monkeypatch, name):
    edge_list = SHAPES[name]
    got = _run(spark, edge_list)
    spark_levels = _run(spark, edge_list, monkeypatch, limit=0)
    shuffle = _run(spark, edge_list, strategy="shuffle")
    # in process vs Spark gather: bit-identical Q and cycles
    assert _levels(got) == _levels(spark_levels)
    # under the default budget level 0 is placed on the driver too
    assert {lv.kernel for lv in got.levels} == {"local"}
    assert {lv.kernel for lv in spark_levels.levels} == {"gather"}
    assert {lv.kernel for lv in shuffle.levels} == {"shuffle"}
    # against the join kernel: Q to 9 places, same labels
    assert [round(q, 9) for q, _ in _levels(got)] == [round(q, 9) for q, _ in _levels(shuffle)]
    assert [c for _, c in _levels(got)] == [c for _, c in _levels(shuffle)]
    for res in (got, spark_levels):
        assert _labels(res.level0) == _labels(shuffle.level0)
        assert _labels(res.final) == _labels(shuffle.final)


def test_guard_threshold_picks_the_path(spark, monkeypatch):
    """EXAMPLE9's level 0 leaves 2 communities, so level 1 has at most
    one pair (16 B): a limit of 16 B keeps it in Spark, 17 B runs it in
    process."""
    at = _run(spark, EXAMPLE9, monkeypatch, limit=16)
    over = _run(spark, EXAMPLE9, monkeypatch, limit=17)
    assert [lv.kernel for lv in at.levels] == ["gather", "gather"]
    assert [lv.kernel for lv in over.levels] == ["gather", "local"]
    assert _levels(at) == _levels(over)
    assert _labels(at.final) == _labels(over.final)


def test_guard_rechecked_with_counted_edge_rows(spark, monkeypatch):
    """A chain of 20 4-cliques: level 0 leaves C = 20 communities
    joined by 19 pairs. A 320 B limit keeps level 1 in Spark (bound
    C·(C−1)/2 = 190 pairs), whose compression counts those 19 rows on
    its own job; level 1 leaves about 10 communities, so only the
    counted rows (19·16 = 304 B, against 45·16 = 720 B from C alone)
    let level 2 run in process."""
    edge_list = [e for i in range(20) for e in clique(4 * i, 4 * i + 4)]
    edge_list += [(4 * i + 3, 4 * i + 4, 1) for i in range(19)]
    first = _run(spark, edge_list)
    res = _run(spark, edge_list, monkeypatch, limit=320)
    assert len({r["community"] for r in res.level0.collect()}) == 20
    assert [lv.kernel for lv in res.levels][:3] == ["gather", "gather", "local"]
    assert _levels(res) == _levels(first)
    assert _labels(res.final) == _labels(first.final)
