import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# This dev container has no Pillow: the stdlib PNG codec IS the real
# image path here, so tests opt in to it once. Production keeps the
# loud raise-by-default (pinned by
# test_pillow_absent_raises_by_default_even_for_png, which delenv's
# this).
os.environ.setdefault("SPARK_GRAFT_STDLIB_PNG", "1")

from distributed_graph_analytics_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="dga-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            # tiny data: keep planning fast and deterministic in tests
            "spark.sql.adaptive.enabled": "true",
            "spark.driver.memory": "4g",
        },
    )
    yield s
    s.stop()


def edges_df(spark, edge_list, weights=False):
    """edge_list: [(src, dst)] or [(src, dst, w)] → edges DataFrame."""
    if weights:
        rows = [(int(s), int(d), int(w)) for s, d, w in edge_list]
    else:
        rows = [
            (int(e[0]), int(e[1]), int(e[2]) if len(e) > 2 else 1) for e in edge_list
        ]
    return spark.createDataFrame(rows, "src long, dst long, weight long")


#: the gather tier in each placement: forced "gather" runs on Spark;
#: "auto" under a driver budget no test graph exceeds runs on driver
#: arrays (plans/gather.py::resolve_tier)
GATHER_PLACEMENTS = {"spark": ("gather", 0), "driver": ("auto", 1 << 40)}


def gather_placements(monkeypatch):
    """Yield (placement, strategy) for each gather-tier placement, with
    the driver budget patched to match (restored at test teardown)."""
    import distributed_graph_analytics_spark.plans.gather as gather

    for placement, (strategy, budget) in GATHER_PLACEMENTS.items():
        monkeypatch.setattr(gather, "_LOCAL_LEVEL_BYTES", budget)
        yield placement, strategy
