"""Pins the benchmark's output schema: every metric name and unit, the
workload keys, and their agreement with ``BENCHMARK.json``.

The run test drives each workload in-process on tiny inputs (a
co-occurrence table shaped like TPC-H sf0.001 and a small generated
edge list) with tracing on, so both output lines are built from one
real job report.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PERFBENCH)
sys.path[:0] = [PERFBENCH, ROOT]

import inputs  # noqa: E402
import run  # noqa: E402
import schema  # noqa: E402
import worker  # noqa: E402
import workloads  # noqa: E402

#: sf0.001 has 1,500 orders over 200 parts
TINY = {
    "COOC_BASE": inputs.CoocShape(orders=1_500, parts=200),
    "PLANTED": inputs.PlantedShape(vertices=2_000, communities=20, lines=8_000),
}


def test_benchmark_json_matches_schema():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json beside the benchmark")
    with open(path) as f:
        bench = json.load(f)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    assert [w["name"] for w in bench["workloads"]] == list(schema.WORKLOADS)
    assert {
        m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]
    } == schema.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == schema.PER_LAYER
    assert {m["name"] for m in bench["per_layer"] if m["better"] == "higher"} == set(
        schema.HIGHER_IS_BETTER
    )


def test_workload_keys():
    assert set(workloads.WORKLOADS) == set(schema.WORKLOADS)
    assert set(schema.EXACT_COUNTS) <= set(schema.PER_LAYER)


@pytest.fixture(scope="module")
def tiny_shapes():
    with pytest.MonkeyPatch.context() as mp:
        for name, shape in TINY.items():
            mp.setattr(workloads, name, shape)
        yield


@pytest.mark.parametrize("name", list(schema.WORKLOADS))
def test_output_schema(name, tiny_shapes, tmp_path):
    cache = str(tmp_path)
    workload = workloads.WORKLOADS[name]
    inp = workload.prepare(cache, seed=5)
    spark, get_spark_s, first_py_s = worker.start_session(cache, trace=True)
    report = worker.job_report(spark, cache, workload, inp, trace=True)
    job = {"setup_s": get_spark_s + first_py_s, "get_spark_s": get_spark_s,
           "first_python_job_s": first_py_s, **report}
    assert [j["traced"] for j in job["jobs"]] == [False, True, False, True]

    e2e = run.result_line([job, job], peaks=[1 << 30, 1 << 31], trace=False)
    assert set(e2e) == {"correct", "attempted", "failed", "metrics"}
    assert e2e["correct"], [j["problems"] for j in job["jobs"]]
    assert e2e["failed"] == 0 and e2e["attempted"] == 2 * len(job["jobs"]) * workload.ops
    assert {k: v["unit"] for k, v in e2e["metrics"].items()} == {
        k: v[0] for k, v in schema.END_TO_END.items()
    }
    assert all(v["value"] > 0 for v in e2e["metrics"].values())

    layer = run.result_line([job], peaks=[0], trace=True)["metrics"]
    assert {k: v["unit"] for k, v in layer.items()} == schema.PER_LAYER
    value = {k: v["value"] for k, v in layer.items()}
    # the workload split the per-layer counts confirm
    if name == "cooc-x16-shuffle":
        assert value["gather.supersteps"] == 0 and value["iteration.supersteps"] > 0
    if name == "edgelist-louvain":
        assert value["gather.supersteps"] > 0 and value["kcore.gather_tier"] == 1
    assert (value["checkpoint.saves"] > 0) == (name == "edgelist-louvain")
    assert (value["repo_table.jobs"] > 0) == name.startswith("cooc")
    assert value["trace.coverage"] > 0.9
