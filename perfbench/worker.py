"""One benchmark process: a fresh Spark session on local[CPUS], then
the workload's job, as one CLI invocation of DGA runs it. A traced
process runs the job three more times, traced, untraced, traced. Prints
one JSON line.

Started by run.py with its working directory in the cache; the engine
is imported from the checkout root (the parent of this directory).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

#: Spark master is local[CPUS] on every box, so the job is the same job
CPUS = 4
#: warm empty Python jobs timed for the per-job floor (traced run)
EMPTY_JOBS = 7
#: jobs a traced process runs after its first: traced, untraced,
#: traced, so the overhead estimate (traced minus untraced) cancels a
#: linear warm-up trend
TRACED_JOBS = 3


def python_job(spark) -> None:
    # a lambda travels by value, so workers need not import this module
    spark.range(CPUS, numPartitions=CPUS).mapInArrow(lambda it: it, "id long").collect()


def event_log_dir(cache: str) -> str:
    return os.path.join(cache, f"eventlog-{os.getpid()}")


def start_session(cache: str, trace: bool):
    """(spark, get_spark seconds, first Python job seconds)."""
    from distributed_graph_analytics_spark.session import get_spark

    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap (-Xms = -Xmx, as Spark sizes executor heaps): the
    # process tree's peak memory then follows the pages the job touches
    # outside the JVM heap, not the JVM's heap-resizing decisions
    heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
    conf = {
        "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    }
    if trace:
        log_dir = event_log_dir(cache)
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark("dga-perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
                      extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    python_job(spark)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def release(spark) -> None:
    """Between jobs, outside the timed region: drop cached blocks and
    collect garbage on both sides so each job starts from the same heap."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_jobs(spark, workload, inp, trace: bool):
    """The job, and with tracing TRACED_JOBS more after it, one after
    another; every second one of those is traced."""
    from tracing import NullTracer, Tracer

    results, tracers = [], []
    for i in range(1 + (TRACED_JOBS if trace else 0)):
        tracer = Tracer(spark, prefix=f"job{i}") if i % 2 == 1 else NullTracer()
        if tracer.enabled:
            with tracer.installed():
                res = workload.run(spark, inp, tracer, CPUS)
        else:
            res = workload.run(spark, inp, tracer, CPUS)
        results.append(res)
        tracers.append(tracer)
        release(spark)
    return results, tracers


def layer_report(spark, cache, results, tracers, empty_job_s) -> dict:
    """Per-layer metrics of the last traced job; stops the session (the
    event log is complete only then)."""
    from tracing import event_log_totals, layer_metrics, status_counts

    last = max(i for i, t in enumerate(tracers) if t.enabled)
    spans, res = tracers[last].spans, results[last]
    counts = status_counts(spark, spans)
    spark.stop()
    totals = event_log_totals(event_log_dir(cache))
    shutil.rmtree(event_log_dir(cache))  # tens of MB per traced run
    layer = layer_metrics(spans, counts, totals)
    top = sum(s.dur for s in spans if s.parent is None)
    layer["trace.covered_s"] = top
    layer["trace.remainder_s"] = res.job_s - top
    layer["trace.coverage"] = top / res.job_s
    warm = list(zip(results, tracers))[1:]
    layer["trace.overhead_s"] = statistics.median(
        r.job_s for r, t in warm if t.enabled
    ) - statistics.median(r.job_s for r, t in warm if not t.enabled)
    read_s = layer["edges.read_edge_list_s"]
    layer["edges.lines_per_s"] = res.edges / read_s if read_s > 0 else 0.0
    for op in ("pagerank", "wcc", "kcore", "louvain"):
        layer[f"{op}.s"] = sum(s.dur for s in spans if s.layer == op)
    for op in ("pagerank", "wcc", "kcore"):
        layer[f"{op}.iterations"] = res.iterations.get(op, 0)
        layer[f"{op}.gather_tier"] = int(res.kernels.get(op) == "gather")
    levels = res.outputs.get("levels", [])
    layer["louvain.levels"] = len(levels)
    layer["louvain.cycles"] = sum(c for _q, c in levels)
    layer["session.empty_job_s"] = empty_job_s
    return layer


def job_report(spark, cache: str, workload, inp: dict, trace: bool) -> dict:
    """Run the jobs, stop the session, check every job's outputs."""
    empty_job_s = 0.0
    if trace:
        floor = []
        for _ in range(EMPTY_JOBS):
            t0 = time.perf_counter()
            python_job(spark)
            floor.append(time.perf_counter() - t0)
        empty_job_s = statistics.median(floor)
    results, tracers = run_jobs(spark, workload, inp, trace)
    if trace:
        layer = layer_report(spark, cache, results, tracers, empty_job_s)
    else:
        layer = None
        spark.stop()
    # output checks, outside every timed region
    ref = workload.reference(inp)
    jobs = []
    for r, tracer in zip(results, tracers):
        problems = workload.check(r, ref)
        ops_wrong = {p.split(":")[0] for p in problems}
        jobs.append(
            {
                "job_s": r.job_s,
                "converge_s": r.converge_s,
                "edges": r.edges,
                "attempted": r.attempted,
                "failed": min(r.attempted, r.raised + len(ops_wrong)),
                "problems": ([r.error] if r.error else []) + problems,
                "iterations": r.iterations,
                "kernels": r.kernels,
                "traced": tracer.enabled,
            }
        )
    return {"jobs": jobs, "layer": layer}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cache", required=True)
    args = ap.parse_args()
    trace = bool(args.trace)

    import pyspark

    import workloads

    workload = workloads.WORKLOADS[args.workload]
    inp = workload.prepare(args.cache, args.seed)
    spark, get_spark_s, first_py_s = start_session(args.cache, trace)
    out = {
        "setup_s": get_spark_s + first_py_s,
        "get_spark_s": get_spark_s,
        "first_python_job_s": first_py_s,
        "spark_version": pyspark.__version__,
        "fastdaemon": spark.conf.get("spark.python.daemon.module", "") != "",
    }
    out.update(job_report(spark, args.cache, workload, inp, trace))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
