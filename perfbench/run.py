"""DGA benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload cooc-x16-shuffle --seed 1 --seconds 40 --trace 0

Each invocation generates the workload's inputs from ``--seed`` (cached
under ``.perfbench_cache/``), then runs the job as a CLI user does: a
fresh single-process Spark session on local[4] that sets up, runs the
job once and exits. It starts such processes one after another, at
least the workload's ``processes`` and more while the next one is
expected to end within ``--seconds``, and reports the median over them;
a JVM's speed varies from one process to the next by more than its
jobs vary within it. Every job's outputs are checked. The last stdout
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of one traced process with ``--trace 1``. The line before it
carries the run's details (seed, nproc, Spark version, fastdaemon,
per-job values and check findings).

Steadiness mode repeats one workload with seeds seed, seed+1, ... and
reports median and quartiles:

    python3 perfbench/run.py --workload cooc-x16-shuffle --seed 1 --steady 5
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import schema  # noqa: E402
import worker  # noqa: E402

#: a child that runs longer than this is killed and the run fails
CHILD_TIMEOUT_S = 100.0
#: memory sampling period of the job's process tree: one PSS sample
#: walks the JVM's page tables (≈25 ms for a 3 GB heap), so sampling
#: faster would take a visible share of a core from the job
MEMORY_PERIOD_S = 0.5


def cache_dir() -> str:
    path = os.path.join(ROOT, ".perfbench_cache")
    os.makedirs(path, exist_ok=True)
    return path


def child_env(cache: str) -> dict:
    env = dict(os.environ)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(cache, d), exist_ok=True)
    env.update(
        {
            "SPARK_LOCAL_DIRS": os.path.join(cache, "spark-local"),
            "TMPDIR": os.path.join(cache, "tmp"),
            "SPARK_DRIVER_MEM": "3g",
            "SPARK_GRAFT_CPUS": str(worker.CPUS),
            "PYTHONHASHSEED": "0",
        }
    )
    env.pop("PYSPARK_GATEWAY_PORT", None)
    return env


# ------------------------------------------------------------ process tree


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the closing paren
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of a process tree: pages shared by
    forked Python workers count once, not once per worker."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class PeakMemorySampler(threading.Thread):
    """Peak memory of a process tree (PSS), sampled from /proc."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.wait(MEMORY_PERIOD_S):
            self.peak = max(self.peak, tree_pss_bytes(self.pid))

    def stop(self):
        self._halt.set()
        self.join()


def kill_tree(root: int) -> None:
    for pid in reversed(tree(root)):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def run_child(args: list[str], cache: str) -> tuple[dict, int]:
    """Run worker.py; returns (its JSON line, its tree's peak PSS bytes)."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--cache", cache, *args]
    proc = subprocess.Popen(
        cmd, cwd=cache, env=child_env(cache), stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True,
    )
    sampler = PeakMemorySampler(proc.pid)
    sampler.start()
    try:
        out, err = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        kill_tree(proc.pid)
        proc.communicate()
        raise RuntimeError(f"worker {' '.join(args)} timed out after {CHILD_TIMEOUT_S} s")
    finally:
        sampler.stop()
    if proc.returncode != 0:
        raise RuntimeError(f"worker {' '.join(args)} exited {proc.returncode}:\n{err[-4000:]}")
    return json.loads(out.strip().splitlines()[-1]), sampler.peak


# --------------------------------------------------------------- one run


def result_line(reports: list[dict], peaks: list[int], trace: bool) -> dict:
    """The benchmark's last output line from the worker processes'
    reports and peak memory. End-to-end values are medians over the
    processes of each one's first job; the per-layer values come from
    the first process. Every job's outputs are checked."""
    jobs = [j for report in reports for j in report["jobs"]]
    attempted = sum(j["attempted"] for j in jobs)
    failed = sum(j["failed"] for j in jobs)
    if trace:
        job = reports[0]
        metrics = dict(job["layer"])
        metrics["session.get_spark_s"] = job["get_spark_s"]
        metrics["session.first_python_job_s"] = job["first_python_job_s"]
        units = schema.PER_LAYER
    else:
        first = [report["jobs"][0] for report in reports]
        converge = statistics.median(j["converge_s"] for j in first)
        metrics = {
            "setup_s": statistics.median(report["setup_s"] for report in reports),
            "job_s": statistics.median(j["job_s"] for j in first),
            "converge_s": converge,
            "edges_per_s": first[0]["edges"] / converge,
            "peak_rss_mb": statistics.median(peaks) / (1 << 20),
        }
        units = {k: v[0] for k, v in schema.END_TO_END.items()}
    return {
        "correct": failed == 0 and not any(j["problems"] for j in jobs),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def one_run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """(details, result line) of one benchmark run."""
    import workloads

    cache = cache_dir()
    t0 = time.perf_counter()
    least = 1 if trace else workloads.WORKLOADS[workload].processes
    workloads.WORKLOADS[workload].prepare(cache, seed)
    prepare_s = time.perf_counter() - t0
    reports, peaks = [], []
    start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        report, peak = run_child(
            ["--workload", workload, "--seed", str(seed), "--trace", str(trace)], cache
        )
        reports.append(report)
        peaks.append(peak)
        wall = time.perf_counter() - t0
        if trace or (len(reports) >= least and time.perf_counter() - start + wall > seconds):
            break
    result = result_line(reports, peaks, bool(trace))
    details = {
        "workload": workload,
        "seed": seed,
        "nproc": os.cpu_count(),
        "cpus": worker.CPUS,
        "spark_version": reports[0]["spark_version"],
        "fastdaemon": reports[0]["fastdaemon"],
        "prepare_s": prepare_s,
        "failed_ops": result["failed"] / result["attempted"],
        "setup_s": [report["setup_s"] for report in reports],
        "peak_rss_mb": [peak / (1 << 20) for peak in peaks],
        "jobs": [j for report in reports for j in report["jobs"]],
    }
    return details, result


# ----------------------------------------------------------- steadiness


def steady(args) -> int:
    """Repeat one workload ``args.steady`` times in fresh runs, one seed
    each; report median and quartiles of every metric, flag end-to-end
    spreads over their bound, and require the per-layer counts to repeat
    exactly (the seed moves ids, not structure)."""
    runs = []
    for i in range(args.steady):
        seed = args.seed + i
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=CHILD_TIMEOUT_S * 4)
        if out.returncode != 0:
            print(out.stderr[-4000:], file=sys.stderr)
            return 1
        details, line = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
        runs.append(line)
        iterations = [j["iterations"] for j in details["jobs"]]
        print(json.dumps({"seed": seed, **line, "iterations": iterations[-1]}), flush=True)
    summary = {"workload": args.workload, "runs": len(runs),
               "correct": all(r["correct"] for r in runs), "metrics": {}, "flags": []}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        summary["metrics"][name] = {"median": med, "q1": q1, "q3": q3, "spread": spread}
        if name in schema.END_TO_END and name != "setup_s":
            bound = schema.END_TO_END[name][2]
            if spread > bound:
                summary["flags"].append(f"{name}: spread {spread:.3f} > bound {bound}")
        if name in schema.EXACT_COUNTS and len(set(vals)) > 1:
            summary["flags"].append(f"{name}: count varies {sorted(set(vals))}")
    print(json.dumps(summary, indent=1))
    return 0 if summary["correct"] and not summary["flags"] else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(schema.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=40.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0,
                    help="repeat the run N times, with seeds seed .. seed+N-1")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "distributed_graph_analytics_spark")):
        print("run from a checkout of the engine: distributed_graph_analytics_spark/ "
              "is missing", file=sys.stderr)
        return 2
    if args.steady:
        return steady(args)
    try:
        details, result = one_run(args.workload, args.seed, args.seconds, args.trace)
    except RuntimeError as exc:
        print(exc, file=sys.stderr)
        return 1
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
