"""Low-latency PySpark worker daemon: drop the per-worker zipimport
rescan that dominates small-job latency.

Why this exists: every Python-involving Spark job (mapInArrow /
applyInPandas / RDD mapPartitions) launches fresh worker processes
(Spark 4.1's NIO runner ends a worker after its task more often than
it reuses it), and each fresh worker runs
``pyspark.worker_util.setup_spark_files``, which unconditionally calls
``importlib.invalidate_caches()``. With ``$SPARK_HOME/python/lib/
pyspark.zip`` and the py4j zip on the worker PYTHONPATH, that call
eagerly re-reads both zip directories (~27k entries) — measured
~0.2 s per worker on this box, i.e. ~0.2 s of fixed cost added to
EVERY Python stage. For the broadcast-gather tier (plans/gather.py),
whose supersteps are sub-second, that fixed cost dominated the
per-operator scaling probes (kcore 0.371, hits 0.379 at pinned 1→4
cores in round 4's BENCH/op_scaling.json).

The invalidation exists so files added via ``sc.addPyFile`` /
``--py-files`` mid-session become importable even when an importer
already cached a negative lookup. Two facts make the blanket call
unnecessary here:

- directory importers (``FileFinder``) revalidate by mtime on their
  own, so a NEW directory prepended to ``sys.path`` (the spark files
  dir) needs no invalidation;
- zip importers are created lazily on the first import attempt that
  reaches the path, so a NEWLY added zip include needs no
  invalidation either — only a zip REPLACED IN PLACE at a path whose
  importer already cached a listing does.

So this daemon replaces ``setup_spark_files`` with a variant that
performs the same protocol reads (the wire format must stay in
lockstep with the JVM writer: pyspark 4.1 worker_util.py:124-144)
but calls ``importlib.invalidate_caches()`` only when this worker
process sees a python include it has not seen before — preserving
addPyFile semantics while making the no-include common case ~free.

Enabled by ``session.get_spark`` via the public
``spark.python.daemon.module`` conf for local masters launched by
this process (under spark-submit the pre-existing gateway JVM would
not see the PYTHONPATH prepend — set the conf explicitly there; it
is an optimization, never a correctness requirement). Opt out with
SPARK_GRAFT_FAST_DAEMON=0.

Why not worker REUSE instead: Spark 4.1's NIO runner effectively
breaks ``spark.python.worker.reuse`` — instrumented here, a worker
survives its first task's END_OF_STREAM handshake, serves exactly one
more task, then dies with the reuse handshake failing (exit −1 in the
daemon's worker loop), so the pool never retains workers. That is
JVM-side behavior this repo cannot patch; the conditional
invalidation above attacks the dominant per-fork cost instead
(measured: a no-op 4-task Python job drops 0.28 s → 0.10 s; the
residual ~0.06 s/job of fork+connect+handshake is the platform floor).
"""

from __future__ import annotations

import importlib
import os
import warnings

import pyspark.worker_util as _wu

#: the pyspark release line whose setup_spark_files wire format
#: ``_setup_spark_files_fast`` mirrors (worker_util.py:124-144)
_PROTOCOL_VERSION = "4.1."

#: includes already added in this worker process (fork-inherited from
#: the daemon, so a re-forked worker starts with the daemon's view)
_seen_includes: set[str] = set()


def _setup_spark_files_fast(infile) -> None:
    """Protocol-compatible ``setup_spark_files`` (reads exactly what
    the JVM writer sends: files-dir string, include count, include
    names) that skips the eager ``invalidate_caches`` zip rescan
    unless a never-seen python include arrives."""
    spark_files_dir = _wu.utf8_deserializer.loads(infile)

    try:
        from pyspark.core.files import SparkFiles

        SparkFiles._root_directory = spark_files_dir
        SparkFiles._is_running_on_worker = True
    except ImportError:  # pragma: no cover - remote-only builds
        pass

    _wu.add_path(spark_files_dir)
    new_include = False
    num_python_includes = _wu.read_int(infile)
    for _ in range(num_python_includes):
        filename = _wu.utf8_deserializer.loads(infile)
        _wu.add_path(os.path.join(spark_files_dir, filename))
        if filename not in _seen_includes:
            _seen_includes.add(filename)
            new_include = True
    if new_include:
        importlib.invalidate_caches()


def _install() -> None:
    """Swap in the fast variant only on the pyspark line whose wire
    protocol it reimplements; on any other version keep the stock
    function (correct, just slower) and say so once."""
    import pyspark

    if not pyspark.__version__.startswith(_PROTOCOL_VERSION):
        warnings.warn(
            f"fastdaemon reimplements setup_spark_files for pyspark "
            f"{_PROTOCOL_VERSION}x, not {pyspark.__version__}; keeping the "
            "stock function (set SPARK_GRAFT_FAST_DAEMON=0 to silence)"
        )
        return
    _wu.setup_spark_files = _setup_spark_files_fast
    # worker.py binds the name at import time in some versions; rebind
    # if it did
    import pyspark.worker as _worker

    if getattr(_worker, "setup_spark_files", None) is not None:
        _worker.setup_spark_files = _setup_spark_files_fast


_install()

if __name__ == "__main__":
    import pyspark.daemon as _daemon

    _daemon.manager()
