"""Driver-style correctness check: run each __spark_entry__ query AND
its DuckDB oracle side-by-side, compare row count + sorted-column value
hash. Usage:

    python tools/check_oracles.py [key ...] [--sf /root/testdata/sf0.01]

With no keys, checks every query that has an oracle. Mirrors the
driver's comparison (columns sorted by name, rows sorted, values
stringified with float rounding) closely enough to predict
CORRECTNESS_r{N}.json before the round closes.
"""

from __future__ import annotations

import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = f"{v:.6g}"
            elif isinstance(v, bool):
                v = str(int(v))
            else:
                v = str(v)
            vals.append(v)
        out.append("\x01".join(vals))
    out.sort()
    h = hashlib.sha256("\x02".join(out).encode()).hexdigest()[:16]
    return h


def main():
    args = []
    sf_dir = "/root/testdata/sf0.01"
    argv = iter(sys.argv[1:])
    for a in argv:
        if a == "--sf":
            sf_dir = next(argv)
        elif a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif os.sep in a:  # positional sf dir (skill-doc convention)
            sf_dir = a
        else:
            args.extend(a.split(","))
    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from distributed_graph_analytics_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark("oracle-check", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = queries()
    osql = oracle_sql()
    keys = args or [k for k in qs if k in osql]
    failures = 0
    for key in keys:
        if key not in osql:
            print(f"{key}: NO ORACLE (skipped)")
            continue
        try:
            sdf = qs[key](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            cur = con.execute(osql[key])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"{key}: ERROR {type(e).__name__}: {e}")
            failures += 1
            continue
        sh, oh = _canon(srows, scols), _canon(orows, ocols)
        ok = len(srows) == len(orows) and sorted(scols) == sorted(ocols) and sh == oh
        status = "OK " if ok else "FAIL"
        print(
            f"{key}: {status} spark_rows={len(srows)} oracle_rows={len(orows)} "
            f"cols={'match' if sorted(scols) == sorted(ocols) else (scols, ocols)} "
            f"hash={'match' if sh == oh else (sh, oh)}"
        )
        if not ok:
            failures += 1
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
