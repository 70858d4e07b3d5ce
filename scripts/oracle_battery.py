"""Run every queries()/oracle_sql() pair against DuckDB at a chosen SF.

Standalone mirror of the driver's correctness gate (and of
tests/test_entry_queries.py, which is pinned to sf0.001): row count,
sorted column names, and 6dp-rounded values must match. Use it to
pre-flight the driver's sf0.01 sweep:

    python scripts/oracle_battery.py --sf /root/testdata/sf0.01

Prints one line per query and a final summary; exit code 1 on any
mismatch.
"""

import argparse
import os
import sys
import time

import duckdb

# the package lives next to scripts/; Spark's Python workers inherit the
# environment, so they import it through PYTHONPATH
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, (list, dict, set, tuple)):
                raise AssertionError(
                    f"non-scalar value in gated column {c!r}")
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="",
                    help="comma-separated query names (default: all gated)")
    ap.add_argument("--partitions", type=int, default=32,
                    help="spark.sql.shuffle.partitions — run the battery "
                         "at a SECOND value (e.g. 8) to kill any "
                         "partition-order dependence in gated output")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from extractpdf4j_spark.config import spark_confs
    # one worker per core of this host; a 6 GB heap runs the sf0.01
    # battery on a 4-core, 15 GB machine
    cores = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .config(map=spark_confs())
             .config("spark.sql.shuffle.partitions", str(args.partitions))
             .config("spark.driver.memory", "6g")
             .appName("oracle-battery").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from extractpdf4j_spark.entry_queries import ORACLES, QUERIES
    names = ([n.strip() for n in args.only.split(",") if n.strip()]
             or list(ORACLES))

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, args.sf)
            srows = [r.asDict() for r in sdf.collect()]
            scols = sorted(sdf.columns)
            cur = con.execute(ORACLES[name])
            dcols_raw = [d[0] for d in cur.description]
            drows = [dict(zip(dcols_raw, row)) for row in cur.fetchall()]
            dcols = sorted(dcols_raw)
            if scols != dcols:
                raise AssertionError(f"columns {scols} vs {dcols}")
            if len(srows) != len(drows):
                raise AssertionError(f"rows {len(srows)} vs {len(drows)}")
            a, b = _norm(srows, scols), _norm(drows, dcols)
            bad = [(x, y) for x, y in zip(a, b) if x != y]
            if bad:
                raise AssertionError(f"values (first): {bad[:3]}")
            print(f"PASS {name:28s} {len(srows):7d} rows "
                  f"{time.time() - t0:6.1f}s", flush=True)
        except Exception as e:  # noqa: BLE001 - report and continue
            failures.append(name)
            print(f"FAIL {name:28s} {time.time() - t0:6.1f}s :: {e}",
                  flush=True)

    print(f"\n{len(names) - len(failures)}/{len(names)} green"
          + (f"; FAILURES: {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
