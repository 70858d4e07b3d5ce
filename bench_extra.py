#!/usr/bin/env python
"""Extra benchmarks: plan capture and per-query timing.

``bench.py`` is frozen for measurement; this file holds the per-query
instrumentation used during optimization (per-layer cuts of the
extraction pipeline live in ``perfbench/ledger.py``):

* ``--plans Q1,Q2`` — write ``plans/r06/<q>_{label}.txt`` with
  ``.explain('formatted')`` for the named queries.
* ``--queries Q1,Q2 [--reps N]`` — steady-state per-query timing
  (back-to-back reps, min) without the full-sweep thermal load.

Usage mirrors bench.py's env contract ($SPARK_GRAFT_SF_DIR,
$SPARK_GRAFT_CPUS).
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import CPUS, SF_DIR, make_spark  # noqa: E402


def capture_plans(spark, sf_dir: str, names: list[str], label: str,
                  execute: bool = False, out_dir: str | None = None):
    from extractpdf4j_spark.entry_queries import QUERIES
    out_dir = out_dir or os.path.join(REPO, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        if execute:
            # run THIS DataFrame's own QueryExecution (count() would plan
            # a separate one) so explain shows the AQE final plan
            df.collect()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{label}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print("wrote", path)


def time_queries(spark, sf_dir: str, names: list[str], reps: int) -> dict:
    from extractpdf4j_spark.entry_queries import QUERIES
    sc = spark.sparkContext
    out = {}
    for name in names:
        best = None
        for _ in range(reps):
            sc.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).count()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        sc.setJobDescription(None)
        out[name] = round(best, 3)
        print(f"{name}: {best:.3f}s (min of {reps})")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", default="")
    ap.add_argument("--label", default="after")
    ap.add_argument("--exec", dest="execute", action="store_true",
                    help="run the query first so explain shows the AQE "
                         "final plan")
    ap.add_argument("--out-dir", default="")
    ap.add_argument("--queries", default="")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.plans:
            capture_plans(spark, SF_DIR, args.plans.split(","), args.label,
                          execute=args.execute,
                          out_dir=args.out_dir or None)
        if args.queries:
            print(json.dumps(
                time_queries(spark, SF_DIR, args.queries.split(","),
                             args.reps)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
