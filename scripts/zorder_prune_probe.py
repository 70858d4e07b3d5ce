"""Pruning evidence for the z-order layout (functions/layout.py): write
the SAME table twice — linearly sorted by x vs z-ordered on (x, y) —
and count, from the parquet footers' min/max column statistics, how
many files a min/max-pruning reader (Spark parquet scan, Iceberg/Delta
file skipping) must touch for 1D and 2D range predicates.

Expected shape (the reason the operator exists):
* x-range predicate: both layouts prune well (linear is optimal on x).
* y-range predicate: the linear layout reads EVERY file (each spans
  the full y domain); z-order reads ~sqrt-fraction.
* x AND y box: linear reads its full x-stripe; z-order reads only the
  files whose z-range crosses the box.

Run:  PYTHONPATH=/root/repo python scripts/zorder_prune_probe.py [N]
"""

import os
import shutil
import sys
import time

import pyarrow.parquet as pq
from pyspark.sql import SparkSession, functions as F

from extractpdf4j_spark.config import spark_confs

N = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
FILES = 64
DOM = 4096
BASE = "/tmp/zorder_probe"

CORES = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
spark = (SparkSession.builder.master(f"local[{CORES}]")
         .config(map=spark_confs())
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

df = (spark.range(N).select(
    F.col("id"),
    F.pmod(F.xxhash64("id"), F.lit(DOM)).alias("x"),
    F.pmod(F.xxhash64("id", F.lit(1)), F.lit(DOM)).alias("y")))

shutil.rmtree(BASE, ignore_errors=True)
t0 = time.time()
(df.repartitionByRange(FILES, "x").sortWithinPartitions("x")
 .write.parquet(f"{BASE}/linear"))
t1 = time.time()

from extractpdf4j_spark.functions.layout import zorder_layout

zorder_layout(df, ["x", "y"], FILES, bits=12).write.parquet(f"{BASE}/zorder")
t2 = time.time()
print(f"write: linear {t1 - t0:.1f}s, zorder {t2 - t1:.1f}s "
      f"({N} rows, {FILES} files)")


def file_ranges(path):
    import glob
    out = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        cols = {md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)}
        rng = {}
        for c in ("x", "y"):
            st = [md.row_group(g).column(cols[c]).statistics
                  for g in range(md.num_row_groups)]
            rng[c] = (min(s.min for s in st), max(s.max for s in st))
        out.append(rng)
    return out


def touched(ranges, pred):
    return sum(1 for r in ranges
               if all(r[c][0] <= hi and r[c][1] >= lo
                      for c, (lo, hi) in pred.items()))


lin, zo = file_ranges(f"{BASE}/linear"), file_ranges(f"{BASE}/zorder")
x_box = (1024, 1535)                       # a 1/8 stripe
y_box = (2048, 2559)
preds = {
    "x-range": {"x": x_box},
    "y-range": {"y": y_box},
    "x AND y box": {"x": x_box, "y": y_box},
}
results = {}
for name, p in preds.items():
    results[name] = (touched(lin, p), touched(zo, p))
    print(f"{name:12s}: linear reads {results[name][0]:2d}/{len(lin)} "
          f"files, zorder reads {results[name][1]:2d}/{len(zo)}")

# the contract: z-order prunes on EITHER dimension; linear cannot on y
assert results["y-range"][0] == len(lin)           # linear: full scan
assert results["y-range"][1] <= len(zo) // 2       # zorder: real pruning
assert results["x AND y box"][1] < results["x AND y box"][0]
print("pruning contract holds: z-order skips files on either dim; "
      "linear cannot prune y at all")
shutil.rmtree(BASE, ignore_errors=True)
