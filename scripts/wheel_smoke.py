"""Wheel-install smoke: build the wheel, install it into a CLEAN venv
(no repo on sys.path), and run a minimal stream-only extraction through
``python -m extractpdf4j_spark.job`` from the installed package.

Protects the ``spark-submit --py-files`` deploy duty: a module that
imports fine from the repo checkout but is missing from the wheel
(package data, subpackage not listed, relative-import breakage) fails
HERE instead of on a cluster. Everything is offline: the wheel build
uses ``--no-build-isolation`` (setuptools is baked in) and the venv
install uses ``--no-index --no-deps`` with ``--system-site-packages``
supplying pyspark/pandas/numpy/pyarrow.

Run directly (``python scripts/wheel_smoke.py``) or via the pytest
wrapper (``pytest tests/test_wheel_smoke.py``).
"""

from __future__ import annotations

import base64
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = "/tmp/extractpdf4j_wheel_smoke"
VERSION = "0.3.0"


def build_wheel(dist_dir: str) -> str:
    """Build the wheel with stdlib zipfile — PEP 427 layout (package
    tree + dist-info with METADATA/WHEEL/RECORD). This environment has
    setuptools 65 without the ``wheel`` package, so ``pip wheel`` can't
    run bdist_wheel offline; the format is just a zip, and building it
    directly keeps the smoke hermetic."""
    os.makedirs(dist_dir, exist_ok=True)
    name = f"extractpdf4j_spark-{VERSION}"
    whl = os.path.join(dist_dir, f"{name}-py3-none-any.whl")
    records = []

    def add(zf, arcname, data: bytes):
        zf.writestr(zipfile.ZipInfo(arcname, (2020, 1, 1, 0, 0, 0)), data)
        digest = base64.urlsafe_b64encode(
            hashlib.sha256(data).digest()).rstrip(b"=").decode()
        records.append(f"{arcname},sha256={digest},{len(data)}")

    with zipfile.ZipFile(whl, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg_root = os.path.join(REPO, "extractpdf4j_spark")
        for path in sorted(glob.glob(os.path.join(pkg_root, "**", "*.py"),
                                     recursive=True)):
            arc = os.path.relpath(path, REPO)
            with open(path, "rb") as f:
                add(zf, arc, f.read())
        meta = (f"Metadata-Version: 2.1\nName: extractpdf4j-spark\n"
                f"Version: {VERSION}\n")
        add(zf, f"{name}.dist-info/METADATA", meta.encode())
        add(zf, f"{name}.dist-info/WHEEL",
            b"Wheel-Version: 1.0\nGenerator: wheel_smoke\n"
            b"Root-Is-Purelib: true\nTag: py3-none-any\n")
        record_name = f"{name}.dist-info/RECORD"
        records.append(f"{record_name},,")
        zf.writestr(zipfile.ZipInfo(record_name, (2020, 1, 1, 0, 0, 0)),
                    "\n".join(records) + "\n")
    return whl

# generates documents+media parquet from the sf0.001 corpus and runs the
# installed job module on them; executed with the VENV python from a
# NEUTRAL cwd so only the installed wheel can satisfy the imports
_DRIVE = r"""
import glob, os, sys
# workers must run the venv interpreter too, or they import from the
# system python and miss the wheel — same contract as setting
# spark.pyspark.python on a real cluster
os.environ["PYSPARK_PYTHON"] = sys.executable
assert not any(p.rstrip("/").endswith("repo") for p in sys.path), sys.path
import extractpdf4j_spark
assert "site-packages" in extractpdf4j_spark.__file__, \
    f"imported from {extractpdf4j_spark.__file__}, not the wheel"
from pyspark.sql import SparkSession
from extractpdf4j_spark.config import spark_confs
from extractpdf4j_spark.corpusgen import ensure_fixture_corpus
from extractpdf4j_spark.job import main

work = os.environ["SMOKE_WORK"]
spark = (SparkSession.builder.master("local[4]")
         .config(map=spark_confs())
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .appName("wheel-smoke").getOrCreate())
docs, media = ensure_fixture_corpus(spark, "/root/testdata/sf0.001",
                                    cache_root=os.path.join(work, "fixcache"),
                                    limit=40)
docs.write.mode("overwrite").parquet(os.path.join(work, "documents"))
media.write.mode("overwrite").parquet(os.path.join(work, "media"))
rc = main(["--documents", os.path.join(work, "documents"),
           "--media", os.path.join(work, "media"),
           "--out", os.path.join(work, "out"),
           "--mode", "stream", "--ocr-backend", "embedded",
           "--run-id", "wheel-smoke", "--partitions", "4"])
assert rc == 0, f"job.main returned {rc}"
out = spark.read.parquet(os.path.join(work, "out", "combined"))
n = out.count()
ok = out.filter(out["status"] == "ok").count()
assert n >= 40 and ok > 0, (n, ok)
print(f"WHEEL_SMOKE_OK n={n} ok={ok}")
spark.stop()
"""


def run() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    wheels = [build_wheel(os.path.join(WORK, "dist"))]
    venv = os.path.join(WORK, "venv")
    subprocess.run([sys.executable, "-m", "venv",
                    "--system-site-packages", venv], check=True)
    vpy = os.path.join(venv, "bin", "python")
    subprocess.run([vpy, "-m", "pip", "install", "--no-index",
                    "--no-deps", wheels[0]], check=True, cwd=WORK)
    drive = os.path.join(WORK, "drive.py")
    with open(drive, "w") as f:
        f.write(_DRIVE)
    env = dict(os.environ, SMOKE_WORK=WORK)
    env.pop("PYTHONPATH", None)   # nothing from the repo leaks in
    out = subprocess.run([vpy, drive], check=True, cwd=WORK, env=env,
                         capture_output=True, text=True)
    assert "WHEEL_SMOKE_OK" in out.stdout, out.stdout + out.stderr
    print(out.stdout.strip().splitlines()[-1])


if __name__ == "__main__":
    run()
