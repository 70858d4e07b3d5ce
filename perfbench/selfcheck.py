#!/usr/bin/env python3
"""Fast self-check of the benchmark harness on the tiny corpus.

    python3 perfbench/selfcheck.py

In one Spark session it generates the tiny pools, runs every workload
untraced and traced, and checks that each result is correct and carries
exactly the metrics BENCHMARK.json names; it then feeds the output checks
a wrong document and a wrong digest and requires both to be caught, and
finally requires ``run.py`` to fail in a directory holding only the
benchmark. A broken harness fails here in about a minute instead of
after a full set of benchmark runs. Exits 0 when everything holds.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus, harness, run  # noqa: E402


def check_result(spec: dict, wl_name: str, trace: int, metrics: dict,
                 attempted: int, failed: int, failures: list[str]) -> list[str]:
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    out = [f"{wl_name}/trace{trace}: {f}" for f in failures]
    if set(metrics) != set(want):
        out.append(f"{wl_name}/trace{trace}: metrics {sorted(set(metrics) ^ set(want))}"
                   " differ from BENCHMARK.json")
    for name, m in metrics.items():
        if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            out.append(f"{wl_name}/trace{trace}: {name} = {m['value']!r}")
        if name in want and m["unit"] != want[name]:
            out.append(f"{wl_name}/trace{trace}: {name} unit {m['unit']}")
    if attempted < 1 or failed != 0:
        out.append(f"{wl_name}/trace{trace}: attempted {attempted} failed {failed}")
    return out


def checks_catch_bad_output(spark) -> list[str]:
    """The output checks must fail a run whose output is wrong."""
    wl = harness.HybridMix(corpus.SCALES["tiny"], 1)
    wl.prepare(spark)
    wl.load(spark)
    s = wl.run_pass(spark, 0)
    out = []
    bad = [dict(r.asDict(), spans_json="[]") if r["status"] == "ok" else r.asDict()
           for r in s["sample"]]
    if not harness.oracle_failures(bad, wl.draw.expect):
        out.append("oracle check passed a document with its spans removed")
    if not harness.digest_failures("tiny", wl.name, 1, wl.draw.pool, s["digest"] + 1):
        out.append("digest check passed a wrong digest")
    wl.unpersist()
    return out


def fails_without_package() -> list[str]:
    bare = os.path.join(corpus.cache_root(), "tmp", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "hybrid_mix",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=120)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        return ["run.py succeeded or printed a result without the package"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    harness.configure_env()
    t0 = time.perf_counter()
    spark = harness.start_session()
    problems = []
    try:
        for name in harness.WORKLOADS:
            for trace in (0, 1):
                args = SimpleNamespace(workload=name, seed=1, seconds=0.1,
                                       trace=trace)
                metrics, attempted, failed, failures = run.run(
                    spark, args, corpus.SCALES["tiny"], 0.0)
                problems += check_result(spec, name, trace, metrics, attempted,
                                         failed, failures)
                print(f"selfcheck: {name} trace={trace} done", flush=True)
        traces = os.listdir(os.path.join(corpus.cache_root(), "traces"))
        if not any(t.endswith("tiny-seed1.json") for t in traces):
            problems.append("no trace file written")
        problems += checks_catch_bad_output(spark)
    finally:
        harness.stop_session(spark)
    problems += fails_without_package()
    for p in problems:
        print(f"selfcheck: FAIL {p}")
    print(f"selfcheck: {'FAIL' if problems else 'ok'} in "
          f"{time.perf_counter() - t0:.0f} s")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
