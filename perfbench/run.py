#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, at local[4].

    python3 perfbench/run.py --workload hybrid_mix --seed 1 --seconds 8 --trace 0

Prints each metric as ``name value unit`` and, as the last line of
standard output, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
ledger with ``--trace 1``; the ledger's spans go to
``.perfbench/traces/``). Exits 1 when an output check fails and 2 when the
checkout holds no extraction package to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NEEDED = ("extractpdf4j_spark/pipeline.py", "tests/oracle.py")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["hybrid_mix", "resume_skew"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="timed passes run until their walls add up to this")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run(spark, args, scale, session_s: float) -> tuple[dict, int, int, list[str]]:
    """One workload on ``scale`` (the self-check passes its tiny scale):
    (metrics, attempted docs, failed docs, check failures)."""
    from perfbench import corpus, harness, ledger, procmon
    wl = harness.WORKLOADS[args.workload](scale, args.seed)
    try:
        t0 = time.perf_counter()
        wl.prepare(spark)
        log(f"inputs ready in {time.perf_counter() - t0:.2f} s")
        # peak memory over set-up and passes: the JVM heap reaches its
        # high-water mark reliably over that window, not within one pass
        with procmon.PeakRss(os.getpid()) as rss:
            rounds = harness.setup(spark, wl)
            log(f"set-up rounds {['%.2f' % r for r in rounds]} s")
            # the ledger compares against the median of at least two
            # untraced passes
            walls, failures, failed, errors = harness.timed_passes(
                spark, wl, args.seconds, min_passes=2 if args.trace else 1)
            log(f"timed passes {['%.2f' % w for w in walls]} s")
        peak_mb = rss.peak_mb
        if args.trace:
            path = os.path.join(corpus.cache_root(), "traces",
                                f"{args.workload}-{scale.name}-seed{args.seed}.json")
            layers = ledger.traced_run(spark, wl, statistics.median(walls), path)
            metrics = {name: {"value": layers[name], "unit": unit}
                       for name, unit in ledger_units().items()}
        else:
            metrics = harness.end_to_end(wl, session_s, rounds, walls, errors,
                                         peak_mb)
        return metrics, wl.attempted_docs * len(walls), failed, failures
    finally:
        wl.cleanup()


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def ledger_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: nothing to measure, missing {', '.join(missing)}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import corpus, harness
    harness.configure_env()
    t0 = time.perf_counter()
    spark = harness.start_session()
    session_s = time.perf_counter() - t0
    log(f"session started in {session_s:.2f} s")
    try:
        metrics, attempted, failed, failures = run(spark, args, corpus.SCALES["full"],
                                                   session_s)
    finally:
        t0 = time.perf_counter()
        harness.stop_session(spark)
        log(f"session stopped in {time.perf_counter() - t0:.2f} s")
    for f in failures:
        log(f"CHECK FAILED: {f}")
    for name, m in metrics.items():
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
