"""Extraction benchmark: seeded workloads at local[4], output checks, layer ledger.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/README.md``.
"""
