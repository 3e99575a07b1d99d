"""Seeded benchmark of the lmw_tree_spark dedup+cluster pipeline.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``
from the repository root; the last line of standard output is the JSON result.
"""
