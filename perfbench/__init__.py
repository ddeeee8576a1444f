"""Validation benchmark: one-shot end-to-end runs plus a traced per-layer run.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root (see README.md).
"""
