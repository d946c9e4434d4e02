"""Curator benchmark: workloads, traced per-layer replay and result checks.

Run it with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see perfbench/README.md.
"""
