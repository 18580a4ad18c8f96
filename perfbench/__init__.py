"""Benchmark for octopusdb_spark: closed-loop KV and query workloads.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root. See ``perfbench/DESIGN.md``.
"""
