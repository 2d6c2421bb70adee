"""Seeded, closed-loop benchmark of the connectors_spark engine.

Run one workload with ``python3 lakebench/run.py --workload <name> --seed
<n> --seconds <s> --trace <0|1>`` from the repository root; the workloads,
metrics and the layer map are declared in ``BENCHMARK.json``.
"""
