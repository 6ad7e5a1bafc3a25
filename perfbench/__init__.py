"""Benchmark of dat_archive_map_reduce_spark's public API.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` runs one workload and prints one JSON line; see
README.md for workloads and metrics.
"""
