"""Benchmark for era_parser_spark: three workloads, end-to-end and per-layer
metrics.  Run it with ``python3 perfbench/run.py --workload <name>``; see
perfbench/README.md."""
