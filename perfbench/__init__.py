"""Benchmark of the full-text engine: index build, interactive search
and batch search, each measured end to end, plus a traced per-layer
run.  Entry point: ``python3 perfbench/run.py --workload <name>``."""
