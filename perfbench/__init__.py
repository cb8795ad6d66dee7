"""Benchmark for the stream + batch engine: seeded workloads, an
untraced end-to-end run and a traced per-layer run. Entry point:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``."""
