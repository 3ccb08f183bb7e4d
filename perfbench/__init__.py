"""Workload benchmark for tms_etl_spark: seeded inputs, closed-loop
timing, output checks and an optional per-layer trace. Entry point:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>``; see ``perfbench/README.md``."""
