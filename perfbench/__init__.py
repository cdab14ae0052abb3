"""Benchmark for the sqllog_analysis_spark pipeline (see perfbench/README.md).

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root.
"""
