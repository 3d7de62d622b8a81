"""Benchmark of both aristoteles_spark surfaces: the ETL CLI and the query suite.

Run from the repository root: ``python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>``. See ``perfbench/README.md``.
"""
