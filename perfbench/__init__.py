"""Benchmark for the irio_mapreduce_spark engine: four closed-loop workloads
(MapReduce batches, TPC-H catalog entries, iterative graph entries and
streaming drains) measured end to end, with an optional per-layer trace.

Run it from the repository root: ``python3 perfbench/run.py --workload
<name> --seed <n> --seconds <s> --trace <0|1>``. See ``run.py``.
"""
