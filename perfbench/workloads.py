"""The benchmark's workloads: each is a list of benchmark jobs that one
closed-loop client submits in a fixed order, each job only after the
previous one has finished. The seed generates the MapReduce corpus; the
catalog workloads run on the engine's fixed test tables, copied into
``perfbench/data``. (Seeding the order of the catalog entries was tried: on
a fresh JVM the first job pays several seconds of JIT and code generation
whichever job it is, so the seed moved the median job time by a quarter.)

A job has three steps, all calls into the engine's public surface:
``build`` (the construct phase: a catalog callable, or a Batch spec),
``run`` (the execute phase: a ``noop`` write of the frame, or the Batch
submission with its sink write) and ``check`` (untimed, after the pass).

A workload may also have a warm-up, run as part of the cold session setup:
``mr_batch`` runs each Batch surface once on a tiny corpus there, which
starts the Python workers and compiles the batch code paths, costs every
session pays once. (Warming the catalog workloads with an untimed entry of
the same family was tried: it cost about twice the time it took off the
pass.)

Three workloads fit the benchmark's time budget: 4 + 22 x (workloads) runs
must end within 3420 s, and on a 4-core host a run took 30-48 s, of which
13-25 s were JVM launch, warm-up, output checks and shutdown around its
passes. ``catalog`` runs any entry list, so a TPC-H workload is one more
``Workload`` here when the budget allows it.
"""

from __future__ import annotations

import glob
import hashlib
import os
import pickle
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import pandas as pd

from perfbench import datagen
from perfbench.oracle import Oracle, mismatch, tables_read

# The reference binaries' contracts (map.cpp tokenizes to "word 1" lines,
# reduce.cpp sums per key) as fork/exec'd commands.
MAP_CMD = "awk '{for (i = 1; i <= NF; i++) print $i, 1}'"
REDUCE_CMD = "awk '{c[$1] += $2} END {for (k in c) print k, c[k]}'"


@dataclass
class Job:
    name: str
    input_bytes: int
    build: Callable[[Any, int], Any]  # (spark, pass index) -> DataFrame or Batch handle
    run: Callable[[Any, Any], Any]  # (spark, built) -> output handle
    check: Callable[[Any, Any], str | None]  # (spark, output) -> mismatch or None
    plannable: bool  # build returns a DataFrame whose plan the trace can time


@dataclass
class Context:
    cache_dir: str  # survives runs: oracle answers
    run_dir: str  # fresh per run
    seed: int


WarmUp = Callable[[Any, Context], None]  # (spark, ctx) -> None


@dataclass
class Workload:
    name: str  # BENCHMARK.json gives the reason for each
    make: Callable[[Context], list[Job]]  # generates inputs
    warm_up: WarmUp | None = None


def _noop(spark, df):
    df.write.format("noop").mode("overwrite").save()
    return df


DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def catalog(sf: float, entries: list[str]) -> Callable[[Context], list[Job]]:
    """Jobs running catalog entries on the fixed tables at ``sf``, each
    checked against its DuckDB oracle."""

    def make(ctx: Context) -> list[Job]:
        from irio_mapreduce_spark import queries

        data_dir = os.path.join(DATA_DIR, f"sf{sf}")
        fns, oracles = queries.all_queries(), queries.all_oracles()
        jobs = []
        for name in entries:
            sql = oracles[name]
            size = sum(os.path.getsize(os.path.join(data_dir, f"{t}.parquet")) for t in tables_read(sql))

            def check(spark, df, sql=sql):
                return mismatch(df.toPandas(), _oracle_result(ctx, data_dir, sql))

            jobs.append(Job(name, size, lambda spark, _p, fn=fns[name]: fn(spark, data_dir), _noop, check, True))
        return jobs

    return make


def _oracle_result(ctx: Context, data_dir: str, sql: str) -> pd.DataFrame:
    """The oracle's answer, computed by DuckDB once per data set and SQL
    text and cached in the checkout (``k-core`` alone takes DuckDB 3 s)."""
    key = hashlib.sha1(f"{os.path.basename(data_dir)}\0{sql}".encode()).hexdigest()
    path = os.path.join(ctx.cache_dir, "oracle", f"{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    duck_tmp = os.path.join(ctx.run_dir, "duckdb")
    os.makedirs(duck_tmp, exist_ok=True)
    oracle = Oracle(data_dir, duck_tmp)
    try:
        want = oracle.result(sql)
    finally:
        oracle.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump(want, fh)
    os.replace(tmp, path)
    return want


def _count_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Faithful-mode reducer: one call per word with all its records."""
    return pd.DataFrame({"word": [pdf["word"].iat[0]], "count": [len(pdf)]})


def _compare_counts(got: dict[str, int], want: Counter) -> str | None:
    if got == want:
        return None
    wrong = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    return f"{len(wrong)} words differ, e.g. {wrong[0]!r}: {got.get(wrong[0])} != {want.get(wrong[0])}"


def _warm_batches(spark, ctx: Context) -> None:
    """Run each Batch surface once on a tiny corpus, so that the Python
    workers start and the JVM compiles the batch code paths during setup."""
    tiny = Context(ctx.cache_dir, os.path.join(ctx.run_dir, "warm"), ctx.seed)
    for job in mr_batch(n_files=1, lines_per_file=200, r_num=2)(tiny):
        job.run(spark, job.build(spark, 0))


def mr_batch(n_files: int, lines_per_file: int, r_num: int) -> Callable[[Context], list[Job]]:
    """The paper's traffic: one Batch (map chain -> hash partition -> reduce
    chain -> ``r_num`` files) over a directory of numbered text files,
    submitted three ways. Outputs are checked against word counts taken
    from the generated corpus."""

    def make(ctx: Context) -> list[Job]:
        from pyspark.sql import functions as F

        from irio_mapreduce_spark.batch_json import BinaryRegistry, submit_json_batch
        from irio_mapreduce_spark.pipeline import BatchSpec, submit_batch

        storage = os.path.join(ctx.run_dir, "mr")
        corpus = os.path.join(storage, "0")
        want = datagen.mr_corpus(corpus, ctx.seed, n_files, lines_per_file)
        size = sum(os.path.getsize(p) for p in glob.glob(os.path.join(corpus, "*")))

        def tokenize(df):
            words = F.explode(F.split(F.trim(F.col("value")), r"\s+")).alias("word")
            return df.select(words).filter(F.col("word") != "")

        def spec(p: int, mode: str, fmt: str) -> BatchSpec:
            common = dict(input_path=corpus, dest_path=os.path.join(storage, f"{mode}-{p}"),
                          input_format="text", dest_format=fmt, map_fns=[tokenize],
                          partition_key="word", r_num=r_num)
            if mode == "agg":
                return BatchSpec(**common, reduce_agg=[F.count("*").alias("count")])
            return BatchSpec(**common, reduce_mode="partition", reduce_fns=[_count_group],
                             reduce_schema="word string, count long")

        def check_csv(spark, dest):
            files = glob.glob(os.path.join(dest, "part-*"))
            if not 1 <= len(files) <= r_num:
                return f"{len(files)} output files for r_num={r_num}"
            got = pd.concat(pd.read_csv(f, header=None, names=["word", "count"], dtype={"word": str})
                            for f in files)
            return _compare_counts(dict(zip(got["word"], got["count"].astype(int))), want)

        def check_parquet(spark, dest):
            got = pd.read_parquet(dest)
            return _compare_counts(dict(zip(got["word"], got["count"].astype(int))), want)

        def check_text(spark, dest):
            files = glob.glob(os.path.join(dest, "part-*"))
            if len(files) != r_num:
                return f"{len(files)} output files for r_num={r_num}"
            got = {}
            for f in files:
                with open(f) as fh:
                    for line in fh:
                        word, n = line.split()
                        if word in got:
                            return f"{word!r} in two reduce files"
                        got[word] = int(n)
            return _compare_counts(got, want)

        def submit(spark, s: BatchSpec):
            submit_batch(spark, s)
            return s.dest_path

        def submit_json(spark, p: int):
            batch = ('{"map_bin_ids": [0], "partition_bin_id": 1, "reduce_bin_ids": [2], '
                     f'"input_id": "0", "final_dest_dir_id": "pipe-{p}", '
                     f'"split_count": {r_num}, "r_num": {r_num}}}')
            registry = BinaryRegistry(storage).put(0, MAP_CMD).put(2, REDUCE_CMD)
            submit_json_batch(spark, storage, batch, registry=registry)
            return os.path.join(storage, f"pipe-{p}")

        return [
            Job("batch_agg", size, lambda spark, p: spec(p, "agg", "csv"), submit, check_csv, False),
            Job("batch_partition", size, lambda spark, p: spec(p, "partition", "parquet"), submit,
                check_parquet, False),
            Job("json_batch_pipe", size, lambda spark, p: p, submit_json, check_text, False),
        ]

    return make


WORKLOADS = {
    w.name: w
    for w in [
        Workload("mr_batch", mr_batch(n_files=16, lines_per_file=2000, r_num=4), _warm_batches),
        Workload("graph_iter_sf0.01",
                 catalog(0.01, ["graph_pagerank_purchases", "graph_sssp_weighted", "graph_kcore_cosupply"])),
        Workload("stream_drain_sf0.01",
                 catalog(0.01, ["stream_tumbling_rollup", "stream_stream_join_attrib",
                                "stream_dedup_within_watermark"])),
    ]
}
