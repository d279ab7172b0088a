#!/usr/bin/env python
"""Benchmark harness: KG-construction throughput on a deterministic
synthetic corpus.

Prints ONE JSON line:
  {"metric": "kg_pipeline", "value": <sec>, "unit": "sec",
   "capacity_sha1_sec": <sec>, "kg_over_capacity": <ratio>,
   "kg": {...}, "cpus": <n>}

Env: SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_KG_SCALE (default 4 — multiplies synthetic corpus size),
     SPARK_GRAFT_KG_ITERS (default 3 — best-of-N builds),
     SPARK_GRAFT_DRIVER_MEM (default: see default_driver_mem).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

def _machine_ram_gb() -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // (1024 * 1024)
    except OSError:
        pass
    return 128


def default_driver_mem(kg_scale: int) -> str:
    """Heap sizing rule (BENCH.md round-3 memory finding): the 4x corpus
    (scale 16, 18.7M triples) OOMs a 16 GB single-JVM heap — in local
    mode all N concurrent tasks share one heap, and the giant-document
    sort/aggregate buffers plus localCheckpoint blocks need roughly
    2 GB per kg_scale unit (~1 GB per 3 datasets / ~0.6M triples at the
    bench document mix). On a real cluster this is ordinary per-executor
    sizing (4-8 GB per executor core at this document size).

    Capped at ~80% of machine RAM (round 5): the linear rule asks for
    128 GB at kg_scale 64 on a 125 GiB box — a heap the JVM cannot
    even commit alongside its own off-heap overhead. Above the cap the
    corpus still runs; Spark spills sort/aggregate buffers to disk
    instead of widening the heap (the behavior a real executor fleet
    exhibits when a partition exceeds executor memory)."""
    cap = max(12, int(_machine_ram_gb() * 0.8))
    return f"{min(cap, max(12, 2 * kg_scale))}g"


def build_session(cpus: int, kg_scale: int = 1):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("rdf-generator-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(8, 2 * cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or default_driver_mem(kg_scale))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the parquet-staged corpus is a few dozen ~MB files: default
        # file packing (128m target + 4m open cost) would coalesce them
        # into 1-2 input partitions and collapse the Arrow parsers'
        # parallelism; one file per partition restores it
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "4m")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def capacity_sha1_sec(spark) -> float:
    """Box-state normalization cell (VERDICT r4 item 1): an
    embarrassingly-parallel sha1 microbenchmark, run in THIS bench
    session so every BENCH_rN JSON line carries its own capacity
    reference. The sandbox swings ±40% run-to-run (BENCH.md variance
    table); dividing kg_pipeline seconds by this cell separates code
    regressions from box noise. Best-of-2; 40M sha1s over 64
    partitions, pure JVM codegen, no shuffle."""
    from pyspark.sql import functions as F

    best = None
    for _ in range(2):
        df = spark.range(0, 40_000_000, 1, 64)
        t0 = time.perf_counter()
        df.select(
            F.sha1(F.col("id").cast("string").cast("binary")).alias("h")
        ).filter(F.col("h").startswith("0000")).count()
        sec = round(time.perf_counter() - t0, 3)
        best = sec if best is None else min(best, sec)
    return best


def run_bench(spark, kg_scale: int) -> dict:
    from rdf_generator_spark.plans.pipeline import build_graph
    from rdf_generator_spark.queries import ensure_workers_can_import
    from rdf_generator_spark.sources.corpus import corpus_parquet_df
    from rdf_generator_spark.sources.synth import synth_corpus_rows

    # KG build throughput: parse -> link -> mint -> prune -> label
    # priority, the engine's one job.
    ensure_workers_can_import(spark)
    rows = synth_corpus_rows(
        n_datasets=6 * kg_scale, ntax=40, nchar=40, seed=1234,
        giant_every=6, giant_scale=3,
    )
    # The corpus is staged to parquet ONCE (untimed, like the previous
    # protocol's untimed createDataFrame) — the file-backed shape real
    # corpora have (tableio/Iceberg). The timed region includes every
    # parquet scan the pipeline plans over it.
    corpus = corpus_parquet_df(spark, rows)
    kg_sec, n_triples = None, 0
    # Best-of-N (default 3): measured ladder on this box is
    # cold ~94 s -> warm-1 ~73 s -> steady ~52 s (JIT/codegen warmup
    # takes two iterations); a long-lived cluster runs steady-state, so
    # the steady number is the honest per-job figure.
    kg_iters = int(os.environ.get("SPARK_GRAFT_KG_ITERS", "3"))
    for _ in range(kg_iters):
        t0 = time.perf_counter()
        res = build_graph(spark, corpus)
        n_triples = res["triples"].count()
        sec = round(time.perf_counter() - t0, 3)
        kg_sec = sec if kg_sec is None else min(kg_sec, sec)

    cap_sec = capacity_sha1_sec(spark)

    return {
        "metric": "kg_pipeline",
        "value": kg_sec,
        "unit": "sec",
        "capacity_sha1_sec": cap_sec,
        "kg_over_capacity": round(kg_sec / cap_sec, 3) if cap_sec else None,
        "kg": {
            "datasets": 6 * kg_scale,
            "n_triples": n_triples,
            "sec": kg_sec,
            "triples_per_sec": round(n_triples / kg_sec, 1) if kg_sec else None,
        },
    }


def main():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    kg_scale = int(os.environ.get("SPARK_GRAFT_KG_SCALE", "4"))
    spark = build_session(cpus, kg_scale)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        out = run_bench(spark, kg_scale)
        out["cpus"] = cpus
    finally:
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
