#!/usr/bin/env python
"""spark-submit job entry for the KG-construction pipeline.

    spark-submit --py-files rdf_generator_spark.zip scripts/run_pipeline.py \
        --corpus /data/corpus_parquet --out /data/kg --dataset-id demo \
        [--resume] [--ttl] [--validate] [--canonicalize]

Reads the corpus table (parquet/Iceberg path or table), runs
extract -> link -> assemble -> canonicalize, writes partitioned triples
+ lineage, and optionally the sectioned Turtle shards and the validation
report. `--resume` anti-joins against existing lineage so completed
documents are skipped (north-rule checkpoint resume).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def graph_stats(triples) -> dict:
    """The run's document and triple counts, from one aggregation over
    its final graph. Every corpus document keeps its base-scaffold rows
    there, one with no character JSON included
    (tests/test_pipeline_synth.py::test_graph_stats_count_every_document),
    so the graph's distinct (repo, commit) are the corpus's documents."""
    from pyspark.sql import functions as F

    row = triples.agg(
        F.count_distinct("repo", "commit").alias("docs"),
        F.count(F.lit(1)).alias("triples"),
    ).first()
    return {"docs": row["docs"], "triples": row["triples"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True, help="parquet path or table of (repo,path,commit,lang,content)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--dataset-id", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--ttl", action="store_true",
                    help="also write Turtle under OUT/ttl. Layout is "
                         "size-gated (read stats['ttl_mode']): below 2M "
                         "triples per-document <repo>@<commit>-<hash8>.ttl "
                         "files, above it header.ttl + part-*.ttl shards; "
                         "--ttl-layout forces one layout for consumers "
                         "that depend on it")
    ap.add_argument("--ttl-layout", choices=["auto", "shards", "per-document"],
                    default="auto",
                    help="force the --ttl output layout instead of the "
                         "size gate (ADVICE r4: the pre-round-4 fixed "
                         "shard layout is --ttl-layout shards)")
    ap.add_argument("--validate", action="store_true", help="write violations parquet")
    ap.add_argument("--canonicalize", action="store_true",
                    help="apply species same-as connected-components mapping")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--durable-staging", action="store_true",
                    help="stage hub tables to parquet under OUT/_staging "
                         "(survives executor loss) instead of localCheckpoint")
    ap.add_argument("--snapshot-id", default=None,
                    help="pin the corpus read to an Iceberg snapshot "
                         "(requires --corpus iceberg:<table>)")
    ap.add_argument("--triples-table", default=None,
                    help="tableio ref for the triples output (e.g. "
                         "iceberg:cat.db.triples); default parquet under OUT")
    ap.add_argument("--lineage-table", default=None,
                    help="tableio ref for the lineage output")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName("rdf-generator-spark")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if args.shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark = builder.getOrCreate()

    from rdf_generator_spark.queries import ensure_workers_can_import

    ensure_workers_can_import(spark)

    from rdf_generator_spark.sources.tableio import read_table

    # --corpus takes a parquet path OR iceberg:<catalog.db.table>;
    # --snapshot-id pins the Iceberg read (north-rule resume semantics)
    corpus = read_table(spark, args.corpus, snapshot_id=args.snapshot_id)
    t0 = time.perf_counter()

    if args.resume and args.validate:
        # per-scope validation needs the pipeline's tagged part tables,
        # which a resumed (lineage-anti-joined) run does not rebuild for
        # already-done documents — refuse instead of silently skipping.
        ap.error("--validate cannot be combined with --resume; run a full "
                 "pass (drop --resume) to produce the validation report")

    if args.resume:
        from rdf_generator_spark.streaming.lineage import run_resumable

        stats = run_resumable(
            spark, corpus, args.out, dataset_id=args.dataset_id,
            snapshot_id=args.snapshot_id or "",
            triples_table=args.triples_table,
            lineage_table=args.lineage_table,
        )
        triples = read_table(
            spark, args.triples_table or os.path.join(args.out, "triples")
        )
        res = None
    else:
        from rdf_generator_spark.plans.pipeline import build_graph

        res = build_graph(
            spark, corpus, dataset_id=args.dataset_id,
            staging_dir=(os.path.join(args.out, "_staging")
                         if args.durable_staging else None),
        )
        triples = res["triples"]

    # post-steps run against the post-resume triples table too (a resumed
    # run previously ignored --ttl/--canonicalize silently)
    if args.canonicalize:
        from rdf_generator_spark.operators.canonicalize import (
            apply_canonical_mapping,
            connected_components,
            species_same_as_edges,
        )

        edges = species_same_as_edges(triples)
        if not edges.isEmpty():
            # connected_components raises on an exhausted contraction
            # budget, so the batch fails instead of shipping a
            # partially-merged canonical table
            triples = apply_canonical_mapping(
                triples, connected_components(edges)
            )

    if args.resume:
        if args.canonicalize:
            # keep the resumable triples/lineage tables untouched (they are
            # the checkpoint); canonical view goes to its own output
            triples.write.mode("overwrite").partitionBy("repo").parquet(
                os.path.join(args.out, "triples_canonical")
            )
    else:
        triples.write.mode("overwrite").partitionBy("repo").parquet(
            os.path.join(args.out, "triples")
        )
        stats = graph_stats(triples)

    if args.validate:
        from rdf_generator_spark.validation.scopes import validation_report

        violations, conformance = validation_report(res)
        violations.write.mode("overwrite").parquet(os.path.join(args.out, "violations"))
        conformance.write.mode("overwrite").parquet(os.path.join(args.out, "conformance"))
        stats["scopes"] = conformance.count()
        stats["violations"] = violations.count()
    if args.ttl:
        # size-gated writer selection: per-document reference-parity
        # files at small scale, ordered range shards above the bound
        # (sinks/turtle.py::write_turtle_auto); reuses the stats count.
        # --ttl-layout pins one layout for downstream consumers that
        # depend on a fixed file structure (ADVICE r4).
        from rdf_generator_spark.sinks.turtle import write_turtle_auto

        thresholds = {"auto": None, "shards": 0, "per-document": 2 ** 62}
        forced = thresholds[args.ttl_layout]
        kw = {} if forced is None else {"threshold": forced}
        info = write_turtle_auto(
            triples, os.path.join(args.out, "ttl"),
            n_triples=stats.get("triples"), **kw,
        )
        stats["ttl_mode"] = info["mode"]
        stats["ttl_files"] = info.get("n_shards", info.get("n_docs"))

    stats["wall_sec"] = round(time.perf_counter() - t0, 2)
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
