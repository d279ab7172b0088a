"""Checkpoint-resumable runs with per-partition lineage + metrics.

North-rule contract (BASELINE.json): per-document lineage rows keyed by
(repo, path, commit) with the `sha2(content, 256)` invariant; on restart
the corpus is anti-joined against the lineage table so completed
documents are skipped — batch resume per Iceberg snapshot without
Structured Streaming state (SURVEY.md §2 "Streaming").
"""

from __future__ import annotations

import os
import time
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOC = ["repo", "commit"]

LINEAGE_COLS = [
    "repo", "path", "commit", "content_sha256", "n_triples",
    "partition_id", "snapshot_id", "wall_ms",
]


def content_lineage(corpus: DataFrame) -> DataFrame:
    """Per-row lineage identity: the sha256(content) invariant."""
    return corpus.select(
        "repo", "path", "commit", F.sha2(F.col("content"), 256).alias("content_sha256")
    )


def pending_corpus(corpus: DataFrame, lineage: Optional[DataFrame]) -> DataFrame:
    """Documents not yet recorded as done — the resume anti-join.

    A document group (repo, commit) is skipped only if ALL of its files
    appear in the lineage with matching content hashes; content drift
    (same path, new sha) reprocesses the document.
    """
    if lineage is None:
        return corpus
    done_files = lineage.select(
        "repo", "path", "commit", "content_sha256"
    ).distinct()
    files = content_lineage(corpus)
    outstanding = files.join(
        done_files, ["repo", "path", "commit", "content_sha256"], "left_anti"
    ).select(*DOC).distinct()
    return corpus.join(outstanding, DOC, "left_semi")


def run_resumable(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    dataset_id: Optional[str] = None,
    snapshot_id: str = "",
    triples_table: Optional[str] = None,
    lineage_table: Optional[str] = None,
) -> Dict[str, int]:
    """One resumable batch: skip done docs, build, write triples +
    lineage parquet.

    The commit is idempotent: both tables are partitioned by
    (repo, commit) and written with dynamic partition overwrite, so a
    crash between the triples write and the lineage write (or a
    foreachBatch retry) re-processes those document groups and
    OVERWRITES the same partitions instead of appending duplicates —
    at-least-once execution, exactly-once table state. On Iceberg the
    same property comes from a single atomic snapshot commit.

    ``triples_table`` / ``lineage_table`` override the default parquet
    paths under `out_dir` with any tableio reference — pass
    ``iceberg:cat.db.triples`` to materialize into partitioned Iceberg
    tables (the north-rule deployment) with no other change."""
    from rdf_generator_spark.plans.pipeline import build_graph
    from rdf_generator_spark.sources import tableio

    triples_ref = triples_table or os.path.join(out_dir, "triples")
    lineage_ref = lineage_table or os.path.join(out_dir, "lineage")

    lineage = None
    if tableio.table_exists(spark, lineage_ref):
        lineage = tableio.read_table(spark, lineage_ref)
    todo = pending_corpus(corpus, lineage)
    n_docs = todo.select(*DOC).distinct().count()
    if n_docs == 0:
        return {"docs": 0, "triples": 0}

    t0 = time.perf_counter()
    # durable hub-table staging: a resumable run must survive executor
    # loss (localCheckpoint blocks would not), so stage under out_dir
    res = build_graph(
        spark, todo, dataset_id=dataset_id,
        staging_dir=os.path.join(out_dir, "_staging"),
    )
    triples = res["triples"]
    tableio.write_table(triples, triples_ref)
    wall_ms = int((time.perf_counter() - t0) * 1000)

    # Per-document counts come from the batch's final graph, staged under
    # `_staging/final` (build_graph materializes it before returning), so
    # the count reads only this batch's triples: the committed table,
    # whose file count grows with every batch, is opened once, for the
    # returned total.
    files = content_lineage(todo)
    counts = triples.groupBy(*DOC).agg(F.count(F.lit(1)).alias("n_triples"))
    lineage_rows = (
        files.join(counts, DOC, "left")
        .fillna(0, subset=["n_triples"])
        .withColumn("partition_id", F.spark_partition_id())
        .withColumn("snapshot_id", F.lit(snapshot_id))
        .withColumn("wall_ms", F.lit(wall_ms))
        .select(*LINEAGE_COLS)
    )
    tableio.write_table(lineage_rows, lineage_ref)
    n_triples = tableio.read_table(spark, triples_ref).count()
    return {"docs": n_docs, "triples": n_triples}
