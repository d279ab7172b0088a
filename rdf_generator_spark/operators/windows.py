"""Scalable sequential numbering (A2 at 100 TB).

The reference's `:id-N` counters are sequential in emission order. The
direct Spark expression is `row_number() over (partition by document
order by emission key)` — correct, but one giant document (NTAX x NCHAR
cells) then sorts in a SINGLE task. `seq_number` computes the identical
numbering in two phases:

1. row_number within (document, bucket), where the bucket is a
   monotone function of the leading order column (so bucket boundaries
   respect the global order);
2. add each bucket's starting offset, computed on the tiny
   (document x bucket) count table with a cumulative-sum window.

Phase 1 parallelizes a document across as many tasks as it has buckets;
phase 2's window runs over a table whose size is documents x buckets,
not rows. Its input is evaluated twice (numbering and counts), so the
build uses it only where a document's rows grow with its cell count:
cells, visits and first-visit entities. The state table (characters x
states, from one character JSON parsed in one task) never needs it.
Equivalence to the single-window form is golden-tested (exact :id-N
label equality on the golden corpus) and property-tested on skewed
synthetic corpora.

Reference: the standard two-phase ranking pattern (e.g. Spark AQE docs
and the zipWithIndex lineage) re-expressed in DataFrame algebra.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def seq_number(
    df: DataFrame,
    part_cols: Sequence[str],
    order_cols: Sequence[str],
    bucket: Column,
    out: str = "rn",
) -> DataFrame:
    """Add `out` = row_number() over (partition by part_cols order by
    order_cols), computed bucket-parallel.

    `bucket` MUST be non-decreasing along `order_cols` within a
    partition (typically a block of the leading order column, e.g.
    ``floor(col("char_pos") / 8)``) — that is what makes within-bucket
    numbering + bucket offsets equal the global numbering.
    """
    part = list(part_cols)
    dfb = df.withColumn("__bkt", bucket.cast("long"))
    w_in = Window.partitionBy(*part, "__bkt").orderBy(*order_cols)
    dfb = dfb.withColumn("__rn_in", F.row_number().over(w_in))

    counts = dfb.groupBy(*part, "__bkt").agg(F.count(F.lit(1)).alias("__n"))
    w_off = (
        Window.partitionBy(*part)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(w_off), F.lit(0))
    ).select(*part, "__bkt", "__off")

    return (
        dfb.join(offsets, part + ["__bkt"], "left")
        .withColumn(out, (F.col("__rn_in") + F.col("__off")).cast("int"))
        .drop("__bkt", "__rn_in", "__off")
    )
