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
not rows. Equivalence to the single-window form is golden-tested
(exact :id-N label equality on the reference corpus) and property-
tested on skewed synthetic corpora.

Reference: the standard two-phase ranking pattern (e.g. Spark AQE docs
and the zipWithIndex lineage) re-expressed in DataFrame algebra.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def seq_number(
    df: DataFrame,
    part_cols: Sequence[str],
    order_cols: Sequence[str],
    bucket: Column,
    out: str = "rn",
    counted: Optional[str] = None,
) -> DataFrame:
    """Add `out` = row_number() over (partition by part_cols order by
    order_cols), computed bucket-parallel.

    `bucket` MUST be non-decreasing along `order_cols` within a
    partition (typically a block of the leading order column, e.g.
    ``floor(col("char_pos") / 8)``) — that is what makes within-bucket
    numbering + bucket offsets equal the global numbering.

    With `counted` (the name of a boolean column) only counted rows
    advance the number: `out` is the running count of counted rows up
    to and including this row, i.e. ``sum(int(counted))`` over the
    same window with a rows-unbounded-preceding frame.
    """
    part = list(part_cols)
    b = bucket.cast("long").alias("__bkt")
    dfb = df.withColumn("__bkt", b)

    w_in = Window.partitionBy(*part, "__bkt").orderBy(*order_cols)
    if counted is None:
        one, rank_in = F.lit(1), F.row_number().over(w_in)
    else:
        one = F.col(counted).cast("int")
        rank_in = F.sum(one).over(
            w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    dfb = dfb.withColumn("__rn_in", rank_in)

    counts = dfb.groupBy(*part, "__bkt").agg(F.sum(one).alias("__n"))
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
