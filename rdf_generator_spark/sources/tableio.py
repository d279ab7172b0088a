"""Table-format abstraction: parquet paths or Iceberg table identifiers.

The north-rule deployment reads the corpus from (and materializes
triples/lineage into) partitioned Iceberg tables; this sandbox has no
Iceberg runtime jars, so every call site goes through this module and
the choice is a *reference string*, not a code change:

* ``/data/corpus``            -> parquet directory
* ``table:db.corpus``         -> session-catalog managed table (works
  offline; the closest runnable stand-in for the Iceberg deployment —
  same catalog-name indirection, partitioned storage, and idempotent
  dynamic-partition commits via INSERT OVERWRITE)
* ``iceberg:cat.db.corpus``   -> Iceberg table (requires
  ``--packages org.apache.iceberg:iceberg-spark-runtime-...`` and a
  configured catalog on the session)

Semantics mapping (what the parquet/catalog fallbacks emulate):

* snapshot pinning   <- Iceberg ``snapshot-id`` read option; parquet and
  catalog tables have no snapshots (empty id).
* idempotent commit  <- Iceberg ``overwritePartitions`` (one atomic
  snapshot); catalog tables use INSERT OVERWRITE with dynamic partition
  mode; parquet paths use dynamic partition overwrite + refreshByPath.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

ICEBERG_PREFIX = "iceberg:"
CATALOG_PREFIX = "table:"
# Every table the pipeline writes (triples, lineage) is keyed by document.
PARTITION_BY = ("repo", "commit")


def is_iceberg_ref(ref: str) -> bool:
    return ref.startswith(ICEBERG_PREFIX)


def is_catalog_ref(ref: str) -> bool:
    return ref.startswith(CATALOG_PREFIX)


def _name(ref: str) -> str:
    return ref[len(ICEBERG_PREFIX):]


def _cat_name(ref: str) -> str:
    return ref[len(CATALOG_PREFIX):]


def _iceberg_unavailable(exc: Exception, ref: str) -> RuntimeError:
    return RuntimeError(
        f"Iceberg table reference '{ref}' requires the Iceberg Spark "
        "runtime (spark-submit --packages org.apache.iceberg:"
        "iceberg-spark-runtime-<spark>_<scala>:<version>) and a catalog "
        "config (spark.sql.catalog.<name>=org.apache.iceberg.spark."
        f"SparkCatalog). Underlying error: {exc}"
    )


def read_table(
    spark: SparkSession, ref: str, snapshot_id: Optional[str] = None
) -> DataFrame:
    """Read a corpus/table reference, optionally pinned to a snapshot.

    Snapshot pinning only applies to Iceberg refs; asking for a snapshot
    of a parquet path is an error (there is nothing to pin)."""
    if is_iceberg_ref(ref):
        reader = spark.read.format("iceberg")
        if snapshot_id:
            reader = reader.option("snapshot-id", str(snapshot_id))
        try:
            return reader.load(_name(ref))
        except Exception as exc:  # jar/catalog missing
            raise _iceberg_unavailable(exc, ref)
    if snapshot_id:
        raise ValueError(
            f"snapshot_id={snapshot_id!r} requested for non-Iceberg ref "
            f"'{ref}' — snapshots need an iceberg: table reference"
        )
    if is_catalog_ref(ref):
        return spark.table(_cat_name(ref))
    return spark.read.parquet(ref)


def write_table(df: DataFrame, ref: str) -> None:
    """Write with idempotent-commit semantics: the table is partitioned
    by ``PARTITION_BY`` and the write replaces exactly the partitions
    present in `df` (Iceberg: one atomic snapshot; catalog table:
    INSERT OVERWRITE in dynamic mode; parquet: dynamic partition
    overwrite), creating the table on its first write.

    Concurrency contract: the ``table:`` branch has to toggle the
    session-global ``spark.sql.sources.partitionOverwriteMode`` (v1
    ``insertInto`` has no per-write equivalent), so two concurrent
    ``table:`` writers in ONE SparkSession can race each other's
    static/dynamic mode — this function assumes one writer per session
    at a time (the pipeline's lineage commits are sequential, satisfying
    it). Path refs don't have this problem (per-write
    ``option("partitionOverwriteMode", ...)``), and Iceberg commits are
    atomic snapshots; use either for multi-writer sessions."""
    if is_iceberg_ref(ref):
        from pyspark.sql import functions as F

        try:
            writer = (
                df.writeTo(_name(ref)).using("iceberg")
                .partitionedBy(*[F.col(c) for c in PARTITION_BY])
            )
            try:
                writer.overwritePartitions()
            except Exception:
                # first write: table does not exist yet
                writer.create()
            return
        except RuntimeError:
            raise
        except Exception as exc:
            raise _iceberg_unavailable(exc, ref)
    if is_catalog_ref(ref):
        name = _cat_name(ref)
        spark = df.sparkSession
        if not spark.catalog.tableExists(name):
            df.write.mode("overwrite").format("parquet").partitionBy(
                *PARTITION_BY
            ).saveAsTable(name)
            return
        # align to the table's stored column order (saveAsTable moves
        # partition columns to the end); insertInto is positional.
        # INSERT OVERWRITE in dynamic mode replaces exactly the
        # partitions present in df — the v1-catalog analogue of
        # Iceberg's overwritePartitions snapshot commit
        cols = spark.table(name).columns
        conf = spark.conf
        prev = conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            df.select(*cols).write.mode("overwrite").insertInto(name)
        finally:
            conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        return
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*PARTITION_BY)
        .parquet(ref)
    )
    # dynamic overwrite replaces part files in place; drop the session's
    # cached file listing or later reads serve stale paths
    df.sparkSession.catalog.refreshByPath(ref)


def table_exists(spark: SparkSession, ref: str) -> bool:
    if is_iceberg_ref(ref):
        try:
            return spark.catalog.tableExists(_name(ref))
        except Exception as exc:
            raise _iceberg_unavailable(exc, ref)
    if is_catalog_ref(ref):
        return spark.catalog.tableExists(_cat_name(ref))
    import os

    return os.path.exists(ref)


def current_snapshot_id(spark: SparkSession, ref: str) -> str:
    """Latest committed snapshot of an Iceberg table; '' for parquet
    (no snapshot concept — the lineage row records it verbatim)."""
    if is_iceberg_ref(ref):
        try:
            row = spark.sql(
                f"SELECT snapshot_id FROM {_name(ref)}.snapshots "
                "ORDER BY committed_at DESC LIMIT 1"
            ).first()
            return str(row["snapshot_id"]) if row else ""
        except Exception as exc:
            raise _iceberg_unavailable(exc, ref)
    return ""
