"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship KG build on a seeded synthetic corpus;
``queries`` / ``oracle_sql`` expose the operator registry
(rdf_generator_spark.queries): every entry runs on the KG path and
ignores its ``sf_dir`` argument, and every oracle is DuckDB SQL over
VALUES tables or the golden corpus files.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from rdf_generator_spark import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the KG build (parse -> link -> mint -> prune -> label
    priority) on a seeded synthetic corpus, as per-repo triple counts
    (repo, n_triples). The corpus is generated in-process, so no input
    file is read."""
    return Q.kg_pipeline_synth(spark, "")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The operator registry (<= 50 entries, so every one sits inside
    the driver's 50-row correctness window)."""
    return dict(Q.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL (or a pinned VALUES table) for every
    queries() entry."""
    return dict(Q.ORACLES)
