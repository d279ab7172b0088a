"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare
row multisets order-insensitively with name-sorted columns."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from rdf_generator_spark import queries as Q
from rdf_generator_spark import queries_kg as QK

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")

# Canonical (driver-visible) + EXTRA (granular entries folded into the
# consolidated suites / merged digests, pytest-only).
ALL_QUERIES = {
    **Q.QUERIES, **QK.QUERIES, **Q.QUERIES_EXTRA, **QK.QUERIES_EXTRA,
}
ALL_ORACLES = {
    **Q.ORACLES, **QK.ORACLES, **Q.ORACLES_EXTRA, **QK.ORACLES_EXTRA,
}

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm_cell(v):
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    return str(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


QUERY_NAMES = sorted(ALL_ORACLES.keys())


def test_registry_fits_driver_window():
    """The driver's correctness gate checks only the first 50 entries of
    queries() — every canonical entry must sit inside that window and
    carry an oracle."""
    qs = entry_mod.queries()
    assert len(qs) <= 50, len(qs)
    assert set(entry_mod.oracle_sql()) == set(qs)


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = ALL_QUERIES[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(ALL_ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), (scols, dcols)
    got, want = _norm_rows(scols, srows), _norm_rows(dcols, drows)
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    if got != want:
        diffs = [(g, w) for g, w in zip(got, want) if g != w][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_suite_stringify_escaping(spark, duck):
    """ADVICE r3: the suite '|'-join must keep column boundaries
    unambiguous. Adversarial values — embedded '|', literal '\\N',
    backslashes, real NULL — must (a) stringify identically on both
    engines and (b) never let two different rows collide."""
    from pyspark.sql import functions as F

    vals = [("a|b", "c"), ("a", "b|c"), ("\\N", "x"), (None, "x"),
            ("back\\slash", "\\"), ("plain", None)]
    sdf = spark.createDataFrame(vals, "c1 string, c2 string").select(
        F.concat_ws(
            "|", Q._suite_esc_col(F.col("c1")), Q._suite_esc_col(F.col("c2"))
        ).alias("out")
    )
    got = sorted(r["out"] for r in sdf.collect())
    values_sql = ", ".join(
        "(" + ", ".join("NULL" if v is None else "'" + v + "'"
                        for v in row) + ")"
        for row in vals
    )
    want = sorted(
        r[0] for r in duck.execute(
            f"SELECT {Q._suite_esc_sql('c1')} || '|' || {Q._suite_esc_sql('c2')} "
            f"FROM (VALUES {values_sql}) AS t(c1, c2)"
        ).fetchall()
    )
    assert got == want
    # no collisions: 6 distinct input rows -> 6 distinct stringifications
    assert len(set(got)) == len(vals)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.columns == ["repo", "n_triples"]
    assert df.count() > 0
