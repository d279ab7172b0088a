"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB, compare row
multisets order-insensitively with name-sorted columns."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


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


QUERY_NAMES = sorted(entry_mod.oracle_sql())


def test_registry_fits_driver_window():
    """The driver's correctness gate checks only the first 50 entries of
    queries() — every entry must sit inside that window and carry an
    oracle."""
    qs = entry_mod.queries()
    assert len(qs) <= 50, len(qs)
    assert set(entry_mod.oracle_sql()) == set(qs)


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    # no entry reads sf_dir; the call keeps the driver's signature
    sdf = entry_mod.queries()[name](spark, "")
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(entry_mod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), (scols, dcols)
    got, want = _norm_rows(scols, srows), _norm_rows(dcols, drows)
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    if got != want:
        diffs = [(g, w) for g, w in zip(got, want) if g != w][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.columns == ["repo", "n_triples"]
    assert df.count() > 0
