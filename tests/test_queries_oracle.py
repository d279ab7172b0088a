"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB, compare row
multisets order-insensitively with name-sorted columns."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

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


def _marked_column(orig):
    def marked(*cols):
        return F.concat(orig(*cols), F.lit("#"))
    return marked


def _marked_split(orig):
    def marked(df, label):
        return orig(df, label).withColumn("tu_comment", F.concat("tu_comment", F.lit("#")))
    return marked


def _marked_linking(orig):
    def marked(chars, vocab):
        orig(chars, vocab)
        for ch in chars:
            for loc in ch["locators"]:
                loc["label"] = f"{loc['label']}#"
            for st in ch["states"]:
                st["labelN"] += "#"
                st["seed"] += "#"
        return chars
    return marked


# (entry, module, function the entry runs, marker wrapper)
_GRAMMAR_CASES = [
    ("k3_org_seed_grammar", "ids", "org_seed", _marked_column),
    ("k4_seed_grammar", "ids", "cell_seed", _marked_column),
    ("k4_seed_grammar", "ids", "phe_seed", _marked_column),
    ("k4_seed_grammar", "sources.parsers", "link_characters", _marked_linking),
    ("k5_fallback_seeds", "ids", "chain_seed", _marked_column),
    ("k5_fallback_seeds", "ids", "var_seed", _marked_column),
    ("p5_species_uri_norm", "normalize", "norm_species_uri", _marked_column),
    ("p8_binomial_split", "normalize", "split_binomial", _marked_split),
    ("p1_locator_norm", "sources.parsers", "link_characters", _marked_linking),
    ("p9_negation_detect", "sources.parsers", "link_characters", _marked_linking),
]


@pytest.mark.parametrize(
    "name,module,attr,marker", _GRAMMAR_CASES,
    ids=[f"{n}-{a}" for n, _, a, _ in _GRAMMAR_CASES],
)
def test_grammar_entries_run_build_code(spark, monkeypatch, name, module, attr, marker):
    """Each normalizer / seed-grammar entry runs the function the build
    runs, not a copy of it: the build binds the same object (the
    pipeline imports the seed builders and normalizers by name; the
    fused parse, which `build_graph` runs, calls
    `parsers.link_characters` on every character document), and
    wrapping that function so it appends a marker changes the entry's
    rows. The parse-side wrapper reaches the Python workers inside the
    parse's pickled closure."""
    import importlib

    from rdf_generator_spark.plans import pipeline
    from rdf_generator_spark.sources import parsers

    mod = importlib.import_module(f"rdf_generator_spark.{module}")
    orig = getattr(mod, attr)
    build_side = parsers if mod is parsers else pipeline
    assert getattr(build_side, attr) is orig

    def rows():
        return sorted(tuple(r) for r in entry_mod.queries()[name](spark, "").collect())

    before = rows()
    monkeypatch.setattr(mod, attr, marker(orig))
    assert rows() != before
