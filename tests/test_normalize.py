from __future__ import annotations

from pyspark.sql import functions as F

from rdf_generator_spark import normalize as N

CASES_TAXON = [
    (" Genus sp. ", None),  # expected computed from twin
    ("Genus_sp.", None),
    ("Arhysoceble picta", None),
    (None, ""),
    ("A_SP.", None),
    ("x_sp.y", None),
]

CASES_TERM = [
    ("  Broader  THAN  ", None),
    (None, ""),
    ("Mixed\tWS\n here", None),
]

CASES_CHARNUM = ["C7", "c10", "7", " C12 ", "char9x", "", "??", "C-3", None]


def _col_eval(spark, fn, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r["o"] for r in df.select(fn(F.col("v")).alias("o")).collect()]


def test_norm_taxon(spark):
    vals = [v for v, _ in CASES_TAXON]
    got = _col_eval(spark, N.norm_taxon_label, vals)
    for v, g in zip(vals, got):
        assert g == N.py_norm_taxon_label(v), (v, g)


def test_norm_term(spark):
    vals = [v for v, _ in CASES_TERM]
    got = _col_eval(spark, N.norm_term_label, vals)
    for v, g in zip(vals, got):
        assert g == N.py_norm_term_label(v), (v, g)


def test_parse_char_num(spark):
    got = _col_eval(spark, N.parse_char_num_col, CASES_CHARNUM)
    for v, g in zip(CASES_CHARNUM, got):
        if v is None:
            continue  # reference never passes None; column yields default
        assert g == N.py_parse_char_num(v), (v, g)


def test_extract_revision_source(spark):
    vals = ["Modified from character 7 of X (1993)", " modified  from Y", "plain", None]
    got = _col_eval(spark, N.extract_revision_source_col, vals)
    for v, g in zip(vals, got):
        assert g == N.py_extract_revision_source(v), (v, g)
