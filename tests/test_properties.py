"""Property-based tests (hypothesis): the JVM Column normalizers must
agree with their Python twins on arbitrary inputs, UUID5 minting must
match the stdlib, and the two-phase counter must match the global
window — beyond the hand-picked fixtures."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# keep examples bounded: every example runs a (warm) Spark job
_SETTINGS = dict(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# printable-ish text plus the whitespace family (incl. Unicode spaces
# and NEL, which exercised the (?U) regex fix) — excludes non-BMP
# surrogates that Arrow round-trips poorly
_TEXT = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=32, max_codepoint=0x2FF),
        st.sampled_from(list(" \t\n\r\x0b\x0c   ")),
    ),
    max_size=40,
)


@given(st.lists(st.one_of(st.none(), _TEXT), min_size=1, max_size=20))
@settings(**_SETTINGS)
def test_normalizers_match_python_twins(spark, xs):
    from pyspark.sql import functions as F

    from rdf_generator_spark import normalize as N

    df = spark.createDataFrame(list(enumerate(xs)), "i int, x string")
    got = {
        r["i"]: (r["t"], r["m"])
        for r in df.select(
            "i",
            N.norm_taxon_label(F.col("x")).alias("t"),
            N.norm_term_label(F.col("x")).alias("m"),
        ).collect()
    }
    for i, x in enumerate(xs):
        assert got[i][0] == N.py_norm_taxon_label(x), (i, repr(x))
        assert got[i][1] == N.py_norm_term_label(x), (i, repr(x))


# ASCII-only domain: Char_IDs are 'C<digits>' by the data model; for
# non-ASCII Unicode numerals the reference's isdigit()/int() fallback is
# itself inconsistent (documented deviation in parse_char_num_col)
_CHARID_TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=20
)


@given(st.lists(st.one_of(st.none(), _CHARID_TEXT,
                          st.from_regex(r"[Cc]?[0-9]{1,6}", fullmatch=True)),
                min_size=1, max_size=20))
@settings(**_SETTINGS)
def test_char_num_matches_python_twin(spark, xs):
    from pyspark.sql import functions as F

    from rdf_generator_spark import normalize as N

    df = spark.createDataFrame(list(enumerate(xs)), "i int, x string")
    got = {r["i"]: r["n"] for r in df.select(
        "i", N.parse_char_num_col(F.col("x")).alias("n")).collect()}
    for i, x in enumerate(xs):
        want = N.py_parse_char_num(x if x is not None else "")
        # Column path treats out-of-int-range digit strings as overflow
        # (try_cast null -> default), matching the guarded py twin
        assert got[i] == want, (i, repr(x), got[i], want)


@given(st.lists(_TEXT, min_size=1, max_size=15))
@settings(**_SETTINGS)
def test_uuid5_matches_stdlib(spark, seeds):
    import uuid as _uuid

    from pyspark.sql import functions as F

    from rdf_generator_spark.ids import _UUID_NAMESPACE, uuid5_col

    df = spark.createDataFrame(list(enumerate(seeds)), "i int, s string")
    got = {r["i"]: r["u"] for r in
           df.select("i", uuid5_col(F.col("s")).alias("u")).collect()}
    for i, s in enumerate(seeds):
        assert got[i] == str(_uuid.uuid5(_UUID_NAMESPACE, s)), repr(s)


@given(
    st.lists(
        st.tuples(st.sampled_from(["d1", "d2"]), st.integers(0, 30),
                  st.integers(0, 5), st.integers(0, 2)),
        min_size=1, max_size=60,
    ),
    st.integers(1, 7),
)
@settings(**_SETTINGS)
def test_seq_number_property(spark, rows, width):
    """The bucketed running sums of 1 and of a weight column (0, 1 or
    2) equal one global window's row number and running sum."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from rdf_generator_spark.operators.windows import seq_number

    data = [(d, a, b, i, w) for i, (d, a, b, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc string, a int, b int, uid int, w int")
    w_run = Window.partitionBy("doc").orderBy("a", "b", "uid")
    want = {
        (r["doc"], r["uid"]): (r["rn"], r["ws"])
        for r in df.select(
            "doc", "uid", F.row_number().over(w_run).alias("rn"),
            F.sum("w").over(
                w_run.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("ws"),
        ).collect()
    }
    got = {
        (r["doc"], r["uid"]): (r["rn"], r["ws"])
        for r in seq_number(
            df, ["doc"], ["a", "b", "uid"], {"rn": "1", "ws": "w"}, width
        ).collect()
    }
    assert got == want


def test_nexus_roundtrip_property():
    """Pure-Python NEXUS parser: random grids render -> parse -> same
    cells, including quoted taxa, interleaved blocks and polymorphic
    tokens."""
    import random

    from rdf_generator_spark.sources.parsers import _parse_nexus_matrix

    rnd = random.Random(42)
    for _ in range(25):
        ntax = rnd.randint(1, 6)
        nchar = rnd.randint(1, 8)
        taxa = [f"Taxon_{i} sp" if rnd.random() < 0.5 else f"T{i}"
                for i in range(ntax)]
        grid = [
            [rnd.choice(["0", "1", "2", "-", "?", "(01)", "{12}"])
             for _ in range(nchar)]
            for _ in range(ntax)
        ]
        interleave = rnd.random() < 0.5
        lines = ["#NEXUS", "BEGIN DATA;", "MATRIX"]
        if interleave and nchar > 1:
            half = nchar // 2
            for t, row in zip(taxa, grid):
                lines.append(f"  '{t}'  {''.join(row[:half])}")
            for t, row in zip(taxa, grid):
                lines.append(f"  '{t}'  {''.join(row[half:])}")
        else:
            for t, row in zip(taxa, grid):
                lines.append(f"  '{t}'  {''.join(row)}")
        lines += [";", "END;"]
        cells = _parse_nexus_matrix("\n".join(lines))
        want = [
            (ti, t, ci, grid[ti][ci])
            for ti, t in enumerate(taxa)
            for ci in range(nchar)
        ]
        assert cells == want, (taxa, grid, interleave)
