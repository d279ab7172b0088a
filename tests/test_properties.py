"""Property-based tests (hypothesis): the JVM Column normalizers must
agree with their Python twins on arbitrary inputs, UUID5 minting must
match the stdlib, the seed builders must build refsim's seeds, and the
NEXUS taxon rows must number the cell grid as the reference's counters
do — beyond the hand-picked fixtures."""

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


_MAYBE_TEXT = st.one_of(st.none(), _TEXT)
# (salt, taxon, organism label, locators as (label, uri), Char_ID,
# variable label)
_SEED_INPUTS = st.tuples(
    _TEXT, _MAYBE_TEXT, _MAYBE_TEXT,
    st.lists(st.tuples(_MAYBE_TEXT, _MAYBE_TEXT), max_size=4),
    _TEXT, _MAYBE_TEXT,
)


@given(st.lists(_SEED_INPUTS, min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_seed_builders_match_refsim(spark, rows):
    """The build's organism, locator-chain and variable seed builders
    (ids.py) equal the seeds refsim builds: `RefSim.org_seed`,
    `RefSim.variable_chain_seed` and the seed `RefSim.handle_variable`
    mints its IRI from, on random salts, taxa, organism labels, locator
    lists (None labels and URIs included) and variable labels. The var
    seed builder takes the effective variable label, so the input gets
    refsim's fallback for a falsy label ('Unnamed Variable') first."""
    from pyspark.sql import functions as F

    from rdf_generator_spark.ids import chain_seed, kb_iri, org_seed, uuid5_kb, var_seed
    from tests.oracle.refsim import OGraph, RefSim

    df = spark.createDataFrame(
        [(i, salt, taxon, org, char_id, var_label or "Unnamed Variable", locs)
         for i, (salt, taxon, org, locs, char_id, var_label) in enumerate(rows)],
        "i int, salt string, taxon string, org string, char_id string,"
        " var_label string, locs array<struct<label:string,uri:string>>",
    )
    org = org_seed(F.col("salt"), F.col("taxon"), F.col("org"))
    chain = chain_seed(F.col("locs"), F.col("char_id"))
    var = kb_iri("var", var_seed(kb_iri("org", org), chain, F.col("char_id"),
                                 F.col("var_label")))
    got = {r["i"]: r for r in df.select(
        "i", org.alias("org"), chain.alias("chain"), var.alias("var")).collect()}
    sim = RefSim([], [], [], {}, {})
    for i, (salt, taxon, org_label, locs, char_id, var_label) in enumerate(rows):
        sim.salt = salt
        row = {"char_id": char_id, "has_variable": True, "var_label": var_label,
               "locators": [{"label": label, "uri": uri} for label, uri in locs]}
        want_org = sim.org_seed(org_label, taxon)
        assert got[i]["org"] == want_org, (i, rows[i])
        assert got[i]["chain"] == sim.variable_chain_seed(row), (i, rows[i])
        want_var = sim.handle_variable(OGraph(), row, uuid5_kb("org", want_org))
        assert got[i]["var"] == want_var, (i, rows[i])


def test_nexus_taxon_rows_number_the_grid():
    """The NEXUS taxon rows' counts give the reference's sequential
    counters in closed form (plans/pipeline.py): on random ragged grids,
    with rows longer or shorter than the character list and taxa
    without symbols, walking characters then taxa as the reference does
    numbers cell (c, t) char_pos * n_taxa + taxon_pos + 1 and visit
    (c, t, v) the visits before character c (a running sum over
    characters) + stated taxa above t in column c times c's weight +
    v + 1."""
    import random

    from rdf_generator_spark.sources.parsers import nexus_rows

    rnd = random.Random(7)
    for _ in range(40):
        nchar = rnd.randint(1, 6)
        weights = [rnd.choice([1, 2]) for _ in range(nchar)]
        grid = {
            f"T{i}": [rnd.choice(["0", "1", "-", "?", "(01)"])
                      for _ in range(rnd.randint(0, nchar + 2))]
            for i in range(rnd.randint(1, 6))
        }
        lines = ["#NEXUS", "BEGIN DATA;", "MATRIX"]
        lines += [f"  {t}  {''.join(row)}" for t, row in grid.items()]
        recs = nexus_rows("\n".join(lines + [";", "END;"]))
        taxa = [t for t, row in grid.items() if row]
        assert [r["taxon"] for r in recs] == taxa
        assert [r["taxon_pos"] for r in recs] == list(range(len(taxa)))

        def at(arr, c):
            return arr[c] if c < len(arr) else None

        offsets, off = [], 0
        for c in range(nchar):
            offsets.append(off)
            off += (at(recs[0]["col_stated"], c) or 0) * weights[c] if recs else 0
        cell = phe = 0
        for c in range(nchar):
            for r in recs:
                cell += 1
                assert c * r["n_taxa"] + r["taxon_pos"] + 1 == cell
                sym = at(grid[r["taxon"]], c)
                if sym is None or not sym.isdigit():
                    assert at(r["cell_states"], c) is None
                    continue
                assert at(r["cell_states"], c) == int(sym)
                for v in range(weights[c]):
                    phe += 1
                    assert offsets[c] + r["stated_above"][c] * weights[c] + v + 1 == phe


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
