"""Driver-contract query registry (SURVEY.md §2 coverage).

Every entry runs an operator on the KG path itself: the KG build on a
seeded synthetic corpus (``kg_pipeline_synth``), the golden example
corpus (the repository's frozen corpus in the reference's five formats,
sources/golden_corpus/), and small VALUES fixtures. Each entry in
QUERIES takes ``(spark, sf_dir)`` and ignores ``sf_dir``; its twin in
ORACLES is DuckDB SQL over VALUES tables or the golden corpus files.
tests/test_queries_oracle.py compares every pair.

Oracle strategy per group:

* Golden family digests — the Spark pipeline builds the golden graph
  once per process; each family entry filters one operator's triples
  (by subject prefix / predicate) and reduces to (n, md5-of-sorted-
  rows). The oracle VALUES are REGENERATED FROM THE PURE-PYTHON
  REFERENCE SPEC (tests/oracle/refsim.py) by scripts/regen_pins.py —
  an independent derivation, not a Spark snapshot.
* Normalizer / seed-grammar entries — VALUES inputs on both sides with
  a genuine DuckDB SQL twin of the transformation. The Spark side runs
  the build's own code: the Column normalizers of normalize.py, the
  seed builders of ids.py, and, for what the build does in Python
  (locator normalization, negation detection, the state seed), the
  parse of a one-document corpus (`_char_doc`).
* Parser entries — Spark parses the golden files through the corpus
  table; DuckDB re-derives the same rows straight from the files via
  read_text + JSON/CSV/regexp functions.
* Behavioral entries (lineage resume, connected components, closure) —
  DuckDB recursive CTEs or pinned behavioral contracts.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import tempfile
from typing import Callable, Dict, List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_generator_spark import terms as T
from rdf_generator_spark.sources.golden import GOLDEN_DIR as _EX

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}

_PKG_ZIP_SENT = False


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the package to executors (PYTHONPATH-independent), once."""
    global _PKG_ZIP_SENT
    if _PKG_ZIP_SENT:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(tempfile.gettempdir(), "rdf_generator_spark_pkg")
    zip_path = shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir),
                                   os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)
    _PKG_ZIP_SENT = True


def kg_pipeline_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KG pipeline on a small deterministic synthetic corpus."""
    from rdf_generator_spark.plans.pipeline import build_graph
    from rdf_generator_spark.sources.corpus import corpus_df
    from rdf_generator_spark.sources.synth import synth_corpus_rows

    ensure_workers_can_import(spark)
    corpus = corpus_df(spark, synth_corpus_rows(n_datasets=2, ntax=6, nchar=6, seed=11))
    res = build_graph(spark, corpus)
    return (
        res["triples"]
        .groupBy("repo")
        .agg(F.count(F.lit(1)).alias("n_triples"))
        .orderBy("repo")
    )


# Per-repo triple counts of the synthetic KG corpus, pinned from a verified
# run; golden-equality tests derive them independently.
_KG_SYNTH_PINNED = [("synth/dataset-0000", 2182), ("synth/dataset-0001", 2123)]
QUERIES["kg_pipeline_synth"] = kg_pipeline_synth
ORACLES["kg_pipeline_synth"] = (
    "SELECT repo, n_triples FROM (VALUES "
    + ", ".join(f"('{r}', {n})" for r, n in _KG_SYNTH_PINNED)
    + ") AS t(repo, n_triples)"
)


# ---------------------------------------------------------------------------
# Golden-graph cache: build once per process, keep the (small) collected
# triple sets driver-side so every family entry is a cheap local job.
# ---------------------------------------------------------------------------

_GOLDEN: Dict[str, List[tuple]] = {}

_TRIPLE_SCHEMA = "s string, p string, o string, lit boolean, dt string"


def _golden_parts(spark: SparkSession) -> Dict[str, List[tuple]]:
    if not _GOLDEN:
        from rdf_generator_spark.plans.pipeline import build_graph
        from rdf_generator_spark.sources.golden import golden_corpus_df

        ensure_workers_can_import(spark)
        res = build_graph(spark, golden_corpus_df(spark))

        def rows(df):
            return [
                (r["s"], r["p"], r["o"], bool(r["lit"]), r["dt"])
                for r in df.select("s", "p", "o", "lit", "dt").collect()
            ]

        _GOLDEN["final"] = rows(res["triples"])
        _GOLDEN["matrix"] = rows(res["matrix_pruned"])
        _GOLDEN["species"] = rows(res["species_part"])
        _GOLDEN["char"] = rows(res["char_combined"])

        # V3/S4: the 23-scope conformance report, reduced to
        # (scope, conforms, n_violations)
        from rdf_generator_spark.validation.scopes import validation_report

        violations, conformance = validation_report(res)
        vc = {}
        for r in violations.select("scope").collect():
            vc[r["scope"]] = vc.get(r["scope"], 0) + 1
        _GOLDEN["scopes"] = sorted(
            (r["scope"], bool(r["conforms"]), vc.get(r["scope"], 0))
            for r in conformance.select("scope", "conforms").collect()
        )
    return _GOLDEN


def _golden_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(_golden_parts(spark)["final"], _TRIPLE_SCHEMA)


def _digest_agg(df: DataFrame) -> DataFrame:
    row = F.concat_ws(
        "|", "s", "p", "o",
        F.col("lit").cast("int").cast("string"), F.coalesce("dt", F.lit("")),
    )
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.md5(F.concat_ws("\n", F.array_sort(F.collect_list(row)))).alias("digest"),
    )


def digest_py(rows: List[tuple]) -> Tuple[int, str]:
    """Python twin of `_digest_agg` — used by scripts/regen_pins.py on
    the refsim oracle's triple sets."""
    canon = sorted(
        f"{s}|{p}|{o}|{1 if lit else 0}|{dt if dt is not None else ''}"
        for (s, p, o, lit, dt) in rows
    )
    return len(canon), hashlib.md5("\n".join(canon).encode("utf-8")).hexdigest()


# Family selectors: (subject KB prefixes, predicates, object regex).
# A triple belongs to the family when its subject starts with
# KB+prefix for any prefix OR its predicate is in the list; when
# `o_regex` is set the predicate match additionally requires the object
# to match (used for counter labels). Defined once here and consumed by
# BOTH the Spark filter and the refsim-side regen (single source of
# truth for the selector semantics).
FAMILIES: Dict[str, Tuple[Tuple[str, ...], Tuple[str, ...], str]] = {
    # F1 cell fan-out: every triple minted per matrix cell
    "f1_cell_fanout": (("cell-",), (), ""),
    # F2/F6 phenotype statements incl. sex-duplication variants
    "f2_phe_statements": (("phe-",), (), ""),
    # F4 locator chain links
    "f4_locator_chain": ((), (T.BFO_HAS_PART,), ""),
    # F5 last-locator -> quality characteristic link
    "f5_lastloc_quality": ((), (T.RO_HAS_CHARACTERISTIC,), ""),
    # F6 per-organism quality clones (base qua- nodes pruned by A5, so
    # the surviving qua- subjects ARE the clones — checks F6+A5 at once)
    "f6_per_org_qua": (("qua-",), (), ""),
    # F7 negation restriction/complement scaffolding
    "f7_negation_complements": (
        ("restr-", "comp-"),
        (T.OWL_COMPLEMENT_OF, T.OWL_ON_PROPERTY, T.OWL_SOME_VALUES_FROM),
        "",
    ),
    # F8 state nodes + may_have_state links
    "f8_state_nodes": (("sta-",), (T.PHB_MAY_HAVE_STATE,), ""),
    # F9 species dual-mint (sp- instances from both mint sites)
    "f9_species_dual_mint": (("sp-",), (), ""),
    # F10 TU mint + enrichment (iao:denotes, has_TU wiring)
    "f10_tu_enrichment": (
        ("tu-",),
        (T.IAO_DENOTES, T.CDAO_HAS_TU, T.CDAO_BELONGS_TO_TU), "",
    ),
    # F11 revision-source provenance
    "f11_revision_provenance": (("src-",), (T.PROV_HAD_PRIMARY_SOURCE,), ""),
    # F12 matrix node (leaked MatrixLabel seed)
    "f12_matrix_node": (("mx-",), (), ""),
    # K3 organism instance minting
    "k3_org_mint": (("org-",), (), ""),
    # J4 cell -> character lookup links
    "j4_char_cell_links": ((), (T.CDAO_BELONGS_TO_CHARACTER,), ""),
    # A1/A2 sequential :id-N counter labels in KG context
    "a2_counter_labels_kg": ((), (T.RDFS_LABEL,), r":id-[0-9]+$"),
    # F3 statement typing in KG context
    "f3_statement_types_kg": (
        (), (T.PHB_NEOMORPHIC, T.PHB_TRANSF_SIMPLE, T.PHB_TRANSF_COMPLEX), "",
    ),
}


def family_pred_py(name: str):
    """Python-side family membership (for regen over refsim rows)."""
    prefixes, preds, o_regex = FAMILIES[name]
    rx = re.compile(o_regex) if o_regex else None

    def pred(row):
        s, p, o, lit, dt = row
        if name == "f3_statement_types_kg":
            return p == T.RDF_TYPE and o in FAMILIES[name][1]
        if any(s.startswith(T.KB + px) for px in prefixes):
            return True
        if p in preds:
            return rx.search(o) is not None if rx else True
        return False

    return pred


def _family_cond(name: str):
    prefixes, preds, o_regex = FAMILIES[name]
    if name == "f3_statement_types_kg":
        return (F.col("p") == T.RDF_TYPE) & F.col("o").isin(*preds)
    cond = F.lit(False)
    for px in prefixes:
        cond = cond | F.col("s").startswith(T.KB + px)
    if preds:
        pcond = F.col("p").isin(*preds)
        if o_regex:
            pcond = pcond & F.col("o").rlike(o_regex)
        cond = cond | pcond
    return cond


def _make_family_query(name: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _digest_agg(_golden_df(spark).filter(_family_cond(name)))

    q.__name__ = name
    q.__doc__ = (
        f"Golden-graph family digest for {name}: the Spark pipeline's "
        "triples for this operator family vs a digest independently "
        "derived from the executable reference spec "
        "(tests/oracle/refsim.py via scripts/regen_pins.py)."
    )
    return q


# K4 seed-grammar census: distinct minted IRIs per kb prefix. Every
# UUID5 in the digest is a function of the seed grammar + normalizers,
# so an exact match here pins K1+K3+K4+P2-P7 end to end.
def kg_minted_iri_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _golden_df(spark)
    subj = g.filter(F.col("s").startswith(T.KB)).select(
        F.regexp_extract(F.col("s"), re.escape(T.KB) + r"([a-z]+)-", 1).alias("prefix"),
        F.col("s").alias("iri"),
    ).filter(F.col("prefix") != "").distinct()
    return (
        subj.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.md5(F.concat_ws("\n", F.array_sort(F.collect_list("iri")))).alias("digest"),
        )
    )


def census_py(rows: List[tuple]) -> List[Tuple[str, int, str]]:
    """Python twin of `kg_minted_iri_census` for regen."""
    by_prefix: Dict[str, set] = {}
    for (s, p, o, lit, dt) in rows:
        if s.startswith(T.KB):
            m = re.match(re.escape(T.KB) + r"([a-z]+)-", s)
            if m:
                by_prefix.setdefault(m.group(1), set()).add(s)
    out = []
    for prefix in sorted(by_prefix):
        iris = sorted(by_prefix[prefix])
        digest = hashlib.md5("\n".join(iris).encode("utf-8")).hexdigest()
        out.append((prefix, len(iris), digest))
    return out


# S3 combined outputs: per-part (n, digest) — base is constant-scaffold,
# char is characters_combined (post label-priority), matrix is the
# pruned matrix graph, species/final as written.
def s3_combined_outputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = _golden_parts(spark)
    rows = []
    for key in ["char", "matrix", "species", "final"]:
        n, digest = digest_py(parts[key])
        rows.append((key, n, digest))
    # digests computed from Spark-collected triples (the pipeline did the
    # distributed work); returned as a literal frame for the compare
    return spark.createDataFrame(rows, "part string, n bigint, digest string")


for _fam_name in FAMILIES:
    QUERIES[_fam_name] = _make_family_query(_fam_name)
QUERIES["k4_minted_iri_census"] = kg_minted_iri_census
QUERIES["s3_combined_outputs"] = s3_combined_outputs


# ---------------------------------------------------------------------------
# Pinned oracle values — REGENERATED by scripts/regen_pins.py from the
# pure-Python reference spec (refsim), NOT from Spark output. Do not
# edit by hand; rerun the script after any semantic pipeline change.
# ---------------------------------------------------------------------------

# >>> GOLDEN_PINS_START
GOLDEN_PINS: Dict[str, Tuple[int, str]] = {
    "a2_counter_labels_kg": (962, "c470bc541583fadfc0865ec4aafd6375"),
    "f10_tu_enrichment": (157, "a6ecefed45fb48090d830ce189c21c7f"),
    "f11_revision_provenance": (30, "78912223f06e107cef679b7fd8752b6d"),
    "f12_matrix_node": (24, "6d137acaa98e4a459dcfe3ca317830f7"),
    "f1_cell_fanout": (859, "d7226241c5d7fa923c148c274fd949ce"),
    "f2_phe_statements": (1809, "39a7e3a3f79d25642fe60a4fabf358d2"),
    "f3_statement_types_kg": (165, "cd2e86777aabb673fb77185e614c2f00"),
    "f4_locator_chain": (410, "6373b8e1ce99567e4ba2b52ad32cf61c"),
    "f5_lastloc_quality": (165, "3d581ee24d877f032c9bb5bb0f514ce9"),
    "f6_per_org_qua": (453, "a8ef8337764244da296bdcdb6b828ad9"),
    "f7_negation_complements": (7, "fc8db445118b9e943f6fbc12e212769a"),
    "f8_state_nodes": (88, "0e244d0b48c005794955e2c1f2a257f8"),
    "f9_species_dual_mint": (53, "a296001043cd0efc8a63f10292664e27"),
    "j4_char_cell_links": (100, "0e442dc0be9ba641b437ea9319c0de26"),
    "k3_org_mint": (245, "8663ce1a6f108e9b0a1ba89d34bdead7"),
}
CENSUS_PINS: List[Tuple[str, int, str]] = [
    ("cell", 100, "f1d11e3310987eefb7eed284805bfab7"),
    ("char", 10, "ba1413c76aa3c8e3f9a530d731bc2b18"),
    ("comp", 1, "dec991942d481f16089f9f2e32f73398"),
    ("loc", 410, "e5cc02f8a9bffa1c12ba6fece7bb0780"),
    ("mx", 1, "a0aef92755510bc6d8aab929196f94e2"),
    ("org", 20, "9d4314e806f19d129edbfe1b1abeb459"),
    ("phe", 165, "eb099b2cc2733b6526df4e4ec78735fd"),
    ("qua", 165, "b94e9a8c80b500b9d14e28a053c2829b"),
    ("restr", 1, "a3d99463720e22f99fa74ddf554ff65e"),
    ("sp", 10, "c7eacdc594a4ab39890f6e326dea55a3"),
    ("src", 10, "9b494a46d1a5308e614807d2e695ae1e"),
    ("sta", 22, "19eb5acb05df0e1d1584c16a81f7e9a3"),
    ("tu", 10, "32157e65df702f0d67b66d502782ca2c"),
    ("var", 79, "0ee8f30f32351e9684968a18886564be"),
]
PARTS_PINS: List[Tuple[str, int, str]] = [
    ("char", 209, "05255572a817b306690018fec3caf8a9"),
    ("matrix", 5442, "3501295410390fbd92c64ffd63739e08"),
    ("species", 83, "18bed4eb8bbc71de27dbb16c88d2191b"),
    ("final", 5612, "7b7b0f30c526b74266c5299fc2514cde"),
]
# <<< GOLDEN_PINS_END


def _install_pin_oracles() -> None:
    for name, (n, digest) in GOLDEN_PINS.items():
        ORACLES[name] = (
            f"SELECT CAST({n} AS BIGINT) AS n, '{digest}' AS digest"
        )
    if CENSUS_PINS:
        ORACLES["k4_minted_iri_census"] = (
            "SELECT prefix, CAST(n AS BIGINT) AS n, digest FROM (VALUES "
            + ", ".join(f"('{p}', {n}, '{d}')" for p, n, d in CENSUS_PINS)
            + ") AS t(prefix, n, digest)"
        )
    if PARTS_PINS:
        ORACLES["s3_combined_outputs"] = (
            "SELECT part, CAST(n AS BIGINT) AS n, digest FROM (VALUES "
            + ", ".join(f"('{p}', {n}, '{d}')" for p, n, d in PARTS_PINS)
            + ") AS t(part, n, digest)"
        )


_install_pin_oracles()


# ---------------------------------------------------------------------------
# P-family normalizers (SURVEY §2 P1-P9): VALUES inputs on both sides,
# genuine DuckDB SQL twins of each transformation. Inputs use ASCII
# whitespace only (tabs/newlines) because RE2's \s is ASCII while the
# JVM path is Unicode-aware — the Unicode edge is pytest-covered.
# ---------------------------------------------------------------------------

def _sqlv(v) -> str:
    if v is None:
        return "CAST(NULL AS VARCHAR)"
    return "'" + str(v).replace("'", "''") + "'"


def _values(rows) -> str:
    return ", ".join(
        "(" + ", ".join(_sqlv(c) if isinstance(c, str) or c is None else str(c)
                        for c in r) + ")"
        for r in rows
    )


_SQL_STRIP = "regexp_replace({x}, '^\\s+|\\s+$', '', 'g')"


def _strip_sql(x: str) -> str:
    return _SQL_STRIP.format(x=x)


def _taxnorm_sql(x: str) -> str:
    """SQL twin of norm_taxon_label: strip, spaces->_, drop '.' after a
    trailing _sp (case-insensitive)."""
    return (
        "CASE WHEN {x} IS NULL THEN '' ELSE regexp_replace("
        "replace(" + _strip_sql("{x}") + ", ' ', '_'),"
        " '(?i)(_sp)\\.$', '\\1') END"
    ).format(x=x)


def _termnorm_sql(x: str) -> str:
    """SQL twin of norm_term_label / norm_seed_component."""
    return (
        "CASE WHEN {x} IS NULL THEN '' ELSE regexp_replace(lower("
        + _strip_sql("{x}") + "), '\\s+', ' ', 'g') END"
    ).format(x=x)


_P1_INPUTS = [
    (1, "http://purl.obolibrary.org/obo/HAO_0000456"),
    (2, "plain locator"),
    (3, "a/b/"),
    (4, ""),
    (5, "x/y/z name"),
]


def _char_doc(spark: SparkSession, chars: List[dict]) -> DataFrame:
    """`chars` as one character-JSON document through the build's parse
    and linker (`parse_char_docs`, empty label index)."""
    from rdf_generator_spark.sources.corpus import corpus_df
    from rdf_generator_spark.sources.parsers import parse_char_docs

    ensure_workers_can_import(spark)
    doc = ("r", "chars.json", "c" * 40, "json", json.dumps(chars))
    return parse_char_docs(corpus_df(spark, [doc]))


def p1_locator_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-locator normalization (P1, main.py:500-512), the parse's
    `_norm_locator`: label is the last '/'-segment, uri the full string.
    One character per input, its Char_ID the input's i."""
    chars = _char_doc(spark, [{"Char_ID": i, "Locators": [x]} for i, x in _P1_INPUTS])
    return chars.selectExpr("CAST(char_id AS INT) AS i", "locators[0].label AS label",
                            "locators[0].uri AS uri")


ORACLES["p1_locator_norm"] = f"""
    WITH inp(i, x) AS (VALUES {_values(_P1_INPUTS)})
    SELECT i, regexp_extract(x, '([^/]*)$', 1) AS label, x AS uri FROM inp
"""

_P2_INPUTS = [
    (1, "  Apis mellifera  "),
    (2, "Bombus_sp."),
    (3, "Genus SP."),
    (4, "a  b"),
    (5, "x sp. y"),
    (6, None),
    (7, "tab\tedge\t"),
]


def p2_taxon_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_generator_spark.normalize import norm_taxon_label

    df = spark.createDataFrame(_P2_INPUTS, "i int, x string")
    return df.select("i", norm_taxon_label(F.col("x")).alias("norm"))


ORACLES["p2_taxon_norm"] = f"""
    WITH inp(i, x) AS (VALUES {_values(_P2_INPUTS)})
    SELECT i, {_taxnorm_sql('x')} AS norm FROM inp
"""

_P3_INPUTS = [
    (1, "  MiXeD   Case  "),
    (2, "A\tB"),
    (3, None),
    (4, "ok"),
    (5, "多 空  格"),
]


def p3_term_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_generator_spark.normalize import norm_term_label

    df = spark.createDataFrame(_P3_INPUTS, "i int, x string")
    return df.select("i", norm_term_label(F.col("x")).alias("norm"))


ORACLES["p3_term_norm"] = f"""
    WITH inp(i, x) AS (VALUES {_values(_P3_INPUTS)})
    SELECT i, {_termnorm_sql('x')} AS norm FROM inp
"""


def p4_seed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """norm_seed_component — same transform as P3, kept as its own
    entry to mirror the reference's split (main.py:178-182)."""
    from rdf_generator_spark.normalize import norm_seed_component

    df = spark.createDataFrame(_P3_INPUTS, "i int, x string")
    return df.select("i", norm_seed_component(F.col("x")).alias("norm"))


ORACLES["p4_seed_norm"] = ORACLES["p3_term_norm"]

_KB_SQL = T.KB

_P5_INPUTS = [
    (1, None, "Apis mellifera"),
    (2, "", "Apis sp."),
    (3, "kb:Genus x", "ignored"),
    (4, T.KB + "Some name", "ignored"),
    (5, "http://other/uri x", "ignored"),
    (6, "  http://ws.x  ", "ignored"),
    (7, " ", "Whitespace uri"),
]


def p5_species_uri_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize_species_uri (P5, main.py:146-167), the build's
    `norm_species_uri`, including the Python-truthiness quirk: a
    whitespace-only uri is truthy, strips to '', and is returned as-is."""
    from rdf_generator_spark.normalize import norm_species_uri, norm_taxon_label

    df = spark.createDataFrame(_P5_INPUTS, "i int, uri string, fb string")
    return df.select(
        "i", norm_species_uri(F.col("uri"), norm_taxon_label(F.col("fb"))).alias("sp_uri"))


ORACLES["p5_species_uri_norm"] = f"""
    WITH inp(i, uri, fb) AS (VALUES {_values(_P5_INPUTS)}),
    s AS (SELECT i, uri, fb, {_strip_sql('uri')} AS su FROM inp)
    SELECT i,
      CASE WHEN uri IS NULL OR uri = ''
             THEN '{_KB_SQL}' || {_taxnorm_sql('fb')}
           WHEN starts_with(su, 'kb:')
             THEN '{_KB_SQL}' || {_taxnorm_sql("substr(su, 4)")}
           WHEN starts_with(su, '{_KB_SQL}')
             THEN '{_KB_SQL}' || {_taxnorm_sql(f"substr(su, {len(T.KB) + 1})")}
           ELSE su END AS sp_uri
    FROM s
"""

_P6_INPUTS = [
    (1, "C7"), (2, " 12 "), (3, "C 8"), (4, "x9y2"), (5, ""),
    (6, "C"), (7, "007"), (8, "c33"), (9, None),
]


def p6_char_num_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_generator_spark.normalize import parse_char_num_col

    df = spark.createDataFrame(_P6_INPUTS, "i int, x string")
    return df.select("i", parse_char_num_col(F.col("x")).alias("num"))


ORACLES["p6_char_num_parse"] = f"""
    WITH inp(i, x) AS (VALUES {_values(_P6_INPUTS)}),
    s AS (SELECT i, x, {_strip_sql('x')} AS sx FROM inp)
    SELECT i, COALESCE(
        TRY_CAST({_strip_sql(
            "CASE WHEN regexp_matches(sx, '^[Cc]') THEN substr(sx, 2) ELSE sx END"
        )} AS INT),
        TRY_CAST(NULLIF(regexp_replace(sx, '\\D', '', 'g'), '') AS INT),
        1000000000) AS num
    FROM s
"""

_P7_INPUTS = [
    (1, "Modified from character 7 of Roig-Alsina (1993)"),
    (2, "  modified  FROM  Jones 2001 "),
    (3, "Not modified text"),
    (4, None),
    (5, "MODIFIED FROM"),
]


def p7_revision_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_generator_spark.normalize import extract_revision_source_col

    df = spark.createDataFrame(_P7_INPUTS, "i int, x string")
    return df.select("i", extract_revision_source_col(F.col("x")).alias("src"))


_P7_INNER = _strip_sql(
    "regexp_replace(" + _strip_sql("x0")
    + ", '(?i)^\\s*modified\\s+from\\s+', '')"
)
ORACLES["p7_revision_source"] = f"""
    WITH inp(i, x) AS (VALUES {_values(_P7_INPUTS)}),
    s AS (SELECT i, CASE WHEN x IS NULL THEN '' ELSE x END AS x0 FROM inp)
    SELECT i, {_P7_INNER} AS src
    FROM s
"""

_P8_INPUTS = [
    (1, "Apis mellifera Linnaeus, 1758"),
    (2, "Apis mellifera"),
    (3, "Apis"),
    (4, "Genus species (Author, year) extra"),
]


def p8_binomial_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binomial/author split + italic TU comment (P8, main.py:2005-2016),
    the build's `split_binomial`: split(' ', limit=3) keeps the author."""
    from rdf_generator_spark.normalize import split_binomial

    df = spark.createDataFrame(_P8_INPUTS, "i int, x string")
    return split_binomial(df, "x").selectExpr("i", "binomial", "author", "tu_comment AS html")


ORACLES["p8_binomial_split"] = f"""
    WITH inp(i, x) AS (VALUES {_values(_P8_INPUTS)}),
    s AS (SELECT i, x, string_split(x, ' ') AS p FROM inp),
    c AS (
      SELECT i,
        CASE WHEN len(p) >= 2 THEN p[1] || ' ' || p[2] ELSE x END AS binomial,
        CASE WHEN len(p) >= 3 THEN array_to_string(p[3:], ' ')
             ELSE '' END AS author
      FROM s
    )
    SELECT i, binomial, author,
           {_strip_sql("'<i>' || binomial || '</i> ' || author")} AS html
    FROM c
"""

_P9_INPUTS = [
    (1, "not  elongate"),
    (2, "NOT broad"),
    (3, "nothing"),
    (4, None),
    (5, " not x"),
    (6, "smooth"),
]


def p9_negation_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-label negation detection (P9, main.py:1000-1018), the
    parse's `link_characters`: ``base_label`` is set exactly when the
    label is negated. One character per input, its Char_ID the input's
    i, its one state labeled by the input."""
    chars = _char_doc(spark, [{"Char_ID": i, "States": [{"label": x}]} for i, x in _P9_INPUTS])
    return chars.selectExpr(
        "CAST(char_id AS INT) AS i", "states[0].base_label IS NOT NULL AS is_neg",
        "coalesce(states[0].base_label, '') AS base_label", "states[0].labelN AS labelN",
    )


ORACLES["p9_negation_detect"] = f"""
    WITH inp(i, x) AS (VALUES {_values(_P9_INPUTS)}),
    s AS (SELECT i, CASE WHEN x IS NULL THEN 'unknown'
                         ELSE {_strip_sql('x')} END AS l0 FROM inp),
    c AS (SELECT i, l0, starts_with(lower(l0), 'not ') AS is_neg,
                 {_strip_sql('substr(l0, 5)')} AS base FROM s)
    SELECT i, is_neg,
           CASE WHEN is_neg THEN base ELSE '' END AS base_label,
           CASE WHEN is_neg THEN 'not ' || base ELSE l0 END AS labelN
    FROM c
"""


# ---------------------------------------------------------------------------
# K-family seed grammar (K3/K4/K5): the exact pre-UUID5 seed strings of
# the build's seed builders (ids.py) and parse vs DuckDB concat twins.
# The minted-IRI census above already pins the grammar end-to-end
# through sha1; these entries make the grammar itself inspectable.
# ---------------------------------------------------------------------------

_K3_INPUTS = [
    (1, "dataset::demo", " Apis mellifera ", "adult organism"),
    (2, "metadata::abcd", "Bombus_sp.", ""),
    (3, "dataset::demo", "", "female organism"),
    (4, "dataset::demo", "X  y", None),
]


def k3_org_seed_grammar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Organism-instance seed (K3, main.py:929-940), `ids.org_seed` on
    the taxon-normalized label, as the cell visits call it."""
    from rdf_generator_spark.ids import org_seed
    from rdf_generator_spark.normalize import norm_taxon_label

    df = spark.createDataFrame(_K3_INPUTS, "i int, salt string, taxon string, org string")
    seed = org_seed(F.col("salt"), norm_taxon_label(F.col("taxon")), F.col("org"))
    return df.select("i", seed.alias("org_seed"))


_K3_TAX = _termnorm_sql(_taxnorm_sql("taxon"))
ORACLES["k3_org_seed_grammar"] = f"""
    WITH inp(i, salt, taxon, org) AS (VALUES {_values(_K3_INPUTS)})
    SELECT i, salt || '::'
        || COALESCE(NULLIF({_K3_TAX}, ''), 'unknown-taxon') || '::'
        || COALESCE(NULLIF({_termnorm_sql('org')}, ''), 'organism')
      AS org_seed
    FROM inp
"""

_K4_INPUTS = [
    (1, "C1", "broader", None, "Arhysoceble_picta", 0),
    (2, "C2", "not smooth", "http://purl.obolibrary.org/obo/PATO_1", "Euglossa cordata", 3),
    (3, "C3", None, "", " Taxon X ", 7),
    (4, "C4", "  Mixed Case  ", None, "t", 2),
]


def k4_seed_grammar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State/quality, cell and phenotype seed grammar (K4,
    main.py:996-1018, 1740, 1790): the sta/qua seed,
    char_id + '_' + (truthy uri | lower(labelN)), from the parse (one
    character per input with its one state); `ids.cell_seed` on the RAW
    taxon label; `ids.phe_seed` (no sex-variant suffix)."""
    from rdf_generator_spark.ids import cell_seed, phe_seed

    chars = _char_doc(spark, [{"Char_ID": c, "States": [{"label": lb, "uri": u}]}
                              for _, c, lb, u, _, _ in _K4_INPUTS])
    sta = chars.selectExpr("char_id", "states[0].seed AS sta_seed")
    df = spark.createDataFrame(
        _K4_INPUTS, "i int, char_id string, label string, uri string, taxon string, ci int"
    )
    return df.join(sta, "char_id").select(
        "i", "sta_seed",
        cell_seed(F.col("taxon"), F.col("ci")).alias("cell_seed"),
        phe_seed(F.col("char_id"), F.col("taxon"), F.lit("")).alias("phe_seed"),
    )


_K4_L0 = "CASE WHEN label IS NULL THEN 'unknown' ELSE " + _strip_sql("label") + " END"
ORACLES["k4_seed_grammar"] = f"""
    WITH inp(i, char_id, label, uri, taxon, ci) AS (VALUES {_values(_K4_INPUTS)}),
    s AS (SELECT *, {_K4_L0} AS l0 FROM inp),
    c AS (SELECT *, CASE WHEN starts_with(lower(l0), 'not ')
                         THEN 'not ' || {_strip_sql('substr(l0, 5)')}
                         ELSE l0 END AS labeln FROM s)
    SELECT i,
        char_id || '_' || COALESCE(NULLIF(uri, ''), lower(labeln)) AS sta_seed,
        taxon || '_' || CAST(ci AS VARCHAR) AS cell_seed,
        'pheno-' || char_id || '::' || lower({_strip_sql('taxon')}) AS phe_seed
    FROM c
"""


def k5_fallback_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locator-chain seed with the reference's fallback ladder (K5,
    main.py:929-962), `ids.chain_seed`: all-URIs, else all-labels, else
    the '__malformed__' stand-in; and `ids.var_seed` over it (organism
    'ORG', label 'width'): no locators -> the '__noloc__' seed."""
    from rdf_generator_spark.ids import chain_seed, var_seed

    rows = [
        (1, "C1", [("labrum", "http://x/1"), ("area", "http://x/2")]),
        (2, "C2", [("labrum", "http://x/1"), ("area", None)]),
        (3, "C3", [(None, None), ("area", "http://x/2")]),
        (4, "C4", []),
        (5, "C5", [("  pad  ", "  u1  ")]),
    ]
    df = spark.createDataFrame(
        rows, "i int, char_id string, locs array<struct<label:string,uri:string>>"
    )
    chain = chain_seed(F.col("locs"), F.col("char_id"))
    var = var_seed(F.lit("ORG"), chain, F.col("char_id"), F.lit("width"))
    return df.select("i", chain.alias("chain_seed"), var.alias("var_seed"))


ORACLES["k5_fallback_seeds"] = """
    WITH inp(i, char_id, locs) AS (VALUES
        (1, 'C1', [{'label': 'labrum', 'uri': 'http://x/1'},
                   {'label': 'area', 'uri': 'http://x/2'}]),
        (2, 'C2', [{'label': 'labrum', 'uri': 'http://x/1'},
                   {'label': 'area', 'uri': CAST(NULL AS VARCHAR)}]),
        (3, 'C3', [{'label': CAST(NULL AS VARCHAR), 'uri': CAST(NULL AS VARCHAR)},
                   {'label': 'area', 'uri': 'http://x/2'}]),
        (4, 'C4', CAST([] AS STRUCT(label VARCHAR, uri VARCHAR)[])),
        (5, 'C5', [{'label': '  pad  ', 'uri': '  u1  '}])
    ),
    c AS (
      SELECT i, char_id, locs,
        list_transform(locs, l -> CASE WHEN l.uri IS NULL THEN 'None'
            ELSE regexp_replace(l.uri, '^\\s+|\\s+$', '', 'g') END) AS uc,
        list_transform(locs, l -> CASE WHEN l.label IS NULL THEN 'None'
            ELSE regexp_replace(l.label, '^\\s+|\\s+$', '', 'g') END) AS lc
      FROM inp
    ),
    d AS (
      SELECT i, char_id,
        CASE WHEN len(locs) > 0 AND
                  list_aggregate(list_transform(uc, x -> x <> ''), 'bool_and')
               THEN array_to_string(uc, '::')
             WHEN len(locs) > 0 AND
                  list_aggregate(list_transform(lc, x -> x <> ''), 'bool_and')
               THEN array_to_string(lc, '::')
             WHEN len(locs) > 0 THEN '__malformed__::' || char_id
        END AS chain_seed
      FROM c
    )
    SELECT i, chain_seed,
      CASE WHEN chain_seed IS NOT NULL THEN 'ORG::' || chain_seed || '::width'
           ELSE '__noloc__::' || char_id || '::width' END AS var_seed
    FROM d
"""


# ---------------------------------------------------------------------------
# SRC parsers: Spark parses the golden example files through the corpus
# table (mapInPandas); DuckDB re-derives the same rows straight from the
# files with read_text/read_csv + JSON/regexp functions.
# ---------------------------------------------------------------------------

def _golden_corpus(spark: SparkSession) -> DataFrame:
    from rdf_generator_spark.sources.golden import golden_corpus_df

    ensure_workers_can_import(spark)
    return golden_corpus_df(spark)


def src1_config_dataset_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YAML config scan (SRC1) + highest-priority salt derivation
    (K2 tier 1, main.py:227-235)."""
    from rdf_generator_spark.normalize import norm_seed_component
    from rdf_generator_spark.plans.pipeline import dataset_id_from_config
    from rdf_generator_spark.sources.corpus import corpus_df

    yaml_content = 'dataset_id: "  Demo  DS "\ninput:\n  json: x.json\n'
    corpus = corpus_df(
        spark, [("r", "config.yaml", "c" * 40, "yaml", yaml_content)]
    )
    did = dataset_id_from_config(corpus)
    return spark.range(1).select(
        F.lit(did).alias("dataset_id"),
        F.concat(F.lit("dataset::"),
                 norm_seed_component(F.lit(did))).alias("salt"),
    )


ORACLES["src1_config_dataset_id"] = f"""
    SELECT '  Demo  DS ' AS dataset_id,
           'dataset::' || {_termnorm_sql("'  Demo  DS '")} AS salt
"""


def src2_char_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character JSON scan (SRC2): per-character row shape from the
    golden example file."""
    from rdf_generator_spark.sources.parsers import parse_char_docs

    chars = parse_char_docs(_golden_corpus(spark))
    return chars.select(
        "char_pos", "char_id",
        F.col("org_label"), F.col("org_uri"),
        F.size("locators").cast("int").alias("n_locators"),
        F.size("states").cast("int").alias("n_states"),
        "has_variable", "var_label", "var_uri", "var_comment", "tag",
    )


ORACLES["src2_char_json_scan"] = f"""
    WITH doc AS (SELECT content FROM read_text('{_EX}/minimal.json')),
    arr AS (SELECT CAST(json(content) AS JSON[]) AS a FROM doc),
    r AS (SELECT unnest(range(len(a))) AS char_pos, unnest(a) AS j FROM arr)
    SELECT CAST(char_pos AS INT) AS char_pos,
           json_extract_string(j, '$.Char_ID') AS char_id,
           json_extract_string(j, '$.Organism.Label') AS org_label,
           json_extract_string(j, '$.Organism.URI') AS org_uri,
           CAST(COALESCE(json_array_length(j, '$.Locators'), 0) AS INT) AS n_locators,
           CAST(COALESCE(json_array_length(j, '$.States'), 0) AS INT) AS n_states,
           CASE WHEN json_extract(j, '$.Variable') IS NULL THEN FALSE
                WHEN CAST(json_extract(j, '$.Variable') AS VARCHAR)
                     IN ('null', '{{}}') THEN FALSE
                ELSE TRUE END AS has_variable,
           json_extract_string(j, '$.Variable."Variable label"') AS var_label,
           json_extract_string(j, '$.Variable."Variable URI"') AS var_uri,
           json_extract_string(j, '$.Variable."Variable comment"') AS var_comment,
           json_extract_string(j, '$.Tag') AS tag
    FROM r
"""


def src3_nexus_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXUS STANDARD-matrix scan (SRC3): long cells table from the
    golden example matrix's taxon rows."""
    from rdf_generator_spark.sources.parsers import parse_nexus_docs

    taxa = parse_nexus_docs(_golden_corpus(spark))
    return taxa.select(
        "taxon_pos", "taxon", F.posexplode("symbols").alias("char_index", "symbol")
    )


ORACLES["src3_nexus_scan"] = f"""
    WITH doc AS (SELECT content FROM read_text('{_EX}/minimal.nex')),
    lines AS (
      SELECT unnest(string_split(content, chr(10))) AS ln,
             unnest(range(len(string_split(content, chr(10))))) AS li
      FROM doc
    ),
    mrows AS (
      SELECT regexp_extract(ln, '^\\s*''([^'']*)''\\s+(\\S+)\\s*$', 1) AS taxon,
             regexp_extract(ln, '^\\s*''([^'']*)''\\s+(\\S+)\\s*$', 2) AS cs,
             li
      FROM lines WHERE regexp_matches(ln, '^\\s*''[^'']*''\\s+\\S+\\s*$')
    ),
    ordered AS (
      SELECT taxon, cs,
             CAST(ROW_NUMBER() OVER (ORDER BY li) - 1 AS INT) AS taxon_pos
      FROM mrows
    )
    SELECT taxon_pos, taxon,
           CAST(unnest(range(length(cs))) AS INT) AS char_index,
           unnest(list_transform(range(length(cs)),
                                 i -> cs[i+1:i+1])) AS symbol
    FROM ordered
"""


def src4_species_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Species JSON scan (SRC4) with load-time taxon/URI normalization
    (main.py:537-551)."""
    from rdf_generator_spark.sources.parsers import parse_species_docs

    sp = parse_species_docs(_golden_corpus(spark))
    return sp.select("sp_pos", "input_name", "valid_name", "gbif_id",
                     "zoobank_id", "match_level", "uri")


ORACLES["src4_species_scan"] = f"""
    WITH doc AS (SELECT content FROM read_text('{_EX}/species.json')),
    arr AS (SELECT CAST(json(content) AS JSON[]) AS a FROM doc),
    r AS (SELECT unnest(range(len(a))) AS sp_pos, unnest(a) AS j FROM arr),
    x AS (
      SELECT sp_pos,
             json_extract_string(j, '$.input_species_name') AS inp,
             json_extract_string(j, '$.valid_species_name') AS val,
             json_extract_string(j, '$.ID') AS gbif_id,
             json_extract_string(j, '$.zoobank_identifier') AS zoobank_id,
             json_extract_string(j, '$.match_level') AS match_level,
             json_extract_string(j, '$.URI') AS uri
      FROM r
    )
    SELECT CAST(sp_pos AS INT) AS sp_pos,
           CASE WHEN inp IS NOT NULL AND inp <> ''
                THEN {_taxnorm_sql('inp')} ELSE inp END AS input_name,
           CASE WHEN val IS NOT NULL AND val <> ''
                THEN {_taxnorm_sql('val')} ELSE val END AS valid_name,
           gbif_id, zoobank_id, match_level, uri
    FROM x
"""


def src5_metadata_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata CSV scan (SRC5): Char_ID -> revision source text
    (main.py:208-224); empty rows dropped, 'Modified from ' stripped."""
    from rdf_generator_spark.sources.parsers import parse_metadata_docs

    meta = parse_metadata_docs(_golden_corpus(spark))
    return meta.select("char_id", "source_text")


_SRC5_SRC = _strip_sql(
    "regexp_replace(" + _strip_sql("CAST(Comment AS VARCHAR)")
    + ", '(?i)^\\s*modified\\s+from\\s+', '')"
)
ORACLES["src5_metadata_scan"] = f"""
    SELECT {_strip_sql("CAST(Char_ID AS VARCHAR)")} AS char_id,
           {_SRC5_SRC} AS source_text
    FROM read_csv('{_EX}/minimal_metadata.csv', header=true, all_varchar=true)
    WHERE {_strip_sql("CAST(Char_ID AS VARCHAR)")} <> ''
      AND {_SRC5_SRC} <> ''
"""


def src6_owl_label_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL label index (SRC6, main.py:277-293): normalized label -> URI,
    first-wins in document order, from the golden OWL vocabulary."""
    from rdf_generator_spark.sources.corpus import vocab_df_from_corpus

    return vocab_df_from_corpus(spark, _golden_corpus(spark))


_OWL = os.path.join(_EX, "vocab.owl")
ORACLES["src6_owl_label_index"] = f"""
    WITH doc AS (SELECT content FROM read_text('{_OWL}')),
    base AS (SELECT regexp_extract(content, 'xml:base="([^"]+)"', 1) AS b,
                    content FROM doc),
    frags AS (
      SELECT b, unnest(string_split(content, 'rdf:about="')) AS f,
             unnest(range(len(string_split(content, 'rdf:about="')))) AS fi
      FROM base
    ),
    blocks AS (SELECT b, fi, string_split(f, '"')[1] AS about, f
               FROM frags WHERE fi > 0),
    labels AS (
      SELECT fi,
             CASE WHEN starts_with(about, '#') THEN b || about
                  WHEN contains(about, '://') THEN about
                  WHEN about = '' THEN b
                  ELSE b || '#' || about END AS uri,
             unnest(regexp_extract_all(f,
                 '(?s)<rdfs:label[^>]*>(.*?)</rdfs:label>', 1)) AS raw,
             unnest(range(len(regexp_extract_all(f,
                 '(?s)<rdfs:label[^>]*>(.*?)</rdfs:label>', 1)))) AS li
      FROM blocks
    ),
    norm AS (
      SELECT fi, li, uri,
             regexp_replace(regexp_replace(lower(
                 replace(replace(replace(replace(replace(raw,
                     '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                     '&apos;', ''''), '&amp;', '&')
             ), '^\\s+|\\s+$', '', 'g'), '\\s+', ' ', 'g') AS norm_label
      FROM labels
    )
    SELECT norm_label, uri FROM norm
    WHERE norm_label <> ''
    QUALIFY ROW_NUMBER() OVER (PARTITION BY norm_label ORDER BY fi, li) = 1
"""


for _q in [
    p1_locator_norm, p2_taxon_norm, p3_term_norm, p4_seed_norm,
    p5_species_uri_norm, p6_char_num_parse, p7_revision_source,
    p8_binomial_split, p9_negation_detect,
    k3_org_seed_grammar, k4_seed_grammar, k5_fallback_seeds,
    src1_config_dataset_id, src2_char_json_scan, src3_nexus_scan,
    src4_species_scan, src5_metadata_scan, src6_owl_label_index,
]:
    QUERIES[_q.__name__] = _q


# ---------------------------------------------------------------------------
# Behavioral / set-operator entries: V2 closure, same-as connected
# components, lineage resume, Turtle ordering, shapes table.
# ---------------------------------------------------------------------------

_V2_EDGES = [
    ("A", "B"), ("B", "C"), ("C", "D"),          # chain
    ("X", "Y1"), ("X", "Y2"), ("Y1", "Z"), ("Y2", "Z"),  # diamond
    ("P", "Q"), ("Q", "P"),                       # 2-cycle
]


def v2_rdfs_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rdfs:subClassOf transitive closure (V2) — iterative self-join to
    fixpoint vs a DuckDB WITH RECURSIVE twin; includes a cycle to prove
    termination on non-DAG inputs."""
    from rdf_generator_spark.validation.shacl_rules import rdfs_subclass_closure

    rows = [
        ("r", "c", "g", a, T.RDFS_SUBCLASSOF, b, False, None) for a, b in _V2_EDGES
    ]
    triples = spark.createDataFrame(
        rows, "repo string, commit string, scope string, s string, p string, "
              "o string, lit boolean, dt string"
    )
    return rdfs_subclass_closure(triples).select("sub", "sup")


ORACLES["v2_rdfs_closure"] = f"""
    WITH RECURSIVE e(sub, sup) AS (VALUES {_values(_V2_EDGES)}),
    cl(sub, sup) AS (
        SELECT sub, sup FROM e
        UNION
        SELECT c.sub, e.sup FROM cl c JOIN e ON c.sup = e.sub
    )
    SELECT sub, sup FROM cl
"""

_CC_EDGES = [
    ("n3", "n1"), ("n1", "n2"),        # component {n1,n2,n3} canon n1
    ("m9", "m8"), ("m8", "m7"), ("m7", "m9"),  # cycle component canon m7
    ("q1", "q2"),                      # pair
]


def cc_canonical_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-as connected components (canonicalize.py): star contraction
    vs a DuckDB recursive reachability twin."""
    from rdf_generator_spark.operators.canonicalize import connected_components

    edges = spark.createDataFrame(_CC_EDGES, "a string, b string")
    return connected_components(edges).select("node", "canon")


ORACLES["cc_canonical_map"] = f"""
    WITH RECURSIVE e(a, b) AS (VALUES {_values(_CC_EDGES)}),
    sym(a, b) AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    reach(node, r) AS (
        SELECT a, a FROM sym
        UNION
        SELECT s.a, r.r FROM sym s JOIN reach r ON s.b = r.node
    )
    SELECT node, min(r) AS canon FROM reach GROUP BY node
"""


def lineage_resume_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule checkpoint resume: the second run over an unchanged
    corpus must process 0 documents (lineage anti-join)."""
    from rdf_generator_spark.sources.corpus import corpus_df
    from rdf_generator_spark.sources.synth import synth_corpus_rows
    from rdf_generator_spark.streaming.lineage import run_resumable

    ensure_workers_can_import(spark)
    corpus = corpus_df(
        spark, synth_corpus_rows(n_datasets=2, ntax=4, nchar=3, seed=5)
    )
    out_dir = tempfile.mkdtemp(prefix="rdfgen_resume_")
    try:
        s1 = run_resumable(spark, corpus, out_dir)
        s2 = run_resumable(spark, corpus, out_dir)
        rows = [(1, int(s1["docs"])), (2, int(s2["docs"]))]
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(rows, "run int, docs_processed int")


ORACLES["lineage_resume_skip"] = """
    SELECT run, docs_processed
    FROM (VALUES (1, 2), (2, 0)) AS t(run, docs_processed)
"""


def o1_o2_turtle_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turtle writer ordering keys (O1 class/section routing + O2
    phenotype sort): per (section, bucket) the ordered subject sequence
    digest. Oracle derived by scripts/regen_pins.py from the refsim
    final graph with an independent Python implementation of the
    documented ordering semantics (main.py:1424-1494)."""
    from rdf_generator_spark.sinks.turtle import turtle_blocks

    g = _golden_df(spark).withColumn("repo", F.lit("r")).withColumn(
        "commit", F.lit("c")
    )
    blocks = turtle_blocks(g)
    key = F.concat_ws(
        "|", F.format_string("%010d", F.col("sort1")), F.col("sort2"), F.col("s")
    )
    return (
        blocks.groupBy("section", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.md5(F.concat_ws("\n", F.array_sort(F.collect_list(key)))).alias("digest"),
        )
    )


def src7_shacl_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL shapes table (SRC7): the rule rows the validator broadcasts.
    The oracle mirrors the static table (spec data compiled from the
    reference's shapes.ttl; content parity is pytest-verified against
    that file in tests/test_validation.py)."""
    from rdf_generator_spark.validation.shacl_rules import _rules_df

    return _rules_df(spark)


def _src7_oracle() -> str:
    from rdf_generator_spark.validation.shacl_rules import RULES

    def v(x):
        return "CAST(NULL AS INT)" if x is None else str(x)

    rows = []
    for i, r in enumerate(RULES):
        p2 = _sqlv(r.path[1]) if len(r.path) == 2 else "CAST(NULL AS VARCHAR)"
        rows.append(
            f"({i}, {_sqlv(r.shape)}, {_sqlv(r.target_kind)}, {_sqlv(r.target)}, "
            f"{_sqlv(r.path[0])}, {p2}, {v(r.min_count)}, {v(r.max_count)})"
        )
    return (
        "SELECT CAST(rule_id AS INT) AS rule_id, shape, kind, target, p1, p2, "
        "CAST(min_count AS INT) AS min_count, CAST(max_count AS INT) AS max_count "
        "FROM (VALUES " + ", ".join(rows)
        + ") AS t(rule_id, shape, kind, target, p1, p2, min_count, max_count)"
    )


ORACLES["src7_shacl_shapes"] = _src7_oracle()

# >>> O1O2_PIN_START
O1O2_PINS: List[Tuple[int, int, int, str]] = [
    (0, 0, 60, "cf0c9e411f5e6b13cd852d8dd14ff7d3"),
    (1, 0, 10, "51d6d500e3bd87f2ebe9e88cdaff7a33"),
    (1, 1, 165, "61379cc33129412001d0a639eb765334"),
    (1, 2, 20, "e38d34b9aa1b3707c29ef9f760c42024"),
    (1, 3, 410, "95a1af516bfb91a442fcecc80241175a"),
    (1, 4, 79, "13e25a48bb8ac509b0356f161672b871"),
    (1, 5, 165, "999feabbc28ba0c30624292441a66e1d"),
    (1, 6, 22, "a9bcb4365e19f34402f65ca1d78ea93f"),
    (1, 7, 1, "882b09c960f05c561a6b4e6caae70ca6"),
    (1, 8, 10, "d46fdb968ade9a516aa0d9a835ad95a5"),
    (1, 9, 10, "0fe46b91715b73758258c064bf4f4507"),
    (1, 10, 100, "4dd313042d7bf99a37d68e1919a5dace"),
    (2, 0, 15, "c2037f3f957d1b4c22bcb6a086c9d571"),
    (3, 0, 5, "140ac8eee8db8d3d8463e22e45d26a6f"),
    (4, 0, 3, "9cc9a21dccf11990a77382a4af847cdd"),
    (5, 0, 10, "8bd4f67157903c01d020d4b44c050225"),
]
# <<< O1O2_PIN_END

if O1O2_PINS:
    ORACLES["o1_o2_turtle_ordering"] = (
        "SELECT CAST(section AS INT) AS section, CAST(bucket AS INT) AS bucket, "
        "CAST(n AS BIGINT) AS n, digest FROM (VALUES "
        + ", ".join(f"({s}, {b}, {n}, '{d}')" for s, b, n, d in O1O2_PINS)
        + ") AS t(section, bucket, n, digest)"
    )

for _q in [v2_rdfs_closure, cc_canonical_map, lineage_resume_skip,
           o1_o2_turtle_ordering, src7_shacl_shapes]:
    QUERIES[_q.__name__] = _q


def v3_validation_scopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3/S4: the 23-scope validation report on the golden corpus —
    (scope, conforms, n_violations). The pinned oracle follows from the
    scope rule below; the validator's semantics are mutation-tested
    against the reference's pySHACL behavior in tests/test_validation.py
    (the matrix scope legitimately fails TUShape, matching the
    reference)."""
    rows = _golden_parts(spark)["scopes"]
    return spark.createDataFrame(
        rows, "scope string, conforms boolean, n_violations int"
    )


QUERIES["v3_validation_scopes"] = v3_validation_scopes


# V3/S4 pinned oracle, derived from the golden corpus files by the
# scope rule (refsim has no validator to derive from): one scope per
# Char_ID (C1-C10), per taxon of the NEXUS matrix, plus CDAO Matrix,
# Species Combined and Final Combined Graph; every scope conforms with
# 0 violations except CDAO Matrix, which fails TUShape minCount once
# per taxon (TUs lack iao:denotes until TU enrichment, as pySHACL
# reports for the reference; mutation-tested in tests/test_validation.py).
ORACLES["v3_validation_scopes"] = (
    "SELECT scope, conforms, CAST(n_violations AS INT) AS n_violations "
    "FROM (VALUES ('CDAO Matrix', FALSE, 10), ('Char_ID C1', TRUE, 0), ('Char_ID C10', TRUE, 0), ('Char_ID C2', TRUE, 0), ('Char_ID C3', TRUE, 0), ('Char_ID C4', TRUE, 0), ('Char_ID C5', TRUE, 0), ('Char_ID C6', TRUE, 0), ('Char_ID C7', TRUE, 0), ('Char_ID C8', TRUE, 0), ('Char_ID C9', TRUE, 0), ('Final Combined Graph', TRUE, 0), ('Species Combined', TRUE, 0), ('TU Ancyloscelis_gigas', TRUE, 0), ('TU Arhysoceble_tarsata', TRUE, 0), ('TU Centris_frontalis', TRUE, 0), ('TU Diadasina_pura', TRUE, 0), ('TU Euglossa_apiformis', TRUE, 0), ('TU Meganomia_frontalis', TRUE, 0), ('TU Meganomia_gigas', TRUE, 0), ('TU Melipona_octodentata', TRUE, 0), ('TU Xylocopa_apiformis', TRUE, 0), ('TU Xylocopa_cupira', TRUE, 0)) "
    "AS t(scope, conforms, n_violations)"
)
