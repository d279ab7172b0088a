"""V1-V3 validation rules: golden conformance + mutation tests.

Reference behavior: the final combined graph conforms; the matrix graph
alone fails TUShape (TUs lack iao:denotes until TU enrichment) — the
same failures pySHACL reports in the reference's validation_summary.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdf_generator_spark import terms as T
from rdf_generator_spark.plans.pipeline import build_graph
from rdf_generator_spark.queries import GOLDEN_PINS
from rdf_generator_spark.sources.golden import golden_corpus_df
from rdf_generator_spark.validation.shacl_rules import (
    KEYS,
    RULES,
    conformance_report,
    expanded_types,
    validate,
)

_SCOPED_SCHEMA = (
    "repo string, commit string, scope string, s string, p string, "
    "o string, lit boolean, dt string"
)


@pytest.fixture(scope="module")
def result(spark):
    return build_graph(spark, golden_corpus_df(spark))


def scoped(triples, scope):
    """`triples` as the one validation scope `scope`."""
    return triples.withColumn("scope", F.lit(scope))


def test_rule_table_covers_shapes():
    shapes = {r.shape for r in RULES}
    assert shapes == {
        "NeomorphicPhenotypeShape", "TransformationalSimplePhenotypeShape",
        "TransformationalComplexPhenotypeShape", "OrganismNodeShape",
        "LocatorNodeShape", "VariableNodeShape", "QualityNodeShape",
        "CharacterShape", "StateNodeShape", "MatrixShape", "TUShape",
        "SpeciesInstanceShape", "SpeciesConceptShape",
    }


def test_final_graph_conforms(spark, result):
    v = validate(scoped(result["triples"], "final"))
    assert v.count() == 0


def test_matrix_scope_tu_violations(spark, result):
    matrix = scoped(result["matrix_pruned"], "matrix")
    v = validate(matrix).collect()
    assert len(v) == 10
    assert all(r["shape"] == "TUShape" and r["constraint"] == "minCount" for r in v)
    rep = conformance_report(
        validate(matrix), universe=matrix.select(*KEYS).distinct()
    ).collect()
    assert len(rep) == 1 and not rep[0]["conforms"]


def test_mutation_missing_organism(spark, result):
    mutated = result["triples"].filter(F.col("p") != T.PHB_HAS_ORGANISM)
    v = validate(scoped(mutated, "mut"))
    rows = v.filter(F.col("path") == T.PHB_HAS_ORGANISM).collect()
    # every phenotype statement now violates its shape's org minCount
    assert len(rows) == GOLDEN_PINS["f3_statement_types_kg"][0]
    # and the organisms are no longer focus nodes of OrganismNodeShape
    assert v.filter(F.col("shape") == "OrganismNodeShape").count() == 0


def test_mutation_extra_quality_label(spark, result):
    tri = result["triples"]
    one_qua = (
        tri.filter(
            (F.col("p") == T.PHB_HAS_QUALITY) & (~F.col("lit"))
        )
        .select("repo", "commit", F.col("o").alias("s"))
        .limit(1)
        .withColumn("p", F.lit(T.RDFS_LABEL))
        .withColumn("o", F.lit("duplicate label"))
        .withColumn("lit", F.lit(True))
        .withColumn("dt", F.lit(None).cast("string"))
    )
    mutated = tri.unionByName(one_qua.select(tri.columns))
    v = validate(scoped(mutated, "mut")).filter(F.col("shape") == "QualityNodeShape")
    rows = v.collect()
    assert len(rows) == 1
    assert rows[0]["constraint"] == "maxCount" and rows[0]["actual"] == 2


def test_rdfs_closure_expansion(spark):
    # subclass chain: instance typed Leaf counts as Mid and Root
    rows = [
        ("r", "c", "g", "ex:i", T.RDF_TYPE, "ex:Leaf", False, None),
        ("r", "c", "g", "ex:Leaf", T.RDFS_SUBCLASSOF, "ex:Mid", False, None),
        ("r", "c", "g", "ex:Mid", T.RDFS_SUBCLASSOF, "ex:Root", False, None),
    ]
    df = spark.createDataFrame(rows, _SCOPED_SCHEMA)
    types = {
        (r["node"], r["type"]) for r in expanded_types(df).collect()
    }
    assert ("ex:i", "ex:Leaf") in types
    assert ("ex:i", "ex:Mid") in types
    assert ("ex:i", "ex:Root") in types


def test_rdfs_closure_long_chain(spark):
    """The closure runs to its fixpoint however long the chain: an
    instance typed C0 on a 20-edge rdfs:subClassOf chain C0 -> ... -> C20
    gets every class of the chain, C20 included (each round extends the
    closure's paths by one edge)."""
    rows = [("r", "c", "g", "ex:i", T.RDF_TYPE, "ex:C0", False, None)] + [
        ("r", "c", "g", f"ex:C{i}", T.RDFS_SUBCLASSOF, f"ex:C{i + 1}", False, None)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, _SCOPED_SCHEMA)
    types = {
        r["type"] for r in expanded_types(df).collect() if r["node"] == "ex:i"
    }
    assert types == {f"ex:C{i}" for i in range(21)}


def test_rdfs_closure_is_per_scope(spark):
    """Two scopes of one document with different rdfs:subClassOf edges
    keep separate closures: in scope A, Leaf < Mid; in scope B,
    Mid < Root. An instance typed Leaf in both gets Mid in A only and
    never Root, which only a closure across the scopes would give."""
    rows = [
        ("r", "c", "A", "ex:i", T.RDF_TYPE, "ex:Leaf", False, None),
        ("r", "c", "A", "ex:Leaf", T.RDFS_SUBCLASSOF, "ex:Mid", False, None),
        ("r", "c", "B", "ex:i", T.RDF_TYPE, "ex:Leaf", False, None),
        ("r", "c", "B", "ex:Mid", T.RDFS_SUBCLASSOF, "ex:Root", False, None),
    ]
    df = spark.createDataFrame(rows, _SCOPED_SCHEMA)
    types = {(r["scope"], r["node"], r["type"])
             for r in expanded_types(df).collect()}
    assert types == {
        ("A", "ex:i", "ex:Leaf"), ("A", "ex:i", "ex:Mid"),
        ("B", "ex:i", "ex:Leaf"),
    }


def test_validation_report_runs_rules_once(spark, result, tmp_path):
    """validation_report computes the violations once: the four actions
    run_pipeline.py --validate takes on its frames (two writes, two
    counts) join no rule table."""
    from rdf_generator_spark.validation.scopes import validation_report
    from tests.test_plans import executions

    violations, conformance = validation_report(result)

    def actions():
        violations.write.parquet(str(tmp_path / "violations"))
        conformance.write.parquet(str(tmp_path / "conformance"))
        return conformance.count(), violations.count()

    (n_scopes, _), execs = executions(spark, actions)
    assert n_scopes == 23
    assert len(execs) >= 4
    assert not [desc for _, desc, _ in execs if "rule_id" in desc]


def test_scoped_validation_report(spark, result):
    from rdf_generator_spark.validation.scopes import (
        render_summary,
        validation_report,
    )

    violations, conformance = validation_report(result)
    rows = conformance.collect()
    scopes = {r["scope"] for r in rows}
    # 10 chars + matrix + 10 TUs + species + final = 23 (reference count)
    assert len(rows) == 23
    assert {"CDAO Matrix", "Species Combined", "Final Combined Graph"} <= scopes
    assert sum(1 for s in scopes if s.startswith("Char_ID ")) == 10
    assert sum(1 for s in scopes if s.startswith("TU ")) == 10
    by = {r["scope"]: r for r in rows}
    # final and species conform; matrix fails TUShape; char/TU scopes
    # conform (phenotype shapes have no targets there)
    assert by["Final Combined Graph"]["conforms"]
    assert by["Species Combined"]["conforms"]
    assert not by["CDAO Matrix"]["conforms"]
    assert by["Char_ID C1"]["conforms"]
    assert by["TU Diadasina_pura"]["conforms"]
    text = render_summary(rows, violations.collect())
    assert "==== CDAO Matrix ====" in text and "TUShape" in text
    # pySHACL-shaped skeleton (reference main.py:1220-1225 appends the
    # validator's report text under each ==== header)
    assert "Validation Report" in text
    assert "Conforms: False" in text and "Conforms: True" in text
    matrix_block = text.split("==== CDAO Matrix ====")[1].split("====")[0]
    assert "Results (10):" in matrix_block
    assert "Constraint Violation in " in matrix_block
    assert "\tSeverity: sh:Violation" in matrix_block
    assert "\tFocus Node: " in matrix_block
