"""SHACL shapes re-expressed as DataFrame validation rules (V1-V3).

The reference validates every graph with pySHACL under rdfs inference
(/root/reference/rdf_generator/main.py:1186-1203) against
/root/reference/data/shapes/shapes.ttl. The shapes are static, so they
compile to a rule table evaluated with groupBy + joins:

  focus nodes  = rdf:type scan (targetClass / SPARQL target, after the
                 rdfs subclass closure) or objects-of-predicate scan
                 (targetObjectsOf)
  counts       = per-focus distinct value-node counts along a 1- or
                 2-step path (2-step = one self-join)
  violations   = focus LEFT JOIN counts, filter outside [min, max]

Rule rows mirror shapes.ttl line-for-line (citations inline).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from rdf_generator_spark import terms as T
from rdf_generator_spark.sources.corpus import local_df

# The validation key: every rule is evaluated per document and scope
# (one of the reference's per-graph validations, validation/scopes.py).
KEYS = ["repo", "commit", "scope"]


@dataclass(frozen=True)
class ShapeRule:
    shape: str
    target_kind: str  # 'class' | 'objects_of' | 'sparql_class'
    target: str
    path: Tuple[str, ...]  # 1 or 2 predicates
    min_count: Optional[int] = None
    max_count: Optional[int] = None


# Compiled from /root/reference/data/shapes/shapes.ttl (line refs)
RULES: List[ShapeRule] = [
    # NeomorphicPhenotypeShape (shapes.ttl:22-40)
    ShapeRule("NeomorphicPhenotypeShape", "class", T.PHB_NEOMORPHIC, (T.PHB_HAS_ORGANISM,), 1, 1),
    ShapeRule("NeomorphicPhenotypeShape", "class", T.PHB_NEOMORPHIC, (T.PHB_HAS_ENTITY,), 1, None),
    ShapeRule("NeomorphicPhenotypeShape", "class", T.PHB_NEOMORPHIC, (T.PHB_HAS_VARIABLE,), None, 0),
    # TransformationalSimplePhenotypeShape (shapes.ttl:44-73)
    ShapeRule("TransformationalSimplePhenotypeShape", "class", T.PHB_TRANSF_SIMPLE, (T.PHB_HAS_ORGANISM,), 1, 1),
    ShapeRule("TransformationalSimplePhenotypeShape", "class", T.PHB_TRANSF_SIMPLE, (T.PHB_HAS_ENTITY,), 1, None),
    ShapeRule("TransformationalSimplePhenotypeShape", "class", T.PHB_TRANSF_SIMPLE, (T.PHB_HAS_VARIABLE,), 1, 1),
    ShapeRule("TransformationalSimplePhenotypeShape", "class", T.PHB_TRANSF_SIMPLE,
              (T.PHB_HAS_VARIABLE, T.RDFS_COMMENT), None, 0),
    ShapeRule("TransformationalSimplePhenotypeShape", "class", T.PHB_TRANSF_SIMPLE, (T.PHB_HAS_QUALITY,), 1, None),
    # TransformationalComplexPhenotypeShape (shapes.ttl:77-106)
    ShapeRule("TransformationalComplexPhenotypeShape", "class", T.PHB_TRANSF_COMPLEX, (T.PHB_HAS_ORGANISM,), 1, 1),
    ShapeRule("TransformationalComplexPhenotypeShape", "class", T.PHB_TRANSF_COMPLEX, (T.PHB_HAS_ENTITY,), 1, None),
    ShapeRule("TransformationalComplexPhenotypeShape", "class", T.PHB_TRANSF_COMPLEX, (T.PHB_HAS_VARIABLE,), 1, 1),
    ShapeRule("TransformationalComplexPhenotypeShape", "class", T.PHB_TRANSF_COMPLEX,
              (T.PHB_HAS_VARIABLE, T.RDFS_COMMENT), 1, None),
    ShapeRule("TransformationalComplexPhenotypeShape", "class", T.PHB_TRANSF_COMPLEX, (T.PHB_HAS_QUALITY,), 1, None),
    # OrganismNodeShape (shapes.ttl:114-121)
    ShapeRule("OrganismNodeShape", "objects_of", T.PHB_HAS_ORGANISM, (T.RDFS_LABEL,), 1, None),
    # LocatorNodeShape (shapes.ttl:130-142); bfo:0000051 minCount 0 is vacuous
    ShapeRule("LocatorNodeShape", "objects_of", T.PHB_HAS_ENTITY, (T.RDFS_LABEL,), 1, None),
    ShapeRule("LocatorNodeShape", "objects_of", T.PHB_HAS_ENTITY, (T.BFO_HAS_PART,), 0, None),
    # VariableNodeShape (shapes.ttl:150-157)
    ShapeRule("VariableNodeShape", "objects_of", T.PHB_HAS_VARIABLE, (T.RDFS_LABEL,), 1, None),
    # QualityNodeShape (shapes.ttl:165-173)
    ShapeRule("QualityNodeShape", "objects_of", T.PHB_HAS_QUALITY, (T.RDFS_LABEL,), 1, 1),
    # CharacterShape (shapes.ttl:181-193)
    ShapeRule("CharacterShape", "class", T.CDAO_CHARACTER, (T.RDFS_LABEL,), 1, None),
    ShapeRule("CharacterShape", "class", T.CDAO_CHARACTER, (T.PHB_MAY_HAVE_STATE,), 2, None),
    # StateNodeShape (shapes.ttl:201-208)
    ShapeRule("StateNodeShape", "class", T.CDAO_STATE, (T.RDFS_LABEL,), 1, None),
    # MatrixShape (shapes.ttl:254-276)
    ShapeRule("MatrixShape", "class", T.CDAO_MATRIX, (T.RDFS_LABEL,), 1, None),
    ShapeRule("MatrixShape", "class", T.CDAO_MATRIX, (T.DC_DESCRIPTION,), 1, None),
    ShapeRule("MatrixShape", "class", T.CDAO_MATRIX, (T.CDAO_HAS_TU,), 1, None),
    ShapeRule("MatrixShape", "class", T.CDAO_MATRIX, (T.CDAO_HAS_CHARACTER,), 1, None),
    # TUShape (SPARQL target, shapes.ttl:284-300)
    ShapeRule("TUShape", "sparql_class", T.CDAO_TU, (T.IAO_DENOTES,), 1, None),
    # SpeciesInstanceShape (shapes.ttl:308-325)
    ShapeRule("SpeciesInstanceShape", "objects_of", T.IAO_DENOTES, (T.RDFS_LABEL,), 1, None),
    ShapeRule("SpeciesInstanceShape", "objects_of", T.IAO_DENOTES, (T.DWC_PARENT_NAME_USAGE_ID,), 0, None),
    ShapeRule("SpeciesInstanceShape", "objects_of", T.IAO_DENOTES, (T.DWC_TAXON_ID,), 0, None),
    # SpeciesConceptShape (shapes.ttl:329-336)
    ShapeRule("SpeciesConceptShape", "class", T.TXR_SPECIES, (T.RDFS_LABEL,), 1, None),
]


def _prefixed(df: DataFrame, **cols: str) -> DataFrame:
    """`df`'s KEYS renamed to ``__k_<key>`` next to `cols` (new name ->
    column), so it joins back on KEYS without ambiguous columns."""
    return df.select(*[F.col(k).alias(f"__k_{k}") for k in KEYS],
                     *[F.col(c).alias(a) for a, c in cols.items()])


def _same_keys(cond):
    """`cond` and equal KEYS across a `_prefixed` join."""
    for k in KEYS:
        cond = cond & (F.col(k) == F.col(f"__k_{k}"))
    return cond


def rdfs_subclass_closure(triples: DataFrame) -> DataFrame:
    """V2: transitive closure of rdfs:subClassOf, per KEYS.

    The one-step edges are read from `triples` once, into a checkpoint.
    Each round joins the closure with them (with lineage truncation),
    extending its paths by one edge, and runs one count job. It loops
    while a round adds a pair: the closure only grows and is a subset of
    the finite set of node pairs, so the loop ends, cycles included.
    With no edge it ends after the edge count and returns an empty
    plan (``limit(0)``), which the optimizer folds out of the joins on
    it, so they run no job. Returns (KEYS, sub, sup); the caller keeps
    each node's asserted types itself.
    """
    edges = (
        triples.filter((F.col("p") == T.RDFS_SUBCLASSOF) & (~F.col("lit")))
        .select(*KEYS, F.col("s").alias("sub"), F.col("o").alias("sup"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = edges.count()
    if not n:
        return edges.limit(0)
    step = _prefixed(edges, __mid="sub", __sup="sup")
    closure, prev = edges, 0
    while n > prev:
        nxt = closure.join(step, _same_keys(F.col("sup") == F.col("__mid")))
        closure = (
            closure.unionByName(nxt.select(*KEYS, "sub", F.col("__sup").alias("sup")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        prev, n = n, closure.count()
    return closure


def expanded_types(triples: DataFrame) -> DataFrame:
    """(KEYS, node, type) with rdfs-subclass expansion — what pySHACL's
    inference='rdfs' contributes to targetClass matching."""
    asserted = triples.filter((F.col("p") == T.RDF_TYPE) & (~F.col("lit"))).select(
        *KEYS, F.col("s").alias("node"), F.col("o").alias("type")
    )
    cl = _prefixed(rdfs_subclass_closure(triples), __sub="sub", __sup="sup")
    inherited = asserted.join(
        cl, _same_keys(F.col("type") == F.col("__sub"))
    ).select(*KEYS, "node", F.col("__sup").alias("type"))
    return asserted.unionByName(inherited).distinct()


_RULES_SCHEMA = StructType(
    [StructField("rule_id", IntegerType())]
    + [StructField(c, StringType())
       for c in ("shape", "kind", "target", "p1", "p2")]
    + [StructField(c, IntegerType()) for c in ("min_count", "max_count")]
)


def _rules_df(spark):
    """The rule table as a JVM local relation (no Python worker per scan)."""
    rows = [
        (
            i, r.shape, r.target_kind, r.target,
            r.path[0], r.path[1] if len(r.path) == 2 else None,
            r.min_count, r.max_count,
        )
        for i, r in enumerate(RULES)
    ]
    return local_df(spark, rows, _RULES_SCHEMA)


def validate(triples: DataFrame) -> DataFrame:
    """Evaluate all rules in a fixed number of joins (rule count does not
    add scans): broadcast the rule table against the type scan / predicate
    scan, aggregate per (rule, focus), anti-compare against [min, max].

    `triples` is (KEYS, s, p, o, lit, dt). Returns (KEYS, focus, shape,
    path, constraint, actual, expected).
    """
    spark = triples.sparkSession
    triples = triples.localCheckpoint(eager=True)
    rules = _rules_df(spark)
    types = expanded_types(triples)

    class_rules = F.broadcast(rules.filter(F.col("kind").isin("class", "sparql_class")))
    obj_rules = F.broadcast(rules.filter(F.col("kind") == "objects_of"))

    focus_class = types.join(
        class_rules, types["type"] == class_rules["target"]
    ).select(*KEYS, "rule_id", F.col("node").alias("focus"))
    focus_obj = (
        triples.join(obj_rules, triples["p"] == obj_rules["target"])
        .select(*KEYS, "rule_id", F.col("o").alias("focus"))
        .distinct()
    )
    focus = focus_class.unionByName(focus_obj)

    p1 = F.broadcast(rules.select("rule_id", "p1", "p2"))
    hop1 = triples.join(p1, triples["p"] == p1["p1"]).select(
        *KEYS, "rule_id", "p2",
        F.col("s").alias("focus"), F.col("o").alias("v1"), F.col("lit").alias("l1"),
    )
    vals1 = hop1.filter(F.col("p2").isNull()).select(
        *KEYS, "rule_id", "focus", F.col("v1").alias("value"), F.col("l1").alias("vlit")
    )
    hop2_src = _prefixed(triples, __p="p", __mid="s", value="o", vlit="lit")
    vals2 = (
        hop1.filter(F.col("p2").isNotNull() & (~F.col("l1")))
        .join(hop2_src, _same_keys(
            (F.col("v1") == F.col("__mid")) & (F.col("p2") == F.col("__p"))
        ))
        .select(*KEYS, "rule_id", "focus", "value", "vlit")
    )
    counts = (
        vals1.unionByName(vals2)
        .groupBy(*KEYS, "rule_id", "focus")
        .agg(F.count_distinct(F.col("value"), F.col("vlit")).alias("actual"))
    )

    checked = (
        focus.join(counts, KEYS + ["rule_id", "focus"], "left")
        .fillna(0, subset=["actual"])
        .join(F.broadcast(rules), "rule_id")
    )
    viol_min = checked.filter(
        F.col("min_count").isNotNull() & (F.col("min_count") > 0)
        & (F.col("actual") < F.col("min_count"))
    ).select(
        *KEYS, "focus", "shape", "p1", "p2", "actual",
        F.lit("minCount").alias("constraint"), F.col("min_count").alias("expected"),
    )
    viol_max = checked.filter(
        F.col("max_count").isNotNull() & (F.col("actual") > F.col("max_count"))
    ).select(
        *KEYS, "focus", "shape", "p1", "p2", "actual",
        F.lit("maxCount").alias("constraint"), F.col("max_count").alias("expected"),
    )
    return (
        viol_min.unionByName(viol_max)
        .withColumn("path", F.concat_ws("/", F.col("p1"), F.col("p2")))
        .select(*KEYS, "focus", "shape", "path", "constraint", "actual", "expected")
    )


def conformance_report(violations: DataFrame, universe: DataFrame) -> DataFrame:
    """Per-scope summary: (KEYS, n_violations, conforms).

    `universe` is the full KEYS set: conforming scopes have no violation
    rows to aggregate, so only it makes their conforms=True rows."""
    counts = violations.groupBy(*KEYS).agg(F.count(F.lit(1)).alias("n_violations"))
    return (
        universe.join(counts, KEYS, "left")
        .fillna(0, subset=["n_violations"])
        .withColumn("conforms", F.col("n_violations") == 0)
    )
