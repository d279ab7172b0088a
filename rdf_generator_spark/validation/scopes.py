"""Per-scope validation parity with the reference's 23 validations
(SURVEY.md V3: 10 per-character graphs + CDAO Matrix + 10 TU graphs +
Species Combined + Final Combined Graph, main.py:1683/2088/2022/2115/2159).

Scopes are rebuilt relationally from the pipeline's tagged parts and
validated in ONE evaluator pass: the scope name joins the document key,
so rule evaluation is still a fixed number of joins regardless of how
many scopes a document has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_generator_spark.validation.shacl_rules import KEYS, conformance_report, validate

DOC = ["repo", "commit"]
TRIPLE = ["s", "p", "o", "lit", "dt"]


def scoped_triples(result: dict) -> DataFrame:
    """Union of all validation scopes, each row tagged with `scope`.

    Reference semantics per scope:
      * ``Char_ID {id}``: base graph + that character's triples (the
        per-character graph of build_character_graphs).
      * ``CDAO Matrix``: the matrix graph pre-TU-enrichment (validated
        before pruning in the reference; prune only affects qua-/org-
        label triples invisible to the rules, but we use the unpruned
        part to match exactly).
      * ``TU __template__``: base + ALL per-character graphs (the
        reference merges every cell column's character graph, so TU
        content is identical for every taxon of a document) — validated
        ONCE per document and fanned out to per-taxon report rows.
      * ``Species Combined`` and ``Final Combined Graph``.
    """
    base = result["base_part"]
    charp = result["char_part_tagged"]

    char_ids = charp.select(*DOC, "char_id").distinct()
    base_per_char = base.join(char_ids, DOC).withColumn(
        "scope", F.concat(F.lit("Char_ID "), F.col("char_id"))
    )
    char_scoped = charp.withColumn(
        "scope", F.concat(F.lit("Char_ID "), F.col("char_id"))
    )
    per_char = base_per_char.select(*KEYS, *TRIPLE).unionByName(
        char_scoped.select(*KEYS, *TRIPLE)
    )

    matrix = result["matrix_part"].withColumn("scope", F.lit("CDAO Matrix")).select(
        *KEYS, *TRIPLE
    )

    tu_template = base.select(*DOC, *TRIPLE).unionByName(
        charp.select(*DOC, *TRIPLE)
    ).withColumn("scope", F.lit("TU __template__"))
    scopes = per_char.unionByName(matrix).unionByName(
        tu_template.select(*KEYS, *TRIPLE)
    )

    species = result["species_part"].withColumn(
        "scope", F.lit("Species Combined")
    ).select(*KEYS, *TRIPLE)
    final = result["triples"].withColumn(
        "scope", F.lit("Final Combined Graph")
    ).select(*KEYS, *TRIPLE)
    return scopes.unionByName(species).unionByName(final)


def _expand_tu(df: DataFrame, taxa: DataFrame) -> DataFrame:
    """Replace 'TU __template__' rows with one row per taxon."""
    non_tu = df.filter(F.col("scope") != "TU __template__")
    tu = df.filter(F.col("scope") == "TU __template__").drop("scope").join(
        taxa, DOC
    ).withColumn("scope", F.concat(F.lit("TU "), F.col("taxon_label"))).drop(
        "taxon_label"
    )
    return non_tu.unionByName(tu.select(non_tu.columns))


def validation_report(result: dict):
    """(violations, conformance) over all scopes — the DataFrame
    equivalent of validation_summary.txt + validation_report.ttl."""
    scoped = scoped_triples(result)
    # Computed once, here: the conformance frame aggregates the
    # violations, and a caller writes and counts both frames, so lazy
    # violations would re-run the rule plan (type expansion, hop joins,
    # aggregation) for each of those actions. A local checkpoint, like
    # the build's default hubs: validation reads the in-memory build
    # result and never runs on the resumable path.
    violations = validate(scoped).localCheckpoint(eager=True)

    # scope universe from the small dimension frames (not by re-running
    # the scoped union)
    char_ids = result["char_part_tagged"].select(*DOC, "char_id").distinct()
    docs = char_ids.select(*DOC).distinct()
    universe = char_ids.select(
        *DOC, F.concat(F.lit("Char_ID "), F.col("char_id")).alias("scope")
    )
    for name in ["CDAO Matrix", "Species Combined", "Final Combined Graph",
                 "TU __template__"]:
        universe = universe.unionByName(
            docs.withColumn("scope", F.lit(name))
        )
    conformance = conformance_report(violations, universe=universe)

    taxa = result["taxa"].select(*DOC, "taxon_label").distinct()
    violations = _expand_tu(violations, taxa)
    conformance = _expand_tu(conformance, taxa)
    return violations, conformance


def render_summary(conformance_rows, violation_rows) -> str:
    """validation_summary.txt render matching the reference's layout
    (main.py:1220-1225): per-scope ``==== {entity_id} ====`` header
    followed by the validator's report text and a blank line. The report
    body follows pySHACL's skeleton — 'Validation Report' / 'Conforms:'
    / 'Results (N):' / indented Constraint-Violation blocks — with this
    engine's rule fields in the block slots (pySHACL's rdflib term
    pretty-printing is not reproduced; the structure and counts are)."""
    by_scope: dict = {}
    for r in violation_rows:
        by_scope.setdefault((r["repo"], r["commit"], r["scope"]), []).append(r)
    out = []
    for r in sorted(conformance_rows, key=lambda x: (x["repo"], x["commit"], x["scope"])):
        key = (r["repo"], r["commit"], r["scope"])
        vs = sorted(by_scope.get(key, []), key=lambda v: (v["shape"], v["focus"]))
        out.append(f"==== {r['scope']} ====")
        out.append("Validation Report")
        out.append(f"Conforms: {bool(r['conforms'])}")
        if vs:
            out.append(f"Results ({len(vs)}):")
            for v in vs:
                out.append(
                    f"Constraint Violation in {v['constraint']}"
                    "ConstraintComponent:"
                )
                out.append("\tSeverity: sh:Violation")
                out.append(f"\tSource Shape: {v['shape']}")
                out.append(f"\tFocus Node: {v['focus']}")
                if v["path"]:
                    out.append(f"\tResult Path: {v['path']}")
                out.append(
                    f"\tMessage: expected={v['expected']} actual={v['actual']}"
                )
        out.append("")
    return "\n".join(out)
