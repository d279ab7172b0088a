"""Golden example corpus loader (reference's shipped example data).

Wraps the reference repo's example files (read-only) into the engine's
corpus-table shape. The one place the reference location is defined:
the query registry (queries_kg.py) and the tests load the golden
corpus from here.
"""

from __future__ import annotations

import os

REF = os.environ.get("RDFGEN_REFERENCE_DIR", "/root/reference")

EXAMPLES = [
    ("data/examples/minimal.json", "json"),
    ("data/examples/minimal.nex", "nexus"),
    ("data/examples/species.json", "species-json"),
    ("data/examples/minimal_metadata.csv", "csv"),
    ("data/ontologies/pmck.owl", "owl"),
]

GOLDEN_REPO = "bees/roig-alsina-1993"
GOLDEN_COMMIT = "f" * 40


def golden_corpus_rows():
    rows = []
    for rel, lang in EXAMPLES:
        with open(os.path.join(REF, rel), encoding="utf-8") as f:
            rows.append((GOLDEN_REPO, rel, GOLDEN_COMMIT, lang, f.read()))
    return rows


def golden_corpus_df(spark):
    from rdf_generator_spark.sources.corpus import corpus_df

    return corpus_df(spark, golden_corpus_rows())
