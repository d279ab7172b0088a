"""Golden corpus loaders.

Two example corpora in the reference's five document formats
(character JSON, NEXUS, species JSON, metadata CSV, OWL), each wrapped
into the engine's corpus-table shape (one repo, one commit):

* the golden corpus, frozen in `golden_corpus/` next to this module
  (10 taxa x 10 characters; FIXTURES.md §1). The query registry
  (queries.py), `scripts/regen_pins.py` and the tests load it
  through `golden_corpus_rows` / `golden_corpus_df`. The files, not a
  generator, are the corpus, so its expected values stay put when
  `sources/synth.py` changes.
* the reference repo's own example files, read-only from
  `RDFGEN_REFERENCE_DIR`. Only the tests that assert facts about those
  files use it, skipped unless `reference_available()`.
"""

from __future__ import annotations

import os

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "golden_corpus")

GOLDEN_FILES = [
    ("minimal.json", "json"),
    ("minimal.nex", "nexus"),
    ("species.json", "species-json"),
    ("minimal_metadata.csv", "csv"),
    ("vocab.owl", "owl"),
]

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


def _corpus_rows(base, files):
    rows = []
    for rel, lang in files:
        with open(os.path.join(base, rel), encoding="utf-8") as f:
            rows.append((GOLDEN_REPO, rel, GOLDEN_COMMIT, lang, f.read()))
    return rows


def golden_corpus_rows():
    return _corpus_rows(GOLDEN_DIR, GOLDEN_FILES)


def golden_corpus_df(spark):
    from rdf_generator_spark.sources.corpus import corpus_df

    return corpus_df(spark, golden_corpus_rows())


def reference_available():
    """True when all five reference example files exist under REF."""
    return all(os.path.isfile(os.path.join(REF, rel)) for rel, _ in EXAMPLES)


def reference_corpus_rows():
    return _corpus_rows(REF, EXAMPLES)


def reference_corpus_df(spark):
    from rdf_generator_spark.sources.corpus import corpus_df

    return corpus_df(spark, reference_corpus_rows())
