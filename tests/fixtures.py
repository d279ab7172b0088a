"""Golden fixture, Spark-free: a golden corpus (by default the
repository's frozen one, loaded by rdf_generator_spark.sources.golden;
FIXTURES.md §1) parsed by the pure-Python extractors."""

from __future__ import annotations

import pytest

from rdf_generator_spark.sources.golden import (
    EXAMPLES, REF, golden_corpus_rows, reference_available,
)

# Tests on the reference's own example corpus run only where it is mounted.
needs_reference = pytest.mark.skipif(
    not reference_available(),
    reason="reference example corpus not found under "
    f"RDFGEN_REFERENCE_DIR={REF} ({', '.join(rel for rel, _ in EXAMPLES)})",
)


def golden_parsed(rows=None):
    """Parsed golden inputs, no Spark: (chars, cells, species, metadata,
    vocab) of `rows` (default: the golden corpus rows)."""
    from rdf_generator_spark.sources import parsers as P
    from rdf_generator_spark.sources.corpus import build_label_index

    by_lang = {lang: content
               for _, _, _, lang, content in rows or golden_corpus_rows()}
    chars = P.char_rows_from_json(by_lang["json"])
    cells = P._parse_nexus_matrix(by_lang["nexus"])
    species = P.species_rows_from_json(by_lang["species-json"])
    metadata = {r["char_id"]: r["source_text"]
                for r in P.metadata_rows_from_csv(by_lang["csv"])}
    vocab = build_label_index(by_lang["owl"])
    return chars, cells, species, metadata, vocab


def trip_broadcast_gate(monkeypatch):
    """Make build_graph take the dimension joins' many-document path:
    no broadcast hints, AQE picks each join at run time."""
    from rdf_generator_spark.plans import pipeline

    monkeypatch.setattr(pipeline, "_DIM_BROADCAST_FILE_LIMIT", -1)
