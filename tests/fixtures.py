"""Golden fixture, Spark-free: the reference's shipped example corpus
(loaded by rdf_generator_spark.sources.golden; FIXTURES.md §1) parsed
by the pure-Python extractors."""

from __future__ import annotations

from rdf_generator_spark.sources.golden import golden_corpus_rows


def golden_parsed():
    """Parsed golden inputs, no Spark: (chars, cells, species, metadata, vocab)."""
    from rdf_generator_spark.sources import parsers as P
    from rdf_generator_spark.sources.corpus import build_label_index

    by_lang = {lang: content for _, _, _, lang, content in golden_corpus_rows()}
    chars = P.char_rows_from_json(by_lang["json"])
    cells = P._parse_nexus_matrix(by_lang["nexus"])
    species = P.species_rows_from_json(by_lang["species-json"])
    metadata = {r["char_id"]: r["source_text"]
                for r in P.metadata_rows_from_csv(by_lang["csv"])}
    vocab = build_label_index(by_lang["owl"])
    return chars, cells, species, metadata, vocab
