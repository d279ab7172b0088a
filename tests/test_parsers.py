"""Parser tests. Most assert facts about the reference's own example
files (C1's locator, the NEXUS gaps, the pmck.owl labels, the logged fill
counts), so they run only where that corpus is mounted
(RDFGEN_REFERENCE_DIR; sources/golden.py::reference_available)."""

from __future__ import annotations

from rdf_generator_spark.sources import parsers
from rdf_generator_spark.sources.corpus import build_label_index, vocab_df_from_corpus
from rdf_generator_spark.sources.golden import reference_corpus_df, reference_corpus_rows

from tests.fixtures import needs_reference


@needs_reference
def test_parse_chars(spark):
    chars = parsers.parse_char_docs(reference_corpus_df(spark)).orderBy("char_pos").collect()
    assert len(chars) == 10
    c1 = chars[0]
    assert c1["char_id"] == "C1"
    assert c1["org_label"] == "adult organism"
    assert c1["org_uri"].endswith("UBERON_0007023")
    assert [l["label"] for l in c1["locators"]] == ["labrum"]
    assert c1["has_variable"] and c1["var_label"] == "width"
    assert c1["var_comment"] == "relative to length"
    assert [s["label"] for s in c1["states"]] == ["broader", "narrower"]
    assert c1["states"][0]["uri"] is None
    c5 = chars[4]
    assert not c5["has_variable"] and c5["tag"] == "neomorphic"
    c6 = chars[5]
    assert len(c6["locators"]) == 4
    assert c6["locators"][1]["uri"] is None


def test_parsers_never_emit_null_arrays(spark):
    """`locators` and `states` are [] — never NULL — for a null, missing
    or empty list, in the pure-Python extractor and in the fused parse.
    linking.link_characters iterates both lists of every character, so
    a None would fail the parse task."""
    import json

    from rdf_generator_spark.sources.corpus import corpus_df

    content = json.dumps([
        {"Char_ID": "C1", "Locators": None, "States": None},
        {"Char_ID": "C2"},
        {"Char_ID": "C3", "Locators": [], "States": []},
        {"Char_ID": "C4", "Locators": ["x/head"],
         "States": [{"State label": "broad"}]},
    ])
    want = [(0, 0), (0, 0), (0, 0), (1, 1)]
    rows = parsers.char_rows_from_json(content)
    assert [(len(r["locators"]), len(r["states"])) for r in rows] == want
    corpus = corpus_df(spark, [("r", "chars.json", "c" * 40, "json", content)])
    view = parsers.family_view(parsers.parse_docs(corpus, {}), "json")
    got = view.orderBy("char_pos").collect()
    assert [r["locators"] is not None and r["states"] is not None
            for r in got] == [True] * 4
    assert [(len(r["locators"]), len(r["states"])) for r in got] == want


@needs_reference
def test_parse_nexus(spark):
    taxa = parsers.parse_nexus_docs(reference_corpus_df(spark))
    cells = taxa.selectExpr(
        "taxon_pos", "taxon", "posexplode(symbols) AS (char_index, symbol)"
    ).collect()
    assert len(cells) == 100
    by = {(c["taxon"], c["char_index"]): c for c in cells}
    assert by[("Arhysoceble_picta", 0)]["symbol"] == "0"
    assert by[("Arhysoceble_picta", 0)]["taxon_pos"] == 0
    assert by[("Anthidium_porterae", 0)]["symbol"] == "1"
    assert by[("Meganomia_gigas", 8)]["symbol"] == "-"
    assert by[("Augochlora_pura", 9)]["taxon_pos"] == 9
    gaps = [c for c in cells if c["symbol"] == "-"]
    assert len(gaps) == 3


@needs_reference
def test_parse_species(spark):
    sp = parsers.parse_species_docs(reference_corpus_df(spark)).orderBy("sp_pos").collect()
    assert len(sp) == 10
    assert sp[0]["input_name"] == "Ancyloscelis_apiformis"
    assert sp[0]["valid_name"] == "Ancyloscelis_apiformis_(Fabricius,_1793)"
    assert sp[0]["gbif_id"] == "5039694"
    assert sp[0]["zoobank_id"] is None


@needs_reference
def test_parse_metadata(spark):
    meta = parsers.parse_metadata_docs(reference_corpus_df(spark)).collect()
    assert len(meta) == 10
    m = {r["char_id"]: r["source_text"] for r in meta}
    assert m["C1"] == "character 7 of Roig-Alsina and Michener (1993)"


@needs_reference
def test_owl_label_index(spark):
    owl = next(r for r in reference_corpus_rows() if r[3] == "owl")
    index = build_label_index(owl[4])
    assert len(index) == 320
    assert index["about the same"].endswith("pmck.owl#PMCK_0000005")
    assert "glossal rod" in index
    vocab = vocab_df_from_corpus(spark, reference_corpus_df(spark))
    assert vocab.count() == 320


@needs_reference
def test_fill_stats_matches_reference_counts(spark):
    """The reference logs filled=17 unresolved=3 on the example corpus
    (J1 summary, main.py:531-535 — 3 misses are the negation labels)."""
    from rdf_generator_spark.operators.linking import fill_stats
    from rdf_generator_spark.sources import parsers
    from rdf_generator_spark.sources.corpus import vocab_df_from_corpus

    corpus = reference_corpus_df(spark)
    chars = parsers.parse_char_docs(corpus)
    vocab = vocab_df_from_corpus(spark, corpus)
    row = fill_stats(chars, vocab).collect()
    assert len(row) == 1
    assert row[0]["filled"] == 17 and row[0]["unresolved"] == 3

