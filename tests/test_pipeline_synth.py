"""Multi-dataset synthetic-corpus golden test: pipeline vs oracle per doc.

Exercises paths the example corpus doesn't: '?' and out-of-range symbols,
negation states resolved via J2 and via the OWL vocab, multiple documents
in one corpus (counter scoping), zoobank ids, 3-state chars.
"""

from __future__ import annotations

from collections import defaultdict

import pytest

from rdf_generator_spark import terms as T
from rdf_generator_spark.plans.pipeline import build_graph
from rdf_generator_spark.sources import parsers as P
from rdf_generator_spark.sources.corpus import build_label_index, corpus_df
from rdf_generator_spark.sources.golden import golden_corpus_rows
from rdf_generator_spark.sources.synth import synth_corpus_rows

from tests.oracle.refsim import RefSim


def edge_case_rows(variant=None):
    """One hand-written dataset of linking and state-numbering edge
    cases: organism, variable, locator and state URIs that are "",
    blank or "NULL" (filled from the vocabulary or left as they are);
    `not X` states resolved through the document's first-wins index
    (J2) against an explicit and a vocabulary-filled URI, resolved by
    the vocabulary itself, and left unresolved; states repeating an IRI
    seed within a character (same URI; same label and no URI, in
    another case) and labels and URIs repeated across characters; a
    label that is empty after strip (the `state:id-N` fallback), a
    missing one ("unknown"), and labels edged or spaced with non-ASCII
    whitespace.

    `variant` bends the inputs the cell grid reads: "ragged" drops the
    last symbol of one taxon row, "short" the last column of every row
    (the matrix is one column short of the character list), and
    "nonobject" puts a non-object entry among the characters."""
    import json

    obo = "http://purl.obolibrary.org/obo/"
    rugose = obo + "PATO_0000701"

    def states(*specs):
        return [{f"State {k} label": label, f"State {k} URI": uri,
                 f"State {k} token": str(k)}
                for k, (label, uri) in enumerate(specs)]

    chars = [
        {"Char_ID": "C1", "CharacterLabel": "labrum width",
         "Organism": {"Label": "worker organism", "URI": "NULL"},
         "Locators": [{"Locator 1 label": "labrum", "Locator 1 URI": ""},
                      {"Locator 2 label": "distal region", "Locator 2 URI": "  "}],
         "Variable": {"Variable label": "width", "Variable URI": "null"},
         "States": states(("smooth", ""), ("not smooth", None),
                          ("rugose", rugose), ("not rugose", None),
                          ("\u00a0rugose\u2003", rugose))},
        {"Char_ID": "C2",
         "Organism": {"Label": "adult organism", "URI": "  "},
         "Locators": [{"Locator 1 label": "mandible", "Locator 1 URI": None}],
         "Variable": {"Variable label": "shape", "Variable URI": ""},
         "States": states(("not punctate", "NULL"), ("not incised", None),
                          ("   ", None), ("smooth", None), ("Not  Incised", ""),
                          ("broad\u00a0 surface", "  "), (None, None))},
        {"Char_ID": "C3",
         "Organism": {"Label": "female organism", "URI": ""},
         "Locators": [],
         "States": states(("not rugose", "  "), ("rugose", None),
                          ("\u3000", None))},
    ]
    if variant == "nonobject":
        chars.insert(1, "junk")
    taxa = {"Apis_mellifera": "046", "Bombus_terrestris": "152",
            "Xylocopa_violacea": "2?0", "Melipona_beecheii": "3-1"}
    if variant == "ragged":
        taxa["Xylocopa_violacea"] = "2?"
    elif variant == "short":
        taxa = {t: syms[:-1] for t, syms in taxa.items()}
    nexus = "\n".join(
        ["#NEXUS", "BEGIN DATA;", "\tDIMENSIONS NTAX=4 NCHAR=3;", "\tMATRIX"]
        + [f"\t'{t}'    {syms}" for t, syms in taxa.items()]
        + [";", "END;", ""])
    species = [{"input_species_name": t, "valid_species_name": t.replace("_", " "),
                "ID": 1000 + i} for i, t in enumerate(taxa)]
    vocab = {"worker organism": "HAO_0000001", "labrum": "HAO_0000456",
             "width": "PATO_0000921", "smooth": "PATO_0000702",
             "not punctate": "PATO_0000950", "broad surface": "BSPO_0000010"}
    owl = "\n".join(
        ['<rdf:RDF xml:base="http://purl.obolibrary.org/obo/edge.owl">']
        + [f'<owl:Class rdf:about="{obo}{uri}"><rdfs:label>{label}'
           "</rdfs:label></owl:Class>" for label, uri in vocab.items()]
        + ["</rdf:RDF>"])
    meta = "Char_ID,Comment\nC1,Modified from character 1 of Edge (2000)\n"
    docs = [("chars.json", "json", json.dumps(chars)), ("matrix.nex", "nexus", nexus),
            ("species.json", "species-json", json.dumps(species)),
            ("metadata.csv", "csv", meta), ("vocab.owl", "owl", owl)]
    return [("edge/dataset", path, "e" * 40, lang, content)
            for path, lang, content in docs]


@pytest.mark.parametrize("seed,dataset_id", [
    pytest.param(7, None, id="7"),
    pytest.param(23, None, id="23"),
    # run_pipeline.py --dataset-id: tier-1 salt over the metadata salt
    pytest.param(7, "demo", id="7-demo"),
    pytest.param(None, None, id="edge"),
    pytest.param("ragged", None, id="edge-ragged"),
    pytest.param("short", None, id="edge-short"),
    pytest.param("nonobject", None, id="edge-nonobject"),
])
def test_synth_corpus_matches_oracle_per_doc(spark, seed, dataset_id):
    """Per document, the build's triples equal refsim's on seeded synth
    corpora and on `edge_case_rows` (seed None or an edge variant)."""
    rows = (synth_corpus_rows(n_datasets=3, ntax=8, nchar=8, seed=seed)
            if isinstance(seed, int) else edge_case_rows(seed))
    corpus = corpus_df(spark, rows)
    res = build_graph(spark, corpus, dataset_id=dataset_id)
    got_by_doc = defaultdict(set)
    for r in res["triples"].collect():
        got_by_doc[r["repo"]].add((r["s"], r["p"], r["o"], bool(r["lit"]), r["dt"]))

    by_repo = defaultdict(dict)
    for repo, path, commit, lang, content in rows:
        by_repo[repo][lang] = content

    assert set(got_by_doc) == set(by_repo)
    for repo, docs in by_repo.items():
        chars = P.char_rows_from_json(docs["json"])
        cells = P._parse_nexus_matrix(docs["nexus"])
        species = P.species_rows_from_json(docs["species-json"])
        metadata = {r["char_id"]: r["source_text"]
                    for r in P.metadata_rows_from_csv(docs["csv"])}
        vocab = build_label_index(docs["owl"])
        want = RefSim(chars, cells, species, metadata, vocab,
                      dataset_id=dataset_id).run()["final"].triples()
        got = got_by_doc[repo]
        extra, missing = got - want, want - got
        assert got == want, (
            f"{repo}: extra={len(extra)} missing={len(missing)}\n"
            + "\n".join(f"  EXTRA {t}" for t in sorted(extra)[:8])
            + "\n".join(f"  MISS  {t}" for t in sorted(missing)[:8])
        )


def _kgbench_jobs():
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "kgbench", "jobs.py")
    spec = importlib.util.spec_from_file_location("kgbench_jobs", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_graph_stats_count_every_document(spark):
    """run_pipeline.py counts documents on the final graph: every corpus
    document keeps its base-scaffold rows there, one with no character
    JSON (a NEXUS matrix and species only) and one with only a config
    file included, so the graph's distinct (repo, commit) are the
    corpus's documents."""
    import importlib.util
    import os

    from rdf_generator_spark.plans.base_scaffold import base_triples

    rows = synth_corpus_rows(n_datasets=2, ntax=4, nchar=4, seed=5)
    rows += [("nojson/repo", path, commit, lang, content)
             for repo, path, commit, lang, content in rows
             if repo == rows[0][0] and lang != "json"]
    rows.append(("config/only", "config.yaml", "c" * 40, "yaml", "other: 1\n"))
    res = build_graph(spark, corpus_df(spark, rows))
    got = defaultdict(set)
    for r in res["triples"].collect():
        got[(r["repo"], r["commit"])].add(
            (r["s"], r["p"], r["o"], bool(r["lit"]), r["dt"]))
    docs = {(repo, commit) for repo, _, commit, _, _ in rows}
    assert len(docs) == 4
    for doc in docs:
        assert set(base_triples()) <= got[doc], doc

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "scripts", "run_pipeline.py")
    spec = importlib.util.spec_from_file_location("run_pipeline", path)
    run_pipeline = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run_pipeline)
    assert run_pipeline.graph_stats(res["triples"]) == {
        "docs": len(docs), "triples": sum(map(len, got.values()))}


@pytest.mark.parametrize("giant_every", [None, 2])
def test_repeated_state_seed_matches_oracle(spark, giant_every):
    """A character with two states of one IRI seed (same label, no URI):
    the reference numbers the state once (has_label guards), so the
    STATE/QUALITY :id-N counters must skip the repeat, or every later
    label of the document differs. `giant_every=2` makes the second
    dataset a 3x larger matrix among normal ones: the counters stay
    per-document on a skewed corpus too."""
    rows = synth_corpus_rows(n_datasets=3, ntax=5, nchar=5, seed=7,
                             giant_every=giant_every, giant_scale=3)
    jobs = _kgbench_jobs()
    flagged = [r[0] for r in rows if r[3] == "json" and jobs.repeated_state_seed(r[4])]
    assert flagged, "seed no longer draws a repeated state seed"
    res = build_graph(spark, corpus_df(spark, rows))
    got_by_doc = defaultdict(set)
    for r in res["triples"].collect():
        got_by_doc[r["repo"]].add((r["s"], r["p"], r["o"], bool(r["lit"]), r["dt"]))

    by_repo = defaultdict(dict)
    for repo, path, commit, lang, content in rows:
        by_repo[repo][lang] = content
    assert set(got_by_doc) == set(by_repo)
    for repo, docs in by_repo.items():
        want = RefSim(
            P.char_rows_from_json(docs["json"]),
            P._parse_nexus_matrix(docs["nexus"]),
            P.species_rows_from_json(docs["species-json"]),
            {r["char_id"]: r["source_text"]
             for r in P.metadata_rows_from_csv(docs["csv"])},
            build_label_index(docs["owl"]),
        ).run()["final"].triples()
        got = got_by_doc[repo]
        assert got == want, (repo, sorted(got - want)[:4], sorted(want - got)[:4])


@pytest.mark.parametrize("seed,giant_every", [
    (7, None), (23, 2), pytest.param(None, None, id="golden"),
])
def test_label_subjects_only_premise(spark, seed, giant_every):
    """The final graph's apply_label_priority(label_subjects_only=True)
    assumes (a) every matrix-labelled subject of its target keeps an
    rdfs:label row there and (b) the target has no duplicate rows. The
    fast path keeps its target's subject set and label presence, so both
    are checked on the outputs build_graph returns, on seeded synthetic
    corpora (seed 23 with a 3x larger matrix every second dataset) and
    on the golden corpus (seed None)."""
    rows = (golden_corpus_rows() if seed is None
            else synth_corpus_rows(n_datasets=3, ntax=6, nchar=6, seed=seed,
                                   giant_every=giant_every, giant_scale=3))
    res = build_graph(spark, corpus_df(spark, rows))

    def key(r):
        return r["repo"], r["commit"], r["s"]

    matrix_labelled = {
        key(r) for r in res["matrix_pruned"].collect() if r["p"] == T.RDFS_LABEL
    }
    triples = res["triples"].collect()
    subjects = {key(r) for r in triples}
    labelled = {key(r) for r in triples if r["p"] == T.RDFS_LABEL}
    checked = matrix_labelled & subjects
    assert checked, "premise is vacuous on this corpus"
    assert checked <= labelled, sorted(checked - labelled)[:4]
    assert len(triples) == len(set(triples))


def test_no_metadata_corpus_uses_input_salt_tier(spark):
    """K2 tier 3 end-to-end (reference main.py:245-247): with no
    metadata CSV and no dataset_id, the salt is
    input::<normalized json basename> — pipeline and refsim must agree
    on the full per-doc triple set, which pins every org- seed minted
    through that salt."""
    rows = [
        r for r in synth_corpus_rows(n_datasets=2, ntax=5, nchar=5, seed=31)
        if r[3] != "csv"
    ]
    corpus = corpus_df(spark, rows)
    res = build_graph(spark, corpus)
    got_by_doc = defaultdict(set)
    for r in res["triples"].collect():
        got_by_doc[r["repo"]].add((r["s"], r["p"], r["o"], bool(r["lit"]), r["dt"]))

    by_repo = defaultdict(dict)
    for repo, path, commit, lang, content in rows:
        by_repo[repo][lang] = content
        if lang == "json":
            by_repo[repo]["__json_base"] = path.rsplit("/", 1)[-1]

    assert len(got_by_doc) == 2
    for repo, docs in by_repo.items():
        chars = P.char_rows_from_json(docs["json"])
        cells = P._parse_nexus_matrix(docs["nexus"])
        species = P.species_rows_from_json(docs["species-json"])
        vocab = build_label_index(docs["owl"])
        sim = RefSim(chars, cells, species, {}, vocab,
                     json_basename=docs["__json_base"])
        assert sim.salt.startswith("input::"), sim.salt
        want = sim.run()["final"].triples()
        got = got_by_doc[repo]
        extra, missing = got - want, want - got
        assert got == want, (
            f"{repo}: extra={len(extra)} missing={len(missing)}\n"
            + "\n".join(f"  EXTRA {t}" for t in sorted(extra)[:8])
            + "\n".join(f"  MISS  {t}" for t in sorted(missing)[:8])
        )


def test_dataset_id_from_yaml_config(spark):
    """SRC1: dataset_id in a lang='yaml' config row salts every org seed
    (reference main.py:232-235: config dominates the metadata salt)."""
    from rdf_generator_spark.ids import uuid5_kb

    rows = synth_corpus_rows(n_datasets=1, ntax=4, nchar=4, seed=5)
    repo, _, commit, _, _ = rows[0]
    with_cfg = rows + [(repo, "config.yaml", commit, "yaml", "dataset_id: demo-42\n")]
    res = build_graph(spark, corpus_df(spark, with_cfg))
    orgs = {
        r["s"]
        for r in res["triples"].filter(
            (res["triples"].p == T.RDF_TYPE)
            & (res["triples"].o == T.OWL_NAMED_INDIVIDUAL)
        ).collect()
        if r["s"].startswith(T.KB + "org-")
    }
    # at least one org seed must match the dataset::demo-42 salt
    cells = P._parse_nexus_matrix(rows[1][4])
    taxon = sorted({t for _, t, _, _ in cells})[0]
    from rdf_generator_spark.normalize import py_norm_seed_component, py_norm_taxon_label

    seed = "::".join([
        "dataset::demo-42",
        py_norm_seed_component(py_norm_taxon_label(taxon)) or "unknown-taxon",
        "female organism",
    ])
    expected = uuid5_kb("org", seed)
    assert any(o == expected for o in orgs) or any(
        uuid5_kb("org", seed.replace("female organism", "male organism")) == o
        for o in orgs
    ), (expected, sorted(orgs)[:4])


def test_skewed_corpus_giant_matrix_exact(spark):
    """Skew path: one 10x-larger NEXUS matrix among small documents —
    per-document exactness must hold and the giant must not perturb its
    neighbors (counters are per-document)."""
    rows = synth_corpus_rows(
        n_datasets=3, ntax=6, nchar=6, seed=31, giant_every=3, giant_scale=5
    )
    corpus = corpus_df(spark, rows)
    res = build_graph(spark, corpus)
    got_by_doc = defaultdict(set)
    for r in res["triples"].collect():
        got_by_doc[r["repo"]].add((r["s"], r["p"], r["o"], bool(r["lit"]), r["dt"]))
    by_repo = defaultdict(dict)
    for repo, path, commit, lang, content in rows:
        by_repo[repo][lang] = content
    sizes = {}
    for repo, docs in by_repo.items():
        chars = P.char_rows_from_json(docs["json"])
        cells = P._parse_nexus_matrix(docs["nexus"])
        species = P.species_rows_from_json(docs["species-json"])
        metadata = {r["char_id"]: r["source_text"]
                    for r in P.metadata_rows_from_csv(docs["csv"])}
        vocab = build_label_index(docs["owl"])
        want = RefSim(chars, cells, species, metadata, vocab).run()["final"].triples()
        assert got_by_doc[repo] == want, repo
        sizes[repo] = len(want)
    # the giant really is an order of magnitude bigger
    assert max(sizes.values()) > 8 * min(sizes.values())


def adversarial_rows():
    """One dataset of hostile labels: quotes, backslashes, newlines and
    a Turtle terminator look-alike (`  .`, `  ;`) in comments, unicode
    and odd whitespace."""
    import json as _json

    chars = [
        {
            "Char_ID": "C1",
            "Organism": {"Label": "adult organism",
                         "URI": "http://purl.obolibrary.org/obo/UBERON_0007023"},
            "Locators": [
                {"Locator 1 label": 'lóbulo "anterior"', "Locator 1 URI": None},
                {"Locator 2 label": "weird\\path", "Locator 2 URI": None},
            ],
            "Variable": {"Variable label": "forma  doble espacio",
                         "Variable URI": None,
                         "Variable comment": "line one\nline two\nends  . and  ; here"},
            "States": [
                {"State 0 label": "présent", "State 0 URI": None, "State 0 token": "0"},
                {"State 1 label": 'not "quoted"', "State 1 URI": None, "State 1 token": "1"},
            ],
            "Tag": "transformational_complex",
        },
        {
            "Char_ID": "C2",
            "Organism": {"Label": "female organism",
                         "URI": "http://purl.obolibrary.org/obo/UBERON_0003100"},
            "Locators": [{"Locator 1 label": "büte", "Locator 1 URI": None}],
            "States": [
                {"State 0 label": '"quoted"',
                 "State 0 URI": "http://purl.obolibrary.org/obo/PATO_0000001",
                 "State 0 token": "0"},
                {"State 1 label": "zwei", "State 1 URI": None, "State 1 token": "1"},
            ],
            "Tag": "neomorphic",
        },
    ]
    nexus = (
        "#NEXUS\n\nBEGIN DATA;\n\tDIMENSIONS  NTAX=2 NCHAR=2;\n"
        "\tFORMAT DATATYPE = STANDARD GAP = - MISSING = ? SYMBOLS = \"01\";\n"
        "\tMATRIX\n\t'Tàxon_ünïcode'  01\n\t'Second_taxon'  10\n\n;\nEND;\n"
    )
    species = _json.dumps([
        {"input_species_name": "Tàxon_ünïcode",
         "valid_species_name": "Tàxon ünïcode (Quoté, 1999)",
         "ID": 123, "zoobank_identifier": None, "match_level": "species"},
    ])
    meta = 'Char_ID,Comment\nC1,Modified from "weird" source\n'
    return [
        ("adv/repo", "c.json", "a" * 40, "json", _json.dumps(chars)),
        ("adv/repo", "m.nex", "a" * 40, "nexus", nexus),
        ("adv/repo", "s.json", "a" * 40, "species-json", species),
        ("adv/repo", "md.csv", "a" * 40, "csv", meta),
    ]


def test_adversarial_labels_exact(spark, tmp_path):
    """Labels with quotes, backslashes, newlines-in-comments, unicode and
    odd whitespace must survive seeding, emission and Turtle roundtrip."""
    rows = adversarial_rows()
    res = build_graph(spark, corpus_df(spark, rows))
    got = {
        (r["s"], r["p"], r["o"], bool(r["lit"]), r["dt"])
        for r in res["triples"].collect()
    }
    want = RefSim(
        P.char_rows_from_json(rows[0][4]),
        P._parse_nexus_matrix(rows[1][4]),
        P.species_rows_from_json(rows[2][4]),
        {r["char_id"]: r["source_text"] for r in P.metadata_rows_from_csv(rows[3][4])},
        {},
    ).run()["final"].triples()
    assert got == want, (len(got - want), len(want - got),
                         sorted(got - want)[:4], sorted(want - got)[:4])

    # turtle roundtrip with the hostile literals
    import os as _os
    from rdf_generator_spark.sinks.turtle import write_turtle_auto
    from tests.test_turtle import parse_turtle

    out = tmp_path / "ttl"
    write_turtle_auto(res["triples"], str(out))
    (name,) = _os.listdir(out)
    got_ttl = parse_turtle(open(out / name, encoding="utf-8").read())
    assert got_ttl == want


def test_multi_matrix_contract_and_shard_roundtrip(spark):
    """A repo with two matrices: build_graph fails loudly; after
    shard_multi_matrix_groups each shard round-trips golden-equal."""
    import pytest

    from rdf_generator_spark.plans.pipeline import build_graph
    from rdf_generator_spark.sources.corpus import (
        corpus_df, shard_multi_matrix_groups,
    )
    from rdf_generator_spark.sources.golden import GOLDEN_REPO, golden_corpus_rows

    from tests.fixtures import golden_parsed
    from tests.oracle.refsim import RefSim

    rows = golden_corpus_rows()
    multi = []
    for repo, path, commit, lang, content in rows:
        if lang in ("json", "nexus"):
            ext = path.rsplit(".", 1)[1]
            multi.append((repo, f"data/m1.{ext}", commit, lang, content))
            multi.append((repo, f"data/m2.{ext}", commit, lang, content))
        else:
            multi.append((repo, path, commit, lang, content))
    corpus = corpus_df(spark, multi)

    with pytest.raises(ValueError, match="input contract violated"):
        build_graph(spark, corpus)

    sharded = shard_multi_matrix_groups(corpus)
    res = build_graph(spark, sharded)
    per_repo = {}
    for r in res["triples"].select("repo", "s", "p", "o", "lit", "dt").collect():
        per_repo.setdefault(r["repo"], set()).add(
            (r["s"], r["p"], r["o"], bool(r["lit"]), r["dt"])
        )
    assert set(per_repo) == {f"{GOLDEN_REPO}::m1", f"{GOLDEN_REPO}::m2"}

    want = RefSim(*golden_parsed()).run()["final"].triples()
    assert per_repo[f"{GOLDEN_REPO}::m1"] == want
    assert per_repo[f"{GOLDEN_REPO}::m2"] == want


def test_shard_ambiguous_pairing_raises(spark):
    """Stems that don't pair 1:1 have no safe automatic mapping."""
    import pytest

    from rdf_generator_spark.sources.corpus import (
        corpus_df, shard_multi_matrix_groups,
    )
    from rdf_generator_spark.sources.golden import golden_corpus_rows

    rows = golden_corpus_rows()
    multi = []
    for repo, path, commit, lang, content in rows:
        if lang == "json":
            multi.append((repo, "data/m1.json", commit, lang, content))
            multi.append((repo, "data/m2.json", commit, lang, content))
        elif lang == "nexus":
            # only ONE nexus — m2 has no partner
            multi.append((repo, "data/m1.nex", commit, lang, content))
        else:
            multi.append((repo, path, commit, lang, content))
    with pytest.raises(ValueError, match="pair 1:1 by path stem"):
        shard_multi_matrix_groups(corpus_df(spark, multi))


def test_dataset_id_config_deterministic_and_bounded(spark):
    """SRC1 hardening (VERDICT r4 nit 3): with several yaml docs in the
    corpus, the winning dataset_id is the lexicographically-first
    (repo, path, commit) row carrying one — not partition-order luck —
    malformed yaml and dataset_id-less docs are skipped, and the
    driver-side collect is bounded: it keeps the first
    _CONFIG_SCAN_LIMIT yaml rows in (repo, path, commit) order and warns
    when it hits the bound."""
    from rdf_generator_spark.plans.pipeline import (
        _CONFIG_SCAN_LIMIT, _dimension_rows, dataset_id_from_config,
    )
    from rdf_generator_spark.sources.corpus import corpus_df

    docs = [
        ("r2", "b.yaml", "c" * 40, "yaml", "dataset_id: second\n"),
        ("r1", "z.yaml", "c" * 40, "yaml", "not: a dataset id\n"),
        ("r1", "a.yaml", "c" * 40, "yaml", ":: not yaml ["),
        ("r1", "m.yaml", "c" * 40, "yaml", "dataset_id: first\n"),
    ]
    # order-independence: reversed input gives the same winner
    for rows in (docs, docs[::-1]):
        assert dataset_id_from_config(
            corpus_df(spark, rows).repartition(7)
        ) == "first"
    # past the bound: the first rows in order, and a warning
    many = [("r", f"cfg-{i:03d}.yaml", "c" * 40, "yaml", f"dataset_id: d{i}\n")
            for i in range(_CONFIG_SCAN_LIMIT + 6)]
    corpus = corpus_df(spark, many[::-1]).repartition(3)
    _, yaml_rows = _dimension_rows(corpus)
    assert [r["path"] for r in yaml_rows] == [
        p for _, p, _, _, _ in many[:_CONFIG_SCAN_LIMIT]
    ]
    with pytest.warns(UserWarning, match="bound"):
        assert dataset_id_from_config(corpus) == "d0"
