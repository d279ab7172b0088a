"""Cross-validate the executable reference spec (tests/oracle/refsim.py)
and the Spark salt ladder against the REFERENCE'S OWN shipped test
contract.

A live run of /root/reference/rdf_generator/main.py would be the
strongest anchor, but rdflib/dendropy/pyshacl are not installed and the
build environment forbids package installation (documented blocker —
see BENCH.md "Known blockers"). The reference repo does ship one
behavioral test with real assertions —
tests/test_main.py::test_organism_seed_uses_dataset_id_and_metadata_fingerprint
(main repo, reference-author-written, not builder-derived) — so we
replay those exact assertions against refsim and against the Spark
`build_salts` ladder. This anchors the seed/salt semantics to an
artifact the builder did not author.

Reference contract (test_main.py:80-98):
  * dataset_id set   -> metadata content must NOT change the seed
  * different dataset_id -> different seed
  * blank dataset_id -> metadata fingerprint MUST change the seed
Plus the salt tier ladder itself (main.py:227-249):
  dataset:: > metadata:: > input:: > dataset::default.
"""

from __future__ import annotations

from tests.oracle.refsim import RefSim

META_A = {"1": "source alpha", "2": "source beta"}
META_B = {"1": "source alpha", "2": "source gamma"}


def _sim(dataset_id, metadata, jb=None) -> RefSim:
    return RefSim([], [], [], metadata, {}, dataset_id=dataset_id,
                  json_basename=jb)


def _seed(sim: RefSim) -> str:
    # mirrors build_organism_seed("female organism", "Taxon_A", ...)
    return sim.org_seed("female organism", "Taxon_A")


def test_reference_shipped_seed_assertions_hold_on_refsim():
    seed_a = _seed(_sim("dataset-a", META_A))
    seed_b = _seed(_sim("dataset-a", META_B))
    seed_c = _seed(_sim("dataset-b", META_A))
    seed_d = _seed(_sim(None, META_A))
    seed_e = _seed(_sim(None, META_B))
    # the reference's own assertions, verbatim
    assert seed_a == seed_b
    assert seed_a != seed_c
    assert seed_d != seed_e
    # and the ladder's shape
    assert seed_a.startswith("dataset::dataset-a::")
    assert seed_d.startswith("metadata::")


def test_refsim_salt_tier3_input_basename():
    assert _sim(None, {}).salt == "dataset::default"
    assert _sim(None, {"1": "  "}).salt == "dataset::default"
    assert (_sim(None, {"1": " "}, jb="Minimal_Full.json").salt
            == "input::minimal_full.json")
    # metadata wins over input basename
    assert _sim(None, META_A, jb="x.json").salt.startswith("metadata::")


def test_spark_build_salts_matches_refsim(spark):
    from rdf_generator_spark.plans.pipeline import build_salts

    schema = "repo string, commit string, source_text string"

    def salts(rows, json_rows=None):
        meta = spark.createDataFrame(rows, schema)
        jn = spark.createDataFrame(
            json_rows or [], "repo string, commit string, json_base string"
        )
        return {
            (r["repo"], r["commit"]): r["salt"]
            for r in build_salts(meta, jn).collect()
        }

    # tier 2: fingerprint equality with refsim, sensitivity to content
    got_a = salts([("r", "c", v) for v in META_A.values()])[("r", "c")]
    got_b = salts([("r", "c", v) for v in META_B.values()])[("r", "c")]
    assert got_a == _sim(None, META_A).salt
    assert got_b == _sim(None, META_B).salt
    assert got_a != got_b

    # tier 3: all-empty metadata values skip the fingerprint (the
    # reference's `if provenance_values:` guard) and fall to input::
    got3 = salts(
        [("r", "c", "   ")],
        json_rows=[("r", "c", "Minimal_Full.json")],
    )[("r", "c")]
    assert got3 == "input::minimal_full.json"
    assert got3 == _sim(None, {"1": " "}, jb="Minimal_Full.json").salt

    # tier 4: no metadata doc at all, json name present -> input::;
    # neither -> NULL salt (caller coalesces to dataset::default)
    empty = spark.createDataFrame([], schema)
    got4 = {
        (r["repo"], r["commit"]): r["salt"]
        for r in __import__(
            "rdf_generator_spark.plans.pipeline", fromlist=["build_salts"]
        ).build_salts(
            empty,
            spark.createDataFrame(
                [("r", "c", "m.json"), ("r2", "c2", "   ")],
                "repo string, commit string, json_base string",
            ),
        ).collect()
    }
    assert got4[("r", "c")] == "input::m.json"
    assert got4[("r2", "c2")] is None


def test_reference_shipped_namespace_assertions_hold_on_prefix_block():
    """Replay tests/test_main.py::test_graph_building (reference repo,
    reference-author-written): every namespace prefix the reference's
    build_base_graph must bind has to appear in the O4 prefix block
    (sinks/turtle.py::_PREFIX_BLOCK via terms.PREFIXES), bound to the
    exact namespace IRI main.py:72-87 declares (VERDICT r4 item 6)."""
    from rdf_generator_spark import terms as T
    from rdf_generator_spark.sinks.turtle import _PREFIX_BLOCK

    # the reference test's expected_namespaces list, verbatim
    # (/root/reference/tests/test_main.py:65-77)
    expected = [
        "bfo", "cdao", "dc", "dwc", "iao", "kb", "obo",
        "owl", "pato", "phb", "rdf", "rdfs", "ro", "txr", "uberon",
    ]
    bound = dict(T.PREFIXES)
    for ns in expected:
        assert ns in bound, f"Namespace {ns} missing in base graph"

    # and each prefix the reference binds (main.py:72-87, 367-388) maps
    # to the identical IRI in the rendered O4 block
    ref_iris = {
        "bfo": "http://purl.obolibrary.org/obo/BFO_",
        "cdao": "http://purl.obolibrary.org/obo/CDAO_",
        "dc": "http://purl.org/dc/terms/",
        "dwc": "http://rs.tdwg.org/dwc/terms/",
        "iao": "http://purl.obolibrary.org/obo/IAO_",
        "kb": "http://www.phenobees.org/kb#",
        "obo": "http://purl.obolibrary.org/obo#",
        "owl": "http://www.w3.org/2002/07/owl#",
        "pato": "http://purl.obolibrary.org/obo/PATO_",
        "phb": "https://raw.githubusercontent.com/tsrsilva/rdf-generator/"
               "refs/heads/main/data/ontologies/PHB_",
        "pmck": "https://raw.githubusercontent.com/tsrsilva/rdf-generator/"
                "refs/heads/main/data/ontologies/PMCK_",
        "prov": "http://www.w3.org/ns/prov#",
        "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
        "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
        "ro": "http://purl.obolibrary.org/obo/RO_",
        "txr": "http://purl.obolibrary.org/obo/TAXRANK_",
        "uberon": "http://purl.obolibrary.org/obo/UBERON_",
        "xsd": "http://www.w3.org/2001/XMLSchema#",
    }
    for p, iri in ref_iris.items():
        assert bound.get(p) == iri, p
        assert f"@prefix {p}: <{iri}> ." in _PREFIX_BLOCK, p
