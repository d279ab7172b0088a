"""Checkpoint-resume lineage + connected-components canonicalization."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from rdf_generator_spark.operators.canonicalize import (
    apply_canonical_mapping,
    connected_components,
)
from rdf_generator_spark.sources.corpus import corpus_df
from rdf_generator_spark.sources.synth import synth_corpus_rows
from rdf_generator_spark.streaming import lineage as L


def test_resume_skips_done_docs(spark, tmp_path):
    out = str(tmp_path / "out")
    rows = synth_corpus_rows(n_datasets=2, ntax=5, nchar=5, seed=3)
    corpus = corpus_df(spark, rows)

    r1 = L.run_resumable(spark, corpus, out, snapshot_id="snap1")
    assert r1["docs"] == 2 and r1["triples"] > 0
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    # 5 files per dataset (json/nexus/species/csv/owl) x 2 datasets
    assert lin.count() == 10

    # second run: everything done -> no work
    r2 = L.run_resumable(spark, corpus, out, snapshot_id="snap2")
    assert r2 == {"docs": 0, "triples": 0}

    # new dataset appears; the shared vocab.owl also changes content
    # (it accumulates labels across datasets), so all 3 docs re-run —
    # exactly the content-drift semantics we want
    rows3 = synth_corpus_rows(n_datasets=3, ntax=5, nchar=5, seed=3)
    corpus3 = corpus_df(spark, rows3)
    r3 = L.run_resumable(spark, corpus3, out, snapshot_id="snap3")
    assert r3["docs"] == 3

    # content drift in one file -> that document reprocessed
    drifted = [
        (repo, path, commit, lang, content + "\n")
        if lang == "csv" and repo.endswith("0000") else (repo, path, commit, lang, content)
        for repo, path, commit, lang, content in rows3
    ]
    r4 = L.run_resumable(spark, corpus_df(spark, drifted), out, snapshot_id="snap4")
    assert r4["docs"] == 1

    # lineage carries the sha256 invariant — re-read: runs 3/4 replaced
    # part files (dynamic overwrite), so the pre-run handle is stale
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    row = lin.select("content_sha256").first()
    assert len(row["content_sha256"]) == 64
    # idempotent commits: re-running over the same corpus never
    # duplicates lineage rows (5 files x 3 datasets)
    assert lin.count() == 15


def test_resume_runs_final_graph_once(spark, tmp_path):
    """run_resumable runs the final graph once, for its staged hub, and
    takes the lineage's per-document counts from that hub. The final
    plan is the only reader of the staged prune flags; the staged dedup
    hub is read by the flags and by the final plan; the staged final
    graph is read by the triples write and by the per-document counts,
    so only the returned total opens the committed table's files."""
    import re

    from tests.test_plans import executions

    out = str(tmp_path / "out")
    rows = synth_corpus_rows(n_datasets=2, ntax=4, nchar=4, seed=11)
    r, execs = executions(
        spark, lambda: L.run_resumable(spark, corpus_df(spark, rows), out)
    )

    def scans(path):
        return sum(
            any(loc.endswith(path) for loc in
                re.findall(r"InMemoryFileIndex[^\[]*\[([^\]]*)\]", desc))
            for _, desc, _ in execs
        )

    assert scans("/_staging/victim_flags") == 1
    assert scans("/_staging/dedup") == 2
    assert scans("/_staging/final") == 2
    assert scans("/out/triples") == 1  # the returned total only
    per_doc = (
        spark.read.parquet(os.path.join(out, "lineage"))
        .select("repo", "commit", "n_triples").distinct().collect()
    )
    assert len(per_doc) == r["docs"] == 2
    assert all(x["n_triples"] > 0 for x in per_doc)
    assert sum(x["n_triples"] for x in per_doc) == r["triples"]


def test_resume_with_catalog_tables(spark, tmp_path):
    """run_resumable against session-catalog managed tables (`table:`
    refs) — the offline stand-in for the Iceberg deployment. Exercises
    the catalog branch of tableio end-to-end: create-on-first-write,
    resume no-op, content-drift reprocessing via INSERT OVERWRITE
    dynamic partitions, and no duplicate lineage rows after replays."""
    import uuid

    sfx = uuid.uuid4().hex[:8]
    t_ref, l_ref = f"table:triples_{sfx}", f"table:lineage_{sfx}"
    out = str(tmp_path / "out")
    rows = synth_corpus_rows(n_datasets=2, ntax=4, nchar=4, seed=13)
    try:
        r1 = L.run_resumable(spark, corpus_df(spark, rows), out,
                             triples_table=t_ref, lineage_table=l_ref)
        assert r1["docs"] == 2 and r1["triples"] > 0

        r2 = L.run_resumable(spark, corpus_df(spark, rows), out,
                             triples_table=t_ref, lineage_table=l_ref)
        assert r2 == {"docs": 0, "triples": 0}

        drifted = [
            (repo, path, commit, lang, content + "\n")
            if lang == "csv" and repo.endswith("0000")
            else (repo, path, commit, lang, content)
            for repo, path, commit, lang, content in rows
        ]
        r3 = L.run_resumable(spark, corpus_df(spark, drifted), out,
                             triples_table=t_ref, lineage_table=l_ref)
        assert r3["docs"] == 1

        lin = spark.table(f"lineage_{sfx}")
        assert lin.count() == 10  # 5 files x 2 datasets, no duplicates
        assert len(lin.select("content_sha256").first()["content_sha256"]) == 64
        tri = spark.table(f"triples_{sfx}")
        assert tri.count() == r3["triples"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS triples_{sfx}")
        spark.sql(f"DROP TABLE IF EXISTS lineage_{sfx}")


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y"), ("q", "q")], ["a", "b"]
    )
    got = {
        (r["node"], r["canon"]) for r in connected_components(edges).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"), ("q", "q"),
    }


def test_connected_components_long_path(spark):
    """Adversarial shape for any propagation scheme: a 10^4-node path
    graph (diameter 10^4). Star contraction must converge inside the
    default O(log n) round budget — min-label propagation would need
    10^4 rounds. Also checks a branchy component and a 2-cycle mixed in."""
    n = 10_000
    path = [(f"n{i:05d}", f"n{i+1:05d}") for i in range(n - 1)]
    extra = [("z2", "z1"), ("z3", "z1"), ("p", "q"), ("q", "p")]
    edges = spark.createDataFrame(path + extra, ["a", "b"]).repartition(8)
    got = connected_components(edges).collect()
    by_node = {r["node"]: r["canon"] for r in got}
    assert len(by_node) == n + 5
    assert all(by_node[f"n{i:05d}"] == "n00000" for i in range(n))
    assert by_node["z1"] == by_node["z2"] == by_node["z3"] == "z1"
    assert by_node["p"] == by_node["q"] == "p"


def test_connected_components_nonconvergence_signals(spark, monkeypatch):
    """An exhausted round budget must never return a silently-partial
    mapping: it raises, and a converged run emits no warning."""
    import warnings

    import pytest

    from rdf_generator_spark.operators import canonicalize

    path = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(30)]
    edges = spark.createDataFrame(path, ["a", "b"])
    with monkeypatch.context() as m:
        m.setattr(canonicalize, "MAX_ITERS", 1)
        with pytest.raises(RuntimeError, match="did not reach a verified fixpoint"):
            connected_components(edges)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        connected_components(edges)


def test_apply_canonical_mapping(spark):
    tri = spark.createDataFrame(
        [
            ("r", "c", "ex:a", "ex:p", "ex:b", False, None),
            ("r", "c", "ex:b2", "ex:p", "ex:lit", True, None),
            ("r", "c", "ex:z", "ex:p", "ex:b2", False, None),
        ],
        "repo string, commit string, s string, p string, o string, lit boolean, dt string",
    )
    mapping = spark.createDataFrame(
        [("r", "c", "ex:b2", "ex:b")], ["repo", "commit", "node", "canon"]
    )
    got = {
        (r["s"], r["o"], r["lit"])
        for r in apply_canonical_mapping(tri, mapping).collect()
    }
    # subject rewritten; IRI object rewritten; literal object untouched
    assert got == {
        ("ex:a", "ex:b", False),
        ("ex:b", "ex:lit", True),
        ("ex:z", "ex:b", False),
    }

def test_dual_species_mint_unified_by_cc(spark):
    """F9 quirk: SpeciesLabel+SpeciesID rows mint a second sp- IRI with a
    different seed casing (main.py:638 lower vs 1174 un-lowered); CC over
    same-as edges unifies the two under one canonical IRI."""
    import json as _json

    from rdf_generator_spark import terms as T
    from rdf_generator_spark.operators.canonicalize import (
        apply_canonical_mapping,
        connected_components,
        species_same_as_edges,
    )
    from rdf_generator_spark.plans.pipeline import build_graph

    chars = [{
        "Char_ID": "C1",
        "Organism": {"Label": "female organism",
                     "URI": "http://purl.obolibrary.org/obo/UBERON_0003100"},
        "Locators": [{"Locator 1 label": "labrum",
                      "Locator 1 URI": "http://purl.obolibrary.org/obo/HAO_0000456"}],
        "States": [
            {"State 0 label": "absent",
             "State 0 URI": "http://purl.obolibrary.org/obo/PATO_0000462",
             "State 0 token": "0"},
            {"State 1 label": "present",
             "State 1 URI": "http://purl.obolibrary.org/obo/PATO_0000467",
             "State 1 token": "1"},
        ],
        "Tag": "neomorphic",
        "SpeciesLabel": "Genus_species",
        "SpeciesID": 424242,
    }]
    nexus = ("#NEXUS\n\nBEGIN DATA;\n\tDIMENSIONS  NTAX=1 NCHAR=1;\n"
             "\tFORMAT DATATYPE = STANDARD GAP = - MISSING = ?;\n"
             "\tMATRIX\n\t'Genus_species'  1\n\n;\nEND;\n")
    species = _json.dumps([{"input_species_name": "Genus_species",
                            "valid_species_name": "Genus species Author, 2000",
                            "ID": 424242, "zoobank_identifier": None,
                            "match_level": "species"}])
    rows = [
        ("cc/repo", "c.json", "b" * 40, "json", _json.dumps(chars)),
        ("cc/repo", "m.nex", "b" * 40, "nexus", nexus),
        ("cc/repo", "s.json", "b" * 40, "species-json", species),
    ]
    from rdf_generator_spark.sources.corpus import corpus_df

    res = build_graph(spark, corpus_df(spark, rows))
    tri = res["triples"]
    sp_nodes = {
        r["s"] for r in tri.collect() if r["s"].startswith(T.KB + "sp-")
    }
    assert len(sp_nodes) == 2  # the two seed variants both minted

    edges = species_same_as_edges(tri)
    assert edges.count() == 1
    canon = apply_canonical_mapping(tri, connected_components(edges))
    sp_after = {
        r["s"] for r in canon.collect() if r["s"].startswith(T.KB + "sp-")
    }
    assert len(sp_after) == 1
    # and no dangling references to the merged-away IRI remain
    gone = sp_nodes - sp_after
    assert canon.filter(
        (canon.o.isin(*gone)) & (~canon.lit)
    ).count() == 0


def test_tableio_parquet_roundtrip_and_iceberg_gating(spark, tmp_path):
    """tableio: parquet refs round-trip with idempotent overwrite;
    iceberg refs fail with an actionable message in jar-less envs;
    snapshot pinning is rejected for parquet (nothing to pin)."""
    import pytest

    from rdf_generator_spark.sources import tableio

    ref = str(tmp_path / "t")
    df = spark.createDataFrame([("r1", "c", 1), ("r2", "c", 2)],
                               "repo string, commit string, v int")
    tableio.write_table(df, ref)
    assert tableio.table_exists(spark, ref)
    # idempotent: same partitions overwritten, not appended
    tableio.write_table(df, ref)
    assert tableio.read_table(spark, ref).count() == 2
    assert tableio.current_snapshot_id(spark, ref) == ""

    with pytest.raises(ValueError, match="snapshot"):
        tableio.read_table(spark, ref, snapshot_id="123")
    with pytest.raises(RuntimeError, match="Iceberg"):
        tableio.read_table(spark, "iceberg:cat.db.corpus")
    with pytest.raises(RuntimeError, match="Iceberg"):
        tableio.write_table(df, "iceberg:cat.db.triples")
