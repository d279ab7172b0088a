"""Turtle sink: roundtrip (render -> parse -> same triple set) and
structural checks against the reference's section/bucket layout."""

from __future__ import annotations

import os
import re

import pytest

from rdf_generator_spark import terms as T
from rdf_generator_spark.plans.pipeline import build_graph
from rdf_generator_spark.sinks import turtle
from rdf_generator_spark.sources.corpus import corpus_df
from rdf_generator_spark.sources.golden import golden_corpus_df, golden_corpus_rows
from rdf_generator_spark.sources.synth import synth_corpus_rows

from tests.oracle import turtle_ref
from tests.test_pipeline_synth import adversarial_rows, edge_case_rows

PREFIX_MAP = dict(T.PREFIXES)


def _expand(tok: str) -> str:
    if tok.startswith("<") and tok.endswith(">"):
        return tok[1:-1]
    pref, local = tok.split(":", 1)
    return PREFIX_MAP[pref] + local


_LINE = re.compile(r"^(?:(\S+)\s+)?(\S+)\s+(.+?)\s+([.;])$")


def parse_turtle(text: str):
    """Minimal parser for OUR writer's output shape."""
    triples = set()
    subj = None
    for raw in text.splitlines():
        line = raw.rstrip()
        if (not line or line.startswith("@prefix") or line.startswith("#")
                or line.startswith("<http://www.phenobees.org/kb>")
                or line.startswith("  owl:imports")):
            continue
        m = _LINE.match(line.strip())
        if not m:
            continue
        s_tok, p_tok, o_tok, _term = m.groups()
        if not raw.startswith("  ") and s_tok:
            subj = _expand(s_tok)
        elif s_tok:
            # continuation lines start with two spaces and have no subject
            p_tok, o_tok = s_tok, f"{p_tok} {m.group(3)}"
            o_tok = line.strip().split(None, 1)[1].rsplit(None, 1)[0]
            p_tok = line.strip().split(None, 1)[0]
        if o_tok.startswith('"'):
            mm = re.match(r'^"(.*)"(?:\^\^<([^>]+)>)?$', o_tok, re.DOTALL)
            o_val = (
                mm.group(1).replace("\\n", "\n").replace('\\"', '"').replace("\\\\", "\\")
            )
            triples.add((subj, _expand(p_tok), o_val, True, mm.group(2)))
        else:
            triples.add((subj, _expand(p_tok), _expand(o_tok), False, None))
    return triples


@pytest.fixture(scope="module")
def rendered(spark, tmp_path_factory):
    res = build_graph(spark, golden_corpus_df(spark))
    out = tmp_path_factory.mktemp("ttl")
    info = turtle.write_turtle_auto(res["triples"], str(out))
    assert info["mode"] == "per-document"
    (name,) = os.listdir(out)
    text = open(out / name, encoding="utf-8").read()
    want = {
        (r["s"], r["p"], r["o"], bool(r["lit"]), r["dt"])
        for r in res["triples"].collect()
    }
    return text, want


def test_roundtrip_triples(rendered):
    text, want = rendered
    got = parse_turtle(text)
    missing = want - got
    extra = got - want
    assert not missing and not extra, (
        f"missing={len(missing)} extra={len(extra)}\n"
        + "\n".join(map(str, list(missing)[:5]))
        + "\n".join(map(str, list(extra)[:5]))
    )


def test_structure(rendered):
    text, _ = rendered
    assert text.startswith("@prefix bfo: <")
    for header in ["====== CLASSES ======", "==== INDIVIDUALS ====",
                   "## --- ObjectProperties ---", "### Other Triples"]:
        assert header in text
    # bucket headers appear in order
    pos = [text.find(h) for _, h in turtle._BUCKETS if text.find(h) != -1]
    assert pos == sorted(pos) and len(pos) >= 8
    # phenotype bucket sorted by sortCharNum: C1 phenotypes before C10's
    phe_section = text.split("## --- Phenotype instances --- ##")[1].split("## ---")[0]
    descs = re.findall(r'dc:description "Phenotype statement for (C\d+)', phe_section)
    nums = [int(d[1:]) for d in descs]
    assert nums == sorted(nums)


def test_kb_iri_policy(rendered):
    text, _ = rendered
    # generated kb IRIs compact, species concept URIs full (main.py:1301-1325)
    assert re.search(r"kb:phe-[0-9a-f-]{36}", text)
    assert "<http://www.phenobees.org/kb#Diadasina_pura>" in text
    # forced-full prefixes stay full IRIs
    assert "cdao:0000075" not in text
    assert "<http://purl.obolibrary.org/obo/CDAO_0000075>" in text


def test_species_files(spark, tmp_path):
    res = build_graph(spark, golden_corpus_df(spark))
    from rdf_generator_spark.sinks.turtle import write_species_files

    n = write_species_files(res, str(tmp_path / "species"))
    assert n == 10
    files = sorted(os.listdir(tmp_path / "species"))
    assert "Diadasina_pura.ttl" in files
    text = open(tmp_path / "species" / "Diadasina_pura.ttl").read()
    got = parse_turtle(text)
    # species file holds exactly that taxon's concept + instance triples
    assert any("sp-" in t[0] for t in got)
    assert any(t[2] == "Diadasina_pura" and t[3] for t in got)
    assert all("Centris_frontalis" not in t[0] and "Centris_frontalis" not in str(t[2]) for t in got)
    # every file's bytes are the oracle's rendering of that taxon's triples
    nodes = {}
    for r in res["taxa"].collect():
        for node in (r["sp_uri"], r["sp_inst"]):
            nodes.setdefault((r["repo"], r["commit"], node), set()).add(r["taxon_label"])
    by_taxon = {}
    for r in res["species_part"].collect():
        for label in nodes.get((r["repo"], r["commit"], r["s"]), ()):
            by_taxon.setdefault(label, []).append(
                (r["s"], r["p"], r["o"], r["lit"], r["dt"]))
    assert files == sorted(f"{label.replace('/', '_')}.ttl" for label in by_taxon)
    for label, rows in by_taxon.items():
        path = tmp_path / "species" / f"{label.replace('/', '_')}.ttl"
        assert path.read_bytes() == turtle_ref.species_text(rows).encode("utf-8"), label


# Corpora of the byte-equality test, each as a rows function.
ORACLE_CORPORA = {
    "golden": golden_corpus_rows,
    "synth": lambda: synth_corpus_rows(n_datasets=3, ntax=4, nchar=4, seed=7),
    "edge": edge_case_rows,
    "adversarial": adversarial_rows,
}


@pytest.mark.parametrize("corpus", sorted(ORACLE_CORPORA))
def test_per_document_files_match_oracle(spark, tmp_path, corpus):
    """Every per-document file the executor-side writer writes is,
    byte for byte, the pure-Python oracle's rendering of that
    document's collected final graph."""
    res = build_graph(spark, corpus_df(spark, ORACLE_CORPORA[corpus]()))
    info = turtle.write_turtle_auto(res["triples"], str(tmp_path))
    by_doc = {}
    for r in res["triples"].collect():
        by_doc.setdefault((r["repo"], r["commit"]), []).append(
            (r["s"], r["p"], r["o"], r["lit"], r["dt"]))
    files = os.listdir(tmp_path)
    assert info["n_docs"] == len(files) == len(by_doc)
    got = sorted((tmp_path / f).read_bytes() for f in files)
    want = sorted(turtle_ref.document_text(t).encode("utf-8") for t in by_doc.values())
    assert got == want


def test_shard_writer_matches_single_file(spark, tmp_path):
    res = build_graph(spark, golden_corpus_df(spark))
    from rdf_generator_spark.sinks.turtle import write_turtle_shards

    out = tmp_path / "shards"
    info = write_turtle_shards(res["triples"], str(out))
    assert info["n_shards"] >= 1
    parts = sorted(p for p in os.listdir(out) if p.startswith("part-"))
    text = open(out / "header.ttl").read() + "".join(
        open(out / p).read() for p in parts
    )
    got = parse_turtle(text)
    want = {
        (r["s"], r["p"], r["o"], bool(r["lit"]), r["dt"])
        for r in res["triples"].collect()
    }
    assert got == want


def test_shard_writer_rerun_is_byte_identical(spark, tmp_path):
    """Resume idempotency (VERDICT r3 item 4): re-running the shard
    writer on the same triples produces a byte-identical shard set —
    range partitioning + in-partition sort are deterministic, so a
    retried/resumed write can safely overwrite in place."""
    from rdf_generator_spark.sinks.turtle import write_turtle_shards

    res = build_graph(spark, golden_corpus_df(spark))
    a, b = tmp_path / "s1", tmp_path / "s2"
    i1 = write_turtle_shards(res["triples"], str(a))
    i2 = write_turtle_shards(res["triples"], str(b))
    assert i1["n_shards"] == i2["n_shards"]
    f1, f2 = sorted(os.listdir(a)), sorted(os.listdir(b))
    assert f1 == f2
    for name in f1:
        assert (a / name).read_bytes() == (b / name).read_bytes(), name


def test_write_turtle_auto_selects_by_size(spark, tmp_path):
    """Below the threshold the auto writer emits reference-parity
    per-document files; above it (forced low here) it shards."""
    from rdf_generator_spark.sinks.turtle import write_turtle_auto

    res = build_graph(spark, golden_corpus_df(spark))
    small = write_turtle_auto(res["triples"], str(tmp_path / "small"))
    assert small["mode"] == "per-document" and small["n_docs"] == 1
    ttl = [p for p in os.listdir(tmp_path / "small") if p.endswith(".ttl")]
    assert len(ttl) == 1
    big = write_turtle_auto(
        res["triples"], str(tmp_path / "big"), threshold=10
    )
    assert big["mode"] == "shards" and big["n_shards"] >= 1
    # same triples either way
    a = parse_turtle(open(tmp_path / "small" / ttl[0]).read())
    parts = sorted(
        p for p in os.listdir(tmp_path / "big") if p.startswith("part-")
    )
    text = open(tmp_path / "big" / "header.ttl").read() + "".join(
        open(tmp_path / "big" / p).read() for p in parts
    )
    assert parse_turtle(text) == a


def test_write_turtle_auto_no_path_collision(spark, tmp_path):
    """ADVICE r4: repos 'a/b' and 'a_b' sanitize to the same stem; the
    per-document writer must still produce two distinct files (a stable
    hash of the unsanitized identity is appended), and n_docs must equal
    the number of files actually on disk."""
    from rdf_generator_spark.sinks.turtle import write_turtle_auto

    rows = [
        (repo,) + r[1:]
        for repo in ("bees/roig", "bees_roig")
        for r in golden_corpus_rows()
    ]
    res = build_graph(spark, corpus_df(spark, rows))
    out = tmp_path / "collide"
    info = write_turtle_auto(res["triples"], str(out))
    assert info["mode"] == "per-document" and info["n_docs"] == 2
    ttl = [p for p in os.listdir(out) if p.endswith(".ttl")]
    assert len(ttl) == 2, ttl
