"""Workloads, the product job and its output check.

The product job makes the same public calls, in the same order, as
`scripts/run_pipeline.py`. The timed job is its default path: build,
partitioned triples write, docs/triples counts. The traced job adds each
workload's sinks (`--ttl --validate` for `bench_mix`, `--ttl --ttl-layout
shards` for `giant_doc`), and the traced `giant_doc` run then makes a
`--resume` pass on a fresh output. The expected output comes from
`tests/oracle/refsim.py` run per document on the generated rows, never
from Spark.
"""

from __future__ import annotations

import hashlib
import os
from collections import defaultdict
from typing import Dict, List

# Input sizes that pick code paths (plans/pipeline.py, sinks/turtle.py).
COUNTER_GATE_MEAN_BYTES = 96 * 1024    # _GIANT_DOC_CONTENT_BYTES
COUNTER_GATE_EXACT_BYTES = 192 * 1024  # _GIANT_DOC_EXACT_BYTES
BUCKET_WIDTH = 64                      # _AUTO_COUNTER_BUCKET_WIDTH
TURTLE_SHARD_TRIPLES = 2_000_000       # _AUTO_SHARD_TRIPLES
# a workload's inputs must sit at least this factor away from each gate
GATE_MARGIN = 1.1

# Each shape is `synth_corpus_rows` keyword arguments. Documents are far
# smaller than bench.py's 40x40 because the output check runs refsim in
# Python, whose cost grows steeply with document size (on a 4-vCPU VM: 6
# datasets of 5x5 take 3 s, of 8x8 20 s, of 24x24 over 300 s; a 1x280
# giant 10 s, 4x280 96 s), and each run must end within 180 s. At this
# size every Spark stage is fixed cost: a cold build plans and runs about
# fifty Spark jobs whatever the data, so a larger corpus mostly moves
# the oracle, not the job.
WORKLOADS = {
    # bench-shaped documents (every 6th dataset 3x larger), all under
    # the counter gate: the single per-document counter window. The
    # traced job adds the 23-scope validation and the Turtle writer,
    # which the size gate sends down the per-document path.
    "bench_mix": {
        "rows": dict(n_datasets=6, ntax=5, nchar=5, giant_every=6, giant_scale=3),
        "counter_width": None,
        "validate": True,
        "ttl_layout": "auto",
        "ttl_mode": "per-document",
    },
    # five small datasets plus one giant character document over the
    # exact counter gate: two-phase bucketed counters and the one-task
    # parse of the giant. The traced job adds the sharded Turtle writer
    # and then the resumable path (durable staging, partition-overwrite
    # commits, lineage). The giant has one taxon (see the refsim cost
    # above), so its matrix is small: the skew it shows is the byte
    # gate's code path, not a large task.
    "giant_doc": {
        "rows": dict(n_datasets=6, ntax=4, nchar=4, giant_every=6,
                     giant_shape=(1, 280)),
        "counter_width": BUCKET_WIDTH,
        "validate": False,
        "ttl_layout": "shards",
        "ttl_mode": "shards",
    },
}


# synth seeds tried per benchmark seed (see corpus_rows)
MAX_DRAWS = 1000


def repeated_state_seed(chars_json: str) -> bool:
    """True when a character has two states with one IRI seed (same URI,
    or same label and no URI). The reference numbers such a state once;
    the pipeline's STATE/QUALITY :id-N counters number it twice, so
    every later label of the document differs from refsim."""
    from rdf_generator_spark.sources.parsers import char_rows_from_json

    for char in char_rows_from_json(chars_json):
        keys = [st.get("uri") or str(st.get("label") or "unknown").strip().lower()
                for st in char["states"]]
        if len(keys) != len(set(keys)):
            return True
    return False


def corpus_rows(workload: str, seed: int) -> tuple:
    """(synth seed, rows): the first corpus drawn from synth seeds
    seed*MAX_DRAWS, seed*MAX_DRAWS+1, ... without a repeated state seed,
    a known pipeline defect the benchmark steers around so that every
    run's output can be checked exactly."""
    from rdf_generator_spark.sources.synth import synth_corpus_rows

    for k in range(MAX_DRAWS):
        synth_seed = seed * MAX_DRAWS + k
        rows = synth_corpus_rows(seed=synth_seed, **WORKLOADS[workload]["rows"])
        if not any(repeated_state_seed(r[4]) for r in rows if r[3] == "json"):
            return synth_seed, rows
    raise RuntimeError(f"no corpus without a repeated state seed in {MAX_DRAWS} draws")


def expected(workload: str, seed: int) -> dict:
    """The oracle of the corpus `corpus_rows` draws for the workload."""
    return oracle(corpus_rows(workload, seed)[1])


def check_gates(workload: str, rows: List[tuple]) -> dict:
    """Path record of the inputs: the largest document against the
    counter gate. Raises if a workload sits within GATE_MARGIN of the
    gate, so no seed can move it onto the other path unseen."""
    max_doc = max(len(r[4].encode("utf-8")) for r in rows)
    bucketed = WORKLOADS[workload]["counter_width"] is not None
    if bucketed and max_doc < COUNTER_GATE_EXACT_BYTES * GATE_MARGIN:
        raise RuntimeError(f"{workload}: largest document {max_doc} B is not "
                           f"clear above the {COUNTER_GATE_EXACT_BYTES} B gate")
    if not bucketed and max_doc * GATE_MARGIN > COUNTER_GATE_MEAN_BYTES:
        raise RuntimeError(f"{workload}: largest document {max_doc} B is not "
                           f"clear below the {COUNTER_GATE_MEAN_BYTES} B gate")
    return {"max_doc_bytes": max_doc,
            "counter_gate_bytes": [COUNTER_GATE_MEAN_BYTES, COUNTER_GATE_EXACT_BYTES],
            "turtle_gate_triples": TURTLE_SHARD_TRIPLES}


def triple_key(repo, commit, s, p, o, lit, dt) -> int:
    """Order-independent digest term of one committed triple row; the
    Spark side computes the same value in `table_digest`."""
    text = "\x1f".join(
        "\x00" if v is None else v
        for v in (repo, commit, s, p, o, "true" if lit else "false", dt)
    )
    return int(hashlib.sha256(text.encode("utf-8")).hexdigest()[:15], 16)


def oracle(rows: List[tuple]) -> dict:
    """Expected output per document from refsim: triple count, digest,
    and the scope count the 23-scope validation reports."""
    from rdf_generator_spark.sources import parsers as P
    from rdf_generator_spark.sources.corpus import build_label_index
    from tests.oracle.refsim import RefSim

    docs: Dict[tuple, dict] = defaultdict(dict)
    for repo, _path, commit, lang, content in rows:
        docs[(repo, commit)][lang] = content
    n_triples, digest, scopes = 0, 0, 0
    for (repo, commit), d in sorted(docs.items()):
        chars = P.char_rows_from_json(d["json"])
        cells = P._parse_nexus_matrix(d["nexus"])
        sim = RefSim(
            chars, cells, P.species_rows_from_json(d["species-json"]),
            {r["char_id"]: r["source_text"] for r in P.metadata_rows_from_csv(d["csv"])},
            build_label_index(d["owl"]),
        )
        want = sim.run()["final"].triples()
        n_triples += len(want)
        digest += sum(triple_key(repo, commit, *t) for t in want)
        # one scope per character, per taxon, plus CDAO Matrix, Species
        # Combined and Final Combined Graph (validation/scopes.py)
        scopes += len({c["char_id"] for c in chars}) + len({c[1] for c in cells}) + 3
    return {"docs": len(docs), "files": len(rows), "triples": n_triples,
            "digest": digest, "scopes": scopes}


def table_digest(spark, path: str) -> tuple:
    """(rows, digest) of the committed triples table at `path`."""
    from pyspark.sql import functions as F

    def s(c):
        return F.coalesce(F.col(c).cast("string"), F.lit("\x00"))

    key = F.concat_ws("\x1f", *[s(c) for c in ("repo", "commit", "s", "p", "o", "lit", "dt")])
    term = F.conv(F.substring(F.sha2(key, 256), 1, 15), 16, 10).cast("decimal(38,0)")
    row = spark.read.parquet(path).agg(F.count(F.lit(1)), F.sum(term)).first()
    return int(row[0]), int(row[1] or 0)


def product_job(workload: str, spark, corpus, out: str, span, sinks: bool) -> dict:
    """scripts/run_pipeline.py; with `sinks`, also the workload's
    `--validate` and `--ttl` steps."""
    from rdf_generator_spark.plans.pipeline import build_graph
    from rdf_generator_spark.sinks.turtle import write_turtle_auto
    from rdf_generator_spark.validation.scopes import validation_report

    wl = WORKLOADS[workload]
    with span("pipeline"):
        res = build_graph(spark, corpus, dataset_id=None, staging_dir=None)
    triples = res["triples"]
    with span("final.write"):
        triples.write.mode("overwrite").partitionBy("repo").parquet(
            os.path.join(out, "triples")
        )
    with span("final.docs"):
        stats = {"docs": corpus.select("repo", "commit").distinct().count()}
    with span("final.recount"):
        stats["triples"] = triples.count()
    if not sinks:
        return stats
    if wl["validate"]:
        with span("validation.report"):
            violations, conformance = validation_report(res)
        with span("validation.write"):
            violations.write.mode("overwrite").parquet(os.path.join(out, "violations"))
            conformance.write.mode("overwrite").parquet(os.path.join(out, "conformance"))
            stats["scopes"] = conformance.count()
            stats["violations"] = violations.count()
    # run_pipeline.py's --ttl-layout thresholds
    kw = {"shards": {"threshold": 0}, "auto": {}}[wl["ttl_layout"]]
    with span("turtle"):
        info = write_turtle_auto(
            triples, os.path.join(out, "ttl"), n_triples=stats["triples"], **kw
        )
    stats["ttl_mode"] = info["mode"]
    stats["ttl_files"] = info.get("n_shards", info.get("n_docs"))
    return stats


def resume_job(spark, corpus, out: str, span) -> dict:
    """scripts/run_pipeline.py --resume."""
    from rdf_generator_spark.sources.tableio import read_table
    from rdf_generator_spark.streaming.lineage import run_resumable

    with span("lineage"):
        stats = run_resumable(
            spark, corpus, out, dataset_id=None, snapshot_id="",
            triples_table=None, lineage_table=None,
        )
        read_table(spark, os.path.join(out, "triples"))
    return stats


def check_triples(spark, out: str, stats: dict, want: dict) -> List[str]:
    """Differences between a committed triples table and the oracle."""
    errors = []
    n, digest = table_digest(spark, os.path.join(out, "triples"))
    if (n, digest) != (want["triples"], want["digest"]):
        errors.append(f"triples table: {n} rows, digest {digest}; refsim "
                      f"{want['triples']} rows, digest {want['digest']}")
    if stats["docs"] != want["docs"] or stats["triples"] != want["triples"]:
        errors.append(f"stats docs={stats['docs']} triples={stats['triples']}")
    return errors


def check_sinks(workload: str, spark, out: str, stats: dict, want: dict) -> List[str]:
    """Differences between the traced job's validation and Turtle output
    and what the oracle and the path record call for."""
    from pyspark.sql import functions as F

    wl = WORKLOADS[workload]
    errors = []
    if stats["ttl_mode"] != wl["ttl_mode"]:
        errors.append(f"turtle mode {stats['ttl_mode']}")
    names = os.listdir(os.path.join(out, "ttl"))
    if wl["ttl_mode"] == "shards":
        n_ttl = sum(1 for f in names if f.startswith("part-") and f.endswith(".ttl"))
        if n_ttl != stats["ttl_files"] or "header.ttl" not in names:
            errors.append(f"{n_ttl} Turtle shards on disk, writer reported "
                          f"{stats['ttl_files']}")
    else:
        n_ttl = sum(1 for f in names if f.endswith(".ttl"))
        if stats["ttl_files"] != want["docs"] or n_ttl != want["docs"]:
            errors.append(f"{n_ttl} Turtle files on disk, writer reported "
                          f"{stats['ttl_files']}, for {want['docs']} docs")
    if wl["validate"]:
        if stats["scopes"] != want["scopes"]:
            errors.append(f"scopes {stats['scopes']}, expected {want['scopes']}")
        # refsim has no validation, so violations are checked for
        # agreement between the two written tables only
        per_scope = spark.read.parquet(os.path.join(out, "conformance")).agg(
            F.sum("n_violations"), F.sum((~F.col("conforms")).cast("int"))
        ).first()
        violating = spark.read.parquet(os.path.join(out, "violations")).select(
            "repo", "commit", "scope"
        ).distinct().count()
        if (per_scope[0], per_scope[1]) != (stats["violations"], violating):
            errors.append(f"conformance sums {tuple(per_scope)}, violations table "
                          f"{stats['violations']} rows over {violating} scopes")
    return errors


def check_lineage(spark, out: str, want: dict) -> List[str]:
    n_lineage = spark.read.parquet(os.path.join(out, "lineage")).count()
    if n_lineage != want["files"]:
        return [f"{n_lineage} lineage rows for {want['files']} files"]
    return []
