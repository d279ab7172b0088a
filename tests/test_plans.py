"""Physical-plan audits: the optimizations we claim must be visible in
.explain output — broadcast joins for dimension sides, whole-stage
codegen in the fan-out, no row-at-a-time Python evaluation anywhere,
and plan-shape budgets (Exchange / MapInPandas counts) for the KG build."""

from __future__ import annotations

import ast
import inspect
import re
from pathlib import Path

import pytest

from rdf_generator_spark.plans.pipeline import build_graph

from tests.fixtures import trip_broadcast_gate


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def executions(spark, run):
    """`run()`'s result and the SQL executions it added to the status
    store, each as (plan-graph node names, physicalPlanDescription,
    task count of each of its stages). The store holds the plan each
    execution ran (with AQE, the final adaptive plan); the listener bus
    is drained on both sides so no earlier execution is counted and no
    later one is missed."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    tracker = spark.sparkContext.statusTracker()

    def ids():
        bus.waitUntilEmpty()
        ex = store.executionsList()
        return {ex.apply(i).executionId() for i in range(ex.size())}

    before = ids()
    out = run()
    execs = []
    for eid in sorted(ids() - before):
        nodes = store.planGraph(eid).allNodes()
        data = store.execution(eid).get()
        st = data.stages().toSeq()
        stages = [tracker.getStageInfo(s)
                  for s in sorted(st.apply(i) for i in range(st.size()))]
        execs.append((
            [nodes.apply(i).name() for i in range(nodes.size())],
            data.physicalPlanDescription(),
            [s.numTasks for s in stages if s is not None],
        ))
    return out, execs


def computing(execs, column):
    """The one execution among `execs` whose plan computes `column`
    (names it as an alias): the hub that materializes it."""
    hits = [e for e in execs if re.search(rf"\bAS {column}#", e[1])]
    assert len(hits) == 1, [names for names, _, _ in hits]
    return hits[0]


def product_path(spark, corpus, out):
    """build_graph and run_pipeline.py's default path over its result:
    the partitioned triples write and the triples count."""
    res = build_graph(spark, corpus)
    res["triples"].write.mode("overwrite").partitionBy("repo").parquet(out)
    res["triples"].count()
    return res


def test_counter_bucket_auto_gate(spark, tmp_path):
    """The benchmark's giant-document classifier: None on a corpus of
    normal documents, the bucket width on one holding a straggler-sized
    matrix, whether the corpus is file-backed or in memory."""
    from rdf_generator_spark.plans.pipeline import (
        _AUTO_COUNTER_BUCKET_WIDTH,
        resolve_counter_buckets,
    )
    from rdf_generator_spark.sources.corpus import corpus_df, corpus_parquet_df
    from rdf_generator_spark.sources.synth import synth_corpus_rows

    normal = synth_corpus_rows(n_datasets=4, ntax=10, nchar=10, seed=7)
    skew = synth_corpus_rows(
        n_datasets=4, ntax=10, nchar=10, seed=7,
        giant_every=4, giant_shape=(500, 2000),
    )
    c_norm = corpus_parquet_df(spark, normal, str(tmp_path / "n"))
    c_skew = corpus_parquet_df(spark, skew, str(tmp_path / "s"))
    assert resolve_counter_buckets(c_norm, "auto") is None
    assert resolve_counter_buckets(corpus_df(spark, normal), "auto") is None
    assert resolve_counter_buckets(c_skew, "auto") == _AUTO_COUNTER_BUCKET_WIDTH


def test_parse_task_sizing(spark, tmp_path, monkeypatch):
    """One parse task per `_PARSE_TASK_BYTES` and one hub task per
    `_HUB_TASK_BYTES` of content (summed over the corpus files'
    footers), at least one and at most the scan's partition count. No
    resizing is planned when the total is unknown: an in-memory corpus
    has no files, and past the footer cap not every footer is read."""
    from urllib.parse import urlparse

    import pyarrow as pa
    import pyarrow.parquet as pq

    from rdf_generator_spark.plans import pipeline as P
    from rdf_generator_spark.sources.corpus import corpus_df

    mib32 = 32 * 1024 * 1024
    assert P._PARSE_TASK_BYTES == mib32
    big = mib32 + 1
    assert [
        P._task_counts(n, 1 << 20)[0] for n in (0, 1, mib32, mib32 + 1)
    ] == [1, 1, 1, 2]
    hub = P._HUB_TASK_BYTES
    assert hub < mib32
    assert [
        P._task_counts(n, 2) for n in (0, 1, hub, hub + 1, 3 * hub, big)
    ] == [(1, 1), (1, 1), (1, 1), (1, 2), (1, 2), (2, 2)]
    assert P._task_counts(big, 1) == (1, 1)

    mem = corpus_df(spark, [("r", "chars.json", "c", "json", "{}")])
    assert P._content_bytes(P._input_files(mem)) is None

    d = tmp_path / "corpus"
    d.mkdir()
    for name in ("aaa", "bbb", "zzz"):
        pq.write_table(
            pa.table({"repo": [name], "path": ["chars.json"], "commit": ["c"],
                      "lang": ["json"], "content": [name * 1000]}),
            str(d / f"part-{name}.parquet"),
        )
    files = P._input_files(spark.read.parquet(str(d)))
    want = 0
    for f in files:
        md = pq.ParquetFile(urlparse(f).path).metadata
        want += sum(
            md.row_group(g).column(c).total_uncompressed_size
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
            if md.row_group(g).column(c).path_in_schema == "content"
        )
    assert P._content_bytes(files) == want
    monkeypatch.setattr(P, "_PROBE_FILE_CAP", 2)
    assert P._content_bytes(files) is None


def test_emit_compiles_family_rows(spark):
    """emit() on a 3-row frame: an unconditional IRI row, a row whose
    condition is false on one input row, an xsd:integer literal and a
    constant holding a quote and a backslash, checked row for row."""
    from rdf_generator_spark import terms as T
    from rdf_generator_spark.plans.emit import Triple, const, emit

    df = spark.createDataFrame(
        [("r", "c1", "http://x/a", 1, True),
         ("r", "c1", "http://x/b", 2, False),
         ("r", "c2", "http://x/c", 3, True)],
        "repo string, commit string, node string, n int, flag boolean",
    )
    family = [
        Triple("node", T.RDF_TYPE, const("http://x/Thing")),
        Triple("node", "http://x/flagged", "concat(node, '/yes')", cond="flag"),
        Triple("node", "http://x/n", "n", lit=True, dt=T.XSD_INTEGER),
        Triple("node", T.RDFS_LABEL, const("it's a \\ label"), lit=True),
    ]
    out = emit(df, family)
    assert out.columns == ["repo", "commit", "s", "p", "o", "lit", "dt"]
    want = []
    for commit, node, n, flag in [("c1", "a", 1, True), ("c1", "b", 2, False),
                                  ("c2", "c", 3, True)]:
        iri = f"http://x/{node}"
        want += [("r", commit, iri, T.RDF_TYPE, "http://x/Thing", False, None),
                 ("r", commit, iri, "http://x/n", str(n), True, T.XSD_INTEGER),
                 ("r", commit, iri, T.RDFS_LABEL, "it's a \\ label", True, None)]
        if flag:
            want.append(("r", commit, iri, "http://x/flagged", iri + "/yes", False, None))
    assert sorted(tuple(r) for r in out.collect()) == sorted(want)


def _family_rows(df):
    """Rows of a parser output as a sorted multiset of JSON strings."""
    import json

    return sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True) for r in df.collect()
    )


@pytest.mark.parametrize("extras", [True, False])
def test_fused_parse_family_views_match_parsers(spark, extras):
    """Each family view of the fused parse equals the pure-Python
    extractor's records, the character documents' followed by the
    linker against the corpus's OWL label index; each single-kind
    parse_*_docs output equals the same with an empty index. Without
    csv / species-json / owl documents those families are empty, the
    label index is empty, and the Arrow-built vocabulary has no rows
    but keeps its schema."""
    import json

    from rdf_generator_spark.operators.linking import link_characters
    from rdf_generator_spark.sources import parsers
    from rdf_generator_spark.sources.corpus import (
        VOCAB_SCHEMA,
        corpus_df,
        label_index_from_owl_rows,
        vocab_df_from_corpus,
    )
    from rdf_generator_spark.sources.synth import synth_corpus_rows

    rows = synth_corpus_rows(n_datasets=2, ntax=4, nchar=4, seed=11)
    if not extras:
        rows = [r for r in rows if r[3] not in ("csv", "species-json", "owl")]
    corpus = corpus_df(spark, rows)
    index = label_index_from_owl_rows(
        [dict(zip(("repo", "path", "commit", "lang", "content"), r))
         for r in rows if r[3] == "owl"])
    assert bool(index) == extras
    fused = parsers.parse_docs(corpus, index)
    single = {
        "json": parsers.parse_char_docs,
        "nexus": parsers.parse_nexus_docs,
        "species-json": parsers.parse_species_docs,
        "csv": parsers.parse_metadata_docs,
    }

    def records(lang, vocab):
        return sorted(
            json.dumps({"repo": r[0], "path": r[1], "commit": r[2], **rec},
                       sort_keys=True)
            for r in rows if r[3] == lang
            for rec in (link_characters(parsers.char_rows_from_json(r[4]), vocab)
                        if lang == "json" else parsers.FAMILIES[lang].extract(r[4]))
        )

    for lang in parsers.FAMILIES:
        view = parsers.family_view(fused, lang)
        got = _family_rows(view)
        assert view.schema == single[lang](corpus).schema, lang
        assert got == records(lang, index), lang
        assert _family_rows(single[lang](corpus)) == records(lang, {}), lang
        if lang not in ("json", "nexus"):
            assert bool(got) == extras, lang
    # the index fills some URI of this corpus
    assert (records("json", index) != records("json", {})) == extras
    vocab = vocab_df_from_corpus(spark, corpus)
    assert vocab.schema == VOCAB_SCHEMA
    assert (vocab.count() > 0) == extras


def _python_rdd_stages(sc, group: str) -> int:
    """Completed stages of the jobs in `group` whose RDD operation graph
    holds a PythonRDD (a scan that spins up Python workers)."""
    app_store = sc._jsc.sc().statusStore()

    def rdd_names(cluster):
        nodes, subs = cluster.childNodes(), cluster.childClusters()
        names = [nodes.apply(i).name() for i in range(nodes.size())]
        for i in range(subs.size()):
            names += rdd_names(subs.apply(i))
        return names

    tracker = sc.statusTracker()
    n = 0
    for job in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(sid)
            if info is None or not info.numCompletedTasks:
                continue  # skipped: its shuffle output was reused
            graph = app_store.operationGraphForStage(sid)
            n += "PythonRDD" in rdd_names(graph.rootCluster())
    return n


def test_build_runs_python_once(spark, tmp_path):
    """Python-stage budget of one materialized build on a file-backed
    corpus: exactly one MapInPandas evaluation (the fused parse hub)
    across the build's SQL executions, and no stage scanning a Python
    RDD (the base scaffold is an Arrow-built local relation)."""
    from rdf_generator_spark.sources.corpus import corpus_parquet_df
    from rdf_generator_spark.sources.synth import synth_corpus_rows

    rows = synth_corpus_rows(n_datasets=2, ntax=4, nchar=4, seed=3)
    corpus = corpus_parquet_df(spark, rows, str(tmp_path / "corpus"))
    sc = spark.sparkContext
    sc.setJobGroup("python-budget", "python-stage budget")
    try:
        n, execs = executions(
            spark, lambda: build_graph(spark, corpus)["triples"].count()
        )
    finally:
        sc._jsc.clearJobGroup()

    assert n > 0
    assert sum(names.count("MapInPandas") for names, _, _ in execs) == 1
    assert _python_rdd_stages(sc, "python-budget") == 0


def test_corpus_staging_runs_no_python_rdd(spark, tmp_path):
    """corpus_parquet_df stages through an Arrow-built local relation:
    its write starts no Python worker."""
    from rdf_generator_spark.sources.corpus import corpus_parquet_df
    from rdf_generator_spark.sources.synth import synth_corpus_rows

    rows = synth_corpus_rows(n_datasets=2, ntax=4, nchar=4, seed=3)
    sc = spark.sparkContext
    sc.setJobGroup("staging-budget", "corpus staging python-stage budget")
    try:
        corpus_parquet_df(spark, rows, str(tmp_path / "corpus"))
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("staging-budget")
    assert _python_rdd_stages(sc, "staging-budget") == 0


@pytest.fixture(scope="module")
def synth_build(spark, tmp_path_factory):
    """(corpus, build_graph result, the SQL executions of `product_path`)
    for a seeded file-backed synth corpus."""
    from rdf_generator_spark.sources.corpus import corpus_parquet_df
    from rdf_generator_spark.sources.synth import synth_corpus_rows

    rows = synth_corpus_rows(n_datasets=2, ntax=4, nchar=4, seed=11)
    tmp = tmp_path_factory.mktemp("synth")
    corpus = corpus_parquet_df(spark, rows, str(tmp / "corpus"))
    res, execs = executions(
        spark, lambda: product_path(spark, corpus, str(tmp / "triples"))
    )
    return corpus, res, execs


def test_build_parses_in_one_task(synth_build):
    """The synth corpus's content is below both per-task budgets, so
    the build's one MapInPandas stage runs one task (one Python worker)
    however many files the corpus spans, and hands its hub on as is."""
    corpus, _, execs = synth_build
    assert len(corpus.inputFiles()) > 1
    parse = [tasks for names, _, tasks in execs if "MapInPandas" in names]
    assert parse == [[1]], parse


@pytest.mark.parametrize("parse_tasks", [1, 2, "scan"])
def test_hub_keeps_scan_parallelism(spark, synth_build, monkeypatch, parse_tasks):
    """With a hub budget of one content byte per task (a corpus with
    cells enough to fill every core), the stages after the parse run as
    many tasks as the scan has partitions whatever the parse's count: a
    1- or 2-task parse deals its records round-robin to the hub, and a
    parse as wide as the scan needs no exchange. The triples equal the
    default build's."""
    from rdf_generator_spark.plans import pipeline as P

    corpus, res, _ = synth_build
    n_scan = corpus._jdf.rdd().getNumPartitions()
    assert n_scan > 2
    total = P._content_bytes(P._input_files(corpus))
    monkeypatch.setattr(P, "_HUB_TASK_BYTES", 1)
    if parse_tasks == "scan":
        monkeypatch.setattr(P, "_PARSE_TASK_BYTES", 1)
        parse_tasks = n_scan
    else:
        monkeypatch.setattr(P, "_PARSE_TASK_BYTES", -(-total // parse_tasks))
    got, execs = executions(spark, lambda: build_graph(spark, corpus))
    parse = [t for names, _, t in execs if "MapInPandas" in names]
    assert len(parse) == 1, parse
    assert (parse[0][0], parse[0][-1]) == (parse_tasks, n_scan), parse
    assert ("Exchange" in [n for names, _, _ in execs if "MapInPandas" in names
                           for n in names]) == (parse_tasks < n_scan)
    a, b = got["triples"], res["triples"]
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_exchange_plan_is_not_run_for_sizing(spark, synth_build, monkeypatch):
    """Under adaptive execution a corpus plan with exchanges (a resumed
    batch is the corpus semi-joined to its pending documents) learns
    its partition count only by running its stages, so build_graph
    keeps that plan's partitioning. The one execution before the parse
    is the dimension collect the parse links against, which reads only
    the owl and yaml rows, and no job before the parse runs the corpus
    plan to size it: the jobs started by the time the parse is planned
    are the collect's own."""
    from rdf_generator_spark.plans import pipeline as P

    corpus, _, _ = synth_build
    keys = corpus.select("repo", "commit").distinct()
    todo = corpus.join(keys, ["repo", "commit"], "left_semi")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def group_jobs(group, run):
        sc.setJobGroup(group, group)
        try:
            return run()
        finally:
            sc._jsc.clearJobGroup()

    group_jobs("collect", lambda: P._dimension_rows(todo))
    n_collect = len(tracker.getJobIdsForGroup("collect"))
    assert n_collect > 0
    planned = []
    parse_docs = P.parsers.parse_docs

    def parse_docs_after_jobs(*args):
        planned.append(len(tracker.getJobIdsForGroup("sizing")))
        return parse_docs(*args)

    monkeypatch.setattr(P.parsers, "parse_docs", parse_docs_after_jobs)
    _, execs = group_jobs("sizing", lambda: executions(
        spark, lambda: build_graph(spark, todo)))
    assert planned == [n_collect]
    first = next(
        i for i, (names, _, _) in enumerate(execs) if "MapInPandas" in names
    )
    assert first == 1, [names for names, _, _ in execs[:first]]
    assert re.search(r"lang#\d+ IN \(owl,yaml\)", execs[0][1]), execs[0][1]


def test_kg_pipeline_python_only_at_parse(spark, synth_build):
    """Over every plan a build executes: no row-at-a-time Python, uuid5
    minting as plain column algebra, and (with AQE off, so the static
    plan is what runs) whole-stage codegen with no interpreted
    fallback."""
    corpus, _, execs = synth_build
    plans = "\n".join(desc for _, desc, _ in execs)
    assert "BatchEvalPython" not in plans
    assert "sha1" in plans
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _, static = executions(spark, lambda: build_graph(spark, corpus))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert any(n.startswith("WholeStageCodegen") for names, _, _ in static for n in names)
    assert not any("InterpretedEval" in desc for _, desc, _ in static)


def test_kg_join_broadcasts_character_dimension(synth_build):
    """The cells ⋈ chars join (over the parsed and charsx hubs, in the
    job that materializes the numbered cells hub) broadcasts the
    character side."""
    _, _, execs = synth_build
    names, _, _ = computing(execs, "cell_n")
    assert "BroadcastHashJoin" in names


def test_kg_join_shuffle_fallback_past_gate(spark, synth_build, monkeypatch):
    """The dimension-broadcast gate controls the broadcast hint. With
    size-based broadcasts off, the hinted char join still broadcasts;
    with the gate tripped (many-document corpus) it carries no hint, so
    the planner falls back to a shuffle join."""
    corpus, _, _ = synth_build

    def cells_join():
        _, execs = executions(spark, lambda: build_graph(spark, corpus))
        names, _, _ = computing(execs, "cell_n")
        return {n for n in names if n.endswith("Join")}

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert cells_join() == {"BroadcastHashJoin"}
        trip_broadcast_gate(monkeypatch)
        assert cells_join() == {"SortMergeJoin"}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_cells_hub_has_no_cell_scale_shuffle(synth_build):
    """The cell counters are closed forms over the taxa ⋈ chars grid:
    the job that materializes the cells hub runs no window and no
    shuffle, only the broadcast of the character table."""
    _, _, execs = synth_build
    names, _, _ = computing(execs, "cell_n")
    assert not [n for n in names if "Window" in n or n == "Exchange"], names
    assert "BroadcastExchange" in names


def test_first_visit_numbering_exchanges(synth_build):
    """The first-visit labels take two shuffles in the job that
    materializes the deduplicated union: the per-entity first-visit
    aggregation on (document, kind, iri) and the one numbering window
    on (document, kind)."""
    _, _, execs = synth_build
    _, desc, _ = computing(execs, "__n")
    final = desc.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    ids = set(re.findall(r"\((\d+)\)", final))
    keys = [
        tuple(re.sub(r"#\d+", "", k) for k in m.split(", ")[:-1])
        for i, m in re.findall(
            r"^\((\d+)\) Exchange\n(?:.+\n)*?Arguments: hashpartitioning\(([^)]*)\)",
            desc, re.M)
        if i in ids
    ]
    kind_keyed = sorted(k for k in keys if "kind" in k)
    assert kind_keyed == [("repo", "commit", "kind"),
                          ("repo", "commit", "kind", "iri")], keys


def test_states_hub_is_one_projection(synth_build):
    """Entity linking and the state counters run inside the parse: the
    job that materializes the states hub is a scan of the characters
    hub and one projection (no window, no exchange), and no execution
    of the build joins a vocabulary relation."""
    _, _, execs = synth_build
    names, _, _ = computing(execs, "sta_iri")
    assert not [n for n in names if "Window" in n or "Exchange" in n], names
    assert not any("norm_label" in desc for _, desc, _ in execs)


def test_final_graph_plan_is_jvm_only(synth_build):
    """Past the hub materialization, the entire graph algebra (dedup,
    prune, label priority, canonicalization inputs) is pure JVM column
    work — no Python stage anywhere in the final plan (run by the final
    hub's job) or in the lazy outputs."""
    _, res, execs = synth_build
    plans = {key: plan_of(res[key]) for key in ["matrix_pruned", "char_combined"]}
    plans["triples"] = computing(execs, "__mo")[1]
    for key, plan in plans.items():
        assert "BatchEvalPython" not in plan, key
        assert "MapInPandas" not in plan, key


def test_anti_join_is_real_antijoin(synth_build):
    """The matrix prune (A5) of the KG build is a real anti-join."""
    _, res, _ = synth_build
    assert "LeftAnti" in plan_of(res["matrix_pruned"])


def test_turtle_blocks_plan_is_one_aggregation(synth_build):
    """The Turtle blocks are classified, ordered and rendered by the
    JVM: no Python evaluation in their plan, and one shuffle (the
    per-node aggregation)."""
    from rdf_generator_spark.sinks.turtle import turtle_blocks

    _, res, _ = synth_build
    plan = plan_of(turtle_blocks(res["triples"]))
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan
    assert plan.count("Exchange") <= 1


# Spark jobs of write_turtle_auto on the golden graph, per layout, with
# the triple count passed in (as run_pipeline.py and kgbench do).
TURTLE_JOB_BUDGET = {"per-document": 3, "shards": 4}


def test_turtle_job_budget(spark, tmp_path):
    """Each Turtle layout is a fixed handful of jobs: the blocks
    aggregation, the partitioning of its result and the file writes."""
    from rdf_generator_spark.sinks.turtle import write_turtle_auto
    from rdf_generator_spark.sources.golden import golden_corpus_df

    triples = build_graph(spark, golden_corpus_df(spark))["triples"]
    n = triples.count()
    sc = spark.sparkContext
    for layout, threshold in [("per-document", n), ("shards", 0)]:
        sc.setJobGroup(f"turtle-{layout}", "Turtle job budget")
        try:
            info = write_turtle_auto(triples, str(tmp_path / layout),
                                     n_triples=n, threshold=threshold)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert info["mode"] == layout
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(f"turtle-{layout}"))
        assert n_jobs <= TURTLE_JOB_BUDGET[layout], (layout, n_jobs)


def test_build_graph_options():
    """build_graph's options are the ones callers set; a new option
    fails here until it has a caller that needs it."""
    assert list(inspect.signature(build_graph).parameters) == [
        "spark", "corpus", "dataset_id", "staging_dir",
    ]


# Every optional parameter of the library, as (function, parameter).
LIBRARY_OPTIONS = [
    ("operators/graph_ops.py::apply_label_priority", "label_subjects_only"),
    ("plans/base_scaffold.py::a", "lit"),
    ("plans/base_scaffold.py::a", "dt"),
    ("plans/emit.py::emit", "doc_cols"),
    ("plans/pipeline.py::build_graph", "dataset_id"),
    ("plans/pipeline.py::build_graph", "staging_dir"),
    ("sinks/turtle.py::write_turtle_auto", "n_triples"),
    ("sinks/turtle.py::write_turtle_auto", "threshold"),
    ("sources/corpus.py::corpus_parquet_df", "path"),
    ("sources/parsers.py::parse_docs", "langs"),
    ("sources/synth.py::synth_corpus_rows", "n_datasets"),
    ("sources/synth.py::synth_corpus_rows", "ntax"),
    ("sources/synth.py::synth_corpus_rows", "nchar"),
    ("sources/synth.py::synth_corpus_rows", "seed"),
    ("sources/synth.py::synth_corpus_rows", "giant_every"),
    ("sources/synth.py::synth_corpus_rows", "giant_scale"),
    ("sources/synth.py::synth_corpus_rows", "giant_shape"),
    ("sources/tableio.py::read_table", "snapshot_id"),
    ("streaming/lineage.py::run_resumable", "dataset_id"),
    ("streaming/lineage.py::run_resumable", "snapshot_id"),
    ("streaming/lineage.py::run_resumable", "triples_table"),
    ("streaming/lineage.py::run_resumable", "lineage_table"),
]


def test_library_options():
    """Every optional parameter (one with a default) of every function
    in the library, nested ones included, is pinned in LIBRARY_OPTIONS.
    A new option fails here until two callers outside the tests need
    different values of it; an option whose callers all pass one value
    becomes a constant instead."""
    pkg = Path(__file__).resolve().parent.parent / "rdf_generator_spark"
    got = []
    for f in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text(encoding="utf-8"))):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            names = [x.arg for x in pos[len(pos) - len(a.defaults):]]
            names += [x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults)
                      if d is not None]
            fn = f"{f.relative_to(pkg).as_posix()}::{node.name}"
            got += [(fn, n) for n in names]
    assert sorted(got) == sorted(LIBRARY_OPTIONS)


def test_library_defs_are_referenced():
    """Every top-level function and class of the library is named
    somewhere in the repository's code (a test-only helper counts), so
    code nothing calls fails here instead of lingering."""
    root = Path(__file__).resolve().parent.parent
    files = [root / "bench.py", root / "__spark_entry__.py"]
    for d in ["rdf_generator_spark", "tests", "scripts", "kgbench"]:
        files += sorted((root / d).rglob("*.py"))
    refs, defs = set(), []
    for f in files:
        tree = ast.parse(f.read_text(encoding="utf-8"))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                refs.update(a.name for a in node.names)
        if f.parts[len(root.parts)] == "rdf_generator_spark":
            defs += [(f.relative_to(root).as_posix(), n.name) for n in tree.body
                     if isinstance(n, (ast.FunctionDef, ast.ClassDef))]
    assert [d for d in defs if d[1] not in refs] == []


# Plan-shape budgets on the synth_build corpus. Each is pinned at the
# value it has now; a change that grows a plan fails here before it
# shows in wall time, and one that shrinks it should lower the budget.
# "Exchange" mentions in the formatted explain of the final adaptive plan
# that materializes the final graph (shuffle, broadcast and reused
# exchanges; each node is named twice there, in the tree and in its
# details).
FINAL_EXCHANGE_BUDGET = 22
# Shuffle and broadcast exchange nodes over the plans `product_path`
# executes (the hub materializations, the final graph among them, the
# contract check, the dimension collect, the write and the count), as
# the SQL status store records them.
BUILD_EXCHANGE_BUDGET = 15
BUILD_BROADCAST_EXCHANGE_BUDGET = 12
# py4j commands Python sends the JVM for `product_path` on the same corpus
# (plan construction, the hub materialization jobs, the write and the
# count), not counting the release commands py4j sends when Python
# garbage-collects a JVM reference: their number follows the
# collector's timing.
BUILD_PY4J_BUDGET = 16161


def test_final_graph_exchange_budget(synth_build):
    """The final graph's plan, in the job that materializes it over the
    other hubs."""
    _, _, execs = synth_build
    _, desc, _ = computing(execs, "__mo")
    tree = desc.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    ids = set(re.findall(r"\((\d+)\)", tree))
    details = re.findall(r"^\((\d+)\) (\w+)", desc, re.M)
    n = tree.count("Exchange") + sum(
        "Exchange" in name for i, name in details if i in ids
    )
    assert n <= FINAL_EXCHANGE_BUDGET, n


def _exchange_counts(execs):
    names = [n for ns, _, _ in execs for n in ns]
    return names.count("Exchange"), names.count("BroadcastExchange")


def test_build_exchange_budget(synth_build):
    """Exchanges over every plan a build and its write and count
    execute."""
    _, _, execs = synth_build
    n, n_bcast = _exchange_counts(execs)
    assert n <= BUILD_EXCHANGE_BUDGET, n
    assert n_bcast <= BUILD_BROADCAST_EXCHANGE_BUDGET, n_bcast


def test_build_py4j_budget(spark, synth_build, tmp_path):
    """py4j commands of one materialized build and its write and count,
    counted by wrapping the gateway client's send_command for the
    duration of the calls."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    corpus, _, _ = synth_build
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    calls = 0

    def send_command(command, *args, **kwargs):
        nonlocal calls
        calls += not command.startswith(MEMORY_COMMAND_NAME)
        return orig(command, *args, **kwargs)

    client.send_command = send_command
    try:
        product_path(spark, corpus, str(tmp_path / "triples"))
    finally:
        client.send_command = orig
    assert calls <= BUILD_PY4J_BUDGET, calls


def test_validate_runs_no_python_rdd(spark, synth_build, tmp_path):
    """validate() on a file-backed triples table runs no stage with a
    PythonRDD: the rule table is an Arrow-built local relation."""
    from pyspark.sql import functions as F

    from rdf_generator_spark.validation.shacl_rules import validate

    _, res, _ = synth_build
    path = str(tmp_path / "triples")
    res["triples"].withColumn("scope", F.lit("final")).write.parquet(path)
    triples = spark.read.parquet(path)
    sc = spark.sparkContext
    sc.setJobGroup("validate-budget", "validation python-stage budget")
    try:
        validate(triples).count()
    finally:
        sc._jsc.clearJobGroup()
    assert _python_rdd_stages(sc, "validate-budget") == 0


def test_expanded_types_edge_free_job_budget(spark):
    """On a scope-tagged table with no rdfs:subClassOf edge (every graph
    the pipeline emits), building the type expansion runs two jobs: the
    edge checkpoint and its count. The closure loop and the join of the
    empty closure start none."""
    from rdf_generator_spark import terms as T
    from rdf_generator_spark.validation.shacl_rules import expanded_types

    triples = spark.createDataFrame(
        [("r", "c", g, "ex:i", T.RDF_TYPE, "ex:A", False, None) for g in "xy"]
        + [("r", "c", "x", "ex:i", T.RDFS_LABEL, "i", True, None)],
        "repo string, commit string, scope string, s string, p string, "
        "o string, lit boolean, dt string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("types-budget", "type expansion job budget")
    try:
        types = expanded_types(triples)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("types-budget")) <= 2
    assert {tuple(r) for r in types.collect()} == {
        ("r", "c", "x", "ex:i", "ex:A"), ("r", "c", "y", "ex:i", "ex:A"),
    }
