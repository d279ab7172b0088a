"""Corpus table helpers + ontology vocabulary loading.

The engine's only large input is the corpus table
``(repo, path, commit, lang, content)`` (Iceberg at scale; any DataFrame
source here). Ontologies are tiny dimension inputs: parsed driver-side
into a label index (normalized label -> URI) that the fused parse links
each character document against (SURVEY.md §2 J1).
"""

from __future__ import annotations

import hashlib
import re
from typing import Dict, Iterable, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from rdf_generator_spark.normalize import py_norm_term_label

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)

VOCAB_SCHEMA = T.StructType(
    [
        T.StructField("norm_label", T.StringType()),
        T.StructField("uri", T.StringType()),
    ]
)

# File-extension -> corpus lang discriminator (FIXTURES.md §1)
EXT_LANG = {
    ".json": "json",
    ".nex": "nexus",
    ".nexus": "nexus",
    ".csv": "csv",
    ".owl": "owl",
    ".yaml": "yaml",
    ".ttl": "ttl",
}


def content_commit(contents: Iterable[str]) -> str:
    """Deterministic 40-hex pseudo-commit for synthesized corpora."""
    h = hashlib.sha1()
    for c in contents:
        h.update(c.encode("utf-8"))
    return h.hexdigest()


def corpus_df(spark: SparkSession, rows: List[tuple]) -> DataFrame:
    """In-memory corpus (tests/bench; real corpora come from
    tableio.read_table): an Arrow-built local relation (`local_df`), so
    scanning it starts no Python worker."""
    return local_df(spark, rows, CORPUS_SCHEMA)


def corpus_parquet_df(
    spark: SparkSession, rows: List[tuple], path: Optional[str] = None
) -> DataFrame:
    """Stage an in-memory corpus to parquet once and read it back — the
    file-backed shape real corpora have (tableio parquet/Iceberg refs).

    A file-backed corpus exposes its file list and parquet footers, which
    `build_graph` reads (no job) to gate the dimension broadcasts and to
    size the parse and its hub, and its path/lang-only subtrees
    become pruned columnar scans that never read `content`. The staging
    write is a JVM job over `corpus_df`'s local relation. Use for
    benchmarks and any multi-action workload; plain `corpus_df` remains
    for one-shot tests."""
    import os
    import tempfile

    if path is None:
        path = os.path.join(tempfile.mkdtemp(prefix="rdfgen_corpus_"), "corpus")
    corpus_df(spark, rows).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# OWL label index (SRC6). rdflib-free: the ontologies are RDF/XML with
# rdf:about + rdfs:label elements; '#x' / 'x' abouts resolve against
# xml:base per RDF/XML semantics, matching what rdflib produces for
# pmck.owl (main.py:277-293).
# ---------------------------------------------------------------------------

_ABOUT_BLOCK = re.compile(
    r"rdf:about=\"([^\"]+)\"(.*?)(?=rdf:about=\"|\Z)", re.DOTALL
)
_LABEL = re.compile(r"<rdfs:label[^>]*>(.*?)</rdfs:label>", re.DOTALL)
_XML_BASE = re.compile(r"xml:base=\"([^\"]+)\"")


def _unescape(s: str) -> str:
    return (
        s.replace("&lt;", "<")
        .replace("&gt;", ">")
        .replace("&quot;", '"')
        .replace("&apos;", "'")
        .replace("&amp;", "&")
    )


def parse_owl_labels(content: str) -> List[Tuple[str, str]]:
    """(subject_uri, raw_label) pairs in document order."""
    base_m = _XML_BASE.search(content)
    base = base_m.group(1) if base_m else ""
    out: List[Tuple[str, str]] = []
    for m in _ABOUT_BLOCK.finditer(content):
        about, block = m.group(1), m.group(2)
        if about.startswith("#"):
            subject = base + about
        elif "://" in about:
            subject = about
        else:
            subject = base + "#" + about if about else base
        for lm in _LABEL.finditer(block):
            out.append((subject, _unescape(lm.group(1))))
    return out


def build_label_index(content: str) -> Dict[str, str]:
    """normalized label -> URI, first-wins (main.py:277-293)."""
    index: Dict[str, str] = {}
    for subject, label in parse_owl_labels(content):
        key = py_norm_term_label(label)
        if key and key not in index:
            index[key] = subject
    return index


def label_index_from_owl_rows(rows) -> Dict[str, str]:
    """The label index of collected lang='owl' rows: entries first-wins
    across documents in (repo, path, commit) order, so the winner does
    not depend on collect order."""
    index: Dict[str, str] = {}
    for r in sorted(rows, key=lambda r: (r["repo"], r["path"], r["commit"])):
        for k, v in build_label_index(r["content"]).items():
            index.setdefault(k, v)
    return index


def vocab_df_from_corpus(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """Collect lang='owl' rows (tiny dimension docs) and build the vocab
    table."""
    rows = corpus.filter(corpus.lang == "owl").select(
        "repo", "path", "commit", "content"
    )
    index = label_index_from_owl_rows(rows.collect())
    return local_df(spark, sorted(index.items()), VOCAB_SCHEMA)


def local_df(
    spark: SparkSession, rows: List[tuple], schema: T.StructType
) -> DataFrame:
    """A small in-memory table (vocabulary, scaffold) as a DataFrame.

    Built from a ``pyarrow.Table``, which Spark converts in the JVM into
    a local relation; ``createDataFrame`` on a Python list would instead
    plan a Python RDD that spins up Python workers on every scan."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
    )


# ---------------------------------------------------------------------------
# Multi-matrix repositories (input-contract helper). The KG pipeline
# groups documents by (repo, commit) and requires ONE character-JSON and
# ONE NEXUS file per group (the reference's config points at exactly one
# of each — configs/config.yaml:1-19); two JSONs in one group would make
# character order, and thus the matrix column mapping, ambiguous.
# ---------------------------------------------------------------------------

def _stem(path_col):
    """Basename minus extension: 'a/b/minimal.json' -> 'minimal'."""
    from pyspark.sql import functions as F

    base = F.element_at(F.split(path_col, "/"), -1)
    return F.regexp_replace(base, r"\.[^.]*$", "")


def multi_matrix_groups(corpus: DataFrame):
    """(repo, commit, n_json) rows for groups violating the one-JSON
    contract. Scans only lang='json' rows (key columns only)."""
    from pyspark.sql import functions as F

    return (
        corpus.filter(F.col("lang") == "json")
        .groupBy("repo", "commit")
        .agg(F.count(F.lit(1)).alias("n_json"))
        .filter(F.col("n_json") > 1)
    )


def shard_multi_matrix_groups(corpus: DataFrame) -> DataFrame:
    """Rewrite multi-matrix groups into one group per matrix.

    Character-JSON and NEXUS files pair by path stem
    ('wings.json' <-> 'wings.nex'); each pair becomes its own group with
    ``repo || '::' || stem`` as the repo key, and the group's shared
    dimension files (species JSON, metadata CSV, ontologies, config) are
    duplicated into every shard. Groups already satisfying the contract
    pass through untouched. Raises ValueError when the stems don't pair
    (ambiguous column mapping — no safe automatic choice).

    Scale shape: two key-only aggregates over the (comparatively tiny)
    json/nexus subset plus one join per row family — no full-content
    shuffle; shared-file duplication is a stems-per-group fan-out join.
    """
    from pyspark.sql import functions as F

    multi = multi_matrix_groups(corpus).select("repo", "commit")
    single = corpus.join(multi, ["repo", "commit"], "left_anti")
    affected = corpus.join(multi, ["repo", "commit"], "left_semi")

    paired = affected.filter(F.col("lang").isin("json", "nexus")).withColumn(
        "__stem", _stem(F.col("path"))
    )
    # pairing must be 1:1 per stem: exactly one json and one nexus
    bad = (
        paired.groupBy("repo", "commit", "__stem")
        .agg(
            F.sum(F.when(F.col("lang") == "json", 1).otherwise(0)).alias("nj"),
            F.sum(F.when(F.col("lang") == "nexus", 1).otherwise(0)).alias("nn"),
        )
        .filter((F.col("nj") != 1) | (F.col("nn") != 1))
        .limit(10)
        .collect()
    )
    if bad:
        groups = ", ".join(f"{r['repo']}@{r['commit'][:8]}:{r['__stem']}"
                           for r in bad)
        raise ValueError(
            "cannot shard multi-matrix groups: json/nexus files do not "
            f"pair 1:1 by path stem for: {groups}. Rename the files so "
            "each matrix's JSON and NEXUS share a stem, or split the "
            "repository into one (repo, commit) group per matrix."
        )

    stems = paired.select("repo", "commit", "__stem").distinct()
    shared = affected.filter(~F.col("lang").isin("json", "nexus")).join(
        stems, ["repo", "commit"]
    )
    sharded = paired.unionByName(shared).select(
        F.concat_ws("::", "repo", "__stem").alias("repo"),
        "path", "commit", "lang", "content",
    )
    return single.unionByName(sharded)
