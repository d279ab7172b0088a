"""Driver-contract query registry: Spark impls + DuckDB oracle SQL.

Each relational entry maps a SURVEY.md §2 KG operator onto the
relational testdata (sf*/: region nation customer supplier part orders
lineitem events documents). Numeric outputs are integers (cents /
scaled) so the value-hash comparison is immune to float formatting;
every computed column is aliased identically on both sides.
``kg_pipeline_synth`` runs the KG build itself on a seeded synthetic
corpus.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


_PKG_ZIP_SENT = False


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the package to executors (PYTHONPATH-independent), once."""
    global _PKG_ZIP_SENT
    if _PKG_ZIP_SENT:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(tempfile.gettempdir(), "rdf_generator_spark_pkg")
    zip_path = shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir),
                                   os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)
    _PKG_ZIP_SENT = True


# --------------------------------------------------------------------------
# Suite consolidation helpers (driver-window budget): a suite entry
# UNION ALLs its member queries, stringifying each member row as
# (op, out) on BOTH engines. Column values are '|'-joined with a '\N'
# null sentinel; to keep column boundaries unambiguous (a value
# containing '|' or a literal '\N' must not shift fields or collide
# with NULL), every value is escaped first: '\' -> '\\', then
# '|' -> '\|'. Escaped data can never produce a bare '\N' (its
# backslash doubles), so the sentinel stays unambiguous too.
# --------------------------------------------------------------------------

def _suite_esc_col(c):
    e = F.replace(c.cast("string"), F.lit("\\"), F.lit("\\\\"))
    e = F.replace(e, F.lit("|"), F.lit("\\|"))
    return F.coalesce(e, F.lit("\\N"))


def _suite_esc_sql(expr: str) -> str:
    return (
        "COALESCE(replace(replace(CAST(" + expr + " AS VARCHAR), "
        "'\\', '\\\\'), '|', '\\|'), '\\N')"
    )


def make_suite_query(specs):
    """specs: [(member_fn, [out_col, ...]), ...] -> one suite callable."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = None
        for fn, cols in specs:
            d = fn(spark, sf_dir).select(
                F.lit(fn.__name__).alias("op"),
                F.concat_ws(
                    "|", *[_suite_esc_col(F.col(c)) for c in cols]
                ).alias("out"),
            )
            out = d if out is None else out.unionByName(d)
        return out

    return q


def make_suite_oracle(specs, oracles) -> str:
    parts = []
    for fn, cols in specs:
        inner = oracles[fn.__name__]
        cc = " || '|' || ".join(_suite_esc_sql(c) for c in cols)
        parts.append(
            f"SELECT '{fn.__name__}' AS op, {cc} AS out "
            f"FROM ({inner}) AS sub_{fn.__name__}"
        )
    return "\nUNION ALL\n".join(parts)


# --------------------------------------------------------------------------
# KG-operator analogues over the relational testdata
# --------------------------------------------------------------------------

def j1_broadcast_fill(spark, sf_dir):
    """J1 entity linking: broadcast dimension join filling 'missing' values."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    out = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    return out.select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "BUILDING", F.col("n_name"))
        .otherwise(F.col("c_mktsegment"))
        .alias("filled_label"),
    )


def j2_first_wins_index(spark, sf_dir):
    """J2 first-wins label index via row_number window."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("props").alias("first_props"))
    )


def j3_dual_key_match(spark, sf_dir):
    """J3 dual-key species match: first record matching either key.

    Spark side uses a union of two equi-joins (shuffle-friendly) instead
    of an OR-join; results are identical."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    m1 = c.join(s, c.c_custkey == s.s_suppkey).select("c_custkey", "s_suppkey")
    m2 = c.join(s, c.c_nationkey == s.s_nationkey).select("c_custkey", "s_suppkey")
    return (
        m1.unionByName(m2)
        .groupBy("c_custkey")
        .agg(F.min("s_suppkey").alias("matched_supp"))
    )


def j5_symbol_state_join(spark, sf_dir):
    """J5 cell-symbol -> state join with invalid-symbol filtering.

    The symbol extraction is ONE fused expression: the old
    filter(rlike) + cast shape evaluated get_json_object three times
    per row once the filter was pushed below the projection (rlike,
    the inferred null-check, and the cast). The anchored
    regexp_extract returns '' (-> try_cast NULL) for non-^\\d+$
    symbols, and the inner equi-join drops NULL keys, so the kept-row
    set is identical to the explicit rlike filter."""
    e = _t(spark, sf_dir, "events")
    s = _t(spark, sf_dir, "supplier")
    idx = F.regexp_extract(
        F.get_json_object("props", "$.k"), r"^(\d+)$", 1
    ).try_cast("int")
    return (
        e.select(idx.alias("idx"), "value")
        .join(s, F.col("idx") == s.s_suppkey)
        .groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("v_cents"),
        )
    )


def a1_first_label_wins(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", F.col("o_orderkey").alias("first_orderkey"))
    )


def a2_sequential_counters(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.concat(F.lit("order:id-"), F.row_number().over(w)).alias("seq_label"),
    )


def a3_set_dedup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_returnflag", "l_linestatus", F.col("l_quantity").cast("int").alias("qty")
    ).distinct()


def a5_prune_anti_join(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    # distinct before the anti-join's build side (round 6, guide §3.1):
    # anti-join semantics only test key membership, and the planner was
    # broadcasting the RAW fact-table key column — 10x the rows (and at
    # scale, a fact-sized broadcast). The distinct partially aggregates
    # map-side, so the exchange and the broadcast carry unique keys
    # only. Same result set; 0.73 -> 0.59 s on a 10x lineitem replica.
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p_partkey"))
        .distinct()
    )
    return p.join(li, "p_partkey", "left_anti").select("p_partkey")


def j6_label_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    out = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    return out.select(
        "c_custkey",
        F.coalesce(
            F.when(F.col("n_regionkey") < 2, F.col("n_name")), F.col("c_name")
        ).alias("label"),
    )


def f2_variant_fanout(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    variants = F.when(
        F.col("o_orderstatus") == "O", F.array(F.lit("female"), F.lit("male"))
    ).otherwise(F.array(F.lit("base")))
    return o.select("o_orderkey", F.explode(variants).alias("variant"))


def f3_statement_typing(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cls = (
        F.when(F.col("o_orderpriority").startswith("1"), "urgent-class")
        .when(F.col("o_orderpriority").startswith("2"), "high-class")
        .otherwise("normal-class")
    )
    return o.groupBy(cls.alias("stmt_class")).agg(F.count(F.lit(1)).alias("n"))


def k2_metadata_salt(spark, sf_dir):
    """K2 dataset-salt fingerprint: sha256 over sorted normalized texts."""
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return (
        d.groupBy("source")
        .agg(
            F.substring(
                F.sha2(F.array_join(F.array_sort(F.collect_list(norm)), "||"), 256),
                1, 16,
            ).alias("salt")
        )
    )


def v1_cardinality_rule(spark, sf_dir):
    """V1 SHACL-style min/max cardinality as groupBy + filter."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    counts = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("actual"))
    )
    return counts.filter((F.col("actual") < 1) | (F.col("actual") > 40))


def a4_distinct_rollup(spark, sf_dir):
    """Exact distinct-count rollup (A4-style stats): suppliers and parts
    per nation across lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count_distinct("l_suppkey").alias("n_suppliers"),
            F.count_distinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def o3_bucket_route(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    bucket = F.split(F.col("p_type"), " ")[0]
    return (
        p.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.round(F.col("p_retailprice") * 100).cast("bigint")).alias(
                "min_price_cents"
            ),
        )
    )


# --------------------------------------------------------------------------
# Engine-native entries (oracles computed in Python: VALUES tables below)
# --------------------------------------------------------------------------

def k1_uuid5_mint(spark, sf_dir):
    """UUID5 minting in pure SQL (ids.py sha1 algebra) over the 25 fixed
    nation names — seeds known a priori, so the DuckDB oracle is a
    precomputed uuid.uuid5 VALUES table (DuckDB has no sha1)."""
    from rdf_generator_spark.ids import kb_iri

    n = _t(spark, sf_dir, "nation")
    return n.select("n_name", kb_iri("doc", F.col("n_name")).alias("iri"))


def kg_pipeline_synth(spark, sf_dir):
    """Full KG pipeline on a small deterministic synthetic corpus."""
    from rdf_generator_spark.plans.pipeline import build_graph
    from rdf_generator_spark.sources.corpus import corpus_df
    from rdf_generator_spark.sources.synth import synth_corpus_rows

    ensure_workers_can_import(spark)
    corpus = corpus_df(spark, synth_corpus_rows(n_datasets=2, ntax=6, nchar=6, seed=11))
    res = build_graph(spark, corpus)
    return (
        res["triples"]
        .groupBy("repo")
        .agg(F.count(F.lit(1)).alias("n_triples"))
        .orderBy("repo")
    )


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "j1_broadcast_fill": j1_broadcast_fill,
    "j2_first_wins_index": j2_first_wins_index,
    "j3_dual_key_match": j3_dual_key_match,
    "j5_symbol_state_join": j5_symbol_state_join,
    "a1_first_label_wins": a1_first_label_wins,
    "a2_sequential_counters": a2_sequential_counters,
    "a3_set_dedup": a3_set_dedup,
    "a5_prune_anti_join": a5_prune_anti_join,
    "j6_label_priority": j6_label_priority,
    "f2_variant_fanout": f2_variant_fanout,
    "f3_statement_typing": f3_statement_typing,
    "k2_metadata_salt": k2_metadata_salt,
    "v1_cardinality_rule": v1_cardinality_rule,
    "a4_distinct_rollup": a4_distinct_rollup,
    "o3_bucket_route": o3_bucket_route,
    "k1_uuid5_mint": k1_uuid5_mint,
    "kg_pipeline_synth": kg_pipeline_synth,
}

ORACLES: Dict[str, str] = {
    "j1_broadcast_fill": """
        SELECT c_custkey,
               CASE WHEN c_mktsegment='BUILDING' THEN n_name ELSE c_mktsegment END
                 AS filled_label
        FROM customer JOIN nation ON c_nationkey=n_nationkey
    """,
    "j2_first_wins_index": """
        SELECT user_id, event_type, props AS first_props
        FROM events
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) = 1
    """,
    "j3_dual_key_match": """
        SELECT c_custkey, MIN(s_suppkey) AS matched_supp
        FROM customer JOIN supplier
          ON (s_suppkey=c_custkey OR s_nationkey=c_nationkey)
        GROUP BY c_custkey
    """,
    "j5_symbol_state_join": """
        WITH e AS (SELECT json_extract_string(props,'$.k') AS sym, value FROM events)
        SELECT s_suppkey, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS v_cents
        FROM e JOIN supplier ON TRY_CAST(sym AS INT)=s_suppkey
        WHERE regexp_matches(sym,'^\\d+$')
        GROUP BY s_suppkey
    """,
    "a1_first_label_wins": """
        SELECT o_custkey, o_orderkey AS first_orderkey
        FROM orders
        QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) = 1
    """,
    "a2_sequential_counters": """
        SELECT o_orderkey,
               'order:id-' || ROW_NUMBER() OVER (PARTITION BY o_custkey
                                                 ORDER BY o_orderdate, o_orderkey)
                 AS seq_label
        FROM orders
    """,
    "a3_set_dedup": """
        SELECT DISTINCT l_returnflag, l_linestatus, CAST(l_quantity AS INT) AS qty
        FROM lineitem
    """,
    "a5_prune_anti_join": """
        SELECT p_partkey FROM part
        WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey=p_partkey)
    """,
    "j6_label_priority": """
        SELECT c_custkey,
               COALESCE(CASE WHEN n_regionkey<2 THEN n_name END, c_name) AS label
        FROM customer JOIN nation ON c_nationkey=n_nationkey
    """,
    "f2_variant_fanout": """
        SELECT o_orderkey, 'female' AS variant FROM orders WHERE o_orderstatus='O'
        UNION ALL
        SELECT o_orderkey, 'male' AS variant FROM orders WHERE o_orderstatus='O'
        UNION ALL
        SELECT o_orderkey, 'base' AS variant FROM orders WHERE o_orderstatus<>'O'
    """,
    "f3_statement_typing": """
        SELECT CASE WHEN o_orderpriority LIKE '1%' THEN 'urgent-class'
                    WHEN o_orderpriority LIKE '2%' THEN 'high-class'
                    ELSE 'normal-class' END AS stmt_class,
               COUNT(*) AS n
        FROM orders GROUP BY 1
    """,
    "k2_metadata_salt": """
        SELECT source,
               SUBSTRING(sha256(string_agg(
                   regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                   '||' ORDER BY regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')
               )), 1, 16) AS salt
        FROM documents GROUP BY source
    """,
    "v1_cardinality_rule": """
        SELECT c_custkey, COUNT(o_orderkey) AS actual
        FROM customer LEFT JOIN orders ON o_custkey=c_custkey
        GROUP BY c_custkey
        HAVING COUNT(o_orderkey) < 1 OR COUNT(o_orderkey) > 40
    """,
    "a4_distinct_rollup": """
        SELECT n_name,
               COUNT(DISTINCT l_suppkey) AS n_suppliers,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN supplier ON l_suppkey=s_suppkey
        JOIN nation ON s_nationkey=n_nationkey
        GROUP BY n_name
    """,
    "o3_bucket_route": """
        SELECT string_split(p_type,' ')[1] AS bucket, COUNT(*) AS n,
               MIN(CAST(ROUND(p_retailprice*100) AS BIGINT)) AS min_price_cents
        FROM part GROUP BY 1
    """,
}

# UUID5 seeds are known a priori (the 25 fixed nation names), so the k1
# oracle is a VALUES table of uuid.uuid5 ground truth computed by the
# CPython stdlib — DuckDB has no sha1, but it doesn't need one.
from rdf_generator_spark.ids import uuid5_kb as _uuid5_kb  # noqa: E402

_K1_SEEDS = [f"NATION_{i}" for i in range(25)]
ORACLES["k1_uuid5_mint"] = (
    "SELECT n_name, iri FROM (VALUES "
    + ", ".join(f"('{s}', '{_uuid5_kb('doc', s)}')" for s in _K1_SEEDS)
    + ") AS t(n_name, iri)"
)

# Per-repo triple counts of the synthetic KG corpus, pinned from a verified
# run; golden-equality tests derive them independently.
_KG_SYNTH_PINNED = [("synth/dataset-0000", 2182), ("synth/dataset-0001", 2123)]
ORACLES["kg_pipeline_synth"] = (
    "SELECT repo, n_triples FROM (VALUES "
    + ", ".join(f"('{r}', {n})" for r, n in _KG_SYNTH_PINNED)
    + ") AS t(repo, n_triples)"
)


# --------------------------------------------------------------------------
# Canonical-vs-extra split (VERDICT r2 item 1): the driver checks only the
# first 50 entries of the merged queries() dict, so the canonical registry
# must stay <= 50 with every SURVEY §2 operator inside the window. Entries
# whose §2 coverage duplicates a canonical KG-native entry move to the
# EXTRA registry: still run against their DuckDB oracles by pytest
# (tests/test_queries_oracle.py iterates canonical + extra), invisible to
# the driver.
# --------------------------------------------------------------------------

QUERIES_EXTRA: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES_EXTRA: Dict[str, str] = {}
for _retired in [
    "f2_variant_fanout",       # F2 canonical: kg_family_digests (f2_phe_statements)
    "f3_statement_typing",     # F3 canonical: kg_family_digests (f3_statement_types_kg)
    "a2_sequential_counters",  # A2 canonical: kg_family_digests (a2_counter_labels_kg)
]:
    QUERIES_EXTRA[_retired] = QUERIES.pop(_retired)
    ORACLES_EXTRA[_retired] = ORACLES.pop(_retired)
