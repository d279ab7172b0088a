"""Driver-contract query registry: Spark impls + DuckDB oracle SQL.

Each relational entry maps a SURVEY.md §2 KG operator (or a dedup
operator of ``textops/dedupe.py``) onto the relational testdata (sf*/: region
nation customer supplier part orders lineitem events documents
embeddings). Numeric outputs are integers (cents / scaled) so the
value-hash comparison is immune to float formatting; every computed
column is aliased identically on both sides. ``kg_pipeline_synth`` runs
the KG build itself on a seeded synthetic corpus.
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
# Training-data pipeline operators (documents / embeddings)
# --------------------------------------------------------------------------

def dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keeper"))
    )


def _tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.explode(F.split("text", " ")).alias("tok")).distinct()


def dedup_jaccard_pairs(spark, sf_dir):
    """n-gram (unigram) Jaccard near-dup candidates >= 0.6."""
    toks = _tokens(spark, sf_dir)
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.select(F.col("doc_id").alias("d1"), "tok")
    b = toks.select(F.col("doc_id").alias("d2"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter_cnt"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    return (
        inter.join(s1, "d1").join(s2, "d2")
        .filter(
            F.col("inter_cnt") * 10
            >= 6 * (F.col("sz1") + F.col("sz2") - F.col("inter_cnt"))
        )
        .select("d1", "d2", "inter_cnt")
    )


def minhash_band_pairs(spark, sf_dir):
    """MinHash+LSH candidate pairs: 8 md5 hashes, 2 bands of 4."""
    toks = _tokens(spark, sf_dir)
    hashed = toks.select(
        "doc_id",
        F.explode(F.array(*[F.lit(i) for i in range(8)])).alias("i"),
        "tok",
    ).select(
        "doc_id",
        "i",
        F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("tok"))).alias("h"),
    )
    sigs = hashed.groupBy("doc_id", "i").agg(F.min("h").alias("mh"))
    bands = (
        sigs.withColumn("band", (F.col("i") / 4).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.array_join(F.array_sort(F.collect_list(F.concat_ws("@", F.col("i"), F.col("mh")))), "|")
            ).alias("bh")
        )
    )
    a = bands.select(F.col("doc_id").alias("d1"), "band", "bh")
    b = bands.select(F.col("doc_id").alias("d2"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )


# --------------------------------------------------------------------------
# Engine-native entries (no SQL oracle — rows-only checks)
# --------------------------------------------------------------------------

def k1_uuid5_mint(spark, sf_dir):
    """UUID5 minting in pure SQL (ids.py sha1 algebra) over the 25 fixed
    nation names — seeds known a priori, so the DuckDB oracle is a
    precomputed uuid.uuid5 VALUES table (DuckDB has no sha1)."""
    from rdf_generator_spark.ids import kb_iri

    n = _t(spark, sf_dir, "nation")
    return n.select("n_name", kb_iri("doc", F.col("n_name")).alias("iri"))


def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs with the md5 token-hash variant so the
    full fingerprint + pigeonhole-band algebra has a DuckDB twin (the
    default xxhash64 variant is pytest-covered). The oracle brute-forces
    all pairs; the pigeonhole guarantee (4 bands > 3 flips) makes the
    banded Spark plan exactly equal to the brute-force answer."""
    from rdf_generator_spark.textops.dedupe import simhash, simhash_near_pairs

    d = _t(spark, sf_dir, "documents")
    return simhash_near_pairs(simhash(d, token_hash="md5"), max_hamming=3)


def dedup_embedding_neardup(spark, sf_dir):
    """Embedding near-dup pairs with 20 planted scaled copies
    (vec_id+1000000, vector*1.5 — cosine exactly 1.0). sign(p.v) is
    scale-invariant, so every LSH band matches the planted pairs
    deterministically; the 0.98 threshold is far above any natural pair
    in the synthetic data, making the exact-cosine DuckDB twin a true
    oracle (not a recall coin-flip)."""
    from rdf_generator_spark.textops.dedupe import embedding_neardup_pairs

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    return embedding_neardup_pairs(
        e.unionByName(planted), threshold=0.98
    ).select("d1", "d2")


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
    "dedup_exact": dedup_exact,
    "dedup_jaccard_pairs": dedup_jaccard_pairs,
    "minhash_band_pairs": minhash_band_pairs,
    "k1_uuid5_mint": k1_uuid5_mint,
    "kg_pipeline_synth": kg_pipeline_synth,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_embedding_neardup": dedup_embedding_neardup,
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
    "dedup_exact": """
        SELECT md5(text) AS h, COUNT(*) AS n, MIN(doc_id) AS keeper
        FROM documents GROUP BY md5(text)
    """,
    "dedup_jaccard_pairs": """
        WITH toks AS (
            SELECT DISTINCT doc_id, t.tok
            FROM documents, UNNEST(string_split(text,' ')) AS t(tok)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter_cnt
            FROM toks a JOIN toks b ON a.tok=b.tok AND a.doc_id<b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT d1, d2, inter_cnt
        FROM inter
        JOIN sizes s1 ON s1.doc_id=d1
        JOIN sizes s2 ON s2.doc_id=d2
        WHERE inter_cnt*10 >= 6*(s1.sz + s2.sz - inter_cnt)
    """,
    "minhash_band_pairs": """
        WITH toks AS (
            SELECT DISTINCT doc_id, t.tok
            FROM documents, UNNEST(string_split(text,' ')) AS t(tok)
        ),
        hashed AS (
            SELECT doc_id, i.i, md5(CAST(i.i AS VARCHAR) || ':' || tok) AS h
            FROM toks CROSS JOIN (SELECT UNNEST(range(8)) AS i) i
        ),
        sigs AS (SELECT doc_id, i, MIN(h) AS mh FROM hashed GROUP BY doc_id, i),
        bands AS (
            SELECT doc_id, CAST(i//4 AS INT) AS band,
                   md5(string_agg(CAST(i AS VARCHAR) || '@' || mh, '|'
                                  ORDER BY CAST(i AS VARCHAR) || '@' || mh)) AS bh
            FROM sigs GROUP BY doc_id, CAST(i//4 AS INT)
        )
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b ON a.band=b.band AND a.bh=b.bh
                                  AND a.doc_id<b.doc_id
    """,
    "dedup_embedding_neardup": """
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        planted AS (
            SELECT vec_id + 1000000 AS vec_id,
                   list_transform(embedding,
                                  x -> CAST(CAST(x * 1.5 AS FLOAT) AS DOUBLE))
                     AS v
            FROM embeddings WHERE vec_id < 20
        ),
        allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
        SELECT a.vec_id AS d1, b.vec_id AS d2
        FROM allv a JOIN allv b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))) >= 0.98
    """,
    # simhash md5 mode: per token t, bit b of the fingerprint input is
    # bit (b%4) of hex nibble b//4 of md5(t) — reproduced here verbatim;
    # hamming distance is permutation-invariant so the bit->position
    # mapping only has to agree per (token, b), which it does by
    # construction. Brute-force all pairs (the banded Spark plan is
    # exactly equal by the pigeonhole guarantee: 4 bands > 3 flips).
    "dedup_simhash_pairs": """
        WITH toks AS (
            SELECT DISTINCT doc_id, t.tok
            FROM documents, UNNEST(string_split_regex(text, '\\s+')) AS t(tok)
            WHERE t.tok <> ''
        ),
        bits AS (
            SELECT doc_id, bb.b,
                   SUM(CASE WHEN (((strpos('0123456789abcdef',
                                           substr(md5(tok), CAST(bb.b//4 + 1 AS INT), 1)) - 1)
                                   >> (bb.b % 4)) & 1) = 1
                            THEN 1 ELSE -1 END) AS s
            FROM toks CROSS JOIN (SELECT unnest(range(64)) AS b) bb
            GROUP BY doc_id, bb.b
        ),
        fp AS (
            SELECT doc_id,
                   string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END,
                              '' ORDER BY b) AS f
            FROM bits GROUP BY doc_id
        ),
        pr AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2,
                   len(list_filter(range(64),
                                   i -> a.f[CAST(i+1 AS INT)] <> b.f[CAST(i+1 AS INT)]))
                     AS hamming
            FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        )
        SELECT d1, d2, CAST(hamming AS INT) AS hamming
        FROM pr WHERE hamming <= 3
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


def dedup_near_groups(spark, sf_dir):
    """The canonical corpus-dedup composition end-to-end — MinHash-LSH
    candidates -> exact-Jaccard verify on candidates only -> connected
    components -> keeper per group — against a full DuckDB twin that
    replays every stage (md5 minhash signatures, banded buckets,
    candidate-only verify, recursive-CTE components). Ten planted
    near-copies (doc_id+500000, one appended token) guarantee
    deterministic groups; every stage is deterministic on both engines
    so even LSH recall behavior is twinned exactly."""
    from rdf_generator_spark.textops.dedupe import near_dup_groups

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz_planted_tail")).alias("text"),
    )
    return near_dup_groups(
        d.unionByName(planted), threshold=0.8, shingle_k=3,
        num_hashes=16, bands=4,
    )


ORACLES["dedup_near_groups"] = """
    WITH RECURSIVE d0 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 500000, text || ' zz_planted_tail'
        FROM documents WHERE doc_id < 10
    ),
    tk AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ts FROM d0),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   range(0, greatest(len(ts) - 3, 0) + 1),
                   i -> array_to_string(ts[CAST(i+1 AS INT):CAST(i+3 AS INT)], ' ')))
                 AS tok
        FROM tk WHERE len(ts) >= 3
    ),
    hashed AS (
        SELECT doc_id, i.i, md5(CAST(i.i AS VARCHAR) || ':' || tok) AS h
        FROM sh CROSS JOIN (SELECT unnest(range(16)) AS i) i
    ),
    sigs AS (SELECT doc_id, i, MIN(h) AS mh FROM hashed GROUP BY doc_id, i),
    bands AS (
        SELECT doc_id, CAST(i//4 AS INT) AS band,
               md5(string_agg(CAST(i AS VARCHAR) || '@' || mh, '|'
                              ORDER BY CAST(i AS VARCHAR) || '@' || mh)) AS bh
        FROM sigs GROUP BY doc_id, CAST(i//4 AS INT)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.d1, c.d2, COUNT(*) AS ic
        FROM cand c
        JOIN sh s1 ON s1.doc_id = c.d1
        JOIN sh s2 ON s2.doc_id = c.d2 AND s2.tok = s1.tok
        GROUP BY c.d1, c.d2
    ),
    ver AS (
        SELECT CAST(i.d1 AS VARCHAR) AS a, CAST(i.d2 AS VARCHAR) AS b
        FROM inter i
        JOIN sz z1 ON z1.doc_id = i.d1
        JOIN sz z2 ON z2.doc_id = i.d2
        WHERE i.ic >= CAST(0.8 AS DOUBLE) * (z1.sz + z2.sz - i.ic)
    ),
    sym AS (SELECT a, b FROM ver UNION SELECT b, a FROM ver),
    reach(node, r) AS (
        SELECT a, a FROM sym
        UNION
        SELECT s.a, r.r FROM sym s JOIN reach r ON s.b = r.node
    ),
    mapping AS (SELECT node, MIN(r) AS canon FROM reach GROUP BY node),
    gsz AS (SELECT canon, COUNT(*) AS group_size FROM mapping GROUP BY canon)
    SELECT m.node AS doc_id, m.canon AS keeper, g.group_size
    FROM mapping m JOIN gsz g ON g.canon = m.canon
"""

QUERIES["dedup_near_groups"] = dedup_near_groups


def dedup_incremental(spark, sf_dir):
    """Cross-corpus incremental dedup (the "new crawl vs existing
    training set" step): band signatures per side, candidates ONLY from
    the between-sides (band, bh) equi-join — ref-vs-ref pairs are never
    generated — then exact-Jaccard verify on candidates. New batch =
    ten planted near-copies (doc_id+900000, one appended token; must
    match their source) + ten two-token uniques (below the 3-shingle
    floor; must survive). Integer-only output columns so the DuckDB
    twin is engine-exact."""
    from rdf_generator_spark.textops.dedupe import incremental_dedup_matches

    ref = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = ref.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 900000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz_planted_tail")).alias("text"),
    )
    uniques = ref.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 910000).alias("doc_id"),
        F.concat(F.lit("uniq_"), F.col("doc_id"), F.lit(" zz")).alias("text"),
    )
    return incremental_dedup_matches(
        planted.unionByName(uniques), ref,
        threshold=0.8, shingle_k=3, num_hashes=16, bands=4,
    )


ORACLES["dedup_incremental"] = """
    WITH ref0 AS (SELECT doc_id, text FROM documents),
    new0 AS (
        SELECT doc_id + 900000 AS doc_id, text || ' zz_planted_tail' AS text
        FROM documents WHERE doc_id < 10
        UNION ALL
        SELECT doc_id + 910000, 'uniq_' || CAST(doc_id AS VARCHAR) || ' zz'
        FROM documents WHERE doc_id < 10
    ),
    sh_ref AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   range(0, greatest(len(ts) - 3, 0) + 1),
                   i -> array_to_string(ts[CAST(i+1 AS INT):CAST(i+3 AS INT)], ' ')))
                 AS tok
        FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS ts FROM ref0)
        WHERE len(ts) >= 3
    ),
    sh_new AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   range(0, greatest(len(ts) - 3, 0) + 1),
                   i -> array_to_string(ts[CAST(i+1 AS INT):CAST(i+3 AS INT)], ' ')))
                 AS tok
        FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS ts FROM new0)
        WHERE len(ts) >= 3
    ),
    bands_ref AS (
        SELECT doc_id, CAST(i//4 AS INT) AS band,
               md5(string_agg(CAST(i AS VARCHAR) || '@' || mh, '|'
                              ORDER BY CAST(i AS VARCHAR) || '@' || mh)) AS bh
        FROM (
            SELECT doc_id, i.i AS i,
                   MIN(md5(CAST(i.i AS VARCHAR) || ':' || tok)) AS mh
            FROM sh_ref CROSS JOIN (SELECT unnest(range(16)) AS i) i
            GROUP BY doc_id, i.i
        ) GROUP BY doc_id, CAST(i//4 AS INT)
    ),
    bands_new AS (
        SELECT doc_id, CAST(i//4 AS INT) AS band,
               md5(string_agg(CAST(i AS VARCHAR) || '@' || mh, '|'
                              ORDER BY CAST(i AS VARCHAR) || '@' || mh)) AS bh
        FROM (
            SELECT doc_id, i.i AS i,
                   MIN(md5(CAST(i.i AS VARCHAR) || ':' || tok)) AS mh
            FROM sh_new CROSS JOIN (SELECT unnest(range(16)) AS i) i
            GROUP BY doc_id, i.i
        ) GROUP BY doc_id, CAST(i//4 AS INT)
    ),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
        FROM bands_new n JOIN bands_ref r
          ON n.band = r.band AND n.bh = r.bh
    ),
    zn AS (SELECT doc_id, COUNT(*) AS sz_new FROM sh_new GROUP BY doc_id),
    zr AS (SELECT doc_id, COUNT(*) AS sz_ref FROM sh_ref GROUP BY doc_id),
    inter AS (
        SELECT c.new_id, c.ref_id, COUNT(*) AS inter_cnt
        FROM cand c
        JOIN sh_new sn ON sn.doc_id = c.new_id
        JOIN sh_ref sr ON sr.doc_id = c.ref_id AND sr.tok = sn.tok
        GROUP BY c.new_id, c.ref_id
    )
    SELECT i.new_id, i.ref_id, i.inter_cnt, zn.sz_new, zr.sz_ref
    FROM inter i
    JOIN zn ON zn.doc_id = i.new_id
    JOIN zr ON zr.doc_id = i.ref_id
    WHERE i.inter_cnt
          >= CAST(0.8 AS DOUBLE) * (zn.sz_new + zr.sz_ref - i.inter_cnt)
"""

QUERIES["dedup_incremental"] = dedup_incremental


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


def j1_fuzzy_fill(spark, sf_dir):
    """J1 similarity tier, driver-visible (the north-star generalization
    of the reference's exact-match-only vocabulary fill,
    main.py:296-343; operators/linking.py::fuzzy_match_labels):
    character-3-gram Dice matching of perturbed mention labels (each
    nation name + a trailing 'x') against the nation-name vocabulary.
    The exact tier stays first in the pipeline (reference parity); this
    entry exercises the similarity tier itself against a full DuckDB
    twin of the n-gram/Dice algebra. Score ships as x1e4 integer via
    floor(round(score,4)*1e4 + 0.5) so the value hash is float-free."""
    from rdf_generator_spark.operators.linking import fuzzy_match_labels

    n = _t(spark, sf_dir, "nation")
    mentions = n.select(F.concat(F.col("n_name"), F.lit("x")).alias("label"))
    vocab = n.select(
        F.lower(F.col("n_name")).alias("norm_label"),
        F.concat(F.lit("uri:"), F.col("n_name")).alias("uri"),
    )
    fz = fuzzy_match_labels(mentions, vocab, threshold=0.7)
    return fz.select(
        "label", "uri",
        F.floor(F.col("score") * 10000 + F.lit(0.5)).cast("bigint")
        .alias("score_x1e4"),
    )


# Full algebra twin: same padding, 3-gram windows, distinct gram sets,
# Dice = 2*overlap/(n_m+n_v) (double division on both engines), same
# >=0.7 filter on the raw score, same (score DESC, uri) best-match
# window, and the same round(.,4) -> floor(x*1e4+0.5) integerization.
ORACLES["j1_fuzzy_fill"] = """
    WITH m AS (
        SELECT DISTINCT n_name || 'x' AS label,
               ' ' || lower(n_name || 'x') || ' ' AS padded
        FROM nation
    ),
    mg0 AS (
        SELECT label,
               list_distinct(list_transform(
                   range(1, GREATEST(length(padded) - 2, 1) + 1),
                   i -> substr(padded, CAST(i AS INT), 3))) AS gs
        FROM m
    ),
    mg AS (SELECT label, unnest(gs) AS g, len(gs) AS n_m FROM mg0),
    v AS (
        SELECT lower(n_name) AS v_label, 'uri:' || n_name AS uri,
               ' ' || lower(n_name) || ' ' AS padded
        FROM nation
    ),
    vg0 AS (
        SELECT v_label, uri,
               list_distinct(list_transform(
                   range(1, GREATEST(length(padded) - 2, 1) + 1),
                   i -> substr(padded, CAST(i AS INT), 3))) AS gs
        FROM v
    ),
    vg AS (SELECT v_label, uri, unnest(gs) AS g, len(gs) AS n_v FROM vg0),
    scored AS (
        SELECT label, v_label, uri, n_m, n_v, COUNT(*) AS overlap,
               2 * COUNT(*) / (n_m + n_v) AS score
        FROM mg JOIN vg USING (g)
        GROUP BY label, v_label, uri, n_m, n_v
    ),
    best AS (
        SELECT label, uri, score,
               ROW_NUMBER() OVER (PARTITION BY label
                                  ORDER BY score DESC, uri) AS rn
        FROM scored WHERE score >= 0.7
    )
    SELECT label, uri,
           CAST(FLOOR(ROUND(score, 4) * 10000 + 0.5) AS BIGINT) AS score_x1e4
    FROM best WHERE rn = 1
"""

QUERIES["j1_fuzzy_fill"] = j1_fuzzy_fill
