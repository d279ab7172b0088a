"""Entity linking: ontology-label URI fill (J1) and negation resolution (J2).

The reference does O(1) dict lookups against a label index
(/root/reference/rdf_generator/main.py:296-343, 566-572, 1018-1021).
Spark-first equivalent: the vocabulary is a broadcast dimension table and
every lookup is a broadcast hash join — no shuffle on the fact side except
the array-reassembly groupBy, which runs on the (small) characters table,
never on the cells fan-out.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_generator_spark.normalize import norm_term_label, strip_col

DOC_KEYS = ("repo", "commit")


def missing_uri(c: Column) -> Column:
    """Fill condition (main.py:313-314): null, blank, or the string 'null'."""
    s = F.lower(strip_col(c))
    return c.isNull() | (s == "") | (s == "null")


def fill_scalar_uri(
    df: DataFrame, label_col: str, uri_col: str, vocab: DataFrame, enabled: Column = None
) -> DataFrame:
    """Broadcast-left-join fill of one (label, uri) slot."""
    v = F.broadcast(vocab.withColumnRenamed("uri", "__resolved"))
    cond = missing_uri(F.col(uri_col)) & (norm_term_label(F.col(label_col)) != "")
    if enabled is not None:
        cond = cond & enabled
    out = df.join(v, cond & (norm_term_label(F.col(label_col)) == v.norm_label), "left")
    return out.withColumn(
        uri_col,
        F.when(cond & F.col("__resolved").isNotNull(), F.col("__resolved")).otherwise(
            F.col(uri_col)
        ),
    ).drop("norm_label", "__resolved")


def fill_both_arrays_uris(
    df: DataFrame, vocab: DataFrame, id_cols: Sequence[str]
) -> DataFrame:
    """Fused fill of the `locators` and `states` array slots (round 6).

    A fill per array column costs one explode + one groupBy exchange +
    one join-back each; tagging both arrays' elements with a kind and
    exploding them TOGETHER halves that machinery (one explode pass, one
    vocabulary join, one re-assembly aggregation, one join-back) while
    producing byte-identical arrays: positions are assigned within the
    concatenated (locators ++ states) array, so per-kind sort order
    equals the original element order. Neither array is ever NULL (the
    parser emits ``[]`` for a missing or null list), so the concat is
    never NULL either."""
    keys = list(id_cols)
    loc_tagged = F.transform(
        F.col("locators"),
        lambda l: F.struct(
            F.lit("L").alias("kind"), l["label"].alias("label"),
            l["uri"].alias("uri"), F.lit(None).cast("string").alias("token"),
        ),
    )
    st_tagged = F.transform(
        F.col("states"),
        lambda s: F.struct(
            F.lit("S").alias("kind"), s["label"].alias("label"),
            s["uri"].alias("uri"), s["token"].alias("token"),
        ),
    )
    ex = df.select(
        *keys, F.posexplode_outer(F.concat(loc_tagged, st_tagged)).alias("__pos", "__item")
    )
    item = F.col("__item")
    cond = missing_uri(item["uri"]) & (norm_term_label(item["label"]) != "")
    v = F.broadcast(vocab.withColumnRenamed("uri", "__resolved"))
    ex = ex.join(v, cond & (norm_term_label(item["label"]) == v.norm_label), "left")
    filled_uri = (
        F.when(cond & F.col("__resolved").isNotNull(), F.col("__resolved"))
        .otherwise(item["uri"])
    )
    packed = lambda want, inner: F.when(  # noqa: E731
        F.col("__pos").isNotNull() & (item["kind"] == want),
        F.struct(F.col("__pos").alias("p"), inner.alias("i")),
    )
    loc_inner = F.struct(item["label"].alias("label"), filled_uri.alias("uri"))
    st_inner = F.struct(item["label"].alias("label"), filled_uri.alias("uri"),
                        item["token"].alias("token"))
    regrouped = (
        ex.groupBy(*keys)
        .agg(
            F.sort_array(F.collect_list(packed("L", loc_inner))).alias("__pl"),
            F.sort_array(F.collect_list(packed("S", st_inner))).alias("__ps"),
        )
        .withColumn("locators", F.expr("transform(__pl, x -> x.i)"))
        .withColumn("states", F.expr("transform(__ps, x -> x.i)"))
        .drop("__pl", "__ps")
    )
    return df.drop("locators", "states").join(regrouped, keys, "left")


def fill_character_uris(chars: DataFrame, vocab: DataFrame) -> DataFrame:
    """apply_pmck_uri_fallbacks (main.py:296-343) over the parsed shape:
    Organism / Locators / Variable / States slots, exact-match tier only
    (the reference's label-index lookup)."""
    keys = [*DOC_KEYS, "path", "char_pos"]
    # The array fill first: its join-back reads its input in two
    # branches, so scalar fills beneath it would run twice. The fills
    # touch disjoint columns (locators/states vs org_uri and var_uri),
    # so they commute.
    out = fill_both_arrays_uris(chars, vocab, keys)
    out = fill_scalar_uri(out, "org_label", "org_uri", vocab)
    return fill_scalar_uri(out, "var_label", "var_uri", vocab,
                           enabled=F.col("has_variable"))


def fill_stats(chars: DataFrame, vocab: DataFrame) -> DataFrame:
    """J1 bookkeeping (main.py:302, 330-343): per document, how many
    missing-URI mentions were filled from the vocabulary vs left
    unresolved. One exploded mention table + one broadcast join."""
    org = chars.select(
        *DOC_KEYS, F.col("org_label").alias("label"), F.col("org_uri").alias("uri")
    )
    var = chars.filter(F.col("has_variable")).select(
        *DOC_KEYS, F.col("var_label").alias("label"), F.col("var_uri").alias("uri")
    )
    loc = chars.select(*DOC_KEYS, F.explode("locators").alias("m")).select(
        *DOC_KEYS, F.col("m.label").alias("label"), F.col("m.uri").alias("uri")
    )
    st = chars.select(*DOC_KEYS, F.explode("states").alias("m")).select(
        *DOC_KEYS, F.col("m.label").alias("label"), F.col("m.uri").alias("uri")
    )
    mentions = org.unionByName(var).unionByName(loc).unionByName(st)
    cand = mentions.filter(
        missing_uri(F.col("uri")) & (norm_term_label(F.col("label")) != "")
    )
    v = F.broadcast(vocab.withColumnRenamed("uri", "__resolved"))
    joined = cand.join(
        v, norm_term_label(F.col("label")) == v.norm_label, "left"
    )
    return joined.groupBy(*DOC_KEYS).agg(
        F.sum(F.when(F.col("__resolved").isNotNull(), 1).otherwise(0)).alias("filled"),
        F.sum(F.when(F.col("__resolved").isNull(), 1).otherwise(0)).alias("unresolved"),
    )


def state_label_index(states_long: DataFrame) -> DataFrame:
    """J2 (main.py:566-572): dataset-wide raw-label -> first truthy URI,
    first-wins in (char order, state order).

    Input: long states table with doc keys + char_pos + state_idx +
    label + uri. Output: (doc keys, base_key, pos_uri).
    """
    from pyspark.sql.window import Window

    cand = states_long.filter(
        (F.coalesce(strip_col(F.col("label")), F.lit("")) != "")
        & F.col("uri").isNotNull()
        & (F.col("uri") != "")
    ).select(
        *DOC_KEYS,
        F.lower(strip_col(F.col("label"))).alias("base_key"),
        F.col("uri").alias("pos_uri"),
        "char_pos",
        "state_idx",
    )
    w = Window.partitionBy(*DOC_KEYS, "base_key").orderBy("char_pos", "state_idx")
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*DOC_KEYS, "base_key", "pos_uri")
    )
