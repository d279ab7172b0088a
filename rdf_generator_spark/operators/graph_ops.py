"""Set-level graph operators: dedup (A3), prune (A5), label priority (J6).

All expressed as hash joins/aggregates so Catalyst plans them; victim and
label dimension sides are per-document small and broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_generator_spark import terms as T

DOC_KEYS = ["repo", "commit"]
TRIPLE_COLS = ["s", "p", "o", "lit", "dt"]


def dedup_triples(df: DataFrame) -> DataFrame:
    """rdflib set semantics (A3): distinct on (doc, s, p, o, lit, dt)."""
    return df.dropDuplicates(DOC_KEYS + TRIPLE_COLS)


def _drop_victims(df: DataFrame, victims: DataFrame, hint) -> DataFrame:
    """Drop all triples whose subject or (IRI) object is a victim —
    two left-anti joins with the victim set on the hinted side."""
    out = df.join(
        hint(victims.withColumnRenamed("node", "s")),
        DOC_KEYS + ["s"],
        "left_anti",
    )
    vo = hint(
        victims.select(
            F.col("repo").alias("__vr"),
            F.col("commit").alias("__vc"),
            F.col("node").alias("__vn"),
        )
    )
    out = out.join(
        vo,
        (out["repo"] == vo["__vr"])
        & (out["commit"] == vo["__vc"])
        & (out["o"] == vo["__vn"])
        & (~out["lit"]),
        "left_anti",
    )
    return out


def prune_unreferenced_scoped(df: DataFrame, mx_col: str, materialize_flags,
                              hint):
    """prune_unreferenced_prototypes (main.py:1596-1634), run on the full
    triple set AND its ``mx_col`` subset, sharing one victim scan.

    Victims per scope: kb:qua-* NamedIndividuals not objects of
    phb:0000003 and kb:org-* not objects of phb:0000002; drop all
    triples where a victim is subject or (IRI) object.

    ``df`` carries the triple columns plus a boolean ``mx_col`` marking
    subset membership. Only kb:qua-*/kb:org-* nodes can ever be victims,
    and a reference only matters for a node of the same prefix, so one
    tagged explode over the triples (each entry also tagged with the
    subset flag) and one (doc, node) aggregation derive both scopes'
    named/referenced flags at once — one scan and one small exchange.
    Returns ``(pruned_full, pruned_subset)``; neither output carries
    ``mx_col``.

    ``hint`` wraps the victim side of the anti-joins. The victim set
    grows with the corpus, so the pipeline passes its gated hint — past
    the document threshold the anti-joins shuffle on (repo, commit,
    node) instead of broadcasting an unbounded table.

    ``materialize_flags``: ``f(flags_df) -> flags_df`` that pins the
    (small) per-node flag table; unpinned, the flag subtree appears
    under four broadcast builds and exchange reuse is left to the
    engine (measured NOT to fire across AQE broadcast stages here, so
    the scan ran twice). The pipeline passes its hub materializer.
    """
    QUA, ORG = T.KB + "qua-", T.KB + "org-"
    is_ni = (F.col("p") == T.RDF_TYPE) & (F.col("o") == T.OWL_NAMED_INDIVIDUAL)
    named_node = F.when(
        is_ni & (F.col("s").startswith(QUA) | F.col("s").startswith(ORG)),
        F.col("s"),
    )
    refq_node = F.when(
        (F.col("p") == T.PHB_HAS_QUALITY) & (~F.col("lit"))
        & F.col("o").startswith(QUA),
        F.col("o"),
    )
    refo_node = F.when(
        (F.col("p") == T.PHB_HAS_ORGANISM) & (~F.col("lit"))
        & F.col("o").startswith(ORG),
        F.col("o"),
    )
    cand = (
        df.select(
            *DOC_KEYS,
            F.col(mx_col).alias("__cmx"),
            F.explode(
                F.array(
                    F.struct(named_node.alias("node"), F.lit(1).alias("kind")),
                    F.struct(refq_node.alias("node"), F.lit(2).alias("kind")),
                    F.struct(refo_node.alias("node"), F.lit(3).alias("kind")),
                )
            ).alias("c"),
        )
        .filter(F.col("c.node").isNotNull())
        .select(*DOC_KEYS, "__cmx",
                F.col("c.node").alias("node"), F.col("c.kind").alias("kind"))
    )
    flags = cand.groupBy(*DOC_KEYS, "node").agg(
        F.max(F.col("kind") == 1).alias("__named"),
        F.max(F.col("kind") == 2).alias("__refq"),
        F.max(F.col("kind") == 3).alias("__refo"),
        F.max((F.col("kind") == 1) & F.col("__cmx")).alias("__named_mx"),
        F.max((F.col("kind") == 2) & F.col("__cmx")).alias("__refq_mx"),
        F.max((F.col("kind") == 3) & F.col("__cmx")).alias("__refo_mx"),
    )
    flags = materialize_flags(flags)

    def _victims(named, refq, refo):
        return flags.filter(
            F.col(named)
            & (
                (F.col("node").startswith(QUA) & ~F.col(refq))
                | (F.col("node").startswith(ORG) & ~F.col(refo))
            )
        ).select(*DOC_KEYS, "node")

    full = df.drop(mx_col)
    subset = df.filter(F.col(mx_col)).drop(mx_col)
    pruned_full = _drop_victims(
        full, _victims("__named", "__refq", "__refo"), hint
    )
    pruned_subset = _drop_victims(
        subset, _victims("__named_mx", "__refq_mx", "__refo_mx"), hint
    )
    return pruned_full, pruned_subset


def apply_label_priority(matrix_labels: DataFrame, target: DataFrame,
                         hint, label_subjects_only: bool = False
                         ) -> DataFrame:
    """apply_matrix_label_priority (main.py:1243-1270).

    `matrix_labels`: (doc, s, o, ord) authoritative rdfs:label values.
    For every subject of `target` that has a matrix label, all its
    rdfs:label triples are replaced by the matrix one.

    The reference takes the FIRST label in graph insertion order
    (main.py pref_labels[0]); min_by over the `ord` struct
    (emission-order key built by the pipeline) replays that order.
    Labels with no order key sort last, tie-broken on the label text so
    the choice stays deterministic.

    ``hint`` wraps the aggregated label-map side of the two joins (the
    pipeline passes its corpus-gated broadcast hint, same policy as
    prune_unreferenced_scoped): the map is per-document small but grows
    with the corpus, so past the document gate the joins shuffle on
    (repo, commit, s) instead of broadcasting an unbounded table."""
    # nulls-last fill must match the ord struct's field names/types
    max_ord = F.struct(
        *[F.lit(2 ** 62).cast("long").alias(f"k{i}") for i in range(1, 6)]
    )
    key = F.struct(
        F.coalesce(F.col("ord"), max_ord).alias("eo"), F.col("o").alias("tb")
    )
    ml = (
        matrix_labels.select(*DOC_KEYS, "s", "o", "ord")
        .groupBy(*DOC_KEYS, "s")
        .agg(F.min_by("o", key).alias("o"))
    )
    non_labels = target.filter(F.col("p") != T.RDFS_LABEL)
    if label_subjects_only:
        # Fast path for callers that guarantee (a) every ml subject
        # present in the target keeps at least one rdfs:label row there
        # and (b) the target is duplicate-free. The pipeline's
        # final-graph call proves both: an ml entry exists only because
        # (s, rdfs:label, o') is in the matrix dedup, which is a subset
        # of the full dedup; label rows are literals, so the
        # object-victim rule never drops them, and if ANY row of s
        # survives pruning then s is not a subject-victim and its label
        # row survives too — and the target is the pruned dedup table.
        # Under (a)+(b), "drop all labels of ml subjects, add one
        # replacement row each" equals "rewrite each label row's object
        # through ml and de-duplicate": one scan of the label rows, one
        # hinted left join, one distinct — no anti-join and no
        # all-subjects distinct. Label rows always carry
        # (lit=true, dt=null), matching the replacement literals.
        ml_o = hint(ml.select(*DOC_KEYS, "s", F.col("o").alias("__mo")))
        new_labels = (
            target.filter(F.col("p") == T.RDFS_LABEL)
            .join(ml_o, DOC_KEYS + ["s"], "left")
            .select(
                *DOC_KEYS, "s", "p",
                F.coalesce(F.col("__mo"), F.col("o")).alias("o"),
                "lit", "dt",
            )
            .dropDuplicates(DOC_KEYS + TRIPLE_COLS)
        )
        return non_labels.unionByName(new_labels.select(non_labels.columns))
    target_subjects = target.select(*DOC_KEYS, "s").distinct()
    replacements = (
        target_subjects.join(hint(ml), DOC_KEYS + ["s"], "inner")
        .select(
            *DOC_KEYS,
            "s",
            F.lit(T.RDFS_LABEL).alias("p"),
            "o",
            F.lit(True).alias("lit"),
            F.lit(None).cast("string").alias("dt"),
        )
    )
    kept_labels = target.filter(F.col("p") == T.RDFS_LABEL).join(
        hint(ml.select(*DOC_KEYS, "s")), DOC_KEYS + ["s"], "left_anti"
    )
    return non_labels.unionByName(kept_labels).unionByName(
        replacements.select(non_labels.columns)
    )
