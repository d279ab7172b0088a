"""Canonical-IRI union over same-as edges: connected components by
alternating large-star / small-star contraction (SURVEY.md §2
"Graph ops"; the two-phase star algorithm is the published MapReduce
CC technique of Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014 — public literature, re-expressed as DataFrame
algebra).

In the reference, canonicalization is implicit — identical UUID5 seeds
collapse under set-union (K1-K4) and the dual species-name keys (J3)
unify mentions. At corpus scale, multiple documents can mint different
IRIs for the same entity (e.g. the two `sp-` seed variants, F9
main.py:638 vs 1174); those links become explicit same-as edges. Plain
min-label propagation needs O(diameter) rounds — a 10^4-node chain
would eat any fixed round budget — while star contraction halves every
long path each alternation and converges in O(log n) rounds:

    large-star(u): for v in N(u), v > u: emit (v, min(N(u) ∪ {u}))
    small-star(u): for v in N(u) ∪ {u}, v <= u: emit (v, min(N(u) ∪ {u}))

At the fixpoint the edge set is stars (node -> component minimum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DOC = ["repo", "commit"]
# Star-contraction rounds before connected_components gives up; each
# round is O(log n) progress, so reaching it is never normal operation.
MAX_ITERS = 30


def _star_round(e: DataFrame, keys, mode: str) -> DataFrame:
    """One large- or small-star step: edges(a, b) -> edges(a, b) with
    a > b, self-loops dropped, set semantics. Two shuffles (min-nbr
    aggregation + distinct); no windows, no per-component state."""
    sym = e.select(*keys, F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
        e.select(*keys, F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    m = (
        sym.groupBy(*keys, "node")
        .agg(F.min("nbr").alias("__mn"))
        .select(*keys, "node", F.least(F.col("__mn"), F.col("node")).alias("m"))
    )
    j = sym.join(m, keys + ["node"])
    if mode == "large":
        out = j.filter(F.col("nbr") > F.col("node")).select(
            *keys, F.col("nbr").alias("a"), F.col("m").alias("b")
        )
    else:
        out = j.filter(F.col("nbr") <= F.col("node")).select(
            *keys, F.col("nbr").alias("a"), F.col("m").alias("b")
        ).unionByName(
            m.select(*keys, F.col("node").alias("a"), F.col("m").alias("b"))
        )
    return out.filter(F.col("a") != F.col("b")).distinct()


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(a, b) [+ optional doc keys] -> mapping(node, canon).

    `canon` is the lexicographically smallest IRI in each component.
    Works globally (no doc keys) or per-document if doc key columns are
    present in `edges`. Alternates large-star / small-star until the
    edge set stabilizes (O(log n) alternations); each round truncates
    lineage with an eager localCheckpoint so the plan never grows.

    If ``MAX_ITERS`` runs out before the fixpoint is verified, the edges
    left are not yet stars and the groupBy-min below would leave
    distinct labels inside one true component — a silently-wrong
    canonical mapping — so that exit raises ``RuntimeError``. O(log n)
    convergence means hitting it signals either a pathological graph or
    a too-small budget, never normal operation.
    """
    keys = [c for c in DOC if c in edges.columns]
    e = (
        edges.select(*keys, "a", "b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_e = e.count()
    converged = False
    for _ in range(MAX_ITERS):
        if n_e == 0:
            converged = True
            break
        e1 = _star_round(e, keys, "large").localCheckpoint(eager=True)
        e2 = _star_round(e1, keys, "small").localCheckpoint(eager=True)
        n_e2 = e2.count()
        if n_e2 == n_e and e2.subtract(e).isEmpty():
            e = e2
            converged = True
            break
        e, n_e = e2, n_e2
    if not converged and n_e > 0:
        raise RuntimeError(
            f"connected_components did not reach a verified fixpoint in "
            f"canonicalize.MAX_ITERS={MAX_ITERS} star-contraction rounds "
            f"({n_e} edges remain); the mapping would merge components only "
            "partially. Raise MAX_ITERS (each round is O(log n) progress)."
        )
    # fixpoint edges are stars (a=node, b=component root); roots map to
    # themselves. groupBy-min is a no-op on a true fixpoint.
    star = (
        e.select(*keys, F.col("a").alias("node"), F.col("b").alias("canon"))
        .unionByName(
            e.select(*keys, F.col("b").alias("node"), F.col("b").alias("canon"))
        )
        .groupBy(*keys, "node")
        .agg(F.min("canon").alias("canon"))
    )
    # nodes seen only in self-loops map to themselves (dropped from the
    # contraction input but still part of the mapping contract)
    nodes = (
        edges.select(*keys, F.col("a").alias("node"))
        .unionByName(edges.select(*keys, F.col("b").alias("node")))
        .distinct()
    )
    return nodes.join(star, keys + ["node"], "left").select(
        *keys, "node", F.coalesce("canon", F.col("node")).alias("canon")
    )


def species_same_as_edges(triples: DataFrame) -> DataFrame:
    """Same-as edges between the two sp- mint variants: two sp- IRIs
    denoting species concepts with identical normalized labels within a
    document (F9 dual-seed quirk)."""
    from rdf_generator_spark import terms as T

    sp_labels = (
        triples.filter(
            F.col("s").startswith(T.KB + "sp-") & (F.col("p") == T.RDFS_LABEL)
        )
        .select(*DOC, F.lower(F.col("o")).alias("k"), F.col("s").alias("node"))
        .distinct()
    )
    a = sp_labels.select(*DOC, "k", F.col("node").alias("a"))
    b = sp_labels.select(
        F.col("repo").alias("__r"), F.col("commit").alias("__c"),
        F.col("k").alias("__k"), F.col("node").alias("b"),
    )
    return (
        a.join(
            b,
            (F.col("repo") == F.col("__r"))
            & (F.col("commit") == F.col("__c"))
            & (F.col("k") == F.col("__k"))
            & (F.col("a") < F.col("b")),
        )
        .select(*DOC, "a", "b")
        .distinct()
    )


def apply_canonical_mapping(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subjects and IRI objects through (node -> canon), then
    re-dedup (set semantics collapse the merged nodes).

    The mapping grows with the corpus (one row per merged node), so its
    joins carry no broadcast hint — AQE broadcasts it at small scale and
    shuffles past the threshold."""
    keys = [c for c in DOC if c in mapping.columns]
    ms = mapping.select(
        *[F.col(k).alias(f"__s{k}") for k in keys],
        F.col("node").alias("__sn"), F.col("canon").alias("__sc"),
    )
    cond_s = F.col("s") == F.col("__sn")
    for k in keys:
        cond_s = cond_s & (F.col(k) == F.col(f"__s{k}"))
    out = (
        triples.join(ms, cond_s, "left")
        .withColumn("s", F.coalesce(F.col("__sc"), F.col("s")))
        .drop("__sn", "__sc", *[f"__s{k}" for k in keys])
    )
    mo = mapping.select(
        *[F.col(k).alias(f"__o{k}") for k in keys],
        F.col("node").alias("__on"), F.col("canon").alias("__oc"),
    )
    cond_o = (F.col("o") == F.col("__on")) & (~F.col("lit"))
    for k in keys:
        cond_o = cond_o & (F.col(k) == F.col(f"__o{k}"))
    out = (
        out.join(mo, cond_o, "left")
        .withColumn("o", F.coalesce(F.col("__oc"), F.col("o")))
        .drop("__on", "__oc", *[f"__o{k}" for k in keys])
    )
    from rdf_generator_spark.operators.graph_ops import dedup_triples

    return dedup_triples(out)
