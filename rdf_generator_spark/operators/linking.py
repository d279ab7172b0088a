"""Entity linking (J1, J2) and state numbering (A2) of one character
document, inside the fused parse.

The reference (rdf_generator/main.py) resolves a document's missing
URIs against the ontology label index (J1, main.py:296-343), its
negated states against the document's own first-wins label index (J2,
main.py:566-572, 1018-1021) and numbers its STATE/QUALITY nodes (A2) in
per-document Python loops over dimension-sized data. `link_characters`
does all three in the one Python call the parse already makes per
character document, so none of it costs a Spark job. `fill_stats` is
the J1 bookkeeping over a parsed characters table.
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_generator_spark.normalize import norm_term_label, py_norm_term_label, strip_col

DOC_KEYS = ("repo", "commit")


def missing_uri(c: Column) -> Column:
    """Fill condition (main.py:313-314): null, blank, or the string 'null'."""
    s = F.lower(strip_col(c))
    return c.isNull() | (s == "") | (s == "null")


def _filled(uri, label, vocab: Dict[str, str]):
    """J1 fill of one (label, uri) slot: a missing URI (`missing_uri`)
    takes the vocabulary URI of the label's normalized form, if any."""
    if uri is None or uri.strip().lower() in ("", "null"):
        return vocab.get(py_norm_term_label(label), uri)
    return uri


def _id_label(label: str, fallback: str, n: int) -> str:
    return f"{label or fallback}:id-{n}"


def link_characters(chars: List[dict], vocab: Dict[str, str]) -> List[dict]:
    """apply_pmck_uri_fallbacks (J1), the negation index (J2) and the
    STATE/QUALITY counters (A2) over one document's characters, the
    `char_rows_from_json` records in document order. Updates them in
    place and returns them.

    J1 fills the organism, variable, locator and state URIs from
    `vocab` (normalized label -> URI). Each state then gets its derived
    fields: ``labelN`` (the stripped label, ``not <base>`` when
    negated), ``base_label``, ``uri_t`` (the URI when truthy), the IRI
    ``seed`` and, for a negated state without a URI, ``resolved_uri``
    from the first state of the document carrying the same label and a
    URI (``neg_resolved`` when one was found).

    A2: the reference labels a STATE or QUALITY node only when it has
    no label yet (the has_label guards of refsim's process_phenotype
    and handle_quality), so two states with one seed (same URI, or same
    label and no URI) take one number and the repeat carries the first
    occurrence's label. Phase b (per-character graphs) guards within
    the character; the matrix round guards within the document, and its
    STATE counter continues after phase b's. The counters are per
    document because a ``(repo, commit)`` group has one character JSON,
    the input contract `build_graph` checks before it returns anything.
    """
    negation: Dict[str, str] = {}
    for ch in chars:
        ch["org_uri"] = _filled(ch["org_uri"], ch["org_label"], vocab)
        ch["var_uri"] = _filled(ch["var_uri"], ch["var_label"], vocab)
        for slot in ch["locators"] + ch["states"]:
            slot["uri"] = _filled(slot["uri"], slot["label"], vocab)
        for st in ch["states"]:
            key = (st["label"] or "").strip().lower()
            if key and st["uri"]:
                negation.setdefault(key, st["uri"])

    firsts_m: Dict[str, tuple] = {}
    n_b = 0
    for ch in chars:
        firsts_b: Dict[str, tuple] = {}
        for st in ch["states"]:
            label = "unknown" if st["label"] is None else st["label"].strip()
            is_neg = label.lower().startswith("not ")
            base = label[4:].strip() if is_neg else None
            st["labelN"] = f"not {base}" if is_neg else label
            st["base_label"] = base
            st["uri_t"] = st["uri"] or None
            st["seed"] = f"{ch['char_id']}_{st['uri_t'] or st['labelN'].lower()}"
            st["resolved_uri"] = st["uri_t"] or (
                negation.get(base.lower()) if is_neg else None)
            st["neg_resolved"] = is_neg and st["resolved_uri"] is not None
            if st["seed"] not in firsts_b:
                n_b += 1
                firsts_b[st["seed"]] = (n_b, st["labelN"])
            firsts_m.setdefault(st["seed"], (len(firsts_m) + 1, st["labelN"]))
            n, label_b = firsts_b[st["seed"]]
            st["sta_label_phase_b"] = _id_label(label_b, "state", n)
    for ch in chars:
        for st in ch["states"]:
            n, label_m = firsts_m[st["seed"]]
            st["sta_label"] = _id_label(label_m, "state", n_b + n)
            st["qua_label"] = _id_label(label_m, "quality", n)
    return chars


def fill_stats(chars: DataFrame, vocab: DataFrame) -> DataFrame:
    """J1 bookkeeping (main.py:302, 330-343): per document, how many
    missing-URI mentions of an unlinked characters table (a single-family
    view) the vocabulary fills vs leaves unresolved. One exploded
    mention table + one broadcast join."""
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
