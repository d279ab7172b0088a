"""Arrow-batched document parsers: corpus `content` -> typed DataFrames.

One ``mapInPandas`` transform (`parse_docs`) parses every document kind
of the corpus table ``(repo, path, commit, lang, content)`` in a single
pass — documents stream through in Arrow batches, one output row per
extracted record, so a single giant document fans out inside its
partition without a shuffle. `FAMILIES` maps each ``lang`` to its row
extractor and record schema; each record lands in its family's struct
column and the other families' slots stay null. `family_view` projects
one family back to its flat table.

The irregular positional key names of the character JSON ("Locator 1 label",
"State 0 URI" — /root/reference/rdf_generator/main.py:752,1003,1099) are
normalized to fixed StructTypes here so everything downstream is
statically typed and stays in the JVM. Each character document is also
linked here, in the same Python call (`operators/linking.py`): URI
fill, negation resolution and state numbering are per-document loops
over dimension-sized data.
"""

from __future__ import annotations

import csv
import io
import json
import re
from typing import (
    Any, Callable, Dict, Iterator, List, NamedTuple, Optional, Sequence,
)

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rdf_generator_spark.normalize import (
    py_extract_revision_source,
    py_norm_taxon_label,
    py_norm_species_uri,
)
from rdf_generator_spark.operators.linking import link_characters

_DOC_KEY_FIELDS = [
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit", T.StringType()),
]

LABEL_URI = T.StructType(
    [T.StructField("label", T.StringType()), T.StructField("uri", T.StringType())]
)

# A state as parsed (label, uri, token) plus what
# operators/linking.py::link_characters derives from it
STATE_STRUCT = T.StructType(
    [T.StructField(n, T.StringType())
     for n in ("label", "uri", "token", "labelN", "base_label", "uri_t",
               "seed", "resolved_uri")]
    + [T.StructField("neg_resolved", T.BooleanType())]
    + [T.StructField(n, T.StringType())
       for n in ("sta_label", "sta_label_phase_b", "qua_label")]
)

CHARS_FIELDS = [
    T.StructField("char_pos", T.IntegerType()),
    T.StructField("char_id", T.StringType()),
    T.StructField("char_label", T.StringType()),
    T.StructField("org_label", T.StringType()),
    T.StructField("org_uri", T.StringType()),
    T.StructField("locators", T.ArrayType(LABEL_URI)),
    T.StructField("has_variable", T.BooleanType()),
    T.StructField("var_label", T.StringType()),
    T.StructField("var_uri", T.StringType()),
    T.StructField("var_comment", T.StringType()),
    T.StructField("states", T.ArrayType(STATE_STRUCT)),
    T.StructField("tag", T.StringType()),
    T.StructField("species_label", T.StringType()),
    T.StructField("species_id", T.StringType()),
    # Quirk F12: the reference reads MatrixLabel from the *leaked* last
    # loop variable of the load phase (main.py:500 + 1720), i.e. the
    # document's LAST row. Replicated per document on every row.
    T.StructField("doc_matrix_label", T.StringType()),
]

# One taxon row of a NEXUS matrix. Per matrix column (array index =
# character position): the symbol, its state index (the reference's
# `int(symbol.strip())` guard, else null), and how many taxa above this one
# have a state index there; plus the document's per-column totals of
# such taxa and its taxon count. The cells and their :id-N counters are
# closed forms of these (plans/pipeline.py).
TAXON_FIELDS = [
    T.StructField("taxon_pos", T.IntegerType()),
    T.StructField("taxon", T.StringType()),
    T.StructField("n_taxa", T.IntegerType()),
    T.StructField("symbols", T.ArrayType(T.StringType())),
    T.StructField("cell_states", T.ArrayType(T.IntegerType())),
    T.StructField("stated_above", T.ArrayType(T.IntegerType())),
    T.StructField("col_stated", T.ArrayType(T.IntegerType())),
]

SPECIES_FIELDS = [
    T.StructField("sp_pos", T.IntegerType()),
    T.StructField("input_name", T.StringType()),
    T.StructField("valid_name", T.StringType()),
    T.StructField("gbif_id", T.StringType()),
    T.StructField("zoobank_id", T.StringType()),
    T.StructField("match_level", T.StringType()),
    T.StructField("uri", T.StringType()),
]

METADATA_FIELDS = [
    T.StructField("char_id", T.StringType()),
    T.StructField("source_text", T.StringType()),
    # CSV row position: the reference folds rows into a dict where a
    # repeated Char_ID overwrites (main.py:214-221) — carrying the
    # position lets the pipeline replay last-row-wins distributively.
    T.StructField("meta_pos", T.IntegerType()),
]


def _first_value(d: Dict[str, Any], needle: str):
    """Positional-key matcher: first value whose key contains `needle`
    (case-insensitive) — the reference's `next(v for k,v in ...)` idiom."""
    for k, v in d.items():
        if needle in k.lower():
            return v
    return None


def _norm_locator(loc: Any) -> Optional[Dict[str, Optional[str]]]:
    """Locator normalization P1 (main.py:500-512): str -> {label,uri}."""
    if isinstance(loc, dict):
        return {
            "label": _none_or_str(_first_value(loc, "label")),
            "uri": _none_or_str(_first_value(loc, "uri")),
        }
    if isinstance(loc, str):
        return {"label": loc.split("/")[-1], "uri": loc}
    return None


def _none_or_str(v: Any) -> Optional[str]:
    return None if v is None else str(v)


def char_rows_from_json(content: str) -> List[dict]:
    """One character JSON document -> list of normalized char dicts
    (without the repo/path/commit keys). ``char_pos`` numbers the
    object entries only, as the reference's character index does: an
    entry that is not an object is skipped and shifts no position."""
    try:
        raw = json.loads(content)
    except (ValueError, TypeError):
        return []
    rows = raw if isinstance(raw, list) else [raw]
    doc_matrix_label = None
    if rows and isinstance(rows[-1], dict):
        doc_matrix_label = _none_or_str(rows[-1].get("MatrixLabel"))
    out: List[dict] = []
    for row in rows:
        if not isinstance(row, dict):
            continue
        pos = len(out)
        org = row.get("Organism") or {}
        var = row.get("Variable")
        locators = [
            n
            for n in (_norm_locator(loc) for loc in (row.get("Locators") or []))
            if n is not None
        ]
        states = []
        for st in row.get("States") or []:
            if isinstance(st, dict):
                states.append(
                    {
                        "label": _none_or_str(_first_value(st, "label")),
                        "uri": _none_or_str(_first_value(st, "uri")),
                        "token": _none_or_str(_first_value(st, "token")),
                    }
                )
        # Missing Char_ID: the reference mints a fresh uuid4 per
        # processing call (main.py:1150) — nondeterministic and
        # inconsistent across its own phases; we substitute one stable
        # per-position id (documented deviation, SURVEY.md §7 K5 family)
        char_id = _none_or_str(row.get("Char_ID"))
        if char_id is None:
            char_id = f"__nochar__{pos}"
        out.append(
            {
                "char_pos": pos,
                "char_id": char_id,
                "char_label": _none_or_str(row.get("CharacterLabel")),
                "org_label": _none_or_str(org.get("Label")),
                "org_uri": _none_or_str(org.get("URI")),
                "locators": locators,
                "has_variable": bool(var),
                "var_label": _none_or_str((var or {}).get("Variable label")),
                "var_uri": _none_or_str((var or {}).get("Variable URI")),
                "var_comment": _none_or_str((var or {}).get("Variable comment")),
                "states": states,
                "tag": _none_or_str(row.get("Tag")),
                "species_label": _none_or_str(row.get("SpeciesLabel")),
                "species_id": _none_or_str(row.get("SpeciesID")),
                "doc_matrix_label": doc_matrix_label,
            }
        )
    return out


_NEXUS_ROW = re.compile(r"^\s*(?:'([^']*)'|\"([^\"]*)\"|(\S+))\s*(.*)$")


def _parse_nexus_matrix(content: str) -> List[tuple]:
    """Minimal NEXUS STANDARD-matrix reader.

    Honors quoted taxon labels and interleaved blocks (rows for an
    already-seen taxon append symbols). Polymorphic groups '(..)'/'{..}'
    become single multi-char tokens, matching how the reference's
    int() guard rejects them (main.py:1775-1780).
    """
    m = re.search(r"MATRIX(.*?);", content, flags=re.IGNORECASE | re.DOTALL)
    if not m:
        return []
    order: List[str] = []
    symbols: Dict[str, List[str]] = {}
    for line in m.group(1).splitlines():
        line = line.split("[")[0]  # strip NEXUS comments
        if not line.strip():
            continue
        mm = _NEXUS_ROW.match(line)
        if not mm:
            continue
        taxon = next(g for g in mm.groups()[:3] if g is not None)
        rest = mm.group(4) or ""
        toks: List[str] = []
        i = 0
        while i < len(rest):
            ch = rest[i]
            if ch.isspace():
                i += 1
                continue
            if ch in "({":
                close = ")" if ch == "(" else "}"
                j = rest.find(close, i)
                j = j if j != -1 else len(rest) - 1
                toks.append(rest[i : j + 1])
                i = j + 1
            else:
                toks.append(ch)
                i += 1
        if taxon not in symbols:
            order.append(taxon)
            symbols[taxon] = []
        symbols[taxon].extend(toks)
    return [
        (pos, taxon, idx, sym)
        for pos, taxon in enumerate(order)
        for idx, sym in enumerate(symbols[taxon])
    ]


def species_rows_from_json(content: str) -> List[dict]:
    """One species JSON document -> normalized records (main.py:537-551)."""
    try:
        entries = json.loads(content)
    except (ValueError, TypeError):
        return []
    if not isinstance(entries, list):
        entries = [entries]
    out: List[dict] = []
    for pos, s in enumerate(entries):
        if not isinstance(s, dict):
            continue
        input_name = (
            py_norm_taxon_label(s["input_species_name"])
            if s.get("input_species_name")
            else _none_or_str(s.get("input_species_name"))
        )
        valid_name = (
            py_norm_taxon_label(s["valid_species_name"])
            if s.get("valid_species_name")
            else _none_or_str(s.get("valid_species_name"))
        )
        uri = s.get("URI")
        if uri:
            uri = py_norm_species_uri(uri, input_name or "")
        out.append(
            {
                "sp_pos": pos,
                "input_name": input_name,
                "valid_name": valid_name,
                "gbif_id": _none_or_str(s.get("ID")),
                "zoobank_id": _none_or_str(s.get("zoobank_identifier")),
                "match_level": _none_or_str(s.get("match_level")),
                "uri": _none_or_str(uri),
            }
        )
    return out


def metadata_rows_from_csv(content: str) -> List[dict]:
    """One metadata CSV -> (char_id, source_text) rows (main.py:208-224)."""
    out: List[dict] = []
    try:
        for pos, row in enumerate(csv.DictReader(io.StringIO(content or ""))):
            char_id = str(row.get("Char_ID", "") or "").strip()
            source_text = py_extract_revision_source(row.get("Comment"))
            if char_id and source_text:
                out.append(
                    {"char_id": char_id, "source_text": source_text,
                     "meta_pos": pos}
                )
    except csv.Error:
        pass
    return out


def _state_index(symbol: str) -> Optional[int]:
    """A matrix symbol's state index, by the reference's `int()` guard
    (main.py:1775-1780): gaps, missing data and polymorphic groups have
    none."""
    try:
        return int(symbol.strip())
    except ValueError:
        return None


def nexus_rows(content: Optional[str]) -> List[dict]:
    """One NEXUS document -> one record per taxon row (`TAXON_FIELDS`).

    Taxa without symbols are left out (they make no cell), so
    ``taxon_pos`` numbers the rest densely in matrix order."""
    rows: Dict[str, List[str]] = {}
    for _pos, taxon, _idx, sym in _parse_nexus_matrix(content or ""):
        rows.setdefault(taxon, []).append(sym)
    totals: List[int] = []
    out: List[dict] = []
    for pos, (taxon, syms) in enumerate(rows.items()):
        states = [_state_index(s) for s in syms]
        totals += [0] * (len(states) - len(totals))
        out.append({"taxon_pos": pos, "taxon": taxon, "n_taxa": len(rows),
                    "symbols": syms, "cell_states": states,
                    "stated_above": totals[:len(states)],
                    "col_stated": totals})
        for c, st in enumerate(states):
            totals[c] += st is not None
    return out


class Family(NamedTuple):
    """One document kind: the struct column its records land in, the
    extractor turning one document's content into records, and the
    record fields."""

    column: str
    extract: Callable[[Optional[str]], List[dict]]
    fields: List[T.StructField]


# lang -> family: the single table the fused parse dispatches on
FAMILIES: Dict[str, Family] = {
    "json": Family("chars", char_rows_from_json, CHARS_FIELDS),
    "nexus": Family("taxa", nexus_rows, TAXON_FIELDS),
    "species-json": Family("species", species_rows_from_json, SPECIES_FIELDS),
    "csv": Family("meta", metadata_rows_from_csv, METADATA_FIELDS),
}


def parse_docs(
    corpus: DataFrame, vocab: Dict[str, str], langs: Sequence[str] = tuple(FAMILIES)
) -> DataFrame:
    """Fused parse of every document whose ``lang`` is in `langs`.

    Output: the document key, ``lang``, and one nullable struct column
    per family in `langs`. A row carries its own family's record and
    nulls in the other slots, so a materialized (non-pruning) scan of
    the result reads each record's own fields plus a few null markers,
    not the union of every family's columns. Python runs once per
    document here, whatever number of families a build reads.

    Each character document's records go through
    `linking.link_characters` against `vocab`, the OWL label index
    (normalized label -> URI; ``{}`` fills no URI): URI fill,
    negation resolution and state numbering ride this pass.
    """
    fams = {lang: FAMILIES[lang] for lang in langs}
    schema = T.StructType(
        _DOC_KEY_FIELDS
        + [T.StructField("lang", T.StringType())]
        + [T.StructField(f.column, T.StructType(f.fields)) for f in fams.values()]
    )
    names = [f.name for f in schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: Dict[str, list] = {n: [] for n in names}
            for doc in zip(pdf["repo"], pdf["path"], pdf["commit"],
                           pdf["lang"], pdf["content"]):
                fam = fams[doc[3]]
                recs = fam.extract(doc[4])
                if doc[3] == "json":
                    link_characters(recs, vocab)
                for n, v in zip(names, doc[:4]):
                    out[n].extend([v] * len(recs))
                for f in fams.values():
                    out[f.column].extend(recs if f is fam else [None] * len(recs))
            yield pd.DataFrame(out, columns=names)

    return (
        corpus.filter(F.col("lang").isin(*fams))
        .select("repo", "path", "commit", "lang", "content")
        .mapInPandas(gen, schema)
    )


def family_view(parsed: DataFrame, lang: str) -> DataFrame:
    """One family of a `parse_docs` result as its flat table
    (document key + record fields)."""
    return parsed.filter(F.col("lang") == lang).select(
        "repo", "path", "commit", f"{FAMILIES[lang].column}.*"
    )


def _parse_one(corpus: DataFrame, lang: str) -> DataFrame:
    return family_view(parse_docs(corpus, {}, [lang]), lang)


def parse_char_docs(corpus: DataFrame) -> DataFrame:
    """Character JSON documents (lang='json') -> one row per character."""
    return _parse_one(corpus, "json")


def parse_nexus_docs(corpus: DataFrame) -> DataFrame:
    """NEXUS documents (lang='nexus') -> one row per taxon (see
    `TAXON_FIELDS`)."""
    return _parse_one(corpus, "nexus")


def parse_species_docs(corpus: DataFrame) -> DataFrame:
    """Species JSON documents (lang='species-json') -> species records.

    Names are taxon-normalized at load, URIs species-normalized —
    mirroring main.py:537-551.
    """
    return _parse_one(corpus, "species-json")


def parse_metadata_docs(corpus: DataFrame) -> DataFrame:
    """Metadata CSVs (lang='csv') -> (char_id, source_text); empty rows
    dropped and 'Modified from ' stripped (main.py:208-224)."""
    return _parse_one(corpus, "csv")
