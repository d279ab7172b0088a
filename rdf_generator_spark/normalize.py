"""Label/seed normalizers — Column expressions plus plain-Python twins.

Each function reproduces one reference normalizer (SURVEY.md §2 P2-P8).
Column versions are built-in-only (regexp/lower/trim) so they run inside
whole-stage codegen; the `py_*` twins are used by parsers (which already
run in Python inside Arrow-batched UDFs), tests, and the golden oracle.
The build and the driver registry's P entries call the same functions.
"""

from __future__ import annotations

import re
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_generator_spark.terms import DEFAULT_CHAR_SORT_NUM, KB

# Python str.strip() removes all Unicode whitespace; Java regex \s is
# ASCII-only by default, so (?U) (UNICODE_CHARACTER_CLASS) + explicit
# NEL keeps the JVM column path identical to the py_* twins below.
_WS_EDGE = r"(?U)^[\s\u0085]+|[\s\u0085]+$"


def strip_col(c: Column) -> Column:
    return F.regexp_replace(c, _WS_EDGE, "")


def norm_taxon_label(c: Column) -> Column:
    """normalize_taxon_label (main.py:138-143): strip, spaces->_, drop '.'
    after a trailing '_sp'."""
    s = F.when(c.isNull(), F.lit("")).otherwise(c)
    s = F.replace(strip_col(s), F.lit(" "), F.lit("_"))
    return F.regexp_replace(s, r"(?i)(_sp)\.$", "$1")


def norm_term_label(c: Column) -> Column:
    """normalize_term_label (main.py:170-175): lower, strip, collapse ws."""
    s = F.when(c.isNull(), F.lit("")).otherwise(c)
    return F.regexp_replace(F.lower(strip_col(s)), r"(?U)\s+", " ")


def norm_seed_component(c: Column) -> Column:
    """normalize_seed_component (main.py:178-182) — same transform as
    norm_term_label, kept separate to mirror the reference split."""
    return norm_term_label(c)


def parse_char_num_col(c: Column) -> Column:
    """parse_char_num (main.py:115-135): 'C7' -> 7; digits-only fallback;
    default 10**9. Never null.

    Documented deviation (outside the data model — Char_IDs are ASCII
    'C<digits>'): for non-ASCII Unicode numerals the reference's
    str.isdigit()/int() fallback behaves inconsistently ('¹' ->
    default, '١٢٣' -> 123); the Column path uniformly extracts ASCII
    digits, so '0¹' -> 0 here vs default there. Property-tested over
    the ASCII domain (tests/test_properties.py)."""
    s = strip_col(c.cast("string"))
    no_c = F.when(s.rlike(r"^[Cc]"), F.substring(s, 2, 2147483640)).otherwise(s)
    direct = strip_col(no_c).try_cast("int")
    digits = F.nullif(F.regexp_replace(s, r"\D", ""), F.lit(""))
    return F.coalesce(direct, digits.try_cast("int"), F.lit(DEFAULT_CHAR_SORT_NUM))


def extract_revision_source_col(c: Column) -> Column:
    """extract_revision_source (main.py:199-205)."""
    s = F.when(c.isNull(), F.lit("")).otherwise(c)
    return strip_col(F.regexp_replace(strip_col(s), r"(?iU)^\s*modified\s+from\s+", ""))


def norm_species_uri(uri: Column, fallback: Column) -> Column:
    """normalize_species_uri (main.py:146-167), the Column twin of
    `py_norm_species_uri` for an already taxon-normalized `fallback`.
    Python truthiness: a whitespace-only uri is truthy, strips to '' and
    is returned as-is."""
    stripped = strip_col(uri)
    return F.when(
        uri.isNull() | (uri == ""), F.concat(F.lit(KB), fallback),
    ).when(
        stripped.startswith("kb:"),
        F.concat(F.lit(KB), norm_taxon_label(F.substring(stripped, 4, 2 ** 30))),
    ).when(
        stripped.startswith(KB),
        F.concat(F.lit(KB), norm_taxon_label(F.substring(stripped, len(KB) + 1, 2 ** 30))),
    ).otherwise(stripped)


def split_binomial(df: DataFrame, label: str) -> DataFrame:
    """Binomial/author split and italic TU comment (P8, main.py:2005-2016):
    `df` plus ``binomial`` and ``author`` (`label` split on ' ' with
    limit 3, so the author tail stays intact) and ``tu_comment``
    (``<i>binomial</i> author``, stripped)."""
    df = df.select("*", F.split(F.col(label), " ", 3).alias("__parts"))
    df = df.select(
        "*",
        F.when(
            F.size("__parts") >= 2,
            F.concat(F.col("__parts")[0], F.lit(" "), F.col("__parts")[1]),
        ).otherwise(F.col(label)).alias("binomial"),
        F.when(F.size("__parts") == 3, F.col("__parts")[2])
        .otherwise(F.lit("")).alias("author"),
    )
    return df.select(
        "*",
        strip_col(F.concat(F.lit("<i>"), F.col("binomial"),
                           F.lit("</i> "), F.col("author"))).alias("tu_comment"),
    )


# ---------------------------------------------------------------------------
# Python twins (used inside Arrow-batched parse UDFs and by the test oracle)
# ---------------------------------------------------------------------------

def py_norm_taxon_label(label: Optional[str]) -> str:
    if label is None:
        return ""
    normalized = str(label).strip().replace(" ", "_")
    return re.sub(r"(_sp)\.$", r"\1", normalized, flags=re.IGNORECASE)


def py_norm_term_label(label: Optional[str]) -> str:
    if label is None:
        return ""
    return re.sub(r"\s+", " ", str(label).strip().lower())


def py_norm_seed_component(value: Optional[Any]) -> str:
    if value is None:
        return ""
    return re.sub(r"\s+", " ", str(value).strip().lower())


def py_parse_char_num(char_id: Any) -> int:
    try:
        s = str(char_id).strip()
        if not s:
            return DEFAULT_CHAR_SORT_NUM
        if s[0] in ("C", "c"):
            s = s[1:]
        return int(s)
    except Exception:
        # the reference guards the digits fallback too ("never raises",
        # main.py:115-135): str.isdigit() accepts Unicode digits like
        # '¹' that int() rejects
        try:
            digits = "".join(ch for ch in str(char_id) if ch.isdigit())
            return int(digits) if digits else DEFAULT_CHAR_SORT_NUM
        except Exception:
            return DEFAULT_CHAR_SORT_NUM


def py_norm_species_uri(uri: Optional[str], fallback_label: str) -> str:
    """normalize_species_uri (main.py:146-167)."""
    fallback = py_norm_taxon_label(fallback_label)
    if not uri:
        return KB + fallback
    value = str(uri).strip()
    if value.startswith("kb:"):
        return KB + py_norm_taxon_label(value.split("kb:", 1)[1])
    if value.startswith(KB):
        return KB + py_norm_taxon_label(value[len(KB):])
    return value


def py_extract_revision_source(comment: Optional[str]) -> str:
    if comment is None:
        return ""
    text = str(comment).strip()
    return re.sub(r"^\s*modified\s+from\s+", "", text, flags=re.IGNORECASE).strip()
