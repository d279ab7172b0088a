"""Deterministic UUID5 IRI minting — pure Spark SQL, no Python UDF.

The reference canonicalizes every generated node with
``uuid.uuid5(NAMESPACE, seed)`` (/root/reference/rdf_generator/main.py:93-96):
equal seeds collapse to equal IRIs when graphs are set-unioned. RFC 4122 v5
is just SHA-1 over (namespace bytes + seed bytes) with the version/variant
bits patched, so we express it entirely with built-in JVM functions
(``sha1``/``unhex``/``encode``/``translate``) and stay inside whole-stage
codegen — the minting hot path never leaves the JVM.

A plain-Python twin (`uuid5_kb`) is provided for tests and driver-side use.
The seed builders (K3-K5) are shared by the build and the registry's
grammar entries; the state/quality seed is built in the parse
(`operators/linking.py::link_characters`).
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column
from pyspark.sql import functions as F

from rdf_generator_spark.normalize import norm_seed_component, strip_col
from rdf_generator_spark.terms import KB, UUID_NAMESPACE_HEX

_UUID_NAMESPACE = uuid.UUID(hex=UUID_NAMESPACE_HEX)

# Hex digit d -> (d & 0x3) | 0x8, the RFC 4122 variant patch for the
# high nibble of octet 8.
_VARIANT_IN = "0123456789abcdef"
_VARIANT_OUT = "89ab89ab89ab89ab"


def uuid5_col(seed: Column) -> Column:
    """Column expression computing ``str(uuid.uuid5(NAMESPACE, seed))``.

    SHA-1 of (namespace bytes || utf8(seed)); first 16 bytes formatted
    8-4-4-4-12 with version nibble forced to '5' and variant patched.
    """
    h = F.sha1(F.concat(F.unhex(F.lit(UUID_NAMESPACE_HEX)), F.encode(seed, "UTF-8")))
    return F.concat(
        F.substring(h, 1, 8),
        F.lit("-"),
        F.substring(h, 9, 4),
        F.lit("-5"),
        F.substring(h, 14, 3),
        F.lit("-"),
        F.translate(F.substring(h, 17, 1), _VARIANT_IN, _VARIANT_OUT),
        F.substring(h, 18, 3),
        F.lit("-"),
        F.substring(h, 21, 12),
    )


def kb_iri(prefix: str, seed: Column) -> Column:
    """``kb:{prefix}-{uuid5(seed)}`` — the universal generated-IRI shape
    (main.py:93-96)."""
    return F.concat(F.lit(f"{KB}{prefix}-"), uuid5_col(seed))


def uuid5_kb(prefix: str, seed: str) -> str:
    """Driver/test-side twin of `kb_iri`."""
    return f"{KB}{prefix}-{uuid.uuid5(_UUID_NAMESPACE, seed)}"


def org_seed(salt: Column, taxon: Column, org_label: Column) -> Column:
    """Organism-instance seed (K3, main.py:929-940): salt ::
    (seednorm(taxon) or 'unknown-taxon') :: (seednorm(org_label) or
    'organism'). The cell visits pass the taxon-normalized label, the TU
    default organism the raw SpeciesLabel, as the reference does."""
    def comp(c, fallback):
        return F.coalesce(F.nullif(norm_seed_component(c), F.lit("")), F.lit(fallback))

    return F.concat_ws("::", salt, comp(taxon, "unknown-taxon"), comp(org_label, "organism"))


def chain_seed(locators: Column, char_id: Column) -> Column:
    """Locator-chain seed of a variable (K5, main.py:929-953): the
    stripped locator URIs joined by '::' when all are non-empty, else
    the labels, else the ``__malformed__::<char_id>`` stand-in; null
    without locators. A null URI or label stringifies to 'None'."""
    def comps(field):
        return F.transform(
            locators,
            lambda l: F.when(l[field].isNull(), F.lit("None")).otherwise(strip_col(l[field])),
        )

    uri_comps, label_comps = comps("uri"), comps("label")
    has_locs = F.size(locators) > 0
    all_of = lambda cs: F.forall(cs, lambda c: c != "")  # noqa: E731
    return (
        F.when(has_locs & all_of(uri_comps), F.array_join(uri_comps, "::"))
        .when(has_locs & all_of(label_comps), F.array_join(label_comps, "::"))
        .when(has_locs, F.concat(F.lit("__malformed__::"), char_id))
    )


def var_seed(org_iri: Column, chain: Column, char_id: Column, var_label: Column) -> Column:
    """Variable-instance seed (K5): org_iri :: `chain_seed` :: lowered,
    stripped label; without a chain the ``__noloc__::<char_id>``
    stand-in for the reference's uuid4 (SURVEY §7)."""
    label = F.lower(strip_col(var_label))
    return F.when(
        chain.isNotNull(), F.concat(org_iri, F.lit("::"), chain, F.lit("::"), label),
    ).otherwise(F.concat(F.lit("__noloc__::"), char_id, F.lit("::"), label))


def cell_seed(taxon: Column, char_pos: Column) -> Column:
    """Cell seed (K4, main.py:1740): raw taxon label _ character position."""
    return F.concat(taxon, F.lit("_"), char_pos)


def taxon_seed(taxon_label: Column) -> Column:
    """TU and species-instance seed: the lowered, stripped taxon label."""
    return F.lower(strip_col(taxon_label))


def phe_seed(char_id: Column, taxon: Column, suffix: Column) -> Column:
    """Phenotype seed (K4, main.py:1790): pheno-<char_id>::<taxon_seed>
    plus the sex variant's suffix ('', '::female' or '::male')."""
    return F.concat(F.lit("pheno-"), char_id, F.lit("::"), taxon_seed(taxon), suffix)
