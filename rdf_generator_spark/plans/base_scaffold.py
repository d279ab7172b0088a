"""Static ontology scaffold triples (build_base_graph, main.py:400-489).

A constant list: classes, properties and labels copied into every
per-document graph by the reference. Emitted once per document.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import types as ST

from rdf_generator_spark import terms as T

Triple = Tuple[str, str, str, bool, Optional[str]]

BASE_SCHEMA = ST.StructType([
    ST.StructField("s", ST.StringType()),
    ST.StructField("p", ST.StringType()),
    ST.StructField("o", ST.StringType()),
    ST.StructField("lit", ST.BooleanType()),
    ST.StructField("dt", ST.StringType()),
])


def base_triples() -> List[Triple]:
    rows: List[Triple] = []

    def a(s, p, o, lit=False, dt=None):
        rows.append((s, p, o, lit, dt))

    for cls in [T.UBERON_FEMALE, T.UBERON_MALE, T.CDAO_CELL, T.CDAO_STATE,
                T.CDAO_MATRIX, T.CDAO_CHARACTER, T.CDAO_TU,
                T.PHB_NEOMORPHIC, T.PHB_TRANSF_SIMPLE, T.PHB_TRANSF_COMPLEX]:
        a(cls, T.RDF_TYPE, T.OWL_CLASS)
    for cls, lbl in [
        (T.CDAO_CELL, "standard cell"), (T.CDAO_STATE, "standard state"),
        (T.CDAO_MATRIX, "character state data matrix"),
        (T.CDAO_CHARACTER, "standard character"), (T.CDAO_TU, "TU"),
        (T.PHB_NEOMORPHIC, "Neomorphic Statement"),
        (T.PHB_TRANSF_SIMPLE, "Transformational Simple Statement"),
        (T.PHB_TRANSF_COMPLEX, "Transformational Complex Statement"),
    ]:
        a(cls, T.RDFS_LABEL, lbl, lit=True)
    for prop, lbl in [
        (T.PHB_HAS_ORGANISM, "has organism component"),
        (T.PHB_HAS_ENTITY, "has entity component"),
        (T.PHB_HAS_VARIABLE, "has variable component"),
        (T.PHB_HAS_QUALITY, "has quality component"),
        (T.PHB_REFERS_TO_STATEMENT, "refers to phenotype statement"),
        (T.CDAO_HAS_CHARACTER, "has_Character"),
        (T.CDAO_HAS_STATE, "has_State"),
        (T.CDAO_BELONGS_TO_TU, "belongs_to_TU"),
        (T.CDAO_BELONGS_TO_CHARACTER, "belongs_to_Character"),
        (T.CDAO_HAS_TU, "has_TU"),
        (T.BFO_HAS_PART, "has part"),
        (T.RO_HAS_CHARACTERISTIC, "has characteristic"),
        (T.RO_HAS_ROLE_IN_MODELLING, "has role in modelling"),
        (T.IAO_DENOTES, "denotes"),
    ]:
        a(prop, T.RDF_TYPE, T.OWL_OBJECT_PROPERTY)
        a(prop, T.RDFS_LABEL, lbl, lit=True)
    for dprop in [T.DC_DESCRIPTION, T.DWC_TAXON_ID, T.DWC_PARENT_NAME_USAGE_ID,
                  T.KB_SORT_CHAR_NUM, T.KB_SORT_SPECIES]:
        a(dprop, T.RDF_TYPE, T.OWL_DATATYPE_PROPERTY)
    a(T.KB_SORT_CHAR_NUM, T.RDFS_LABEL, "sort character number", lit=True)
    a(T.KB_SORT_SPECIES, T.RDFS_LABEL, "sort species", lit=True)
    for aprop in [T.RDFS_LABEL, T.RDFS_COMMENT, T.RDFS_SEEALSO]:
        a(aprop, T.RDF_TYPE, T.OWL_ANNOTATION_PROPERTY)
    a(T.PROV_ENTITY, T.RDF_TYPE, T.OWL_CLASS)
    a(T.PROV_HAD_PRIMARY_SOURCE, T.RDF_TYPE, T.OWL_OBJECT_PROPERTY)
    a(T.PROV_HAD_PRIMARY_SOURCE, T.RDFS_LABEL, "had primary source", lit=True)
    return rows
