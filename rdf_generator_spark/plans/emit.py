"""Triple emission as data: each family compiles to one SQL projection.

A triple family is a list of `Triple` rows. A row's subject, object and
condition are Spark SQL expressions over the input row — a column name
(`"char_iri"`, `"lc.uri"`) or a small expression (`"concat('cell:id-',
cell_n)"`, `"var_iri IS NOT NULL"`); the predicate and datatype are
constant IRIs. A constant in a subject or object is written with
`const()`, the one helper that quotes a Python string as a SQL literal.

`emit` compiles a whole family into a single `selectExpr` of
`explode(array(IF(cond, named_struct(...), NULL), ...))`, so the JVM
parses it in one call: a few py4j round trips per family however many
rows it has, where a Column tree costs round trips per expression node.
"""

from __future__ import annotations

from typing import NamedTuple, Optional, Sequence

from pyspark.sql import DataFrame


class Triple(NamedTuple):
    """One triple template: `s`, `o` and `cond` are SQL expressions, `p`
    and `dt` constant IRIs. `lit` marks a literal object (`dt` is its
    datatype, if any); a row with a `cond` is emitted only where the
    condition is true."""

    s: str
    p: str
    o: str
    lit: bool = False
    dt: Optional[str] = None
    cond: Optional[str] = None


def const(value: str) -> str:
    """`value` as a Spark SQL string literal (backslash escapes, the
    parser's default)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _struct_sql(r: Triple) -> str:
    dt = const(r.dt) if r.dt else "CAST(NULL AS STRING)"
    st = (
        f"named_struct('s', {r.s}, 'p', {const(r.p)}, "
        f"'o', CAST({r.o} AS STRING), 'lit', {str(r.lit).lower()}, 'dt', {dt})"
    )
    return f"IF({r.cond}, {st}, NULL)" if r.cond else st


def emit(df: DataFrame, family: Sequence[Triple],
         doc_cols=("repo", "commit")) -> DataFrame:
    """Explode the family's triples per row, dropping rows whose
    condition is false; null subjects/objects are also dropped (absent
    optional nodes), so a condition never needs to test its own row's
    subject or object for null.

    Explode-then-filter (not array filter-then-explode): `explode` and a
    post-filter stay inside whole-stage codegen, while a higher-order
    `filter(array, lambda)` would fall back to interpreted evaluation in
    the hottest loop of the pipeline (measured ~5x slower end-to-end).
    """
    arr = ", ".join(_struct_sql(r) for r in family)
    exploded = df.selectExpr(*doc_cols, f"explode(array({arr})) AS __t")
    return exploded.filter(
        "__t IS NOT NULL AND __t.s IS NOT NULL AND __t.o IS NOT NULL"
    ).select(*doc_cols, "__t.s", "__t.p", "__t.o", "__t.lit", "__t.dt")


def union_emissions(*dfs: DataFrame) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out
