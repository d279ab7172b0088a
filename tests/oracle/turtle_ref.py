"""Pure-Python Turtle reference: the byte-equality oracle of
`rdf_generator_spark/sinks/turtle.py`.

It renders one document's final graph the way the reference's writer
does (main.py:1273-1593), with plain strings, dicts and sorts — no
Spark: section and bucket routing, the phenotype metadata sort, the
qname policy, literal escaping and the `;`-chained subject blocks under
the prefix, ontology, section and bucket headers. Triples are
`(s, p, o, lit, dt)` tuples. The header texts and ordering tables are
the library's constants; the logic over them is derived here
independently.
"""

from __future__ import annotations

from rdf_generator_spark import terms as T
from rdf_generator_spark.sinks.turtle import (
    _BUCKETS, _CLS_PREFERRED, _FORCE_FULL, _IDV_PREFERRED, _ONTOLOGY_HEADER,
    _PREFIX_BLOCK, _SECTION_HEADERS, SECTION_ANNOT_PROPS, SECTION_CLASSES,
    SECTION_DATA_PROPS, SECTION_INDIVIDUALS, SECTION_OBJ_PROPS, SECTION_OTHER,
)


def _is_kb_generated(u: str) -> bool:
    if not u.startswith(T.KB):
        return False
    return u[len(T.KB):].startswith(T.KB_GENERATED_PREFIXES)


def render_iri(u: str) -> str:
    """_render_node for IRIs (main.py:1316-1338)."""
    if u.startswith(T.KB) and not _is_kb_generated(u):
        return f"<{u}>"
    for pref, ns in T.PREFIXES:
        if u.startswith(ns):
            local = u[len(ns):]
            if "/" in local or "#" in local or not local:
                continue
            if pref in _FORCE_FULL:
                return f"<{u}>"
            return f"{pref}:{local}"
    return f"<{u}>"


def render_literal(o: str, dt: str | None) -> str:
    """rdflib Literal.n3() equivalent for our value space."""
    esc = (
        o.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
        .replace("\r", "\\r")
    )
    if dt:
        return f'"{esc}"^^<{dt}>'
    return f'"{esc}"'


def render_node(o: str, lit: bool, dt: str | None) -> str:
    return render_literal(o, dt) if lit else render_iri(o)


def _render_block(subj: str, pos) -> str:
    """One `### <subj>` block; pos = sorted (p_txt, o_txt)."""
    subj_txt = render_iri(subj)
    lines = [f"### {subj_txt}"]
    for idx, (p_txt, o_txt) in enumerate(pos):
        lead = f"{subj_txt} " if idx == 0 else "  "
        term = "." if idx == len(pos) - 1 else ";"
        lines.append(f"{lead}{p_txt} {o_txt} {term}")
    return "\n".join(lines) + "\n"


def ordered_blocks(final):
    """(section, bucket, sort1, sort2, s) of every block of one
    document's graph, in file order: O1 section/bucket routing and the
    O2 phenotype sort (main.py:1424-1494). A subject is in every section
    one of its types names, Other if none; only subjects with triples
    get a block."""

    def typed(klass):
        return {s for (s, p, o, lit, dt) in final
                if p == T.RDF_TYPE and o == klass and not lit}

    classes = (
        typed(T.OWL_CLASS) | typed(T.RDF_NS + "Class")
        | typed(T.RDFS_NS + "Class") | typed(T.OWL_RESTRICTION)
        | {o for (s, p, o, lit, dt) in final
           if p == T.RDF_TYPE and not lit and o.startswith(T.KB)}
    )
    individuals = typed(T.OWL_NAMED_INDIVIDUAL)
    objp = typed(T.OWL_OBJECT_PROPERTY)
    datap = typed(T.OWL_DATATYPE_PROPERTY)
    annotp = typed(T.OWL_ANNOTATION_PROPERTY)
    subjects_with_triples = {s for (s, p, o, lit, dt) in final}

    sectioned = []
    for sset, sec in [
        (classes, SECTION_CLASSES), (individuals, SECTION_INDIVIDUALS),
        (objp, SECTION_OBJ_PROPS), (datap, SECTION_DATA_PROPS),
        (annotp, SECTION_ANNOT_PROPS),
    ]:
        sectioned += [(s, sec) for s in sset]
    in_any = classes | individuals | objp | datap | annotp
    sectioned += [(s, SECTION_OTHER) for s in subjects_with_triples - in_any]
    # blocks exist only for subjects that carry at least one triple
    sectioned = [(s, sec) for s, sec in sectioned if s in subjects_with_triples]

    sort_char, sort_sp = {}, {}
    for (s, p, o, lit, dt) in final:
        if p == T.KB_SORT_CHAR_NUM:
            sort_char[s] = min(sort_char.get(s, 10 ** 18), int(o))
        elif p == T.KB_SORT_SPECIES:
            sort_sp[s] = min(sort_sp.get(s, "￿"), o)

    def bucket_of(s):
        local = s[len(T.KB):] if s.startswith(T.KB) else ""
        for i in range(len(_BUCKETS) - 1):
            if local.startswith(_BUCKETS[i][0]):
                return i
        return len(_BUCKETS) - 1

    out = []
    for s, sec in sectioned:
        b = bucket_of(s) if sec == SECTION_INDIVIDUALS else 0
        if (sec == SECTION_INDIVIDUALS and b == 1
                and s in sort_char and s in sort_sp):
            s1, s2 = sort_char[s], sort_sp[s]
        else:
            s1, s2 = T.DEFAULT_CHAR_SORT_NUM, ""
        if s1 >= T.DEFAULT_CHAR_SORT_NUM:
            s2 = ""
        out.append((sec, b, s1, s2, s))
    return sorted(out)


def document_text(final) -> str:
    """The per-document Turtle file of one document's graph."""
    by_subj: dict = {}
    for t in final:
        by_subj.setdefault(t[0], []).append(t)
    parts = [_PREFIX_BLOCK + "\n\n" + _ONTOLOGY_HEADER]
    prev = None
    for sec, b, _s1, _s2, s in ordered_blocks(final):
        if prev is None or prev[0] != sec:
            parts.append(_SECTION_HEADERS[sec])
        if sec == SECTION_INDIVIDUALS and prev != (sec, b):
            parts.append(_BUCKETS[b][1] + "\n\n")
        prev = (sec, b)
        preferred = _IDV_PREFERRED if sec == SECTION_INDIVIDUALS else _CLS_PREFERRED
        rank = {p: i for i, p in enumerate(preferred)}
        pos = []
        for (_, p, o, lit, dt) in by_subj[s]:
            o_txt = render_node(o, lit, dt)
            r = 0 if sec == SECTION_OTHER else rank.get(p, len(preferred))
            pos.append(((r, p, o, o_txt), render_iri(p), o_txt))
        pos.sort()
        parts.append(_render_block(s, [(pt, ot) for _, pt, ot in pos]) + "\n")
    return "".join(parts)


def species_text(rows) -> str:
    """One species' ~8-triple graph (rdflib-default-style,
    main.py:657-672); rows are its (s, p, o, lit, dt) triples."""
    by_subj: dict = {}
    for (s, p, o, lit, dt) in rows:
        by_subj.setdefault(s, set()).add((render_iri(p), render_node(o, lit, dt)))
    parts = [_PREFIX_BLOCK + "\n\n"]
    for s in sorted(by_subj):
        pos = sorted(by_subj[s])
        parts.append(render_iri(s))
        for i, (pt, ot) in enumerate(pos):
            sep = " .\n\n" if i == len(pos) - 1 else " ;\n    "
            parts.append(f" {pt} {ot}{sep}" if i == 0 else f"{pt} {ot}{sep}")
    return "".join(parts)
