#!/usr/bin/env python
"""Regenerate the pinned oracle VALUES in rdf_generator_spark/queries.py.

Ground truth is the pure-Python executable reference spec
(tests/oracle/refsim.py) run on the golden example corpus (the frozen
files in rdf_generator_spark/sources/golden_corpus/) — an independent
derivation from the Spark pipeline. Run from the repository root after
any semantic pipeline change or any edit of the corpus files:

    PYTHONPATH=. python scripts/regen_pins.py

The pinned v3_validation_scopes values are not written here: refsim has
no validator, so they follow from the scope rule stated next to them.
"""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rdf_generator_spark.queries import (  # noqa: E402
    FAMILIES, census_py, digest_py, family_pred_py,
)
from tests.fixtures import golden_parsed  # noqa: E402
from tests.oracle.refsim import RefSim  # noqa: E402

TARGET = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "rdf_generator_spark", "queries.py",
)


def o1o2_rows(final):
    """Independent Python derivation of the Turtle writer's ordering
    keys (O1 section/bucket routing + O2 phenotype sort,
    main.py:1424-1494) over the refsim final graph."""
    import hashlib

    from rdf_generator_spark import terms as T
    from rdf_generator_spark.sinks.turtle import (
        _BUCKETS, SECTION_ANNOT_PROPS, SECTION_CLASSES, SECTION_DATA_PROPS,
        SECTION_INDIVIDUALS, SECTION_OBJ_PROPS, SECTION_OTHER,
    )

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

    groups = {}
    for s, sec in sectioned:
        b = bucket_of(s) if sec == SECTION_INDIVIDUALS else 0
        if (sec == SECTION_INDIVIDUALS and b == 1
                and s in sort_char and s in sort_sp):
            s1, s2 = sort_char[s], sort_sp[s]
        else:
            s1, s2 = 10 ** 9, ""
        groups.setdefault((sec, b), []).append(f"{s1:010d}|{s2}|{s}")

    out = []
    for (sec, b) in sorted(groups):
        keys = sorted(groups[(sec, b)])
        digest = hashlib.md5("\n".join(keys).encode("utf-8")).hexdigest()
        out.append((sec, b, len(keys), digest))
    return out


def main() -> int:
    chars, cells, species, metadata, vocab = golden_parsed()
    out = RefSim(chars, cells, species, metadata, vocab).run()
    final = sorted(out["final"].triples())

    pins = {}
    for name in FAMILIES:
        pred = family_pred_py(name)
        pins[name] = digest_py([r for r in final if pred(r)])

    census = census_py(final)
    parts = []
    for key in ["char", "matrix", "species", "final"]:
        n, digest = digest_py(sorted(out[key].triples()))
        parts.append((key, n, digest))

    lines = ["GOLDEN_PINS: Dict[str, Tuple[int, str]] = {"]
    for name in sorted(pins):
        n, digest = pins[name]
        lines.append(f'    "{name}": ({n}, "{digest}"),')
    lines.append("}")
    lines.append("CENSUS_PINS: List[Tuple[str, int, str]] = [")
    for p, n, d in census:
        lines.append(f'    ("{p}", {n}, "{d}"),')
    lines.append("]")
    lines.append("PARTS_PINS: List[Tuple[str, int, str]] = [")
    for p, n, d in parts:
        lines.append(f'    ("{p}", {n}, "{d}"),')
    lines.append("]")
    block = "\n".join(lines)

    src = io.open(TARGET, encoding="utf-8").read()
    start = src.index(">>> GOLDEN_PINS_START")
    start = src.index("\n", start) + 1
    end = src.index("# <<< GOLDEN_PINS_END")
    src = src[:start] + block + "\n" + src[end:]

    oo = o1o2_rows(final)
    lines2 = ["O1O2_PINS: List[Tuple[int, int, int, str]] = ["]
    for sec, b, n, d in oo:
        lines2.append(f'    ({sec}, {b}, {n}, "{d}"),')
    lines2.append("]")
    start2 = src.index(">>> O1O2_PIN_START")
    start2 = src.index("\n", start2) + 1
    end2 = src.index("# <<< O1O2_PIN_END")
    src = src[:start2] + "\n".join(lines2) + "\n" + src[end2:]

    io.open(TARGET, "w", encoding="utf-8").write(src)
    print(f"wrote {len(pins)} family pins, {len(census)} census rows, "
          f"{len(parts)} part rows, {len(oo)} o1o2 rows to {TARGET}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
