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
from tests.oracle.turtle_ref import ordered_blocks  # noqa: E402

TARGET = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "rdf_generator_spark", "queries.py",
)


def o1o2_rows(final):
    """Per (section, bucket) of the Turtle writer's ordering (O1
    section/bucket routing + O2 phenotype sort, main.py:1424-1494) over
    the refsim final graph: the block count and the digest of the
    ordered subject keys. The ordering comes from the pure-Python
    Turtle oracle (tests/oracle/turtle_ref.py)."""
    import hashlib

    groups = {}
    for sec, b, s1, s2, s in ordered_blocks(final):
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
