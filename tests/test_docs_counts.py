"""One source of truth for registry counts (VERDICT r3 item 7).

COVERAGE.md / README.md / BASELINE.md repeatedly drifted from the live
registry ("46 canonical" vs "47" vs "49" across round-3 docs). This
test derives the real numbers from the registry module and asserts
every "<N> canonical quer..." / "<N> oracle checks" claim in the docs
matches them, so a stale count fails CI instead of confusing the next
reader.
"""

from __future__ import annotations

import os
import re

from rdf_generator_spark import queries as Q

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_CANONICAL = len(Q.QUERIES)
N_ORACLE_CHECKS = len(Q.ORACLES)

DOCS = ["COVERAGE.md", "README.md", "BASELINE.md"]

PATTERNS = [
    # "46 canonical queries/operator entries/entries"
    (re.compile(r"(\d+) canonical (?:quer|operator|entr)"), N_CANONICAL),
    # "91 oracle checks"
    (re.compile(r"(\d+) oracle checks"), N_ORACLE_CHECKS),
]


def test_registry_is_fully_oracled():
    assert set(Q.ORACLES) == set(Q.QUERIES)


def test_doc_count_claims_match_registry():
    failures = []
    n_claims = 0
    for doc in DOCS:
        text = open(os.path.join(REPO, doc), encoding="utf-8").read()
        for pat, want in PATTERNS:
            for m in pat.finditer(text):
                n_claims += 1
                if int(m.group(1)) != want:
                    failures.append(f"{doc}: '{m.group(0)}' should be {want}")
    assert not failures, failures
    # the claims must actually exist (guard against silently reworded docs)
    assert n_claims >= 6, n_claims
