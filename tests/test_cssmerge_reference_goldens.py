"""cssmerge crawl-level goldens mechanically extracted from the
reference's own test suite (/root/reference/test/merge-css.js:159-770 —
each assertion recorded as (input crawl results, category, expected) in
tests/data/reference_goldens/merge-css.json)."""

import json
import os

import pytest

from reffy_spark.plans.cssmerge import cssmerge_crawl

DATA = os.path.join(
    os.path.dirname(__file__), "data", "reference_goldens", "merge-css.json"
)
with open(DATA) as f:
    CASES = json.load(f)


def _ids():
    out = []
    for c in CASES:
        t = c["title"][:50]
        if c.get("category"):
            t += "#" + c["category"]
        out.append(t)
    return out


@pytest.mark.parametrize("case", CASES, ids=_ids())
def test_reference_cssmerge_case(spark, case):
    got = cssmerge_crawl(spark, case["input"])
    if case.get("category"):
        got = got[case["category"]]
    assert got == case["expected"]
