"""Schema validation of extract outputs (the reference's Ajv layer —
util.js:1065-1140 compiles schemas/browserlib/extract-*.json and every
test/extract-*.js asserts validity; SURVEY.md §5).

Three angles:
* every module output over the synthetic corpus validates;
* the reference golden corpora outputs validate (the byte-parity cases
  double as schema conformance cases);
* seeded violations (wrong enum, missing required key, extra property,
  pattern miss) are caught — the failure modes goldens can't see.
"""

import json
import os

import pytest

from reffy_spark.extractors.base import CORE_MODULES, extract_page
from reffy_spark.sources.synthetic import page_html, url_of_page
from reffy_spark.validation import (
    DEFS,
    MODULE_SCHEMAS,
    validate,
    validate_extracts,
    validate_module,
    validate_post,
)

DATA = os.path.join(os.path.dirname(__file__), "data", "reference_goldens")


# ---------------------------------------------------------------------------
# synthetic corpus: every module validates on every page
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("i", [0, 1, 2, 7, 13, 29])
def test_synthetic_page_extracts_validate(i):
    res = extract_page(page_html(i, 60), url_of_page(i), CORE_MODULES)
    for mod in CORE_MODULES:
        errs = validate_module(mod, res[mod])
        assert errs == [], f"module {mod}: {errs[:5]}"


# ---------------------------------------------------------------------------
# reference golden corpora outputs validate
# ---------------------------------------------------------------------------


def _golden_cases(name):
    with open(os.path.join(DATA, name + ".json")) as f:
        return json.load(f)


@pytest.mark.parametrize(
    "corpus,module",
    [
        ("extract-css", "css"),
        ("extract-elements", "elements"),
        ("extract-algorithms", "algorithms"),
        ("extract-references", "refs"),
        ("extract-ids", "ids"),
        ("extract-links", "links"),
        ("extract-cddl", "cddl"),
    ],
)
def test_golden_corpus_outputs_validate(corpus, module):
    checked = 0
    for case in _golden_cases(corpus):
        got = extract_page(case["html"], "https://example.org/spec/", [module])[module]
        if isinstance(got, dict) and "error" in got:
            continue  # css error cases: the reference validates only clean extracts
        errs = validate_module(module, got)
        assert errs == [], f"{corpus} {case.get('title', '?')!r}: {errs[:5]}"
        checked += 1
    assert checked > 3


# ---------------------------------------------------------------------------
# distributed validation operator
# ---------------------------------------------------------------------------


def test_validate_extracts_clean_corpus_is_empty(spark):
    from reffy_spark.extractors.base import extract_all
    from reffy_spark.sources.synthetic import gen_pages

    pages = gen_pages(spark, 40, partitions=4)
    ex = extract_all(pages, ["headings", "links", "dfns", "refs", "events"])
    bad = validate_extracts(ex, url_col="url")
    assert bad.count() == 0


def test_validate_extracts_flags_seeded_violation(spark):
    from pyspark.sql import functions as F

    from reffy_spark.extractors.base import extract_all
    from reffy_spark.sources.synthetic import gen_pages

    pages = gen_pages(spark, 8, partitions=2)
    ex = extract_all(pages, ["dfns"])
    # corrupt one page's dfn type to a non-enum value
    seeded = ex.withColumn(
        "dfns",
        F.when(
            F.col("url") == url_of_page(1),
            F.regexp_replace("dfns", '"type": "dfn"', '"type": "not-a-type"'),
        ).otherwise(F.col("dfns")),
    )
    bad = validate_extracts(seeded, url_col="url").collect()
    assert any("not in enum" in r["error"] for r in bad)
    assert all(r["module"] == "dfns" for r in bad)


# ---------------------------------------------------------------------------
# seeded violations per failure family
# ---------------------------------------------------------------------------


def _valid_dfn():
    return {
        "id": "x", "href": "https://s.test/#x", "linkingText": ["x"],
        "localLinkingText": [], "type": "dfn", "for": [], "access": "private",
        "informative": False, "heading": {"href": "https://s.test/", "title": "T"},
        "definedIn": "prose",
    }


def test_dfn_bad_enum_caught():
    d = _valid_dfn()
    d["type"] = "definitely-not-a-dfn-type"
    assert any("not in enum" in e for e in validate_module("dfns", [d]))


def test_dfn_missing_required_caught():
    d = _valid_dfn()
    del d["access"]
    assert any("missing required" in e for e in validate_module("dfns", [d]))


def test_dfn_additional_property_caught():
    d = _valid_dfn()
    d["novel_key"] = 1
    assert any("additional property" in e for e in validate_module("dfns", [d]))


def test_heading_number_pattern_caught():
    h = {"id": "h", "href": "https://s.test/#h", "title": "T", "level": 2,
         "number": "1.2.x"}
    assert any("pattern" in e for e in validate_module("headings", [h]))
    h["number"] = "1.2.3"
    assert validate_module("headings", [h]) == []


def test_links_empty_anchors_caught():
    v = {"rawlinks": {"https://t.test/": {"anchors": []}}, "autolinks": {}}
    assert any("minItems" in e for e in validate_module("links", v))
    v = {"rawlinks": {"https://t.test/": {"anchors": ["a"]}}, "autolinks": {}}
    assert validate_module("links", v) == []


def test_events_interface_pattern_caught():
    ev = [{"type": "click", "interface": "lowercase"}]
    assert any("pattern" in e for e in validate_module("events", ev))
    assert validate_module("events", [{"type": "click", "interface": "MouseEvent"}]) == []


def test_generator_enum():
    assert validate_module("generator", "respec") == []
    assert validate_module("generator", None) == []
    assert validate_module("generator", "handwritten") != []


# ---------------------------------------------------------------------------
# postprocessing schemas
# ---------------------------------------------------------------------------


def test_post_idlnames_shape():
    good = {"AudioNode": {"fragment": "f", "parsed": "p", "type": "interface"}}
    assert validate_post("idlnames", good) == []
    bad = {"audioNode": {"fragment": "f", "parsed": "p", "type": "interface"}}
    assert any("pattern" in e for e in validate_post("idlnames", bad))


def test_post_idlnames_parsed_recursive_self_ref():
    leaf = {
        "name": "B", "type": "interface",
        "defined": {"spec": {"title": "S", "url": "https://s.test/"}, "fragment": "g"},
        "extended": [], "includes": [], "inheritance": None,
    }
    node = {
        "name": "A", "type": "interface",
        "defined": {"spec": {"title": "S", "url": "https://s.test/"}, "fragment": "f"},
        "extended": [], "includes": [leaf], "inheritance": leaf,
    }
    assert validate_post("idlnames-parsed", node) == []
    node["includes"] = [{"name": "bad-name"}]
    assert validate_post("idlnames-parsed", node) != []


def test_post_backrefs_requires_nonempty_referencedby():
    rec = {
        "spec": {"title": "S", "url": "https://s.test/"},
        "backrefs": [
            {
                "id": "x", "href": "https://s.test/#x", "linkingText": ["x"],
                "type": "dfn", "for": [], "access": "public", "referencedBy": [],
            }
        ],
    }
    assert any("minItems" in e for e in validate_post("backrefs", rec))


def test_validator_rejects_unknown_ref():
    from reffy_spark.validation.validator import SchemaError

    with pytest.raises(SchemaError):
        validate({}, {"$ref": "no-such-def"}, DEFS)


def test_every_module_has_a_schema():
    assert set(MODULE_SCHEMAS) == set(CORE_MODULES)


def test_validate_extracts_composes_with_crawl_results(spark):
    # the crawl engine's results table (module columns as JSON strings)
    # feeds validate_extracts directly — the reference validates every
    # crawl result the same way (util.js:1065-1140 in test harnesses)
    from reffy_spark.operators.crawler import CrawlEngine
    from reffy_spark.sources import synthetic as syn
    from reffy_spark.testing.fixtures import gen_robots

    pages = syn.gen_pages(spark, 30, partitions=2)
    robots = gen_robots(spark)
    res = CrawlEngine(
        spark, pages, robots, modules=["headings", "links", "dfns"],
        use_bloom=False, collect_metrics=False, discover=False,
    ).crawl(pages.select("url").limit(10), max_rounds=1)
    ok = res.results.filter("status = 'ok'")
    assert ok.count() > 0
    bad = validate_extracts(ok, modules=["headings", "links", "dfns"])
    assert bad.count() == 0
