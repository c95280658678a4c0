"""Crawl-level rollups: idlnames index + cssmerge (A9 core) + css views."""

import pytest
from pyspark.sql import functions as F

from reffy_spark.extractors.base import extract_all
from reffy_spark.plans import postprocess as PP
from reffy_spark.plans.views import css_properties_table


def test_idlnames_rollup(spark):
    extracts = spark.createDataFrame(
        [
            ("https://a.test/", "interface Foo {}; interface mixin M {};"),
            ("https://b.test/", "partial interface Foo { attribute DOMString x; };"),
            ("https://c.test/", "Foo includes M;"),
        ],
        "url string, idl string",
    )
    parsed = PP.idlparsed(extracts)
    rows = {r["name"]: r for r in PP.idlnames(parsed).collect()}
    assert rows["Foo"]["defined_in"] == ["https://a.test/"]
    assert rows["Foo"]["extended_in"] == ["https://b.test/", "https://c.test/"]
    assert rows["Foo"]["idl_type"] == "interface"
    assert rows["M"]["idl_type"] == "interface mixin"
    assert rows["M"]["extended_in"] == []


@pytest.fixture(scope="module")
def css_extracts(spark):
    html_a = (
        "<table class='propdef'>"
        "<tr><th>Name:</th><td><dfn id='p-margin'>margin</dfn></td></tr>"
        "<tr><th>Value:</th><td>auto</td></tr></table>"
        "<p><dfn id='at-page' data-dfn-type='at-rule'>@page</dfn></p>"
        "<table class='descdef'>"
        "<tr><th>Name:</th><td><dfn id='d-size'>size</dfn></td></tr>"
        "<tr><th>For:</th><td>@page</td></tr>"
        "<tr><th>Value:</th><td>&lt;length&gt;</td></tr></table>"
    )
    html_b = (
        "<table class='propdef'>"
        "<tr><th>Name:</th><td><dfn id='p-margin2'>margin</dfn></td></tr>"
        "<tr><th>New values:</th><td>clever</td></tr></table>"
    )
    df = spark.createDataFrame(
        [("https://a.test/", html_a), ("https://b.test/", html_b)],
        "url string, html string",
    )
    return extract_all(df, ["css"]).cache()


def test_css_views(css_extracts):
    props = css_properties_table(css_extracts).collect()
    by_url = {(r["url"], r["name"]): r for r in props}
    assert by_url[("https://a.test/", "margin")]["value"] == "auto"
    assert by_url[("https://b.test/", "margin")]["newValues"] == "clever"


def test_cssmerge_properties(css_extracts):
    props = css_properties_table(css_extracts)
    merged = {r["name"]: r["value"] for r in PP.cssmerge_properties(props).collect()}
    assert merged == {"margin": "auto | clever"}


def test_cssmerge_extension_only(spark):
    props = spark.createDataFrame(
        [("https://x.test/", "grid", None, "subgrid")],
        "url string, name string, value string, newValues string",
    )
    merged = PP.cssmerge_properties(props).collect()
    assert [(r["name"], r["value"]) for r in merged] == [("grid", "subgrid")]
