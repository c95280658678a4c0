"""URL kernel goldens.

Expected values derived from the reference semantics:
canonicalizeUrl — /root/reference/src/postprocessing/annotate-links.js:6-17,
getOrigin — /root/reference/src/lib/throttled-queue.js:18-37,
encodeURIComponent parity — src/browserlib/get-absolute-url.mjs:13-29.
"""

import pytest
from pyspark.sql import functions as F

from reffy_spark.functions.urls import (
    canonicalize_url_py,
    encode_uri_component,
    host_group_col,
    host_group_py,
    url_canon_col,
    url_canon_py,
    with_url_canon,
)

CANON_CASES = [
    ("http://www.w3.org/TR/css-flexbox-1/", "https://www.w3.org/TR/css-flexbox-1/"),
    ("https://www.w3.org/TR/SVG11/index.html", "https://www.w3.org/TR/SVG11/"),
    ("https://html.spec.whatwg.org/multipage/forms.html", "https://html.spec.whatwg.org/"),
    ("https://www.w3.org/TR/CSS21/visuren.html#anchor", "https://www.w3.org/TR/CSS21/"),
    ("https://www.w3.org/TR/css-fonts-4", "https://www.w3.org/TR/css-fonts-4/"),
    ("https://w3c.github.io/gamepad", "https://w3c.github.io/gamepad/"),
    ("https://drafts.csswg.org/css-align/Overview.html", "https://drafts.csswg.org/css-align/"),
    ("https://example.org/spec#frag", "https://example.org/spec"),
]

HOST_GROUP_CASES = [
    ("https://html.spec.whatwg.org/multipage/", "whatwg.org"),
    ("https://w3c.github.io/gamepad/", "github.io"),
    ("https://drafts.csswg.org/css-align/", "csswg.org"),
    ("https://drafts.css-houdini.org/worklets/", "csswg.org"),
    ("https://drafts.fxtf.org/compositing/", "csswg.org"),
    ("https://www.w3.org/TR/foo/", "www.w3.org"),
    ("https://tc39.es/ecma262/", "tc39.es"),
]


@pytest.mark.parametrize("url,expected", CANON_CASES)
def test_canonicalize_py(url, expected):
    assert canonicalize_url_py(url) == expected


def test_url_canon_py_rfc3986():
    assert url_canon_py("HTTPS://Example.ORG:443/Path/%7efoo%2fbar?x=%3d") == (
        "https://example.org/Path/~foo%2Fbar?x=%3D"
    )
    assert url_canon_py("http://EXAMPLE.org:80/a#frag") == "https://example.org/a"


@pytest.mark.parametrize("url,expected", HOST_GROUP_CASES)
def test_host_group_py(url, expected):
    assert host_group_py(url) == expected


def test_encode_uri_component_js_parity():
    # JS: encodeURIComponent("a b!'()*~-_.c/é") === "a%20b!'()*~-_.c%2F%C3%A9"
    assert encode_uri_component("a b!'()*~-_.c/é") == "a%20b!'()*~-_.c%2F%C3%A9"
    assert encode_uri_component("x#y?z") == "x%23y%3Fz"


# empty query (urlunsplit drops it) and percent-escape cases; the Column
# kernel is checked against url_canon_py on each below
CANON_KEY_CASES = [
    ("https://a.org/p?", "https://a.org/p"),
    ("https://a.org/p?#f", "https://a.org/p"),
    ("https://a.org?", "https://a.org"),
    ("https://a.org/p? ", "https://a.org/p"),
    ("https://www.w3.org/TR/x?", "https://www.w3.org/TR/x/"),
    ("https://a.org/p??", "https://a.org/p??"),
    ("https://a.org/p?q?", "https://a.org/p?q?"),
    ("https://a.org/p?q#?", "https://a.org/p?q"),
    ("https://a.org/%7ex/%2f%zz%4%", "https://a.org/~x/%2F%25zz%254%25"),
    # idempotence: neither a decoded escape nor the index.html drop may
    # leave a new escape or an empty query for a second pass
    ("https://a.org/%4%41", "https://a.org/%254A"),
    ("https://a.org/%4index%2Ehtml1", "https://a.org/%2541"),
    ("https://a.org/p?index.html", "https://a.org/p"),
    ("https://a.org/d/index%2Ehtml?a=%3d%41", "https://a.org/d/?a=%3DA"),
    ("https://a.org/%c3%A9#%41", "https://a.org/%C3%A9"),
]


def test_column_kernels_match_python(spark):
    urls = [u for u, _ in CANON_CASES] + [u for u, _ in HOST_GROUP_CASES] + [
        "https://example.org/sp%2fec",  # percent-escape, uppercased in the JVM
        "HTTP://Mixed.Case.ORG/Path",
    ] + [u for u, _ in CANON_KEY_CASES]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r["url"]: (r["c"], r["g"])
        for r in with_url_canon(df)
        .withColumn("c", F.col("url_canon"))
        .withColumn("g", host_group_col(F.col("url")))
        .collect()
    }
    for u in urls:
        assert got[u][0] == url_canon_py(u), u
        assert got[u][1] == host_group_py(u), u


@pytest.mark.parametrize("url,expected", CANON_KEY_CASES)
def test_url_canon_py_empty_query_and_escapes(url, expected):
    assert url_canon_py(url) == expected


def test_url_canon_col_plan_is_jvm_only(spark):
    """Canonicalization, percent-escapes included, has no Python eval node."""
    df = spark.createDataFrame([("https://a.org/x",), ("https://a.org/%7ex",)], "url string")
    plan = (
        df.withColumn("c", url_canon_col(F.col("url")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_clean_method_name_f17(spark):
    from pyspark.sql import functions as F

    from reffy_spark.functions.text import clean_method_name_col, clean_method_name_py

    # note: the reference only trims spaces BEFORE commas (/ *,/g),
    # spaces after commas survive — byte-parity over prettiness
    cases = [
        ("foo ( a , b )", "foo(a, b)"),
        ("bar ( [ x ] )", "bar(x)"),
        ("baz()", "baz()"),
        # multi-paren names: only the FIRST " (" / " )" is rewritten
        # (JS .replace without /g, extract-dfns.mjs:441-442)
        ("f ( a ) g ( b )", "f(a) g ( b )"),
    ]
    for raw, want in cases:
        assert clean_method_name_py(raw) == want
    df = spark.createDataFrame([(r,) for r, _ in cases], "s string")
    got = [r["c"] for r in df.withColumn("c", clean_method_name_col(F.col("s"))).collect()]
    assert got == [w for _, w in cases]


def test_css_property_to_idl_attributes_f18():
    from reffy_spark.functions.text import css_property_to_idl_attributes

    assert css_property_to_idl_attributes("font-size") == ["font-size", "fontSize"]
    assert css_property_to_idl_attributes("color") == ["color"]
    assert css_property_to_idl_attributes("-webkit-box-align") == [
        "-webkit-box-align",
        "WebkitBoxAlign",
        "webkitBoxAlign",
    ]


def test_css_property_to_idl_attributes_reference_util_cases():
    # the exact three cases from the reference's test/util.js:113-126
    from reffy_spark.functions.text import css_property_to_idl_attributes as f

    assert f("touch-action") == ["touch-action", "touchAction"]
    assert f("-webkit-background-clip") == [
        "-webkit-background-clip", "WebkitBackgroundClip", "webkitBackgroundClip"
    ]
    assert f("display") == ["display"]
