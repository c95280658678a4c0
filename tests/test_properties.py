"""Hypothesis property tests over the pure-Python kernel twins.

The reference has no property-based testing (SURVEY.md §5); these guard
the invariants the distributed plans *assume* — canonicalization
idempotence (the URL-seen set dedupes on canon(url): a non-idempotent
canon would let the same page re-enter the frontier), bucket ranges,
and text-kernel stability. Most functions under test are the
driver-side twins of Column kernels and run without Spark; one test,
``test_url_canon_col_matches_py``, checks the canonicalization Column
kernel against its twin on thousands of generated URLs in one Spark job.
Bit-compatibility of the other Column kernels is left to the
engine/oracle suites.
"""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from reffy_spark.functions.text import (
    clean_method_name_py,
    normalize_ws_py,
    trim_spaces_py,
)
from reffy_spark.functions.urls import (
    canonicalize_url_py,
    host_group_py,
    url_canon_py,
)
from reffy_spark.operators.similarity import _cos_py, lsh_bucket_py

# URL-ish generator: scheme://host[:port]/path[?query][#fragment] from a
# deliberately nasty alphabet (mixed case, percent signs, unicode)
_hostchars = st.text(string.ascii_letters + string.digits + ".-", min_size=1, max_size=20)
_pathchars = st.text(
    string.ascii_letters + string.digits + "/%._~!$&'()*+,;=:@- é☃", max_size=30
)
_schemes = st.sampled_from(["http", "HTTP", "https", "HTTPS", "hTtPs"])
_ports = st.sampled_from(["", ":80", ":443", ":8080"])


def _url(scheme, host, port, path, frag):
    return f"{scheme}://{host}{port}/{path}{frag}"


_urls = st.builds(
    _url, _schemes, _hostchars, _ports, _pathchars, st.sampled_from(["", "#frag", "#", "#a/b"])
)


# _urls widened for Column/Python parity: "?" in the path, %XX escapes in
# both hex cases over unreserved, reserved and non-ASCII bytes, malformed
# escapes, an escaped "index.html", "%"/"?" in the fragment, and hosts the
# reference canonicalization rewrites
_escapes = st.builds(
    lambda b, case: case(f"%{b:02x}"),
    st.one_of(
        st.sampled_from(b"AZaz09-._~"),
        st.sampled_from(b":/?#[]@!$&'()*+,;=% "),
        st.integers(0x80, 0xFF),
    ),
    st.sampled_from([str.upper, str.lower, str.title]),
)
_parity_urls = st.builds(
    _url,
    _schemes,
    st.one_of(
        _hostchars, st.sampled_from(["www.w3.org", "w3c.github.io", "html.spec.whatwg.org"])
    ),
    _ports,
    st.lists(
        st.one_of(
            _pathchars,
            _escapes,
            st.sampled_from(["?", "%", "%4", "%zz", "index%2Ehtml", "index%2ehtml", "TR/"]),
        ),
        max_size=8,
    ).map("".join),
    st.sampled_from(["", "#frag", "#", "#a/b", "#%", "#%7e?x", "#?"]),
)


def test_url_canon_col_matches_py(spark):
    """url_canon_col ≡ url_canon_py on every generated URL, and
    url_canon_col is idempotent on them: one DataFrame, one collect (the
    crawl's key and its oracle must never disagree)."""
    from pyspark.sql import functions as F

    from reffy_spark.functions.urls import url_canon_col

    urls = []

    @given(_parity_urls)
    @settings(max_examples=2500, deadline=None, database=None)
    def draw(url):
        urls.append(url)

    draw()
    assert len(urls) >= 2000
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    canon = df.select("url", url_canon_col(F.col("url")).alias("c"))
    got = canon.select("url", "c", url_canon_col(F.col("c")).alias("c2")).collect()
    assert len(got) == len(urls)
    bad = [(r["url"], r["c"]) for r in got if r["c"] != url_canon_py(r["url"])]
    assert not bad, bad[:10]
    unstable = [(r["url"], r["c"], r["c2"]) for r in got if r["c2"] != r["c"]]
    assert not unstable, unstable[:10]


@given(_parity_urls)
@settings(max_examples=200, deadline=None)
def test_url_canon_idempotent(url):
    once = url_canon_py(url)
    assert url_canon_py(once) == once


@given(_urls)
@settings(max_examples=200, deadline=None)
def test_canonicalize_idempotent_and_fragment_free(url):
    once = canonicalize_url_py(url)
    assert canonicalize_url_py(once) == once
    assert "#" not in url_canon_py(url)


@given(_urls)
@settings(max_examples=200, deadline=None)
def test_host_group_stable_under_canon(url):
    # politeness groups on host: canonicalization must not move a URL
    # across host groups (it only case-folds/normalizes within one)
    assert host_group_py(url_canon_py(url)) == host_group_py(url_canon_py(url_canon_py(url)))


_texts = st.text(
    string.ascii_letters + string.digits + " \t\n.,;:!?#…'-*•", max_size=200
)


@given(_texts)
@settings(max_examples=200, deadline=None)
def test_normalize_ws_idempotent(text):
    once = normalize_ws_py(text)
    assert normalize_ws_py(once) == once
    assert "  " not in once and "\n" not in once and "\t" not in once


@given(_texts)
@settings(max_examples=200, deadline=None)
def test_trim_spaces_idempotent_preserves_line_count(text):
    once = trim_spaces_py(text)
    assert trim_spaces_py(once) == once
    assert len(once.split("\n")) == len(text.split("\n"))
    # no trailing spaces survive on any line
    assert all(not line.endswith(" ") for line in once.split("\n"))


@given(st.text(string.ascii_letters + " []().,", max_size=60))
@settings(max_examples=200, deadline=None)
def test_clean_method_name_idempotent(name):
    once = clean_method_name_py(name)
    assert clean_method_name_py(once) == once
    assert "[" not in once and "]" not in once


_vecs = st.lists(
    st.floats(min_value=-10, max_value=10, allow_nan=False).filter(
        lambda x: abs(x) > 1e-9
    ),
    min_size=4,
    max_size=16,
)


@given(_vecs, st.integers(min_value=1, max_value=12))
@settings(max_examples=100, deadline=None)
def test_lsh_bucket_in_range_and_deterministic(vec, n_planes):
    b = lsh_bucket_py(vec, n_planes)
    assert 0 <= b < (1 << n_planes)
    assert lsh_bucket_py(vec, n_planes) == b


@given(_vecs)
@settings(max_examples=100, deadline=None)
def test_cosine_self_and_symmetry(vec):
    assert abs(_cos_py(vec, vec) - 1.0) < 1e-9
    rev = [-x for x in vec]
    assert abs(_cos_py(vec, rev) + 1.0) < 1e-9


# --- similarity kernels -----------------------------------------------------

from reffy_spark.operators.similarity import probe_buckets


@given(_vecs, st.integers(min_value=2, max_value=10), st.integers(min_value=0, max_value=2))
@settings(max_examples=100, deadline=None)
def test_probe_buckets_hamming_ball(vec, n_planes, hamming):
    from reffy_spark.operators.similarity import lsh_bucket_py

    qb = lsh_bucket_py(vec, n_planes)
    probes = probe_buckets(vec, n_planes, hamming)
    # the exact bucket is always probed, every probe is in range and
    # within `hamming` bit flips of it, and the ball is complete
    assert qb in probes
    for b in probes:
        assert 0 <= b < (1 << n_planes)
        assert bin(b ^ qb).count("1") <= hamming
    expected = sum(
        __import__("math").comb(n_planes, r) for r in range(hamming + 1)
    )
    assert len(probes) == expected


@given(_vecs, st.floats(min_value=0.1, max_value=50, allow_nan=False))
@settings(max_examples=100, deadline=None)
def test_cosine_scale_invariant(vec, scale):
    from reffy_spark.operators.similarity import _cos_py

    other = [x + 1.0 for x in vec]
    a = _cos_py(vec, other)
    b = _cos_py([x * scale for x in vec], other)
    assert abs(a - b) < 1e-6


# --- F18 css property → IDL attribute names ---------------------------------

from reffy_spark.functions.text import css_property_to_idl_attributes


@given(
    st.lists(
        st.text(string.ascii_lowercase + string.digits, min_size=1, max_size=6),
        min_size=1,
        max_size=4,
    ).map("-".join),
    st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_css_to_idl_attribute_shapes(prop, webkit):
    if webkit:
        prop = "-webkit-" + prop
    out = css_property_to_idl_attributes(prop)
    # dashed form always first; camel-cased forms never keep a dash;
    # -webkit- adds exactly one extra (lowercase-w) variant
    assert out[0] == prop
    for v in out[1:]:
        assert "-" not in v
    assert len(out) == (3 if webkit else (2 if "-" in prop else 1))
    assert len(set(out)) == len(out)


# --- F3 encodeURIComponent parity properties --------------------------------

from urllib.parse import unquote

from reffy_spark.functions.urls import encode_uri_component


@given(st.text(max_size=80))
@settings(max_examples=200, deadline=None)
def test_encode_uri_component_roundtrip_and_ascii(s):
    enc = encode_uri_component(s)
    assert enc.isascii()
    # JS-unreserved marks survive unescaped; everything else is %XX
    for ch in enc:
        assert ch.isalnum() or ch in "-_.!~*'()%"
    assert unquote(enc) == s


@given(st.text(max_size=80))
@settings(max_examples=200, deadline=None)
def test_encode_uri_component_matches_byte_loop(s):
    # the table/fast-path implementation ≡ the literal per-byte spec loop
    from reffy_spark.functions.urls import _JS_SAFE

    expect = "".join(
        chr(b) if chr(b) in _JS_SAFE else f"%{b:02X}"
        for b in s.encode("utf-8")
    )
    assert encode_uri_component(s) == expect


# ---------------------------------------------------------------------------
# Fast HTML tokenizer ≡ stdlib builder on arbitrary tag soup. The two
# parsers must build identical trees (merged-text signature) for ANY
# input — the extraction UDFs run over crawled HTML, which is never
# well-formed at webtext scale.
# ---------------------------------------------------------------------------

from reffy_spark.html.dom import parse_html, parse_html_stdlib


def _dom_sig(el):
    kids, buf = [], []
    for c in el.children:
        if isinstance(c, str):
            buf.append(c)
        else:
            if buf:
                kids.append("".join(buf))
                buf = []
            kids.append(_dom_sig(c))
    if buf:
        kids.append("".join(buf))
    return (el.tag, dict(el.attrs), kids)


_soup_atoms = st.one_of(
    st.text(string.ascii_letters + string.digits + " \n&;#<>/='\"-", max_size=12),
    st.sampled_from(
        [
            "<div>", "</div>", "<p class='x y'>", "</p>", "<li>", "<td>",
            "<tr>", "<table>", "</table>", "<br>", "<b>", "</b>",
            "<span id=s>", "</span>", "<script>a<b</script>",
            "<style>p{}</style>", "<!--c-->", "<!DOCTYPE html>",
            # rawtext edges: non-boundary end tags, ws forms, bare opens
            # (the r7 review fuzz found the pre-closed atoms above can't
            # reach the cdata end-tag boundary cases)
            "<script>", "</script>", "</scriptx>", "</script y>",
            "</ script >", "</SCRIPT\t>", "<style>", "</style>",
            "</styleq>", "<script>a</scriptx>b</script>",
            # unterminated constructs (the stdlib EOF-salvage path)
            "</script", "<!--x", "<!d", "<?p", "</@q", "<div a",
            "&amp;", "&lt;", "&#65;", "&#x42;", "&bogus;", "&amp",
            "<a href=\"x&amp;y\">", "</a>", "<img src=x>", "<input value='q'>",
            "<dl><dt>t<dd>d", "<option>o", "<p title=\"m\nl\">",
        ]
    ),
)


@given(st.lists(_soup_atoms, min_size=0, max_size=25))
@settings(max_examples=300, deadline=None)
def test_fast_parser_equivalent_on_tag_soup(atoms):
    html = "".join(atoms)
    assert _dom_sig(parse_html(html)) == _dom_sig(parse_html_stdlib(html))
