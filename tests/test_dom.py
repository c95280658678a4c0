"""Mini-DOM unit tests (the query surface the extractors rely on)."""

from reffy_spark.html.dom import parse_html, parse_html_stdlib


HTML = """
<html><head><title> My  Spec </title>
<meta name="generator" content="bikeshed">
</head><body>
<div class="head"><a href="https://x.org/ignored#f">ign</a><time>10 June 2024</time></div>
<h2 id="t1">2.3 Title</h2>
<section data-reffy-page="https://ex.org/page2">
  <h3 id="t2">Sub</h3>
  <p>Some <dfn id="d1" data-dfn-type="dfn" data-lt="term|alias">term</dfn> here.</p>
</section>
<div class="note"><a href="https://y.org/spec#frag">note link</a></div>
<pre class="idl">interface Foo {};</pre>
<ul><li>one<li>two</ul>
<table><tr><td>a<td>b<tr><td>c</table>
<del><dfn id="gone">x</dfn></del>
</body></html>
"""


def test_parse_and_query():
    root = parse_html(HTML)
    assert root.query("title").text.strip() == "My  Spec"
    h2 = root.query("h2")
    assert h2.id == "t1" and h2.text == "2.3 Title"
    assert root.query("meta[name=generator]").get("content") == "bikeshed"
    assert len(root.query_all("li")) == 2
    assert [td.text for td in root.query_all("td")] == ["a", "b", "c"]


def test_selectors():
    root = parse_html(HTML)
    assert root.query("pre.idl").text == "interface Foo {};"
    assert root.query("#d1").get("data-lt") == "term|alias"
    assert root.query("[data-dfn-type]").id == "d1"
    assert len(root.query_all("div.note a, div.head a")) == 2
    assert root.query("section > h3").id == "t2"
    assert root.query("section > p") is not None
    assert root.query("body > h3") is None  # child combinator respected


def test_closest_and_ancestors():
    root = parse_html(HTML)
    dfn = root.query("#d1")
    sec = dfn.closest("[data-reffy-page]")
    assert sec is not None and sec.get("data-reffy-page") == "https://ex.org/page2"
    gone = root.query("#gone")
    assert gone.closest("del") is not None
    assert dfn.closest("del") is None


def test_document_order():
    root = parse_html(HTML)
    ids = sorted(
        (el.pos, el.id) for el in root.iter() if el.id
    )
    assert [i for _, i in ids] == ["t1", "t2", "d1", "gone"]


def test_attr_prefix_selector():
    root = parse_html('<a id="respec-x"></a><a id="ok"></a>')
    assert [e.id for e in root.query_all("[id^=respec-]")] == ["respec-x"]


# ---------------------------------------------------------------------------
# Indexed query engine ≡ legacy tree walk (the index is an optimization,
# never a semantics change)
# ---------------------------------------------------------------------------

import random

from reffy_spark.html.dom import _parse_selector

_TAGS = ["div", "p", "span", "section", "aside", "dfn", "a", "li", "h2"]
_CLASSES = ["note", "informative", "example", "algo", "x-y"]


def _random_html(rng: random.Random, n: int) -> str:
    out = []
    depth = 0
    for i in range(n):
        tag = rng.choice(_TAGS)
        attrs = ""
        if rng.random() < 0.5:
            attrs += f' class="{" ".join(rng.sample(_CLASSES, rng.randint(1, 2)))}"'
        if rng.random() < 0.4:
            attrs += f' id="e{i}"'
        if rng.random() < 0.2:
            attrs += ' data-dfn-type="dfn"'
        if depth > 0 and rng.random() < 0.45:
            out.append(f"</{_TAGS[0]}>")  # imbalanced on purpose
            depth -= 1
        out.append(f"<{tag}{attrs}>t{i}")
        depth += 1
    return "".join(out)


_SELECTORS = [
    "div", "p, span", "section dfn", "section > p", "div.note",
    ".informative, aside, .note", "[data-dfn-type]", "[id^=e1]",
    "div p span", "aside > dfn, section a", "*", ".x-y",
    "div.note a, .example > span", "li", "h2, section > aside dfn",
]


def test_indexed_query_matches_legacy_walk():
    rng = random.Random(7)
    for trial in range(25):
        root = parse_html(_random_html(rng, rng.randint(5, 120)))
        nodes = [root] + list(root.iter())
        for sel in _SELECTORS:
            compounds = _parse_selector(sel)
            for node in nodes[:: max(1, len(nodes) // 7)]:
                fast = node.query_all(sel)
                slow = node._query_all_walk(compounds)
                assert [e.pos for e in fast] == [e.pos for e in slow], (
                    f"trial {trial} sel {sel!r} node {node!r}"
                )


def test_iter_id_name_matches_walk():
    from reffy_spark.html.dom import iter_id_name

    rng = random.Random(23)
    for trial in range(25):
        # ~40% of elements get an id; add name attrs on a slice too
        html = _random_html(rng, rng.randint(5, 120)).replace(
            "t3", '<a name="n3">t3', 1
        )
        root = parse_html(html)
        for node in [root] + list(root.iter())[::5]:
            fast = [e.pos for e in iter_id_name(node)]
            slow = [
                e.pos
                for e in node.iter()
                if "id" in e.attrs or "name" in e.attrs
            ]
            assert fast == slow, f"trial {trial} node {node!r}"


def test_descendants_and_contains_match_walk():
    """The index's pre-order slice and pos/_end interval answer what the
    tree walk and the parent chain answer."""
    rng = random.Random(29)
    for trial in range(20):
        for parse in (parse_html, parse_html_stdlib):
            root = parse(_random_html(rng, rng.randint(5, 120)))
            nodes = [root] + list(root.iter())
            for node in nodes:
                assert [e.pos for e in node.descendants()] == [
                    e.pos for e in node.iter()
                ], f"trial {trial} node {node!r}"
            for a in nodes[:: max(1, len(nodes) // 9)]:
                for b in nodes:
                    up = b
                    while up is not None and up is not a:
                        up = up.parent
                    assert a.contains(b) == (up is a), (trial, a, b)


def test_within_matches_closest():
    rng = random.Random(11)
    for _ in range(10):
        root = parse_html(_random_html(rng, rng.randint(5, 100)))
        for sel in [".informative, aside, .note", "section", "div.note"]:
            for el in root.iter():
                assert el.within(sel) == (el.closest(sel) is not None)


def test_every_element_holds_its_document_index():
    """Both parsers index the document before returning: every element
    answers queries from the one index its root holds."""
    html = "<div><p class=note>x</p><span>y<b id=z>z</b></span></div>"
    for parse in (parse_html, parse_html_stdlib):
        root = parse(html)
        assert root._doc is not None
        assert all(el._doc is root._doc for el in root.iter())
        span = root.query("span")
        assert [e.tag for e in span.query_all("b, p")] == ["b"]
        assert root.query("#z").within("span")
        assert not root.query("p").within("span")


# ---------------------------------------------------------------------------
# Fast tokenizer ≡ stdlib html.parser builder (parse_html vs
# parse_html_stdlib) — tree equivalence over goldens, synthetic pages,
# and randomized messy HTML
# ---------------------------------------------------------------------------


def _tree_sig(el):
    """(tag, attrs, children) with adjacent text runs merged — text-run
    boundaries differ between the two parsers but concatenation must
    not."""
    kids = []
    buf = []
    for c in el.children:
        if isinstance(c, str):
            buf.append(c)
        else:
            if buf:
                kids.append("".join(buf))
                buf = []
            kids.append(_tree_sig(c))
    if buf:
        kids.append("".join(buf))
    return (el.tag, dict(el.attrs), kids)


def _assert_equiv(html):
    assert _tree_sig(parse_html(html)) == _tree_sig(parse_html_stdlib(html)), (
        f"parser divergence on: {html[:300]!r}"
    )


def test_rawtext_end_matches_stdlib_cdata_mode():
    """The fast parser's script/style end patterns are literals; they must
    equal what this interpreter's html.parser builds in set_cdata_mode."""
    from html.parser import HTMLParser

    from reffy_spark.html.dom import _RAWTEXT_END

    assert set(_RAWTEXT_END) == {"script", "style"}
    for tag, pat in _RAWTEXT_END.items():
        p = HTMLParser()
        p.set_cdata_mode(tag)
        assert (pat.pattern, pat.flags) == (
            p.interesting.pattern,
            p.interesting.flags,
        ), tag


def test_fast_parser_matches_stdlib_on_goldens():
    import json
    import os

    gold_dir = os.path.join(os.path.dirname(__file__), "data", "reference_goldens")
    n = 0
    for fn in sorted(os.listdir(gold_dir)):
        if not fn.endswith(".json"):
            continue
        cases = json.load(open(os.path.join(gold_dir, fn)))
        if not isinstance(cases, list):
            continue
        for case in cases:
            html = case.get("html") if isinstance(case, dict) else None
            if isinstance(html, str):
                _assert_equiv(html)
                n += 1
    assert n > 100  # the corpus actually loaded


def test_fast_parser_matches_stdlib_on_synthetic_pages():
    from reffy_spark.sources.synthetic import page_html

    for i in range(0, 50):
        _assert_equiv(page_html(i, 1000))


def test_fast_parser_matches_stdlib_on_messy_html():
    cases = [
        "plain text only",
        "a &amp; b &lt;c&gt; &#65; &#x42; &notsemi",
        "<p>unclosed <b>bold <i>both",
        "<ul><li>a<li>b<li>c</ul>",
        "<table><tr><td>a<td>b<tr><td>c</table>",
        "<dl><dt>t<dd>d<dt>t2<dd>d2</dl>",
        "<br><hr/><img src=x><input type=text>",
        "<script>if (a < b && c) { d(); } // <p>not a tag</script><p>after",
        "<style>a > b { color: red; } /* </div> tricks? no: */</style>ok",
        "<SCRIPT>x</SCRIPT><DIV CLASS=Big>Y</DIV>",
        "<!-- comment --><p>x<!-- multi\nline --></p>",
        "<!DOCTYPE html><html><body><p>hi",
        "<?xml version='1.0'?><p>pi dropped</p>",
        '<a href="x&amp;y" title=\'q&quot;z\' data-n=5 checked>t</a>',
        '<a href = "spaced" >t</a>',
        "<p>3 < 5 and x<y sometimes</p>",
        "<div/>self closed non-void<span>s</span>",
        '<a b="1" b="2">dup attr</a>',
        "<p>trailing <",
        "<em>entity at end &amp",
        "<p>a</p  ></div></p><p>b",
        "<h1 id=title>Title</h1><section><h2>S</h2><p id=p1>body</p></section>",
        "<td>orphan cell</td>",
        "<option>one<option>two",
        "text<>more",
        "<p title=\"multi\nline attr\">x</p>",
    ]
    for html in cases:
        _assert_equiv(html)

    import random

    rng = random.Random(13)
    frags = [
        "<div>", "</div>", "<p class='a b'>", "</p>", "<li>", "<span id=s>",
        "</span>", "text&amp;", "plain ", "<br>", "<b>", "</b>", "<!--c-->",
        "<script>v<1</script>", "&lt;", "<td>", "<tr>", "</table>", "<table>",
        "&#65;", "<img src=x>", "</li>", "<i data-x='1'>", "</i>",
    ]
    for _ in range(200):
        html = "".join(rng.choice(frags) for _ in range(rng.randint(1, 40)))
        _assert_equiv(html)
