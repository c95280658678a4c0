"""Extractor golden tests, modeled on the reference's per-extractor test
files (/root/reference/test/extract-*.js): inline HTML → expected JSON.
"""

from reffy_spark.extractors import extract_page

URL = "https://example.org/spec/"


def one(html, module):
    return extract_page(html, URL, [module])[module]


# --- headings (test/extract-headings.js:22-25 analog) ----------------------


def test_heading_basic():
    res = one("<h2 id=title>2.3 Title</h2>", "headings")
    assert res == [
        {
            "id": "title",
            "href": f"{URL}#title",
            "level": 2,
            "title": "Title",
            "number": "2.3",
        }
    ]


def test_heading_no_number_and_nested_id():
    res = one("<h1 id='intro'>Introduction</h1>", "headings")
    assert res == [
        {"id": "intro", "href": f"{URL}#intro", "level": 1, "title": "Introduction"}
    ]


def test_heading_css21_a_name():
    res = one("<h3><a name='anchor'></a>Old Style</h3>", "headings")
    assert res[0]["id"] == "anchor"
    assert res[0]["href"] == f"{URL}#anchor"
    assert res[0]["level"] == 3


def test_heading_appendix_number():
    res = one("<h2 id='refs'>A. Normative references</h2>", "headings")
    assert res[0]["number"] == "A"
    assert res[0]["title"] == "Normative references"


def test_heading_nested_in_heading_has_no_id():
    """A heading nested in a heading maps the outer id to the inner
    heading's section, whose heading carries only a name: the record has
    no ``id`` (extract-headings.mjs reads ``heading.id``, undefined
    there), so it fails the schema's ``required`` instead of raising."""
    from reffy_spark.validation import validate_module

    for html, level, title in [
        ('<h2 id="a"><span><h1 name="b">x</h1></span></h2>', 2, "x"),
        ('<h2 id="a"><h1 name="b">x</h1></h2>', 2, "x"),
        ('<h3 id="a">A<h1 name="b">B', 3, "B"),
    ]:
        res = one(html, "headings")
        assert res == [{"href": f"{URL}#a", "level": level, "title": title}]
        assert validate_module("headings", res) != []


# --- ids --------------------------------------------------------------------


def test_ids_filters_and_a_name():
    html = (
        "<p id='keep'></p><p id='respec-x'></p><p id='dfn-panel-y'></p>"
        "<a name='named'></a><a id='same' name='same'></a>"
    )
    res = one(html, "ids")
    assert res == [f"{URL}#keep", f"{URL}#same", f"{URL}#named"]


def test_ids_encode_fragment():
    res = one("<p id='a b'></p>", "ids")
    assert res == [f"{URL}#a%20b"]


def test_ids_multipage():
    html = (
        "<section data-reffy-page='https://example.org/page2.html'>"
        "<p id='inpage2'></p></section><p id='inpage1'></p>"
    )
    res = one(html, "ids")
    assert "https://example.org/page2.html#inpage2" in res
    assert f"{URL}#inpage1" in res


# --- links -------------------------------------------------------------------


def test_links_raw_auto_split_and_filters():
    html = """
    <div class='head'><a href='https://ignored.org/x#f'>self</a></div>
    <a href='https://a.org/spec#one'>one</a>
    <a href='https://a.org/spec#two'>two</a>
    <a href='https://a.org/spec#one'>dup</a>
    <a href='https://b.org/spec'>no frag</a>
    <a href='https://c.org/spec#auto' data-link-type='dfn'>auto</a>
    <del><a href='https://d.org/x#gone'>deleted</a></del>
    <a href='relative#skipme'>relative</a>
    """
    res = one(html, "links")
    assert res["rawlinks"] == {
        "https://a.org/spec": {"anchors": ["one", "two"]},
        "https://b.org/spec": {},
    }
    assert res["autolinks"] == {"https://c.org/spec": {"anchors": ["auto"]}}


# --- dfns --------------------------------------------------------------------


def test_dfns_core():
    html = (
        "<h2 id='s1'>1. Terms</h2>"
        "<p><dfn id='d1' data-dfn-type='dfn' data-lt='term|alias' data-export=''>"
        "term</dfn></p>"
        "<p><dfn id='bad' data-dfn-type='nope'>bad</dfn></p>"
        "<del><dfn id='gone' data-dfn-type='dfn'>gone</dfn></del>"
        "<div class='note'><dfn id='noted' data-dfn-type='dfn'>noted</dfn></div>"
    )
    res = one(html, "dfns")
    ids = [d["id"] for d in res]
    assert ids == ["d1", "noted"]
    d1 = res[0]
    assert d1["linkingText"] == ["term", "alias"]
    assert d1["type"] == "dfn"
    assert d1["access"] == "public"
    assert d1["informative"] is False
    assert d1["href"] == f"{URL}#d1"
    assert d1["heading"]["id"] == "s1"
    noted = res[1]
    assert noted["informative"] is True
    assert noted["definedIn"] == "note"
    assert noted["access"] == "private"  # dfn type without data-export


def test_dfns_for_split_keeps_parenthesized_commas():
    html = (
        "<dfn id='m' data-dfn-type='method' "
        "data-dfn-for='method(foo,bar), method()'>m()</dfn>"
    )
    res = one(html, "dfns")
    assert res[0]["for"] == ["method(foo,bar)", "method()"]
    assert res[0]["access"] == "public"  # non-dfn type exports by default


def test_dfns_imported_definition_skipped():
    html = (
        "<dfn id='imp' data-dfn-type='dfn'>"
        "<a href='https://other.org/spec#x'>imported</a></dfn>"
    )
    assert one(html, "dfns") == []


def test_dfns_first_wins_dedupe():
    html = (
        "<dfn id='a' data-dfn-type='interface' data-export=''>Foo</dfn>"
        "<dfn id='b' data-dfn-type='interface' data-export=''>Foo</dfn>"
    )
    res = one(html, "dfns")
    assert [d["id"] for d in res] == ["a"]


def test_dfns_legacy_spec_all_public():
    # no data-dfn-* anywhere → usesDfnDataModel false → all public
    res = one("<dfn id='x'>legacy</dfn>", "dfns")
    assert res[0]["access"] == "public"
    assert res[0]["type"] == "dfn"


# --- refs ---------------------------------------------------------------------


def test_refs_heading_fallback():
    html = (
        "<h2 id='nr'>Normative references</h2><dl>"
        "<dt>[HTML]</dt><dd><a href='https://html.spec.whatwg.org/'>HTML</a></dd>"
        "<dt>[CSS]</dt><dd><a href='https://www.w3.org/TR/CSS/'>CSS</a></dd></dl>"
        "<h2 id='ir'>Informative references</h2><dl>"
        "<dt>[DOM]</dt><dd><a href='https://dom.spec.whatwg.org/'>DOM</a></dd></dl>"
    )
    res = one(html, "refs")
    assert res["normative"] == [
        {"name": "HTML", "url": "https://html.spec.whatwg.org/"},
        {"name": "CSS", "url": "https://www.w3.org/TR/CSS/"},
    ]
    assert res["informative"] == [{"name": "DOM", "url": "https://dom.spec.whatwg.org/"}]


def test_refs_bikeshed_rules():
    html = (
        "<meta name='generator' content='Bikeshed 1.0'>"
        "<h3 id='normative'>Normative</h3><dl>"
        "<dt>[X]</dt><dd><a href='https://x.org/'>X</a></dd></dl>"
    )
    res = one(html, "refs")
    assert res["normative"] == [{"name": "X", "url": "https://x.org/"}]


def test_refs_none():
    assert one("<p>nothing</p>", "refs") is None


# --- idl / cddl ----------------------------------------------------------------


def test_idl_pre_blocks_joined():
    html = (
        "<pre class='idl'>interface A {\n  attribute DOMString x;\n};</pre>"
        "<p>prose</p>"
        "<pre class='idl'>interface B {};</pre>"
        "<pre class='idl exclude'>interface Nope {};</pre>"
        "<div class='example'><pre class='idl'>interface Ex {};</pre></div>"
    )
    res = one(html, "idl")
    assert res == "interface A {\n  attribute DOMString x;\n};\n\ninterface B {};"


def test_idl_bikeshed_index():
    html = (
        "<meta name='generator' content='Bikeshed'>"
        "<h2 id='idl-index'>IDL index</h2><pre>interface FromIndex {};</pre>"
        "<pre class='idl'>interface Ignored {};</pre>"
    )
    assert one(html, "idl") == "interface FromIndex {};"


def test_cddl_modules_rollup():
    html = (
        "<pre class='cddl' data-cddl-module='modA'>a = 1</pre>"
        "<pre class='cddl cddl-modB'>b = 2</pre>"
        "<pre class='cddl'>shared = 3</pre>"
    )
    res = one(html, "cddl")
    as_map = {r["name"]: r["cddl"] for r in res}
    assert as_map["all"] == "a = 1\n\nb = 2\n\nshared = 3"
    assert as_map["modA"] == "a = 1\n\nshared = 3"
    assert as_map["modB"] == "b = 2\n\nshared = 3"


# --- metadata -------------------------------------------------------------------


def test_metadata():
    html = (
        "<title>  My   Spec </title>"
        "<meta name='generator' content='Bikeshed 4'>"
        "<meta name='document-revision' content='"
        + "ab" * 20
        + "'>"
        "<div class='head'><time>10 June 2024</time></div>"
    )
    res = extract_page(html, URL, ["title", "generator", "date", "revision"])
    assert res["title"] == "My Spec"
    assert res["generator"] == "bikeshed"
    assert res["date"] == "10 June 2024"
    assert res["revision"] == "ab" * 20


def test_generator_respec_and_none():
    assert one("<meta name='generator' content='ReSpec 32'>", "generator") == "respec"
    assert one("<body id='respecDocument'></body>", "generator") == "respec"
    assert one("<p>plain</p>", "generator") is None


# --- events / elements / algorithms ----------------------------------------------


def test_events_summary_table():
    html = """
    <table>
      <thead><tr><th>Event</th><th>Interface</th><th>Bubbles</th><th>Cancelable</th>
          <th>Targets</th></tr></thead>
      <tbody><tr><td><dfn id='event-click'>click</dfn></td><td><code>PointerEvent</code></td><td>Yes</td>
          <td>No</td><td>Element</td></tr></tbody>
    </table>
    """
    res = one(html, "events")
    assert res == [
        {
            "type": "click",
            "src": {"format": "summary table", "href": f"{URL}#event-click"},
            "href": f"{URL}#event-click",
            "interface": "PointerEvent",
            "bubbles": True,
            "cancelable": False,
            "targets": ["Element"],
        }
    ]


def test_elements_interface():
    html = (
        "<h4 id='the-p'><dfn id='p-el'>p</dfn> element</h4>"
        "<dl class='element'><dt>DOM interface:</dt>"
        "<dd>Uses <code>HTMLParagraphElement</code>.</dd></dl>"
    )
    res = one(html, "elements")
    assert res == [
        {"name": "p", "href": f"{URL}#p-el", "interface": "HTMLParagraphElement"}
    ]


def test_algorithms_steps():
    html = (
        "<div class='algorithm' data-algorithm='run a thing' id='alg'>"
        "<ol><li>First step.</li><li>Second step."
        "<ol><li>Let x be nested.</li></ol></li></ol></div>"
    )
    res = one(html, "algorithms")
    assert res[0]["name"] == "run a thing"
    assert res[0]["steps"][0] == {"html": "First step."}
    # the nested list carries a step operation ("let") → nested algorithm
    assert res[0]["steps"][1]["rationale"] == "let"
    assert res[0]["steps"][1]["steps"] == [{"html": "Let x be nested."}]
    assert res[0]["steps"][1]["html"] == "Second step."


def test_algorithms_nested_list_without_operations_is_ignored():
    html = (
        "<div class='algorithm' data-algorithm='run a thing' id='alg'>"
        "<ol><li>First step.</li><li>Second step."
        "<ol><li>Nested.</li></ol></li></ol></div>"
    )
    res = one(html, "algorithms")
    # reference semantics: a nested <ol> whose items carry no recognized
    # step operation is reported in `ignored`, not as sub-steps
    assert res[0]["steps"][1] == {"html": "Second step.", "ignored": ["Nested."]}


def test_algorithms_prose_before_steps_is_the_intro():
    # no intro paragraph: the item's nodes before the <ol> introduce it,
    # they name it (the heading after the steps is not read), and their
    # relative URLs resolve against the page URL, not the section's page
    html = (
        "<section data-reffy-page='https://example.org/other/p2.html'><ul>"
        "<li>To do <a href='rel.html#x'>x</a> per <h3 id='h1'>Name</h3>,"
        "<span class='note'>n</span><ol><li>set x<li>return y</ol>"
        "<h4 id='after'>after</h4></li></ul></section>"
    )
    res = one(html, "algorithms")
    assert res == [
        {
            "name": "Name",
            "href": "https://example.org/other/p2.html#h1",
            "html": f'To do <a href="{URL}rel.html#x">x</a> per '
            '<h3 id="h1">Name</h3>,',
            "rationale": "set",
            "steps": [{"html": "set x"}, {"html": "return y"}],
        }
    ]


def test_dfns_idl_type_fixup_leaves_the_page_unchanged():
    # ReSpec's "idl" dfn type becomes method/attribute in the dfns
    # output only: modules that run after dfns on the same page still
    # read the attribute as written
    html = (
        "<dfn id='s' data-dfn-type='idl' data-lt='[[slot]]'>x</dfn>"
        "<dfn id='m' data-dfn-type='idl'>run()</dfn>"
        "<div class='algorithm' data-algorithm='a' id='alg'>"
        "<p><dfn data-dfn-type='idl' id='n'>n</dfn></p><ol><li>set</ol></div>"
    )
    res = extract_page(html, URL, ["dfns", "algorithms"])
    assert [(d["id"], d["type"]) for d in res["dfns"]] == [
        ("s", "attribute"), ("m", "method"), ("n", "attribute"),
    ]
    assert res["algorithms"] == one(html, "algorithms")
    assert 'data-dfn-type="idl"' in res["algorithms"][0]["html"]


def test_events_fire_prose():
    html = """
    <section id='algo'>
    <p>Then <a href='https://dom.spec.whatwg.org/#concept-event-fire'>fire an
    event</a> named <code>resize</code> at the Window object.</p>
    </section>
    <div class='note'><a href='https://dom.spec.whatwg.org/#concept-event-fire'>
    fire an event</a> named <code>ignored</code></div>
    <p><a href='https://dom.spec.whatwg.org/#concept-event-fire'>fire an
    event</a> named <code>e</code></p>
    """
    res = one(html, "events")
    assert len(res) == 1
    ev = res[0]
    assert ev["type"] == "resize"
    assert ev["src"]["format"] == "fire an event phrasing"
    assert ev["href"] == f"{URL}#algo"
    assert ev["interface"] == "Event"  # 'fire an event' default


def test_events_fire_prose_dedup_vs_table():
    html = """
    <table><thead><tr><th>Event</th><th>Interface</th></tr></thead>
    <tbody><tr><td><dfn id='ev-x'>x</dfn></td><td><code>XEvent</code></td></tr></tbody></table>
    <p id='p1'><a href='https://dom.spec.whatwg.org/#concept-event-fire'>fire
    an event</a> named <code>zoom</code></p>
    """
    res = one(html, "events")
    types = sorted(e["type"] for e in res)
    assert types == ["x", "zoom"]

def test_events_table_rowheader_th_alignment():
    # tbody rows whose event-name cell is a row-header <th> must not shift
    # the column map (extract-events.mjs:81-93 reads thead th only; the
    # event name comes from the row's first cell whatever its tag)
    html = """
    <table>
      <thead><tr><th>Event</th><th>Interface</th><th>Bubbles</th></tr></thead>
      <tbody>
        <tr><th><dfn id='event-open'>open</dfn></th><td><code>Event</code></td><td>No</td></tr>
        <tr><td><dfn id='event-close'>close</dfn></td><td><code>CloseEvent</code></td><td>Yes</td></tr>
      </tbody>
    </table>
    """
    res = one(html, "events")
    by_type = {e["type"]: e for e in res}
    assert by_type["open"]["interface"] == "Event"
    assert by_type["open"]["bubbles"] is False
    assert by_type["close"]["interface"] == "CloseEvent"
    assert by_type["close"]["bubbles"] is True


def test_generator_respec_config_static_sniff():
    # get-generator.mjs:20-21 window.eval approximation: an inline
    # script assigning respecConfig marks the page as ReSpec
    from reffy_spark.extractors.base import extract_page

    html = (
        '<html><head><script>var respecConfig = {specStatus: "ED"};'
        "</script></head><body><h1>T</h1></body></html>"
    )
    assert extract_page(html, "https://x.test/", ["generator"])["generator"] == "respec"
    # a script loaded by src (no inline text) must NOT trip the sniff
    ext = (
        '<html><head><script src="respec-w3c.js"></script></head>'
        "<body><h1>T</h1></body></html>"
    )
    assert extract_page(ext, "https://x.test/", ["generator"])["generator"] is None
    # bikeshed meta still wins over an inline respecConfig
    bik = (
        '<html><head><meta name="generator" content="Bikeshed 3">'
        "<script>var respecConfig = {};</script></head><body></body></html>"
    )
    assert extract_page(bik, "https://x.test/", ["generator"])["generator"] == "bikeshed"


def test_detect_crawl_error_index_of():
    from reffy_spark.extractors.base import extract_page

    hic = "<html><body><h1>\n Index of /css-fonts/ \n</h1></body></html>"
    assert extract_page(hic, "https://d.test/", ["title"], with_error=True) == {
        "_crawl_error": "CSS server issue detected"
    }
    ok = "<html><body><h1>Indexed DB API</h1></body></html>"
    out = extract_page(ok, "https://d.test/", ["title"], with_error=True)
    assert "_crawl_error" not in out
