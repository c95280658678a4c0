"""Post-processing plan tests: backrefs, annotate-links, events, idlparsed."""

import json

import pytest
from pyspark.sql import functions as F

from reffy_spark.plans import postprocess as PP


def test_backrefs_basic(spark):
    dfns = spark.createDataFrame(
        [
            ("a", "https://a.test/#t1", "t1", ["t one"], "dfn", [], "public"),
            ("b", "https://b.test/#t2", "t2", ["t two"], "dfn", [], "public"),
        ],
        "shortname string, href string, id string, linkingText array<string>, "
        "type string, for array<string>, access string",
    )
    links = spark.createDataFrame(
        [
            ("b", "https://a.test/", "t1"),   # b → a#t1
            ("c", "https://a.test/", "t1"),   # c → a#t1
            ("a", "https://a.test/", "t1"),   # self-ref: excluded
            ("a", "https://b.test/", "t2"),   # a → b#t2
            ("a", "https://b.test/", "missing"),  # no dfn: dropped
        ],
        "shortname string, page_url string, fragment string",
    )
    rows = {
        (r["def_shortname"], r["href"]): r["referencedBy"]
        for r in PP.backrefs(dfns, links).collect()
    }
    assert rows[("a", "https://a.test/#t1")] == ["b", "c"]
    assert rows[("b", "https://b.test/#t2")] == ["a"]


def test_backrefs_multipage_alias(spark):
    dfns = spark.createDataFrame(
        [("html", "https://html.spec.whatwg.org/#dom-foo", "dom-foo", ["foo"], "dfn", [], "public")],
        "shortname string, href string, id string, linkingText array<string>, "
        "type string, for array<string>, access string",
    )
    links = spark.createDataFrame(
        [("other", "https://html.spec.whatwg.org/multipage/dom.html", "dom-foo")],
        "shortname string, page_url string, fragment string",
    )
    rows = PP.backrefs(dfns, links).collect()
    assert len(rows) == 1 and rows[0]["referencedBy"] == ["other"]


def test_annotate_links(spark):
    links = spark.createDataFrame(
        [("a", "http://b.test/spec/index.html", "frag"), ("a", "https://x.test/", None)],
        "shortname string, page_url string, fragment string",
    )
    specs = spark.createDataFrame(
        [("https://b.test/spec/", "spec-b")], "url string, shortname string"
    )
    rows = PP.annotate_links(links, specs).collect()
    by_page = {r["page_url"]: r["specShortname"] for r in rows}
    assert by_page["http://b.test/spec/index.html"] == "spec-b"
    assert by_page["https://x.test/"] is None


def test_consolidate_events_merge_and_sort(spark):
    events = spark.createDataFrame(
        [
            (1, "click", "E1", True, False, ["A"], "https://s/#e1"),
            (2, "click", None, None, False, ["B"], "https://s/#e1"),
            (3, "abort", "E0", None, True, None, "https://s/#e0"),
        ],
        "ord int, type string, interface string, bubbles boolean, "
        "cancelable boolean, targets array<string>, href string",
    )
    rows = PP.consolidate_events(events, order_col="ord").collect()
    assert [r["type"] for r in rows] == ["abort", "click"]
    click = rows[1]
    assert click["targets"] == ["A", "B"]
    assert click["interface"] == "E1" and click["bubbles"] is True


def test_consolidate_events_requires_order_col(spark):
    import pytest

    events = spark.createDataFrame(
        [("click", "E1", True, False, ["A"], "https://s/#e1")],
        "type string, interface string, bubbles boolean, cancelable boolean, "
        "targets array<string>, href string",
    )
    with pytest.raises(TypeError):
        PP.consolidate_events(events)  # order_col is required
    with pytest.raises(ValueError, match="order_col"):
        PP.consolidate_events(events, order_col=None)


def test_consolidate_events_icu_en_sort_mixed_case(spark):
    """W5 golden: the reference sorts with localeCompare('en-US')
    (/root/reference/src/postprocessing/events.js:82-88). Binary string
    order puts ALL uppercase before lowercase ('DOMContentLoaded',
    'Zoom' ahead of 'abort'); ICU 'en' interleaves case like the
    reference. Expected order verified against Node:
    ['DOMContentLoaded','Zoom','abort','beforeprint','zebra']
      .sort((a,b) => a.localeCompare(b, 'en-US'))
    === ['abort','beforeprint','DOMContentLoaded','zebra','Zoom']."""
    names = ["DOMContentLoaded", "Zoom", "abort", "beforeprint", "zebra"]
    events = spark.createDataFrame(
        [
            (i, t, "I", True, False, ["T"], f"https://s/#{i}")
            for i, t in enumerate(names)
        ],
        "ord int, type string, interface string, bubbles boolean, "
        "cancelable boolean, targets array<string>, href string",
    )
    rows = PP.consolidate_events(events, order_col="ord").collect()
    assert [r["type"] for r in rows] == [
        "abort", "beforeprint", "DOMContentLoaded", "zebra", "Zoom",
    ]


def test_merge_crawls_anti_union(spark):
    ref = spark.createDataFrame([("u1", "old1"), ("u2", "old2")], "url string, v string")
    new = spark.createDataFrame([("u2", "new2"), ("u3", "new3")], "url string, v string")
    rows = [(r["url"], r["v"]) for r in PP.merge_crawls(ref, new).collect()]
    assert rows == [("u1", "old1"), ("u2", "new2"), ("u3", "new3")]


def test_series_latest(spark):
    specs = spark.createDataFrame(
        [("css-foo", 1, "full"), ("css-foo", 2, "full"), ("css-foo", 3, "delta"),
         ("css-bar", 1, "full")],
        "series_shortname string, level int, seriesComposition string",
    )
    rows = {r["series_shortname"]: r["level"] for r in PP.series_latest(specs).collect()}
    assert rows == {"css-foo": 2, "css-bar": 1}


IDL = """
[Exposed=Window]
interface Widget : EventTarget {
  attribute EventHandler onresize;
  undefined show(DOMString how);
  undefined show();
};
interface mixin Sizable { attribute unsigned long size; };
Widget includes Sizable;
"""


@pytest.fixture(scope="module")
def idlparsed_df(spark):
    extracts = spark.createDataFrame([("https://w.test/", IDL)], "url string, idl string")
    return PP.idlparsed(extracts).cache()


def test_idlparsed_stage(idlparsed_df):
    row = idlparsed_df.first()
    report = json.loads(row["idlparsed"])
    assert "Widget" in report["idlNames"]
    assert report["exposed"] == {"Window": ["Widget"]}


@pytest.mark.parametrize("ast", [False, True])
def test_idlparsed_malformed_dump_errors_its_row_only(spark, ast):
    extracts = spark.createDataFrame(
        [
            ("https://ok.test/", "interface ok {};"),
            ("https://bad.test/", "intraface foo {};"),
            ("https://cut.test/", "interface A { attribute"),  # truncated dump
        ],
        "url string, idl string",
    )
    rows = {r["url"]: json.loads(r["idlparsed"]) for r in PP.idlparsed(extracts, ast=ast).collect()}
    assert list(rows["https://ok.test/"]["idlNames"]) == ["ok"]
    assert "_syntaxError" not in rows["https://ok.test/"]
    assert rows["https://bad.test/"]["_syntaxError"] == (
        "WebIDLParseError: Syntax error at line 1:\nintraface foo {};\n^ Unrecognised tokens"
    )
    assert rows["https://cut.test/"]["_syntaxError"] == (
        "WebIDLParseError: Syntax error at line 1:\ninterface A { attribute\n^ Unrecognised tokens"
    )


def test_members_table_overloads(idlparsed_df):
    members = PP.idl_members_table(idlparsed_df)
    shows = members.filter(F.col("member") == "show").orderBy("overload_index").collect()
    assert [s["overload_index"] for s in shows] == [0, 1]


def test_event_handlers_and_j6(spark, idlparsed_df):
    handlers = PP.event_handlers_table(idlparsed_df)
    h = handlers.collect()
    assert [(r["interface"], r["type"]) for r in h] == [("Widget", "resize")]
    events = spark.createDataFrame(
        [("https://w.test/", "resize", None), ("https://w.test/", "unknown", None)],
        "url string, type string, interface string",
    )
    out = {r["type"]: r["interface"] for r in PP.events_with_handlers(events, handlers).collect()}
    assert out == {"resize": "Widget", "unknown": None}


def test_mixin_expansion_j9(spark, idlparsed_df):
    includes = PP.includes_table(idlparsed_df)
    assert [(r["target"], r["mixin"]) for r in includes.collect()] == [("Widget", "Sizable")]
    events = spark.createDataFrame(
        [("resize", ["Sizable", "Other"], "https://w.test/#e")],
        "type string, targets array<string>, href string",
    )
    rows = PP.expand_mixin_targets(events, includes).collect()
    assert rows[0]["targets"] == ["Other", "Widget"]


def test_event_extension_resolution_j10(spark):
    events = spark.createDataFrame(
        [
            # originals in spec-a
            ("a", "https://a.test/", "load", "https://a.test/#load", "AEvent", ["W"], False),
            ("a", "https://a.test/", "save", "https://a.test/#save", None, ["W"], False),
            # exact-href extension from spec-b: adds target X
            ("b", "https://b.test/", "load", "https://a.test/#load", "AEvent", ["X"], True),
            # prefix+type extension from spec-c (href under a.test, no exact match)
            ("c", "https://c.test/", "save", "https://a.test/other#save2", None, ["Y"], True),
            # unresolvable extension (no original anywhere)
            ("d", "https://d.test/", "zap", "https://nowhere.test/#zap", None, ["Z"], True),
        ],
        "spec string, spec_url string, type string, href string, "
        "interface string, targets array<string>, is_extension boolean",
    )
    from reffy_spark.plans.postprocess import resolve_event_extensions

    rows = resolve_event_extensions(events).collect()
    by_key = {(r["spec"], r["type"]): r for r in rows}
    load = by_key[("a", "load")]
    assert sorted(load["targets"]) == ["W", "X"]
    assert load["extendedIn"] == ["b"]
    save = by_key[("a", "save")]
    assert sorted(save["targets"]) == ["W", "Y"]
    assert save["extendedIn"] == ["c"]
    # resolved extensions dropped; unresolved kept
    specs = sorted(r["spec"] for r in rows)
    assert specs == ["a", "a", "d"]
    assert by_key[("d", "zap")]["is_extension"] is True

def test_consolidate_events_nullhref_passthrough_and_order(spark):
    # events.js:240-242: merging requires a truthy href — null/empty-href
    # events pass through unmerged; first event in document order wins.
    events = spark.createDataFrame(
        [
            (1, "load", "A", None, False, ["W"], None),
            (2, "load", "B", True, False, ["X"], None),
            (3, "click", None, True, False, ["T1"], "https://s/#c"),
            (4, "click", "I2", False, False, ["T2"], "https://s/#c"),
        ],
        "ord int, type string, interface string, bubbles boolean, "
        "cancelable boolean, targets array<string>, href string",
    )
    rows = PP.consolidate_events(events, order_col="ord").collect()
    assert len(rows) == 3  # two null-href rows unmerged + one merged pair
    click = [r for r in rows if r["type"] == "click"][0]
    # first-in-order (ord=3) keeps its null interface slot filled by the
    # first non-null (I2), bubbles from first non-null (True)
    assert click["interface"] == "I2" and click["bubbles"] is True
    assert click["targets"] == ["T1", "T2"]
    loads = [r for r in rows if r["type"] == "load"]
    assert {r["interface"] for r in loads} == {"A", "B"}


def test_idl_dfn_hrefs_priority_and_ambiguity(spark):
    idl = (
        "[Exposed=Window] interface Foo {\n"
        "  undefined go(DOMString a);\n"
        "  undefined go(DOMString a, long b);\n"
        "  attribute long size;\n};"
    )
    extracts = spark.createDataFrame([("https://s/", idl)], "url string, idl string")
    dfns = spark.createDataFrame(
        [
            ("https://s/", "method", ["Foo"], ["go(a)"], "https://s/#go"),
            ("https://s/", "method", ["Foo"], ["go(a, b)"], "https://s/#go2"),
            ("https://s/", "attribute", ["Foo"], ["size"], "https://s/#s1"),
            ("https://s/", "attribute", ["Foo"], ["size"], "https://s/#s2"),
            ("https://s/", "interface", [], ["Foo"], "https://s/#foo"),
        ],
        "url string, type string, for array<string>, linkingText array<string>, "
        "href string",
    )
    out = PP.idl_dfn_hrefs(PP.idlparsed(extracts), dfns)
    by_key = {
        (r["member"], r["overload_index"]): r["href"] for r in out.collect()
    }
    assert by_key[(None, 0)] == "https://s/#foo"  # construct
    assert by_key[("go", 0)] == "https://s/#go"
    assert by_key[("go", 1)] == "https://s/#go2"
    assert by_key[("size", 0)] is None  # ambiguous -> null (idlparsed.js:100-106)


def test_attach_interface_tree(spark):
    events = spark.createDataFrame(
        [("click", "HTMLElement"), ("abort", "IDBRequest"), ("x", "Lonely")],
        "type string, interface string",
    )
    ifaces = spark.createDataFrame(
        [("HTMLElement", "Element"), ("Element", "Node")],
        "name string, inheritance string",
    )
    rows = {r["type"]: r for r in PP.attach_interface_tree(events, ifaces).collect()}
    assert rows["click"]["tree"] == "dom"
    assert rows["click"]["tree_interface"] == "Node"
    assert rows["click"]["tree_depth"] == 3  # lastIndexOf(Node) in the dom tree
    assert rows["click"]["bubblingPath"] == ["Node", "Document", "Window"]
    assert rows["abort"]["tree"] == "IndexedDB" and rows["abort"]["tree_depth"] == 2
    assert rows["x"]["tree"] is None


def test_csscomplete_properties(spark):
    css = spark.createDataFrame(
        [("u", "color", "u#c"), ("u", "property-name", "u#pn"), ("u", "--*", "u#v")],
        "url string, name string, href string",
    )
    dfns = spark.createDataFrame(
        [
            ("u", ["-webkit-line-clamp"], "property", False, "u#wlc"),
            ("u", ["color"], "property", False, "u#c2"),  # already present
            ("u", ["ghost"], "property", True, "u#g"),  # informative -> skipped
            ("u", ["not-a-prop"], "dfn", False, "u#n"),
        ],
        "url string, linkingText array<string>, type string, informative boolean, "
        "href string",
    )
    rows = {r["name"]: r for r in PP.csscomplete_properties(css, dfns).collect()}
    assert set(rows) == {"color", "-webkit-line-clamp"}
    assert rows["color"]["href"] == "u#c"  # existing row kept, no dup added
    assert rows["-webkit-line-clamp"]["styleDeclaration"] == [
        "-webkit-line-clamp", "WebkitLineClamp", "webkitLineClamp",
    ]


def test_patch_dfns_rules(spark):
    dfns = spark.createDataFrame(
        [
            ("https://w3c.github.io/deviceorientation/", ["PermissionState"], [], "public"),
            ("https://w3c.github.io/deviceorientation/", ["keep"], [], "public"),
            ("https://x.test/portals/", ["MessageEventSource"], [], "public"),
            ("https://www.w3.org/TR/audiobooks/", ["term"], [], "public"),
            ("https://other.test/", ["PermissionState"], [], "public"),
        ],
        "url string, linkingText array<string>, for array<string>, access string",
    )
    rows = [(r["url"], r["linkingText"][0], r["access"]) for r in PP.patch_dfns(dfns).collect()]
    assert ("https://w3c.github.io/deviceorientation/", "keep", "public") in rows
    assert not any(u.endswith("deviceorientation/") and t == "PermissionState" for u, t, _ in rows)
    assert not any("portals" in u for u, _, _ in rows)
    assert ("https://www.w3.org/TR/audiobooks/", "term", "private") in rows
    assert ("https://other.test/", "PermissionState", "public") in rows


def _series_world():
    # synthetic spec list mirroring the shapes test/util.js probes with
    # the live browser-specs list: a level-less spec, a 3-level series
    # (level 2 = current specification), a delta spec on top, and a
    # same-version spec in another series
    def spec(shortname, series, version=None, comp="full", prev=None, nxt=None,
             current=None):
        return {
            "shortname": shortname,
            "series": {"shortname": series,
                       "currentSpecification": current or shortname},
            "seriesVersion": version,
            "seriesComposition": comp,
            "seriesPrevious": prev,
            "seriesNext": nxt,
        }

    lone = spec("lone", "lone")
    s1 = spec("spec-1", "spec", "1", prev=None, nxt="spec-2", current="spec-2")
    s2 = spec("spec-2", "spec", "2", prev="spec-1", nxt="spec-3", current="spec-2")
    s3 = spec("spec-3", "spec", "3", prev="spec-2", nxt="spec-d", current="spec-2")
    sd = spec("spec-d", "spec", "4", comp="delta", prev="spec-3", current="spec-2")
    other1 = spec("other-1", "other", "1")
    return lone, s1, s2, s3, sd, other1


def test_is_latest_level_semantics():
    # behavior cases from the reference's test/util.js:28-110, rebuilt
    # over a synthetic series instead of the live browser-specs list
    from reffy_spark.plans.postprocess import is_latest_level_that_passes as latest

    lone, s1, s2, s3, sd, other1 = _series_world()
    specs = [lone, s1, s2, s3, sd, other1]

    assert latest(lone, specs, lambda _: True)      # no level, passes
    assert latest(lone, specs)                      # no level, no predicate
    assert not latest(lone, specs, lambda _: False) # fails predicate
    assert latest(s3, specs)                        # latest full level
    assert not latest(s2, specs)                    # a newer full level exists
    assert latest(other1, specs)                    # greater level is another series
    # delta spec alone (its previous missing from the list): counts
    assert latest(sd, [x for x in specs if x["shortname"] != "spec-3"] , lambda s: s is sd)
    # greater level is a delta spec: full spec below it still counts
    assert latest(s3, specs)
    # greater level does not pass the predicate: lower level counts,
    # as long as it is not older than the current specification
    assert latest(s2, specs, lambda s: s is s2)
    # spec older than the series' current specification never counts
    assert not latest(s1, specs, lambda s: s is s1)
    # delta spec counts when the only full spec that passes is older
    # than the current specification
    assert latest(sd, specs, lambda s: s is sd or s is s1)
    # delta spec does NOT count when a full level at/after the current
    # specification passes
    assert not latest(sd, specs, lambda s: s is sd or s is s3 or s is s2)
