"""backrefs post-processor goldens lifted from the reference's own test
suite (/root/reference/test/generate-backrefs.js:1-326) — fixtures and
expectations transcribed, run through backrefs_crawl."""

from reffy_spark.plans.postprocess import backrefs_crawl


def make_dfn(id, href, linkingText=None, type="dfn", for_=None, access="public"):
    return {
        "id": id,
        "href": href,
        "linkingText": linkingText
        if isinstance(linkingText, list)
        else [linkingText or id],
        "type": type,
        "for": for_ or [],
        "access": access,
    }


def make_links(fragment_urls):
    rawlinks = {}
    for url in fragment_urls:
        base, _, frag = url.partition("#")
        rawlinks.setdefault(base, {"anchors": []})
        if frag:
            rawlinks[base]["anchors"].append(frag)
    return {"rawlinks": rawlinks, "autolinks": {}}


def make_spec(shortname, title, url, dfns=None, links=None):
    return {
        "shortname": shortname,
        "title": title,
        "url": url,
        "crawled": url,
        "nightly": {"url": url},
        "dfns": dfns or [],
        "links": links,
    }


def test_no_external_refs_no_backrefs(spark):
    results = [
        make_spec(
            "alpha",
            "Alpha",
            "https://example.org/alpha/",
            dfns=[make_dfn("lonely", "https://example.org/alpha/#lonely", "lonely")],
        ),
        make_spec(
            "beta",
            "Beta",
            "https://example.org/beta/",
            links=make_links(["https://example.org/beta/#self"]),
        ),
    ]
    out = backrefs_crawl(spark, results)
    assert "alpha" not in out
    assert "beta" not in out


def test_records_external_refs_excludes_self(spark):
    results = [
        make_spec(
            "streams",
            "Streams Standard",
            "https://streams.spec.whatwg.org/",
            dfns=[
                make_dfn(
                    "readablestream",
                    "https://streams.spec.whatwg.org/#readablestream",
                    "ReadableStream",
                    type="interface",
                ),
                make_dfn(
                    "unreferenced",
                    "https://streams.spec.whatwg.org/#unreferenced",
                    "unreferenced",
                ),
            ],
            links=make_links(["https://streams.spec.whatwg.org/#readablestream"]),
        ),
        make_spec(
            "fetch",
            "Fetch Standard",
            "https://fetch.spec.whatwg.org/",
            links=make_links(["https://streams.spec.whatwg.org/#readablestream"]),
        ),
    ]
    out = backrefs_crawl(spark, results)
    assert "fetch" not in out
    assert out["streams"] == [
        {
            "id": "readablestream",
            "href": "https://streams.spec.whatwg.org/#readablestream",
            "linkingText": ["ReadableStream"],
            "type": "interface",
            "for": [],
            "access": "public",
            "referencedBy": [
                {
                    "shortname": "fetch",
                    "title": "Fetch Standard",
                    "url": "https://fetch.spec.whatwg.org/",
                }
            ],
        }
    ]


def test_preserves_definition_and_referrer_order(spark):
    results = [
        make_spec(
            "defining",
            "Defining Spec",
            "https://example.org/defining/",
            dfns=[
                make_dfn("zebra", "https://example.org/defining/#zebra", "zebra"),
                make_dfn("apple", "https://example.org/defining/#apple", "apple"),
            ],
        ),
        make_spec(
            "zeta",
            "Zeta",
            "https://example.org/zeta/",
            links=make_links(
                [
                    "https://example.org/defining/#zebra",
                    "https://example.org/defining/#apple",
                ]
            ),
        ),
        make_spec(
            "alpha",
            "Alpha",
            "https://example.org/alpha/",
            links=make_links(
                [
                    "https://example.org/defining/#zebra",
                    "https://example.org/defining/#apple",
                ]
            ),
        ),
    ]
    terms = backrefs_crawl(spark, results)["defining"]
    assert [t["id"] for t in terms] == ["zebra", "apple"]
    assert [r["shortname"] for r in terms[0]["referencedBy"]] == ["zeta", "alpha"]


def test_includes_private_dfns_and_copies_fields(spark):
    results = [
        make_spec(
            "defining",
            "Defining Spec",
            "https://example.org/defining/",
            dfns=[
                make_dfn(
                    "secret-method",
                    "https://example.org/defining/#secret-method",
                    "secret()",
                    type="method",
                    for_=["SecretInterface"],
                    access="private",
                )
            ],
        ),
        make_spec(
            "referrer",
            "Referrer Spec",
            "https://example.org/referrer/",
            links=make_links(["https://example.org/defining/#secret-method"]),
        ),
    ]
    out = backrefs_crawl(spark, results)
    assert out["defining"] == [
        {
            "id": "secret-method",
            "href": "https://example.org/defining/#secret-method",
            "linkingText": ["secret()"],
            "type": "method",
            "for": ["SecretInterface"],
            "access": "private",
            "referencedBy": [
                {
                    "shortname": "referrer",
                    "title": "Referrer Spec",
                    "url": "https://example.org/referrer/",
                }
            ],
        }
    ]


def test_multipage_links_match_single_page_hrefs(spark):
    results = [
        make_spec(
            "html",
            "HTML Standard",
            "https://html.spec.whatwg.org/multipage/",
            dfns=[
                make_dfn(
                    "dom-document",
                    "https://html.spec.whatwg.org/multipage/dom.html#dom-document",
                    "Document",
                    type="interface",
                )
            ],
        ),
        make_spec(
            "dom",
            "DOM Standard",
            "https://dom.spec.whatwg.org/",
            links=make_links(["https://html.spec.whatwg.org/#dom-document"]),
        ),
    ]
    out = backrefs_crawl(spark, results)
    assert len(out["html"]) == 1
    assert out["html"][0]["referencedBy"][0]["shortname"] == "dom"
