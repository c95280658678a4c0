"""markdown-report goldens lifted from the reference's own test suite
(/root/reference/test/markdown-report.js:1-141, fixture
/root/reference/test/crawl-test.json[0])."""

from reffy_spark.plans.markdown_report import generate_spec_report

CRAWL0 = {
    "url": "https://www.w3.org/TR/WOFF2/",
    "nightly": {
        "url": "https://w3c.github.io/woff/woff2/",
        "pages": ["https://w3c.github.io/woff/woff2/page.html"],
    },
    "versions": [
        "https://www.w3.org/TR/WOFF2/",
        "https://w3c.github.io/woff/woff2/",
    ],
    "crawled": "https://w3c.github.io/woff/woff2/",
    "links": {
        "autolinks": {},
        "rawlinks": {"https://www.w3.org/TR/bar/": {"anchors": ["baz"]}},
    },
    "title": "WOFF2",
    "algorithms": [],
    "cddl": [],
    "css": {"atrules": [], "properties": [], "selectors": [], "values": []},
    "dfns": [
        {
            "id": "foo",
            "href": "https://w3c.github.io/woff/woff2/#foo",
            "linkingText": ["Foo"],
            "localLinkingText": [],
            "type": "dfn",
            "for": [],
            "access": "private",
            "informative": False,
            "heading": {
                "href": "https://w3c.github.io/woff/woff2/",
                "title": "WOFF2",
            },
            "definedIn": "prose",
            "links": [],
        }
    ],
    "events": [],
    "headings": [
        {
            "id": "bar",
            "href": "https://w3c.github.io/woff/woff2/page.html#bar",
            "level": 2,
            "title": "Heading in subpage",
        }
    ],
    "ids": [
        "https://w3c.github.io/woff/woff2/#foo",
        "https://w3c.github.io/woff/woff2/page.html#bar",
    ],
}


def test_produces_a_suitable_summary():
    assert generate_spec_report(dict(CRAWL0)) == """Crawl summary:
- Title: WOFF2
- Canonical URL: [https://www.w3.org/TR/WOFF2/](https://www.w3.org/TR/WOFF2/)
- Crawled URL: [https://w3c.github.io/woff/woff2/](https://w3c.github.io/woff/woff2/)
- Spec defines:
  - Headings: 1 found
  - IDs: 2 found
  - Links: 1 rawlinks
  - Terms: 1 private
- No Algorithms, CDDL, CSS, Events, References, Web IDL definitions found"""


def test_produces_css_details():
    spec = dict(
        CRAWL0,
        css={
            "atrules": [
                {
                    "name": "@charset",
                    "href": "https://drafts.csswg.org/css-syntax-3/#at-ruledef-charset",
                }
            ],
            "properties": [
                {
                    "name": "block-step-size",
                    "href": "https://drafts.csswg.org/css-rhythm-1/#propdef-block-step-size",
                    "value": "none | <length [0,∞]>",
                    "initial": "none",
                }
            ],
            "selectors": [
                {
                    "name": ":host",
                    "href": "https://drafts.csswg.org/css-scoping-1/#selectordef-host",
                }
            ],
        },
    )
    assert generate_spec_report(spec) == """Crawl summary:
- Title: WOFF2
- Canonical URL: [https://www.w3.org/TR/WOFF2/](https://www.w3.org/TR/WOFF2/)
- Crawled URL: [https://w3c.github.io/woff/woff2/](https://w3c.github.io/woff/woff2/)
- Spec defines:
  - CSS: 1 property, 1 at-rule, 1 selector
  - Headings: 1 found
  - IDs: 2 found
  - Links: 1 rawlinks
  - Terms: 1 private
- No Algorithms, CDDL, Events, References, Web IDL definitions found

<details>
<summary>1 CSS property</summary>

- [`block-step-size`](https://drafts.csswg.org/css-rhythm-1/#propdef-block-step-size) ([xref search](https://respec.org/xref/?term=block-step-size&types=css-at-rule%2Ccss-descriptor%2Ccss-function%2Ccss-property%2Ccss-selector%2Ccss-type%2Ccss-value))
</details>
<details>
<summary>1 CSS at-rule</summary>

- [`@charset`](https://drafts.csswg.org/css-syntax-3/#at-ruledef-charset) ([xref search](https://respec.org/xref/?term=%40charset&types=css-at-rule%2Ccss-descriptor%2Ccss-function%2Ccss-property%2Ccss-selector%2Ccss-type%2Ccss-value))
</details>
<details>
<summary>1 CSS selector</summary>

- [`:host`](https://drafts.csswg.org/css-scoping-1/#selectordef-host) ([xref search](https://respec.org/xref/?term=%3Ahost&types=css-at-rule%2Ccss-descriptor%2Ccss-function%2Ccss-property%2Ccss-selector%2Ccss-type%2Ccss-value))
</details>"""


def test_produces_dfns_details():
    dfn1 = dict(CRAWL0["dfns"][0], access="public")
    dfn2 = dict(dfn1, type="attribute", **{"for": ["Bar"]})
    spec = dict(CRAWL0, dfns=[dfn1, dfn2])
    assert generate_spec_report(spec) == """Crawl summary:
- Title: WOFF2
- Canonical URL: [https://www.w3.org/TR/WOFF2/](https://www.w3.org/TR/WOFF2/)
- Crawled URL: [https://w3c.github.io/woff/woff2/](https://w3c.github.io/woff/woff2/)
- Spec defines:
  - Headings: 1 found
  - IDs: 2 found
  - Links: 1 rawlinks
  - Terms: 1 explicitly exported, 1 exported by default
- No Algorithms, CDDL, CSS, Events, References, Web IDL definitions found

<details>
<summary>1 explicitly exported term</summary>

- [Foo](https://w3c.github.io/woff/woff2/#foo), type dfn ([xref search](https://respec.org/xref/?term=Foo))
</details>"""


def test_produces_idl_details():
    spec = dict(
        CRAWL0,
        idl="""
[SecureContext, Exposed=Window]
interface Presentation {
};

partial interface Presentation {
  attribute PresentationRequest? defaultRequest;
};

partial interface Presentation {
  readonly attribute PresentationReceiver? receiver;
};

dictionary PresentationConnectionAvailableEventInit : EventInit {
  required PresentationConnection connection;
};

enum PresentationConnectionState { "connecting", "connected", "closed", "terminated" };
  """,
    )
    assert generate_spec_report(spec) == """Crawl summary:
- Title: WOFF2
- Canonical URL: [https://www.w3.org/TR/WOFF2/](https://www.w3.org/TR/WOFF2/)
- Crawled URL: [https://w3c.github.io/woff/woff2/](https://w3c.github.io/woff/woff2/)
- Spec defines:
  - Headings: 1 found
  - IDs: 2 found
  - Links: 1 rawlinks
  - Terms: 1 private
  - Web IDL: 3 names (or partials)
- No Algorithms, CDDL, CSS, Events, References definitions found

<details>
<summary>3 Web IDL names</summary>

- interface `Presentation` ([xref search](https://respec.org/xref/?term=Presentation&types=_IDL_))
- dictionary `PresentationConnectionAvailableEventInit` ([xref search](https://respec.org/xref/?term=PresentationConnectionAvailableEventInit&types=_IDL_))
- enum `PresentationConnectionState` ([xref search](https://respec.org/xref/?term=PresentationConnectionState&types=_IDL_))
</details>"""
