"""Deterministic synthetic crawl corpus (pages and robots rules).

Plays the role of reffy's mock server + fixture specs
(/root/reference/src/lib/mock-server.js:33-202, test/crawl.js:17-21):
a closed deterministic web of spec-like HTML pages whose link graph,
extract contents, and politeness rules are all pure functions of the
page index — so tests can compute expected outputs independently and
the BSP crawler can be replayed byte-for-byte.

Everything is seeded arithmetic (NO wall-clock, NO randomness source
beyond the page index), per the repo's seed=42 determinism discipline.
Generation is distributed: ``spark.range(n)`` → ``mapInPandas`` so the
bench can build multi-GB corpora without driver-side loops. The seed
list and robots frames that tests crawl it with are in
``reffy_spark.testing.fixtures``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# --------------------------------------------------------------------------
# The deterministic world model
# --------------------------------------------------------------------------

# Host classes model the reference's politeness tiers
# (sleepInterval: 2000ms csswg / 1000ms w3.org / 100ms default,
# /root/reference/src/lib/specs-crawler.js:461-470) plus a deliberately
# hot host (github.io analog) to exercise skew handling.
HOSTS = [
    # (host, weight, crawl_delay_ms)
    ("drafts.csswg.org", 1, 2000),
    ("www.w3.org", 2, 1000),
    ("spec.whatwg.org", 1, 100),
    ("w3c.github.io", 8, 100),  # hot host → skew
    ("example-a.test", 2, 100),
    ("example-b.test", 2, 100),
    ("example-c.test", 2, 100),
    ("rfc-editor.test", 1, 100),
]
_WEIGHT_TOTAL = sum(w for _, w, _ in HOSTS)
_HOST_SLOTS: list[int] = []
for _i, (_h, _w, _d) in enumerate(HOSTS):
    _HOST_SLOTS.extend([_i] * _w)

BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

# deterministic out-degree link targets: page i links to these page ids
_LINK_MULTS = (7, 13, 29)


def host_of_page(i: int) -> str:
    return HOSTS[_HOST_SLOTS[i % _WEIGHT_TOTAL]][0]


def url_of_page(i: int) -> str:
    host = host_of_page(i)
    if host == "www.w3.org":
        return f"https://www.w3.org/TR/spec-{i}/"
    return f"https://{host}/spec-{i}/"


def page_link_targets(i: int, n_pages: int) -> list[int]:
    """Deterministic outgoing-link page ids (the crawl graph)."""
    return sorted({(i * m + m) % n_pages for m in _LINK_MULTS} - {i})


def _sha40(i: int) -> str:
    return hashlib.sha1(f"rev-{i}".encode()).hexdigest()


def page_html(i: int, n_pages: int) -> str:
    """Spec-shaped HTML embedding every extractor pattern family
    (FIXTURES.md §1); all content a pure function of ``i``."""
    targets = page_link_targets(i, n_pages)
    gen = ["bikeshed", "respec", ""][i % 3]
    gen_meta = f'<meta name="generator" content="{gen} 1.0">' if gen else ""
    links_html = "".join(
        f'<p>See <a href="{url_of_page(t)}#frag-{t % 5}">spec {t}</a>.</p>'
        for t in targets
    )
    auto = (
        f'<p><a href="{url_of_page(targets[0])}#auto-{i % 7}" '
        f'data-link-type="dfn">autolinked term</a></p>'
        if targets
        else ""
    )
    note_dfn = (
        f'<div class="note">Note: see <dfn id="note-term-{i}" '
        f'data-dfn-type="dfn">noted term {i}</dfn>.</div>'
    )
    refs = "".join(
        f'<dt>[REF{t}]</dt><dd><a href="{url_of_page(t)}">Spec {t}</a></dd>'
        for t in targets[:2]
    )
    return (
        f"<!DOCTYPE html><html><head><title>Spec {i} Title</title>{gen_meta}"
        f'<meta name="document-revision" content="{_sha40(i)}">'
        f"</head><body>"
        f'<div class="head"><h1 id="title">Spec {i} Title</h1>'
        f'<time class="dt-updated" datetime="2024-01-{(i % 27) + 1:02d}">'
        f"{(i % 27) + 1} January 2024</time>"
        f'<a href="https://github.example/repo-{i}">repo</a></div>'
        f'<h2 id="intro">1. Introduction</h2>'
        f"<p>Defines <dfn id=\"term-{i}\" data-dfn-type=\"dfn\" "
        f'data-lt="term {i}|t{i}" data-export="">term {i}</dfn> and '
        f'<dfn id="bad-{i}" data-dfn-type="notatype">bad</dfn>.</p>'
        f'<h3 id="detail-{i}">1.1 Details of {i}</h3>'
        f"{links_html}{auto}{note_dfn}"
        f'<del><dfn id="old-term-{i}" data-dfn-type="dfn">old</dfn>'
        f'<a href="https://deleted.test/x#gone">deleted link</a></del>'
        f'<pre class="idl">interface Spec{i} {{\n  attribute DOMString name;\n}};</pre>'
        f'<h2 id="normative-references">A. Normative references</h2><dl>{refs}</dl>'
        f'<p id="respec-hidden-{i}">boilerplate</p>'
        f"</body></html>"
    )


def page_text(i: int) -> str:
    return f"Spec {i} Title. Defines the term {i} and details of {i}."


def robots_rows() -> list[dict]:
    """Per-host politeness + a deterministic disallow rule."""
    rows = []
    for host, _w, delay in HOSTS:
        rows.append(
            {"host": host, "path_prefix": "/", "allow": True, "crawl_delay_ms": delay}
        )
        rows.append(
            {
                "host": host,
                "path_prefix": "/private/",
                "allow": False,
                "crawl_delay_ms": delay,
            }
        )
    # an entirely-disallowed host referenced by no seed (robots coverage)
    rows.append(
        {"host": "blocked.test", "path_prefix": "/", "allow": False, "crawl_delay_ms": 100}
    )
    return rows


PAGES_SCHEMA = (
    "page_id long, url string, warc_ts timestamp, html binary, text string, lang string"
)


def _pages_batch(ids: pd.Series, n_pages: int) -> pd.DataFrame:
    recs = []
    for i in ids:
        i = int(i)
        recs.append(
            {
                "page_id": i,
                "url": url_of_page(i),
                "warc_ts": BASE_TS + dt.timedelta(minutes=i),
                "html": page_html(i, n_pages).encode("utf-8"),
                "text": page_text(i),
                "lang": "en" if i % 11 else "fr",
            }
        )
    return pd.DataFrame(recs)


def gen_pages(spark: SparkSession, n_pages: int, partitions: int = 32) -> DataFrame:
    """Distributed deterministic pages table (input_hint shape + page_id)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _pages_batch(b["id"], n_pages)

    return (
        spark.range(0, n_pages, 1, partitions)
        .mapInPandas(gen, PAGES_SCHEMA)
    )
