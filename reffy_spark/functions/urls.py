"""URL kernels: canonicalization, origin grouping, JS-parity encoding.

Semantics mirror the reference crawler (w3c/reffy):

* ``canonicalize_url`` — reference ``canonicalizeUrl``
  (/root/reference/src/postprocessing/annotate-links.js:6-17): http→https,
  fragment strip, ``index.html``/``Overview.html``/``cover.html`` drop,
  whatwg + w3.org/TR multipage → root document, trailing-slash enforcement.
* ``host_group`` — reference ``getOrigin``
  (/root/reference/src/lib/throttled-queue.js:18-37): collapses
  ``*.whatwg.org`` / ``*.github.io`` / ``*.csswg.org|*.css-houdini.org|
  *.fxtf.org`` so per-host politeness serializes on the real server.
* ``encode_uri_component`` — byte-parity shim for JS
  ``encodeURIComponent`` (used by the extractors' fragment building,
  /root/reference/src/browserlib/get-absolute-url.mjs:13-29). Python's
  ``urllib.parse.quote`` differs on ``!'()*`` — we pin the JS table.
* ``url_canon`` — the frontier key: RFC 3986 normalization (lowercase
  scheme/host, default-port drop, uppercase percent-escapes, decode
  unreserved escapes) composed with the reference canonicalization.

Scale design: ``url_canon_col`` (``with_url_canon``) is one Column expression
(whole-stage codegen, JVM-side), percent-escape normalization included;
``url_canon_py`` is its Python oracle.
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit, urlunsplit

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Python kernels (oracles for the Column kernels; tests / the simulator)
# --------------------------------------------------------------------------

# JS encodeURIComponent leaves these unescaped: A-Z a-z 0-9 - _ . ! ~ * ' ( )
_JS_SAFE = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_.!~*'()"
)


# fast paths for encode_uri_component: all-safe strings pass through
# untouched; otherwise one dict lookup per UTF-8 byte
_JS_SAFE_RE = re.compile(r"[A-Za-z0-9_.!~*'()-]*\Z")
_JS_ENC = {
    b: (chr(b) if chr(b) in _JS_SAFE else f"%{b:02X}") for b in range(256)
}


def encode_uri_component(s: str) -> str:
    """Byte-parity reimplementation of JS ``encodeURIComponent``."""
    if _JS_SAFE_RE.match(s):
        return s
    return "".join(map(_JS_ENC.__getitem__, s.encode("utf-8")))


_PCT_RE = re.compile(r"%([0-9a-fA-F]{2})?")
# RFC 3986 unreserved characters — safe to decode in normalization.
_UNRESERVED = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
_DEFAULT_PORTS = {"http": ":80", "https": ":443"}
# a lone "?" ending the URL: an empty query, dropped as urlunsplit does
_EMPTY_QUERY_RE = r"^([^?]*)\?$"


def _pct_normalize(s: str) -> str:
    """Uppercase %XX escapes; decode escapes of unreserved characters;
    escape a ``%`` that starts no escape as ``%25``, so no later edit can
    join it with the characters after it into a new escape
    (``%4%41`` → ``%254A``, not ``%4A``)."""

    def repl(m: re.Match) -> str:
        if m.group(1) is None:
            return "%25"
        ch = chr(int(m.group(1), 16))
        return ch if ch in _UNRESERVED else "%" + m.group(1).upper()

    return _PCT_RE.sub(repl, s)


def canonicalize_url_py(url: str) -> str:
    """Reference ``canonicalizeUrl`` semantics, Python (oracle/test side)."""
    u = re.sub(r"^http:", "https:", url).split("#")[0]
    u = u.replace("index.html", "").replace("Overview.html", "").replace("cover.html", "")
    u = re.sub(r"spec\.whatwg\.org/.*", "spec.whatwg.org/", u)
    u = re.sub(r"w3\.org/TR/(([^/]+/)+)[^/]+\.[^/]+$", r"w3.org/TR/\1", u)
    u = re.sub(r"w3\.org/TR/([^/]+)$", r"w3.org/TR/\1/", u)
    u = re.sub(r"w3c\.github\.io/([^/]+)$", r"w3c.github.io/\1/", u)
    return u


def url_canon_py(url: str) -> str:
    """Frontier canonical key: RFC 3986 normalize + reference canonicalize.

    The output is stripped: fragment-stripping can expose a trailing
    space from inside a malformed path ("/p #f" → "/p "), and the
    URL-seen set requires canon to be IDEMPOTENT — otherwise a page's
    own canonical URL, re-extracted, would re-enter the frontier
    (property-tested in tests/test_properties.py)."""
    url = url.strip()
    try:
        parts = urlsplit(url)
    except ValueError:
        return canonicalize_url_py(url).strip()
    scheme = parts.scheme.lower()
    netloc = parts.netloc.lower()
    # Drop the ORIGINAL scheme's default port ("http://x:80" → "http://x"),
    # then apply the reference's http→https rewrite, then drop the NEW
    # scheme's default port ("http://x:443" → "https://x:443" → "https://x").
    # Both drops are needed for one-pass idempotence: rewriting first would
    # keep ":80"; dropping only first would leave ":443" for a second pass.
    dp = _DEFAULT_PORTS.get(scheme)
    if dp and netloc.endswith(dp):
        netloc = netloc[: -len(dp)]
    if scheme == "http":
        scheme = "https"
        dp = _DEFAULT_PORTS.get(scheme)
        if dp and netloc.endswith(dp):
            netloc = netloc[: -len(dp)]
    path = _pct_normalize(parts.path)
    query = _pct_normalize(parts.query)
    u = urlunsplit((scheme, netloc, path, query, ""))  # fragment stripped
    # the index.html drop can empty the query ("/p?index.html" → "/p?"):
    # drop it again so a second pass finds nothing to do
    u = canonicalize_url_py(u).strip()
    return re.sub(_EMPTY_QUERY_RE, r"\1", u).strip()


def host_of_py(url: str) -> str:
    try:
        return urlsplit(url).hostname or ""
    except ValueError:
        return ""


def host_group_py(url: str) -> str:
    """Reference ``getOrigin`` grouping (throttled-queue.js:18-37)."""
    host = host_of_py(url)
    if not host:
        return ""
    if host == "whatwg.org" or host.endswith(".whatwg.org"):
        return "whatwg.org"
    if host == "github.io" or host.endswith(".github.io"):
        return "github.io"
    if (
        host.endswith(".csswg.org")
        or host == "csswg.org"
        or host.endswith(".css-houdini.org")
        or host == "css-houdini.org"
        or host.endswith(".fxtf.org")
        or host == "fxtf.org"
    ):
        return "csswg.org"
    return host


# --------------------------------------------------------------------------
# Column (JVM / codegen) kernels — the distributed hot path
# --------------------------------------------------------------------------


def canonicalize_url_col(url: Column) -> Column:
    """Reference ``canonicalizeUrl`` as a pure Column expression chain.

    Whole-stage-codegen friendly; no Python boundary.
    """
    u = F.regexp_replace(url, r"^http:", "https:")
    u = F.split(u, "#").getItem(0)
    u = F.replace(u, F.lit("index.html"), F.lit(""))
    u = F.replace(u, F.lit("Overview.html"), F.lit(""))
    u = F.replace(u, F.lit("cover.html"), F.lit(""))
    u = F.regexp_replace(u, r"spec\.whatwg\.org/.*", "spec.whatwg.org/")
    u = F.regexp_replace(u, r"w3\.org/TR/(([^/]+/)+)[^/]+\.[^/]+$", "w3.org/TR/$1")
    u = F.regexp_replace(u, r"w3\.org/TR/([^/]+)$", "w3.org/TR/$1/")
    u = F.regexp_replace(u, r"w3c\.github\.io/([^/]+)$", "w3c.github.io/$1/")
    return u


def _pct_normalize_col(rest: Column) -> Column:
    """``_pct_normalize`` of the text after ``scheme://host[:port]``; drops
    the fragment and an empty query (a lone first ``?`` at the end) as
    ``urlunsplit`` does. Each ``%``-split piece after the first is an
    escape iff it starts with two hex digits; otherwise its ``%`` becomes
    ``%25``."""
    head = F.regexp_replace(F.substring_index(rest, "#", 1), _EMPTY_QUERY_RE, "$1")

    def piece(p: Column, i: Column) -> Column:
        hx = F.substring(p, 1, 2)
        ch = F.unhex(hx).cast("string")
        esc = F.when(F.instr(F.lit(_UNRESERVED), ch) > 0, ch).otherwise(
            F.concat(F.lit("%"), F.upper(hx))
        )
        return (
            F.when(i == 0, p)
            .when(p.rlike("^[0-9a-fA-F]{2}"), F.concat(esc, F.substring(p, 3, 2**30)))
            .otherwise(F.concat(F.lit("%25"), p))
        )

    return F.array_join(F.transform(F.split(head, "%"), piece), "")


def url_canon_col(url: Column) -> Column:
    """``url_canon_py`` as one Column expression (no Python boundary).

    The ``scheme://host[:port]`` prefix is lowercased, the original
    scheme's default port dropped, http rewritten to https and ``:443``
    dropped (both drops for one-pass idempotence, see ``url_canon_py``).
    Only rows with ``%`` or ``?`` run ``_pct_normalize_col``; it precedes
    the reference canonicalization so ``index%2Ehtml`` drops like
    ``index.html``. Output-trimmed like ``url_canon_py``."""
    u = F.trim(url)
    prefix = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    rest = F.substring(u, F.length(prefix) + F.lit(1), F.lit(2**30))
    rest = F.when(u.contains("%") | u.contains("?"), _pct_normalize_col(rest)).otherwise(rest)
    prefix = F.lower(prefix)
    prefix = F.regexp_replace(prefix, r"^(http://[^/:]*):80$", "$1")
    prefix = F.regexp_replace(prefix, r"^http://", "https://")
    prefix = F.regexp_replace(prefix, r"^(https://[^/:]*):443$", "$1")
    u = F.trim(canonicalize_url_col(F.concat(prefix, rest)))
    # only a URL with a ``?`` can be left with an empty query
    return F.when(
        url.contains("?"), F.trim(F.regexp_replace(u, _EMPTY_QUERY_RE, "$1"))
    ).otherwise(u)


def with_url_canon(df: DataFrame) -> DataFrame:
    """Add the canonical-URL key column ``url_canon`` (``url_canon_col``
    of ``url``)."""
    return df.withColumn("url_canon", url_canon_col(F.col("url")))


def host_col(url: Column) -> Column:
    """Hostname (lowercased, port stripped) as a Column expression."""
    return F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)", 1))


def host_group_col(url: Column) -> Column:
    """Reference ``getOrigin`` grouping as a Column expression."""
    h = host_col(url)
    return (
        F.when((h == "whatwg.org") | h.endswith(".whatwg.org"), F.lit("whatwg.org"))
        .when((h == "github.io") | h.endswith(".github.io"), F.lit("github.io"))
        .when(
            (h == "csswg.org")
            | h.endswith(".csswg.org")
            | (h == "css-houdini.org")
            | h.endswith(".css-houdini.org")
            | (h == "fxtf.org")
            | h.endswith(".fxtf.org"),
            F.lit("csswg.org"),
        )
        .otherwise(h)
    )
