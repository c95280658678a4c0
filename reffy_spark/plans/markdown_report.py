"""Markdown crawl-report generation — port of the reference's
src/lib/markdown-report.js:1-360 (tested by test/markdown-report.js).

``generate_spec_report`` is the per-spec kernel (pure Python over one
crawl-result dict — the reference runs it driver-side per spec too).
"""

from __future__ import annotations

import json
from urllib.parse import quote


# reffy.json module registry (label, property, metadata flag) — the
# summary/details order contract (src/browserlib/reffy.json)
REFFY_MODULES = [
    ("Title", "title", True),
    ("Authoring tool", "generator", True),
    ("Date", "date", True),
    ("Revision ID", "revision", True),
    ("Algorithms", "algorithms", False),
    ("Links", "links", False),
    ("References", "refs", False),
    ("Events", "events", False),
    ("Web IDL", "idl", False),
    ("CSS", "css", False),
    ("Terms", "dfns", False),
    ("Elements", "elements", False),
    ("Headings", "headings", False),
    ("IDs", "ids", False),
    ("CDDL", "cddl", False),
]

_XREF = "https://respec.org/xref/?term="
_CSS_TYPES = ",".join(
    [
        "css-at-rule",
        "css-descriptor",
        "css-function",
        "css-property",
        "css-selector",
        "css-type",
        "css-value",
    ]
)


def _encode_uri_component(s: str) -> str:
    # JS encodeURIComponent keeps A-Za-z0-9 - _ . ! ~ * ' ( )
    return quote(s, safe="!'()*-._~")


def _is_array_present(value, *_) -> bool:
    return isinstance(value, list) and len(value) > 0


def _array_info(value, spec) -> str:
    return f"{len(value)} found"


def _wrap_term(term: str, type_: str, href: str | None = None) -> str:
    if type_ in ("abstract-op", "dfn"):
        return f"[{term}]({href})" if href else f'"{term}"'
    res = f"`{term}`"
    return f"[{res}]({href})" if href else res


def _css_label(prop: str, nb: int) -> str:
    return {
        "atrules": ("at-rule", "at-rules"),
        "properties": ("property", "properties"),
        "selectors": ("selector", "selectors"),
        "values": ("value", "values"),
    }[prop][1 if nb > 1 else 0]


# --- per-module present / summary / details kernels -----------------------


def _css_present(value, *_):
    return any(
        _is_array_present((value or {}).get(p))
        for p in ("properties", "atrules", "selectors", "values")
    )


def _css_summary(value, spec):
    parts = []
    for prop in ("properties", "atrules", "selectors", "values"):
        vals = value.get(prop) or []
        if vals:
            parts.append(f"{len(vals)} {_css_label(prop, len(vals))}")
    return ", ".join(parts)


def _css_details(value, spec):
    out = []
    for prop in ("properties", "atrules", "selectors"):
        vals = value.get(prop)
        if not _is_array_present(vals):
            continue
        details = [
            "- "
            + _wrap_term(v["name"], "css type", v.get("href"))
            + f" ([xref search]({_XREF}{_encode_uri_component(v['name'])}"
            + f"&types={_encode_uri_component(_CSS_TYPES)}))"
            for v in vals
        ]
        if not details:
            continue
        report = ["<details>"]
        report.append(
            f"<summary>{len(details)} CSS {_css_label(prop, len(details))}</summary>"
        )
        report.append("")
        report.extend(details)
        report.append("</details>")
        out.append("\n".join(report))
    return "\n".join(out) or None


def _dfns_summary(value, spec):
    groups = [
        (
            "explicitly exported",
            [
                d
                for d in value
                if d.get("access") == "public" and d.get("type") in ("dfn", "cddl")
            ],
        ),
        (
            "exported by default",
            [
                d
                for d in value
                if d.get("access") == "public"
                and d.get("type") not in ("dfn", "cddl")
            ],
        ),
        ("private", [d for d in value if d.get("access") != "public"]),
    ]
    return ", ".join(
        f"{len(dfns)} {label}" for label, dfns in groups if len(dfns) > 0
    )


def _dfns_details(value, spec):
    details = [
        "- "
        + _wrap_term(d["linkingText"][0], d["type"], d.get("href"))
        + (
            " for " + _wrap_term(d["for"][0], d["type"])
            if d.get("for")
            else ""
        )
        + f", type {d['type']}"
        + f" ([xref search]({_XREF}{_encode_uri_component(d['linkingText'][0])}))"
        for d in value
        if d.get("access") == "public" and d.get("type") in ("dfn", "cddl")
    ]
    if not details:
        return None
    s = "s" if len(details) > 1 else ""
    report = ["<details>"]
    report.append(f"<summary>{len(details)} explicitly exported term{s}</summary>")
    report.append("")
    report.extend(details)
    report.append("</details>")
    return "\n".join(report)


def _idl_summary(value, spec):
    parsed = spec.get("idlparsed")
    if isinstance(parsed, str):
        return "invalid Web IDL found"
    res = []
    names = list(parsed.get("idlNames", {})) + [
        n
        for n in parsed.get("idlExtendedNames", {})
        if n not in parsed.get("idlNames", {})
    ]
    if names:
        s = "s" if len(names) > 1 else ""
        res.append(f"{len(names)} name{s} (or partial{s})")
    globs = list(parsed.get("globals", {}))
    if globs:
        s = "s" if len(globs) > 1 else ""
        res.append(f"{len(globs)} global{s}")
    return ", ".join(res)


def _idl_details(value, spec):
    parsed = spec.get("idlparsed")
    if isinstance(parsed, str):
        return None
    report = []
    idl_names = parsed.get("idlNames", {})
    if idl_names:
        s = "s" if len(idl_names) > 1 else ""
        report.append("<details>")
        report.append(f"<summary>{len(idl_names)} Web IDL name{s}</summary>")
        report.append("")
        for name, c in idl_names.items():
            t = c.get("type")
            report.append(
                f"- {t} " + _wrap_term(name, t, c.get("href"))
                + f" ([xref search]({_XREF}{_encode_uri_component(name)}&types=_IDL_))"
            )
        report.append("</details>")
    extended = {
        n: exts
        for n, exts in parsed.get("idlExtendedNames", {}).items()
        if n not in idl_names
    }
    if extended:
        s = "s" if len(extended) > 1 else ""
        report.append("<details>")
        report.append(
            f"<summary>{len(extended)} extended Web IDL name{s}</summary>"
        )
        report.append("")
        for name, exts in extended.items():
            t = exts[0].get("type")
            report.append(
                f"- {t} " + _wrap_term(name, t, exts[0].get("href"))
                + f" ([xref search]({_XREF}{_encode_uri_component(name)}&types=_IDL_))"
            )
        report.append("</details>")
    globs = parsed.get("globals", {})
    if globs:
        s = "s" if len(globs) > 1 else ""
        report.append("<details>")
        report.append(f"<summary>{len(globs)} Web IDL global{s}</summary>")
        report.append("")
        for g in globs:
            report.append(f"- `{g}`")
        report.append("</details>")
    return "\n".join(report)


def _links_present(value, *_):
    v = value or {}
    return bool((v.get("rawlinks") or {})) or bool((v.get("autolinks") or {}))


def _links_summary(value, spec):
    return ", ".join(
        f"{len(value[p])} {p}"
        for p in ("rawlinks", "autolinks")
        if len(value.get(p) or {}) > 0
    )


def _refs_present(value, *_):
    v = value or {}
    return _is_array_present(v.get("normative")) or _is_array_present(
        v.get("informative")
    )


def _refs_summary(value, spec):
    return ", ".join(
        f"{len(value[p])} {p}"
        for p in ("normative", "informative")
        if len(value.get(p) or []) > 0
    )


MODULE_FUNCTIONS = {
    "algorithms": (_is_array_present, _array_info, None),
    "cddl": (_is_array_present, lambda v, s: "found", None),
    "css": (_css_present, _css_summary, _css_details),
    "dfns": (_is_array_present, _dfns_summary, _dfns_details),
    "events": (_is_array_present, _array_info, None),
    "headings": (_is_array_present, _array_info, None),
    "idl": (
        lambda v, *_: isinstance(v, str) and len(v) > 0,
        _idl_summary,
        _idl_details,
    ),
    "ids": (_is_array_present, _array_info, None),
    "links": (_links_present, _links_summary, None),
    "refs": (_refs_present, _refs_summary, None),
}


def generate_spec_report(spec_result: dict) -> str:
    """Markdown crawl summary for one spec (generateSpecReport,
    markdown-report.js:292-360)."""
    summary = []
    for label, prop, metadata in REFFY_MODULES:
        if not metadata:
            continue
        if spec_result.get(prop):
            summary.append(f"- {label}: {spec_result[prop]}")
    url = spec_result.get("url")
    summary.append(f"- Canonical URL: [{url}]({url})")
    crawled = spec_result.get("crawled")
    if crawled and crawled != url:
        summary.append(f"- Crawled URL: [{crawled}]({crawled})")

    # if the spec defines IDL but was not post-processed, parse it now
    if spec_result.get("idl") and not spec_result.get("idlparsed"):
        from reffy_spark.functions.webidl import parse_idl

        spec_result = dict(spec_result)
        spec_result["idlparsed"] = parse_idl(spec_result["idl"])

    extract_modules = [
        (label, prop, *MODULE_FUNCTIONS[prop])
        for label, prop, metadata in REFFY_MODULES
        if not metadata and prop in MODULE_FUNCTIONS
    ]
    extracts_summary = []
    missing_summary = []
    for label, prop, is_present, summarize, _details in extract_modules:
        value = spec_result.get(prop)
        if is_present(value, spec_result):
            extracts_summary.append(f"  - {label}: {summarize(value, spec_result)}")
        else:
            missing_summary.append(label)
    if extracts_summary:
        extracts_summary.sort()
        summary.append("- Spec defines:")
        summary.extend(extracts_summary)
    if missing_summary:
        missing_summary.sort()
        summary.append(f"- No {', '.join(missing_summary)} definitions found")

    details = []
    for _label, prop, is_present, _summarize, mod_details in extract_modules:
        value = spec_result.get(prop)
        if mod_details is None or not is_present(value, spec_result):
            continue
        d = mod_details(value, spec_result)
        if d:
            details.append(d)

    report = ["Crawl summary:"]
    report.extend(summary)
    if details:
        report.append("")
        report.extend(details)
    return "\n".join(report)
