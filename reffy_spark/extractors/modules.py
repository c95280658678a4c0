"""Extraction modules, reimplemented from the reference's browserlib.

Each function takes an ``ExtractContext`` (parsed DOM + url + shared
``idToHeading``) and returns a JSON-serializable value whose shape matches
the reference's JSON Schemas (/root/reference/schemas/browserlib/*).

Reference citations are given per function. These are reimplementations
against static pre-rendered HTML (the fixture corpus is generated
post-render — SURVEY.md §7.3); live-DOM-only behaviors (``window.eval``
respecConfig sniffing, ReSpec re-rendering) are intentionally out of scope
and documented where relevant.
"""

from __future__ import annotations

import re

from reffy_spark.functions.text import normalize_ws_py as normalize
from reffy_spark.functions.text import trim_spaces_py
from reffy_spark.functions.urls import encode_uri_component
from reffy_spark.html.dom import Element, iter_id_name

# ---------------------------------------------------------------------------
# Shared helpers
# ---------------------------------------------------------------------------

# /root/reference/src/browserlib/informative-selector.mjs:8-25
INFORMATIVE_SELECTOR = (
    ".informative, .informative-bg, .note, .issue, .example, .ednote, "
    ".annotation, .practice, .introductory, .non-normative, aside, "
    ".idlHeader, [id^=dfn-panel-], .mdn-anno, .wpt-tests-block, "
    "details.respec-tests-details"
)

_ASIDE_SELECTOR = "aside, .mdn-anno, .wpt-tests-block, .annotation"


def is_informative(el: Element) -> bool:
    # within() = interval-cached closest-is-not-None (one query_all per
    # document, bisect per call — this predicate runs per dfn/id/link)
    return el.within(INFORMATIVE_SELECTOR)


def clean_text(el: Element, drop_selector: str = _ASIDE_SELECTOR) -> str:
    """textContent excluding subtrees matching ``drop_selector``
    (clone-and-clean.mjs / getCleanTextContent behavior)."""
    parts: list[str] = []
    stack: list[Element | str] = list(reversed(el.children))
    while stack:
        node = stack.pop()
        if isinstance(node, str):
            parts.append(node)
        elif node.tag in ("script", "style"):
            continue
        elif node.matches(drop_selector):
            continue
        else:
            stack.extend(reversed(node.children))
    return "".join(parts)


def get_absolute_url(el: Element, ctx, attribute: str = "id") -> str:
    """Absolute URL with encoded fragment for a node
    (get-absolute-url.mjs:13-29)."""
    page = None
    if not ctx.single_page:
        anc = el.closest("[data-reffy-page]")
        if anc is not None:
            page = anc.get("data-reffy-page")
    base = (page or ctx.url).split("#")[0]
    value = el.get(attribute) or ""
    if attribute == "href" and value.startswith("#"):
        value = value[1:]
    if value:
        return f"{base}#{encode_uri_component(value)}"
    return page or ctx.url


def next_tag(node: Element, name: str, until: Element | None = None) -> Element | None:
    """Next sibling matching ``name`` ('heading' matches h1-h6/hgroup)
    (extract-references.mjs:67-84)."""
    selector = "h1,h2,h3,h4,h5,h6,hgroup" if name == "heading" else name
    nxt = node.next_element_sibling
    while nxt is not None and nxt is not until and not nxt.matches(selector):
        nxt = nxt.next_element_sibling
    return None if nxt is until else nxt


# Heading numbering (map-ids-to-headings.mjs:11)
RE_NUMBER = re.compile(
    r"^([A-Z\d]\.|[A-Z](\.\d+)+\.?|\d+(\.\d+)+\.?|\d|Appendix [A-Z][.:])\s"
)

_HEADING_TAGS = ("h1", "h2", "h3", "h4", "h5", "h6")


# ---------------------------------------------------------------------------
# idToHeading (shared sub-stage)
# ---------------------------------------------------------------------------


def map_ids_to_headings(ctx) -> dict:
    """Map element href → enclosing section's heading record via the full
    HTML outline algorithm (map-ids-to-headings.mjs:48-131 over
    create-outline.mjs — see reffy_spark.html.outline). ES specs using
    <emu-clause> markup take the closest-section path
    (map-ids-to-headings.mjs:133-173)."""
    from reffy_spark.html.outline import IMPLIED, create_outline

    root = ctx.root
    if root.query("emu-clause") is not None:
        return _es_map_ids_to_headings(ctx)

    _outline, node_to_section = create_outline(root)

    # the heading record depends only on the (bubbled) section, not on
    # the id-bearing element — compute once per section, share the dict
    # (never mutated after; many ids map to the same section)
    sec_rec: dict[int, dict] = {}

    def _section_record(section) -> dict:
        heading = section.heading
        href = None
        ids: list[str] = []
        anchor = heading.query("a[name]")
        if anchor is not None:
            ids.append(anchor.get("name"))
            href = get_absolute_url(anchor, ctx, attribute="name")
        if heading.id:
            ids.append(heading.id)
            href = get_absolute_url(heading, ctx)
        if section.root is not None and section.root.id:
            ids.append(section.root.id)
            href = get_absolute_url(section.root, ctx)

        text = normalize(clean_text(heading))
        m = RE_NUMBER.match(text)
        number = m.group(1) if m else None
        rec: dict = {}
        if ids:
            rec["id"] = ids.pop()
        rec["href"] = href  # None → caller substitutes the node's own url
        rec["title"] = RE_NUMBER.sub("", text, count=1)
        if ids:
            rec["alternateIds"] = ids
        if number:
            rec["number"] = re.sub(
                r"^Appendix ", "", re.sub(r"[.:]$", "", number)
            )
        return rec

    mapping: dict[str, dict] = {}
    for el in iter_id_name(root):
        attr = "id" if el.get("id") else ("name" if el.get("name") else None)
        if attr is None:
            continue
        section = node_to_section.get(el)
        # bubble implied-heading sections up to a real heading
        while section is not None and section.heading == IMPLIED:
            section = section.parent
        if section is None or not isinstance(section.heading, Element):
            continue
        nodeid = get_absolute_url(el, ctx, attribute=attr)
        key = id(section)
        rec = sec_rec.get(key)
        if rec is None:
            rec = sec_rec[key] = _section_record(section)
        if rec["href"] is None:
            rec = {**rec, "href": nodeid}
        mapping[nodeid] = rec
    return mapping


def _es_map_ids_to_headings(ctx) -> dict:
    """EcmaScript emu-clause mapping (map-ids-to-headings.mjs:133-173)."""
    mapping: dict[str, dict] = {}
    for el in iter_id_name(ctx.root):
        if not el.id or el.tag == "emu-xref":
            continue
        section = el.closest("emu-intro[id], emu-clause[id], emu-annex[id]")
        if section is None:
            continue
        heading = section.query("h1")
        if heading is None:
            continue
        text = normalize(clean_text(heading))
        nodeid = get_absolute_url(el, ctx)
        href = get_absolute_url(section, ctx)
        m = RE_NUMBER.match(text)
        number = m.group(1) if m else None
        rec: dict = {}
        if section.id:
            rec["id"] = section.id
        rec["href"] = href
        rec["title"] = RE_NUMBER.sub("", text, count=1)
        if number:
            rec["number"] = re.sub(r"\.$", "", number)
        mapping[nodeid] = rec
    return mapping


# ---------------------------------------------------------------------------
# Metadata modules
# ---------------------------------------------------------------------------


def get_title(ctx) -> str:
    """get-title.mjs:4-15."""
    title = ctx.root.query("title")
    if title is not None:
        return normalize(title.text)
    return f"[No title found for {ctx.url}]"


def _document_title(ctx) -> str:
    """Raw ``document.title`` ('' when the page has no <title>)."""
    title = ctx.root.query("title")
    return normalize(title.text) if title is not None else ""


_RESPEC_CONFIG_RE = re.compile(r"\brespecConfig\s*=")


def get_generator(ctx) -> str | None:
    """get-generator.mjs:13-27. The live-page sniffs
    (``window.respecConfig`` / ``window.eval('typeof respecConfig …')``,
    get-generator.mjs:20-21) are approximated statically: an inline
    ``<script>`` assigning ``respecConfig`` — the standard ReSpec
    authoring shape that creates that global — counts as ReSpec. Only a
    page that builds the config indirectly (computed global, external
    loader) still needs a live browser; parity caveat in SURVEY.md §7.3."""
    meta = ctx.root.query("meta[name=generator]")
    content = meta.get("content", "") if meta is not None else ""
    if meta is not None and re.search(r"bikeshed", content, re.I):
        return "bikeshed"
    body = ctx.root.query("body")
    if (
        (meta is not None and re.search(r"respec", content, re.I))
        or (body is not None and body.id == "respecDocument")
        or any(
            not s.get("src") and _RESPEC_CONFIG_RE.search(s.text or "")
            for s in ctx.root.query_all("script")
        )
    ):
        return "respec"
    return None


_MONTHS = (
    "January February March April May June July August September "
    "October November December"
).split()


def get_date(ctx) -> str | None:
    """get-lastmodified-date.mjs:1-14. The document.lastModified fallback
    (browsers derive it from the HTTP Last-Modified header) maps to the
    pages table's capture timestamp here: when the context carries a
    ``last_modified`` (warc_ts), a date-less page reports it in the same
    en-US '{day} {Month} {year}' shape the reference produces."""
    date_el = ctx.root.query(".head time")
    if date_el is not None:
        return date_el.text.strip()
    h2s = ctx.root.query_all(".head h2")
    status = " ".join(h.text for h in h2s).strip()
    if status:
        return " ".join(status.split()[-3:])
    lm = getattr(ctx, "last_modified", None)
    if lm is not None:
        import datetime

        if isinstance(lm, str):
            try:
                lm = datetime.datetime.fromisoformat(lm)
            except ValueError:
                return None
        return f"{lm.day} {_MONTHS[lm.month - 1]} {lm.year}"
    return None


def get_revision(ctx) -> str | None:
    """get-revision.mjs:1-12."""
    meta = ctx.root.query("meta[name=document-revision], meta[name=revision]")
    rev = (meta.get("content") or "").strip() if meta is not None else ""
    if re.search(r"[0-9a-f]{40}", rev):
        return rev
    return None


# ---------------------------------------------------------------------------
# headings / ids / links
# ---------------------------------------------------------------------------


def extract_headings(ctx) -> list[dict]:
    """extract-headings.mjs (regular + CSS2.1 <a name> forms; the
    EcmaScript emu-clause and RFC-editor span forms are also handled)."""
    out = []
    id_to_heading = ctx.id_to_heading

    # EcmaScript emu-clause[id] > h1 (extract-headings.mjs:10-22)
    for n in ctx.root.query_all("emu-clause[id] > h1"):
        secnum = n.query(".secnum")
        number = secnum.text if secnum is not None else None
        level = len(number.split(".")) if number else None
        title = n.text.replace(number, "").strip() if number else n.text.strip()
        rec = {
            "id": n.parent.id,
            "href": get_absolute_url(n.parent, ctx),
            "title": title,
        }
        if level:
            rec["level"] = level
        if number:
            rec["number"] = number
        out.append(rec)

    # RFC-editor spans (extract-headings.mjs:24-40)
    for n in ctx.root.query_all(
        "pre > span.h2 > a.selflink[id], pre > span.h3 > a.selflink[id], "
        "pre > span.h4 > a.selflink[id], pre > span.h5 > a.selflink[id], "
        "pre > span.h6 > a.selflink[id]"
    ):
        number = n.text
        level = len(number.split(".")) if number else None
        title = n.parent.text
        if number:
            title = title.replace(number, "")
        title = re.sub(r"^\s*\.", "", title).strip()
        rec = {"id": n.id, "href": get_absolute_url(n, ctx), "title": title}
        if level:
            rec["level"] = level
        if number:
            rec["number"] = re.sub(r"\s*appendix\s+", "", number, flags=re.I)
        out.append(rec)

    # Regular headings + CSS 2.1 <a name> (extract-headings.mjs:42-77)
    for n in ctx.root.query_all(
        "h1[id], h2[id], h3[id], h4[id], h5[id], h6[id]"
    ) + [
        a
        for a in ctx.root.query_all(
            "h1 > a[name], h2 > a[name], h3 > a[name], "
            "h4 > a[name], h5 > a[name], h6 > a[name]"
        )
        if a.parent.id is None
    ]:
        id_attr = "id" if n.id else "name"
        heading_el = n if n.id else n.parent
        if heading_el.tag not in _HEADING_TAGS:
            continue
        href = get_absolute_url(n, ctx, attribute=id_attr)
        heading = id_to_heading.get(href) or {
            "id": n.get(id_attr),
            "href": href,
            "title": n.text.strip(),
        }
        rec = {
            "id": heading.get("id"),
            "href": heading["href"],
            "level": int(heading_el.tag[1]),
            "title": heading["title"],
        }
        if rec["id"] is None:
            # the enclosing section's heading has no id (a heading nested
            # in a heading): the reference's heading.id is undefined, so
            # JSON.stringify drops the key
            del rec["id"]
        if heading.get("alternateIds"):
            rec["alternateIds"] = heading["alternateIds"]
        if heading.get("number"):
            rec["number"] = heading["number"]
        out.append(rec)
    return out


def extract_ids(ctx) -> list[str]:
    """extract-ids.mjs:6-28 (respec-/dfn-panel- filters = P7)."""
    out = []
    for n in iter_id_name(ctx.root):
        nid = n.id
        if nid and not nid.startswith("respec-") and not nid.startswith("dfn-panel-"):
            out.append(get_absolute_url(n, ctx))
    for n in ctx.root.query_all("a[name]"):
        if not n.id or n.id != n.get("name"):
            out.append(get_absolute_url(n, ctx, attribute="name"))
    return out


def extract_links(ctx) -> dict:
    """extract-links.mjs:19-45: absolute links grouped by page URL with
    fragment sets, split rawlinks/autolinks on data-link-type/data-xref-type.
    Links under .head, del, .dfn-panel ignored (P8)."""
    rawlinks: dict[str, set] = {}
    autolinks: dict[str, set] = {}
    for n in ctx.root.query_all("a[href^=http]"):
        # existence-only ancestor test: within() bisects the cached
        # merged subtree intervals instead of walking ancestors
        if n.within(".head, del, .dfn-panel"):
            continue
        href = n.get("href") or ""
        page_url = href.split("#")[0]
        is_auto = n.get("data-link-type") is not None or n.get("data-xref-type") is not None
        links = autolinks if is_auto else rawlinks
        anchors = links.setdefault(page_url, set())
        if "#" in href and href.split("#", 1)[1]:
            anchors.add(href.split("#", 1)[1])

    def to_obj(links: dict[str, set]) -> dict:
        out = {}
        for u in sorted(links):
            out[u] = {}
            if links[u]:
                out[u]["anchors"] = sorted(links[u])
        return out

    # NOTE: the reference keeps Set insertion order for anchors; we sort
    # for determinism (relational downstream sorts anyway — A1 uses
    # sort_array over collect_set).
    return {"rawlinks": to_obj(rawlinks), "autolinks": to_obj(autolinks)}


# ---------------------------------------------------------------------------
# dfns
# ---------------------------------------------------------------------------

# extract-dfns.mjs:51-110
VALID_DFN_TYPES = frozenset(
    """property descriptor value type at-rule function selector namespace
    interface constructor method argument attribute callback dictionary
    dict-member enum enum-value exception const typedef stringifier
    serializer iterator maplike setlike extended-attribute event permission
    element element-state element-attr attr-value cddl-module cddl-type
    cddl-parameter cddl-key cddl-value scheme http-header grammar
    abstract-op dfn""".split()
)

_FOR_SPLIT_RE = re.compile(r",(?![^(]*\))")


# Simple grouping-content and text-level-semantics elements kept in a
# textual definition (extract-dfns.mjs:143-150); anything else is removed
# with its subtree.
_PROSE_KEEP_TAGS = frozenset(
    """blockquote dd div dl dt figcaption figure hr li ol p pre ul
    a abbr b bdi bdo br cite code data dfn em i kbd mark q rp rt ruby s
    samp small span strong sub sup time u var wbr""".split()
)


def _html_prose_definition(prose_el: Element, ctx) -> str:
    """getHtmlProseDefinition (extract-dfns.mjs:138-176): cloneAndClean
    (drop informative subtrees; comments never enter our tree), keep only
    simple grouping/text-level elements, drop all attributes except
    href (absolutized against the page URL), dir, lang and title;
    innerHTML, trimmed.

    NOTE: sibling walker of ``_serialize_html`` (the algorithms
    serializer) — deliberately separate because the emission rules
    differ on four axes (tag whitelist-with-subtree-drop vs keep-all,
    attr whitelist vs keep-all, unconditional vs relative-only href
    absolutization, no src handling); a fix to the shared mechanics
    (escaping, void elements, data-reffy-page base) must be applied to
    BOTH."""
    page_el = prose_el.closest("[data-reffy-page]")
    base = page_el.get("data-reffy-page") if page_el is not None else ctx.url
    out: list[str] = []

    def ser(node):
        if isinstance(node, str):
            out.append(_escape_text(node))
            return
        if node.matches(INFORMATIVE_SELECTOR):  # cloneAndClean
            return
        if node.tag not in _PROSE_KEEP_TAGS:  # el.remove(), subtree too
            return
        parts = [f"<{node.tag}"]
        for k, v in node.attrs.items():
            if k == "href":
                v = _algo_abs_url(v, base)
            elif k not in ("dir", "lang", "title"):
                continue
            parts.append(f' {k}="{_escape_attr(v)}"')
        parts.append(">")
        out.append("".join(parts))
        if node.tag not in _VOID_ELEMENTS:
            for c in node.children:
                ser(c)
            out.append(f"</{node.tag}>")

    for c in prose_el.children:
        ser(c)
    return "".join(out).strip()


def _definition_mapper(el: Element, ctx, uses_dfn_data_model: bool, dfn_type: str) -> dict:
    """extract-dfns.mjs:178-299 (definitionMapper), including the
    [data-defines] htmlProse join (mjs:290-295). ``dfn_type`` is the
    element's type after extract_dfns' fix-ups."""
    defined_in = "prose"
    enclosing = el.closest("dt,pre,table,h1,h2,h3,h4,h5,h6,.note,.example") or el
    if enclosing.tag in ("dt", "pre", "table"):
        defined_in = enclosing.tag
    elif enclosing.tag in _HEADING_TAGS:
        defined_in = "heading"
    elif enclosing.has_class("note"):
        defined_in = "note"
    elif enclosing.has_class("example"):
        defined_in = "example"

    if el.get("data-lt") is not None:
        linking_text = [normalize(t) for t in el.get("data-lt").split("|")]
    elif el.query(".secno") is not None:
        linking_text = [normalize(clean_text(el, drop_selector=".secno"))]
    else:
        linking_text = [normalize(el.text)]

    href = get_absolute_url(el, ctx)
    access = (
        "public"
        if (
            not uses_dfn_data_model
            or el.get("data-export") is not None
            or (
                el.get("data-noexport") is None
                and el.get("data-dfn-type") is not None
                and dfn_type != "dfn"
                and not dfn_type.startswith("cddl-")
            )
        )
        else "private"
    )
    page_anc = el.closest("[data-reffy-page]") if not ctx.single_page else None
    page_url = page_anc.get("data-reffy-page") if page_anc is not None else ctx.url
    return {
        "id": el.id,
        "href": href,
        "linkingText": linking_text,
        "localLinkingText": (
            [normalize(t) for t in el.get("data-local-lt").split("|")]
            if el.get("data-local-lt")
            else []
        ),
        "type": dfn_type,
        "for": (
            [normalize(t) for t in _FOR_SPLIT_RE.split(el.get("data-dfn-for"))]
            if el.get("data-dfn-for")
            else []
        ),
        "access": access,
        "informative": is_informative(el),
        # fallback uses the raw document title ('' when absent), matching
        # document.title in extract-dfns.mjs:274-277, NOT getTitle's
        # "[No title found]" marker
        "heading": ctx.id_to_heading.get(href)
        or {"href": page_url, "title": _document_title(ctx)},
        "definedIn": defined_in,
        "links": [],
    }


def extract_dfns(ctx) -> list[dict]:
    """extract-dfns.mjs:300-414 (core path; the spec-specific
    preprocessors for CSS2/HTML/ecmascript/SVG2/rfc8610/webgl1 are
    out-of-scope flagged variants — SURVEY.md §7.1 step 5)."""
    candidates = []
    for el in ctx.root.query_all("dfn[id]"):
        if el.get("data-lt") == "":
            continue
        candidates.append(el)
    for el in ctx.root.query_all("h2[id], h3[id], h4[id], h5[id], h6[id]"):
        if el.get("data-lt") == "":
            continue
        if any(
            el.get(a) is not None
            for a in ("data-dfn-type", "data-dfn-for", "data-export", "data-noexport", "data-lt")
        ):
            candidates.append(el)
    candidates.sort(key=lambda e: e.pos)

    uses_dfn_data_model = any(
        any(
            el.get(a) is not None
            for a in ("data-dfn-type", "data-dfn-for", "data-export", "data-noexport")
        )
        for el in candidates
    )

    # document.querySelector('[data-defines="#id"]') lookup table: first
    # matching prose element per target, in document order
    # (extract-dfns.mjs:290)
    prose_map: dict[str, Element] = {}
    # single-compound query_all already returns document order
    for pel in ctx.root.query_all("[data-defines]"):
        target = pel.get("data-defines")
        if target and target not in prose_map:
            prose_map[target] = pel

    definitions: list[dict] = []
    # (type, sorted linkingText, sorted for) of the public definitions
    # kept so far, for the first-wins dedupe
    public_keys: set[tuple] = set()
    for el in candidates:
        dfn_type = el.get("data-dfn-type") or "dfn"
        # autofix ReSpec's invalid "idl" dfn type for internal slots
        # (extract-dfns.mjs:344-354): method when the first linking text
        # ends with ')', attribute otherwise
        if dfn_type == "idl":
            if el.get("data-lt"):
                first_lt = normalize(el.get("data-lt").split("|")[0])
            else:
                first_lt = normalize(el.text)
            dfn_type = "method" if first_lt.endswith(")") else "attribute"
        # invalid-type filter (P3)
        if dfn_type not in VALID_DFN_TYPES:
            continue
        # excluded/deleted filter (P4)
        if el.within(".exclude,del"):
            continue
        # imported-definition filter (P5)
        link = el.query("a[href^=http]") or el.closest("a[href^=http]")
        if link is not None:
            if el.text.strip() == link.text.strip() and link.get("href") != (
                "https://www.w3.org/TR/CSS2/syndata.html#vendor-keywords"
            ):
                continue
        dfn = _definition_mapper(el, ctx, uses_dfn_data_model, dfn_type)
        # textual-definition join (extract-dfns.mjs:290-295); key order
        # matches the reference (set after construction, so after links)
        prose_el = prose_map.get(f"#{dfn['id']}")
        if prose_el is not None:
            html_prose = _html_prose_definition(prose_el, ctx)
            if html_prose:
                dfn["htmlProse"] = html_prose
        # first-wins dedupe (A6, extract-dfns.mjs:122-134): a public
        # definition is dropped when a kept public one has its key
        if dfn["access"] == "public":
            key = (
                dfn["type"],
                tuple(sorted(dfn["linkingText"])),
                tuple(sorted(dfn["for"])),
            )
            if key in public_keys:
                continue
            public_keys.add(key)
        definitions.append(dfn)

    # dev-anchor join (J4, extract-dfns.mjs:387-414): the first
    # definition with the anchor's href
    by_href: dict[str, dict] = {}
    for d in definitions:
        by_href.setdefault(d["href"], d)
    for node in ctx.root.query_all(".domintro dt a[id]"):
        dt = node.closest("dt")
        if dt is None or dt.query("dfn") is not None:
            continue
        target = by_href.get(get_absolute_url(node, ctx, attribute="href"))
        if target is not None:
            href = get_absolute_url(node, ctx)
            target["links"].append(
                {
                    "type": "dev",
                    "id": node.id,
                    "name": normalize(dt.text),
                    "href": href,
                    "heading": ctx.id_to_heading.get(href)
                    or {"href": ctx.url, "title": _document_title(ctx)},
                }
            )
    return definitions


# ---------------------------------------------------------------------------
# refs
# ---------------------------------------------------------------------------


def _parse_reference_list(ref_list: Element, filter_informative: bool = False):
    """extract-references.mjs:96-148 (dl and ul forms)."""
    default_refs: list[dict] = []
    informative_refs: list[dict] = []
    if ref_list.tag == "dl":
        for dt in ref_list.child_elements():
            if dt.tag != "dt":
                continue
            name = re.sub(r"[\[\] \n]", "", dt.text)
            dd = next_tag(dt, "dd")
            if dd is None or not name:
                continue
            ref: dict = {"name": name}
            a = next(
                (x for x in dd.query_all("a[href]") if "://" in (x.get("href") or "")),
                None,
            )
            if a is not None:
                ref["url"] = a.get("href")
            if filter_informative and re.search(r"non-normative", dd.text, re.I):
                informative_refs.append(ref)
            else:
                default_refs.append(ref)
    elif ref_list.tag == "ul":
        for li in ref_list.child_elements():
            if li.tag != "li":
                continue
            a = li.query("a[href]")
            if a is not None and a.closest("ul") is not li.closest("ul"):
                a = None  # drop anchors inside nested lists
            if a is not None:
                default_refs.append(
                    {"name": a.text.strip(), "url": a.get("href")}
                )
            else:
                default_refs.append({"name": clean_text(li, "ul").strip()})
    return default_refs, informative_refs


def extract_refs(ctx) -> dict | None:
    """extract-references.mjs:19-29 + rule/heading fallbacks."""
    generator = get_generator(ctx)
    refs = {"normative": [], "informative": []}
    rules = {
        "bikeshed": ("#normative + dl", "#informative + dl"),
        "respec": ("#normative-references > dl", "#informative-references > dl"),
    }.get(generator or "")
    if rules:
        for key, sel in zip(("normative", "informative"), rules):
            # 'X + dl': adjacent sibling — emulate with next_tag from the id
            if " + dl" in sel:
                anchor = ctx.root.query(sel.split(" + ")[0])
                lst = anchor.next_element_sibling if anchor is not None else None
                lst = lst if lst is not None and lst.tag == "dl" else None
            else:
                parent = ctx.root.query(sel.split(" > ")[0])
                lst = (
                    next((c for c in parent.child_elements() if c.tag == "dl"), None)
                    if parent is not None
                    else None
                )
            if lst is not None:
                refs[key] = _parse_reference_list(lst)[0]
    if not refs["normative"] and not refs["informative"]:
        refs = _extract_refs_without_rules(ctx)
    if refs and (refs["normative"] or refs["informative"]):
        return refs
    return None


def _extract_refs_without_rules(ctx) -> dict:
    """extract-references.mjs:160-268 (heading-based fallback)."""
    refs = {"normative": [], "informative": []}
    anchors = ctx.root.query_all("h1, h2, h3")

    # ECMA emu-clause references (Source map / ECMAScript layout,
    # extract-references.mjs:168-198): refs live in <p> children of
    # <emu-clause id=sec-[references-]{type}[-references]>
    for ref_type in ("normative", "informative"):
        clause = ctx.root.query(
            f"emu-clause#sec-references-{ref_type},"
            f"emu-clause#sec-{ref_type}-references"
        )
        if clause is None:
            continue
        found = []
        for p in clause.query_all("p"):
            m = re.search(r"(.+?)(,|\.)", p.text)
            name = m.group(1).strip() if m else None
            has_full_title = p.query("i") is not None
            anchor = p.query("a[href]")
            if name and (anchor is not None or has_full_title):
                ref = {"name": name}
                if anchor is not None:
                    url = anchor.get("href") or ""
                    if re.match(r"^https?://", url):
                        ref["url"] = url
                found.append(ref)
        refs[ref_type] = found

    def find_last(pattern):
        out = None
        for h in anchors:
            if re.search(pattern, h.text, re.I):
                out = h
        return out

    normative = find_last(r"^\s*((\w|\d+)(\.\d+)*\.?)?\s*normative\s+references\s*$")
    if normative is not None:
        nh = next_tag(normative, "heading")
        lst = next_tag(normative, "dl", nh) or next_tag(normative, "ul", nh)
        if lst is not None:
            refs["normative"] = _parse_reference_list(lst)[0]
    informative = find_last(
        r"^\s*((\w|\d+)(\.\d+)*\.?)?\s*(informative|non-normative)\s+references\s*$"
    )
    if informative is not None:
        nh = next_tag(informative, "heading")
        lst = next_tag(informative, "dl", nh) or next_tag(informative, "ul", nh)
        if lst is not None:
            refs["informative"] = _parse_reference_list(lst)[0]
    if normative is not None or informative is not None:
        return refs

    ref_heading = find_last(r"references")
    if ref_heading is not None:
        next_section = next_tag(ref_heading, ref_heading.tag)
        lst = next_tag(ref_heading, "dl", next_section) or next_tag(
            ref_heading, "ul", next_section
        )
        if lst is not None:
            norm, inf = _parse_reference_list(lst, filter_informative=True)
            refs["normative"] = norm
            refs["informative"] = inf
    return refs


# ---------------------------------------------------------------------------
# idl / cddl / elements
# ---------------------------------------------------------------------------


def _get_code_elements(ctx, selectors: list[str], exclude_selectors: list[str]):
    """get-code-elements.mjs: document-order code blocks, skipping excluded
    ancestors and informative sections."""
    seen = set()
    out = []
    for sel in selectors:
        for el in ctx.root.query_all(sel):
            if id(el) in seen:
                continue
            seen.add(id(el))
            out.append(el)
    out.sort(key=lambda e: e.pos)
    res = []
    for el in out:
        if exclude_selectors and el.within(", ".join(exclude_selectors)):
            continue
        if is_informative(el):
            continue
        res.append(el)
    return res


def _has_excluded_class(el: Element) -> bool:
    return el.has_class("exclude") or el.has_class("extract")


def extract_webidl(ctx) -> str:
    """extract-webidl.mjs:13-95."""
    generator = get_generator(ctx)
    idl = ""
    title = get_title(ctx)
    if generator == "bikeshed":
        heading = ctx.root.query("#idl-index")
        if heading is not None:
            nxt = heading.next_element_sibling
            idl = clean_text(nxt, INFORMATIVE_SELECTOR) if nxt is not None else ""
        else:
            idl = _extract_respec_idl(ctx)
    elif title.startswith("Web IDL"):
        idl = ""
    else:
        idl = _extract_respec_idl(ctx)
    if idl:
        idl = re.sub(r"[ \t\r\f\v]+$", "", idl, flags=re.M)
        idl = re.sub(r"\s+$", "\n", idl)
        idl = idl.replace("\t", "  ").strip()
    return idl


def _extract_respec_idl(ctx) -> str:
    selectors = [
        "pre.idl",
        "pre > code.idl-code",
        "pre > code.idl",
        "div.idl-code > pre",
        "pre.widl",
    ]
    els = []
    for el in _get_code_elements(ctx, selectors, ["#idl-index", ".chapter-idl"]):
        if _has_excluded_class(el) or (el.parent is not None and _has_excluded_class(el.parent)):
            continue
        if el.id == "actual-idl-index":
            continue
        els.append(el)
    return "\n\n".join(trim_spaces_py(clean_text(el, INFORMATIVE_SELECTOR)) for el in els)


def extract_cddl(ctx) -> list[dict]:
    """extract-cddl.mjs:30-97 (module grouping + 'all' rollup = A2)."""
    cddl_els = [
        el
        for el in _get_code_elements(ctx, ["pre.cddl"], ["#cddl-index"])
        if not _has_excluded_class(el)
    ]

    def get_modules(el: Element) -> list[str]:
        attr = el.get("data-cddl-module")
        if attr:
            return [normalize(m) for m in attr.split(",")]
        # class names prefixed `cddl-` OR suffixed `-cddl` both name
        # modules (extract-cddl.mjs getModules:107-125)
        out: list[str] = []
        for c in el.classes:
            m = re.match(r"^(.*)-cddl$|^cddl-(.*)$", c)
            if m:
                shortname = m.group(1) if m.group(1) is not None else m.group(2)
                if shortname not in out:
                    out.append(shortname)
        return out

    modules: dict[str, list[str]] = {}
    for el in cddl_els:
        for name in get_modules(el):
            if name != "all":
                modules.setdefault(name, [])
    merged: list[str] = []
    for el in cddl_els:
        cddl = trim_spaces_py(clean_text(el, INFORMATIVE_SELECTOR))
        if not cddl:
            continue
        merged.append(cddl)
        el_modules = get_modules(el) or list(modules)
        for name in el_modules:
            if name != "all":
                modules.setdefault(name, []).append(cddl)
    if not merged:
        return []
    res = [{"name": "all" if modules else "", "cddl": "\n\n".join(merged)}]
    for name, blocks in modules.items():
        res.append({"name": name, "cddl": "\n\n".join(blocks)})
    for mod in res:
        # /\s+$/gm: a trailing-whitespace run (including blank lines)
        # before each line boundary collapses to one newline — so blocks
        # separated by any number of blank lines end up '\n\n' apart
        mod["cddl"] = (
            re.sub(r"\s+$", "\n", mod["cddl"], flags=re.M)
            .replace("\t", "  ")
            .strip()
        )
    return res


def extract_elements(ctx) -> list[dict] | None:
    """extract-elements.mjs full port: dl.element (HTML pattern),
    div.element-summary + table.definition-table (SVG patterns), and the
    dfn[data-dfn-type=element] contract (MathML & friends). Returns None
    when the spec defines no elements (the reference returns undefined)."""

    def get_text(el: Element) -> str:
        return re.sub(r"\s+", " ", el.text.strip())

    def next_sib(node: Element, tag: str) -> Element | None:
        nxt = node.next_element_sibling
        while nxt is not None and nxt.tag != tag:
            nxt = nxt.next_element_sibling
        return nxt

    # --- HTML elements: dl.element -------------------------------------
    html_elements: list[dict] = []
    for dl in ctx.root.query_all("dl.element"):
        heading = dl.previous_element_sibling
        while heading is not None and heading.tag not in _HEADING_TAGS:
            heading = heading.previous_element_sibling
        if heading is None:
            raise ValueError("Could not locate heading associated with element")
        dfns = heading.query_all("dfn")
        if not dfns:
            # "Custom elements" in HTML / "Common behaviours" in
            # permission-elements define no element
            ht = get_text(heading)
            if re.search(r"Core concepts", ht, re.I) or re.search(
                r"Common behaviours", ht, re.I
            ):
                continue
            raise ValueError("No dfn found in heading element: " + heading.text)
        for dfn in dfns:
            res = {"name": get_text(dfn), "href": get_absolute_url(dfn, ctx)}
            for dt in dl.query_all("dt"):
                if get_text(dt).rstrip(":") != "DOM interface":
                    continue
                dd = next_sib(dt, "dd")
                if dd is None:
                    raise ValueError(
                        "Could not link element to interface, missing dd for "
                        + res["name"]
                    )
                iface_el = dd.query(
                    "dfn[data-dfn-type=interface], a[data-link-type=idl]"
                )
                if iface_el is not None:
                    res["interface"] = iface_el.text.strip()
                else:
                    # the HTML spec does not flag interface links; match
                    # the "Use(s) <Interface>" prose instead
                    m = re.match(r"^Uses? (.*?)[,\.\s]", dd.text)
                    if m:
                        res["interface"] = m.group(1)
                    else:
                        raise ValueError(
                            "Could not link element to interface: " + get_text(dd)
                        )
            html_elements.append(res)
    if html_elements:
        return html_elements

    # --- SVG element-summary pattern ------------------------------------
    svg_summary: list[dict] = []
    for el in ctx.root.query_all("div.element-summary"):
        name = el.query(".element-name")
        if name is None:
            raise ValueError("Could not extract name from element-summary element")
        dfn = el.query("dfn")
        if dfn is None:
            # SVG 1.1 has no dfns: parent div id, else nearby heading
            dfn = el.parent
            if not dfn.id:
                dfn = el.previous_element_sibling
                while dfn is not None and dfn.tag not in _HEADING_TAGS:
                    dfn = dfn.previous_element_sibling
                if dfn is None:
                    raise ValueError(
                        "Could not locate heading associated with element "
                        + get_text(name)
                    )
        res = {
            "name": get_text(name).replace("‘", "").replace("’", ""),
            "href": get_absolute_url(dfn, ctx),
        }
        for dt in el.query_all("dt"):
            if get_text(dt).rstrip(":") != "DOM Interfaces":
                continue
            dd = next_sib(dt, "dd")
            if dd is None:
                raise ValueError(
                    "Could not link element to interface, missing dd for "
                    + res["name"]
                )
            # the "discard" element legitimately has no interface
            if get_text(dd):
                res["interface"] = get_text(dd)
        svg_summary.append(res)

    # --- SVG definition-table pattern -----------------------------------
    svg_table: list[dict] = []
    for el in ctx.root.query_all("table.definition-table"):
        dfn = el.query("dfn")
        if dfn is None:
            raise ValueError("Could not extract name from definition-table element")
        res = {"name": get_text(dfn), "href": get_absolute_url(dfn, ctx)}
        for th in el.query_all("th"):
            if get_text(th).rstrip(":") != "DOM Interfaces":
                continue
            td = next_sib(th, "td")
            if td is None:
                raise ValueError(
                    "Could not link element to interface, missing cell for "
                    + res["name"]
                )
            res["interface"] = get_text(td)
        svg_table.append(res)
    if svg_summary or svg_table:
        return svg_summary + svg_table

    # --- dfn contract (MathML & friends) --------------------------------
    other: list[dict] = []
    for el in ctx.root.query_all("dfn[data-dfn-type=element]"):
        info = {"name": el.text.strip(), "href": get_absolute_url(el, ctx)}
        if ctx.spec == "mathml-core":
            # all MathML Core elements use the MathMLElement interface
            info["interface"] = "MathMLElement"
        else:
            ifaces = [
                d
                for d in ctx.root.query_all("dfn[data-dfn-type=interface]")
                if d.text.strip().lower() == f"html{info['name']}element"
            ]
            if len(ifaces) == 1:
                info["interface"] = ifaces[0].text.strip()
        other.append(info)
    if other:
        return other
    return None


# ---------------------------------------------------------------------------
# events / algorithms — round-1 simplified surfaces
# ---------------------------------------------------------------------------


# firing-algorithm links recognized by the prose path
# (extract-events.mjs:222-229)
_FIRING_HREFS = frozenset(
    [
        "https://dom.spec.whatwg.org/#concept-event-fire",
        "https://w3c.github.io/ServiceWorker/#fire-functional-event",
        "https://www.w3.org/TR/service-workers-1/#fire-functional-event-algorithm",
        "https://www.w3.org/TR/service-workers-1/#fire-functional-event",
        "https://www.w3.org/TR/service-workers/#fire-functional-event-algorithm",
        "https://www.w3.org/TR/service-workers/#fire-functional-event",
        "https://w3c.github.io/pointerevents/#dfn-fire-a-pointer-event",
    ]
)

_FIRE_RE = re.compile(
    r"fir(e|ing)\s+a(n|\s+pointer)\s+event\s+named\s+\"?(?P<eventName>[a-z]+)", re.I
)
_FIRE_FUNCTIONAL_RE = re.compile(
    r"fir(e|ing)\sa?\s*functional\s+event\s+((named|given)\s+)?\"?(?P<eventName>[a-z]+)",
    re.I,
)
_GENERIC_EVENT_NAMES = frozenset(["eventname", "type", "e", "event", "name"])


_EVENT_IFACE_RE = re.compile(r"^([A-Z]+[a-z0-9]*)+Event$")


def _idl_event_handlers(ctx) -> dict[str, list[str]]:
    """Map event name -> interfaces declaring an on<name> EventHandler
    attribute in the spec's own IDL (extract-events.mjs:12-35)."""
    try:
        from reffy_spark.functions.webidl import parse_idl

        idl = extract_webidl(ctx)
        if not idl:
            return {}
        report = parse_idl(idl)
    except Exception:
        # spec defines some invalid Web IDL, proceed without it
        return {}
    if report.get("hasSyntaxErrors"):
        # webidl2.js throws on invalid IDL and the reference then ignores
        # the whole dump; mirror that
        return {}
    handled: dict[str, list[str]] = {}

    def scan(name: str, construct: dict) -> None:
        if construct.get("type") not in ("interface", "interface mixin"):
            return
        for m in construct.get("members") or []:
            if (
                m.get("type") == "attribute"
                and (m.get("name") or "").startswith("on")
                and m.get("idlType") == "EventHandler"
            ):
                handled.setdefault(m["name"][2:], []).append(name)

    for name, construct in (report.get("idlNames") or {}).items():
        scan(name, construct)
    for name, exts in (report.get("idlExtendedNames") or {}).items():
        for ext in exts:
            scan(name, ext)
    return handled


def _is_same_event(e1: dict, e2: dict) -> bool:
    """isSameEvent (extract-events.mjs:38-48): same type AND (same href,
    or same target set — both-missing counts as same — or the second
    event comes from an event-definition table)."""
    if e1.get("type") != e2.get("type"):
        return False
    if e1.get("href") and e1.get("href") == e2.get("href"):
        return True

    def tkey(e):
        t = e.get("targets")
        return "|".join(sorted(t)) if t is not None else None

    if tkey(e1) == tkey(e2):
        return True
    return (e2.get("src") or {}).get("format") == "event table"


def _el_by_id(ctx, frag: str):
    if not frag:
        return None
    index = getattr(ctx, "id_index", None)
    if index is not None:
        return index.get(frag)
    return next((e for e in ctx.root.iter() if e.id == frag), None)


def _href_of(el, ctx) -> str | None:
    """href helper (extract-events.mjs:7-8): absolute URL when the
    element exists and has an id, else None."""
    if el is None or not el.get("id"):
        return None
    return get_absolute_url(el, ctx)


def _targets_of(el, ctx, handled: dict[str, list[str]]) -> list[str] | None:
    """fromEventElementToTargetInterfaces (extract-events.mjs:50-70)."""
    if el is None:
        return None
    scoped = el.get("data-dfn-for") or el.get("data-link-for")
    if scoped:
        return [t.strip() for t in scoped.split(",")]
    raw = el.get("href") or ""
    if raw.startswith("#"):
        dfn = _el_by_id(ctx, raw[1:])
        if dfn is not None and dfn.get("data-dfn-for"):
            return [t.strip() for t in dfn.get("data-dfn-for").split(",")]
    elif handled.get(el.text):
        matching = handled[el.text]
        if len(matching) == 1:
            return list(matching)
    return None


def _nth_child_td(tr, idx: int):
    """td:nth-child(idx+1): the element child at that position, only if
    it is a td."""
    cells = tr.child_elements()
    if 0 <= idx < len(cells) and cells[idx].tag == "td":
        return cells[idx]
    return None


def _table_rows(table, thead):
    """tbody tr (or non-thead rows when the markup has no explicit tbody
    — browsers synthesize one, html.parser does not)."""
    tbody = table.query("tbody")
    if tbody is not None:
        return tbody.query_all("tr")
    rows = table.query_all("tr")
    if thead is not None:
        in_head = set(id(r) for r in thead.query_all("tr"))
        rows = [r for r in rows if id(r) not in in_head]
    return rows


def _summary_and_def_tables(ctx, handled, events) -> bool:
    """Event summary tables + CSS definition tables
    (extract-events.mjs:76-168). Returns hasStructuredData."""
    has_structured = False
    # the DOM spec uses a matching table format for legacy event types
    if "dom.spec.whatwg.org" in ctx.url:
        return False
    for table in ctx.root.query_all("table"):
        thead = table.query("thead")
        first_th = thead.query("th") if thead is not None else None
        first_heading = first_th.text.strip() if first_th is not None else None
        if (
            first_heading
            and first_heading.startswith("Event")
            and first_heading != "Event handler"
        ):
            has_structured = True
            ths = [normalize(th.text) for th in thead.query_all("th")]

            def col(pred):
                return next((i for i, h in enumerate(ths) if pred(h)), -1)

            bub_col = col(lambda h: h.lower().startswith("bubbl"))
            canc_col = col(lambda h: h.lower().startswith("cancel"))
            iface_col = col(lambda h: re.match(r"^(dom )?interface", h, re.I))
            targets_col = col(lambda h: re.search(r"target", h, re.I))

            for tr in _table_rows(table, thead):
                cells = tr.child_elements()
                if not cells:
                    continue
                event_el = cells[0]
                el = event_el.query("dfn, a") or event_el.query("code")
                if el is None:
                    continue
                event: dict = {}
                if el.tag == "dfn" and el.id:
                    event["href"] = _href_of(el, ctx)
                elif el.tag == "a":
                    raw = el.get("href") or ""
                    if not raw.startswith("https://"):
                        frag = raw.split("#", 1)[1] if "#" in raw else ""
                        event["href"] = _href_of(_el_by_id(ctx, frag), ctx)
                    else:
                        event["href"] = raw
                event["src"] = {
                    "format": "summary table",
                    "href": _href_of(el.closest("[id]"), ctx),
                }
                event["type"] = clean_text(event_el, "aside, .mdn-anno").strip()
                event["targets"] = _targets_of(
                    event_el.query("dfn, a[href^=#]"), ctx, handled
                )
                if bub_col >= 0:
                    cell = _nth_child_td(tr, bub_col)
                    event["bubbles"] = (
                        cell is not None and cell.text.strip() == "Yes"
                    )
                if canc_col >= 0:
                    cell = _nth_child_td(tr, canc_col)
                    event["cancelable"] = bool(
                        cell is not None
                        and re.search(r"(yes)|✓|(varies)", cell.text.strip(), re.I)
                    )
                if iface_col >= 0:
                    cell = _nth_child_td(tr, iface_col)
                    if cell is not None:
                        ref = cell.query("a") or cell.query("code")
                        if ref is not None:
                            event["interface"] = ref.text
                if targets_col >= 0 and not event.get("targets"):
                    cell = _nth_child_td(tr, targets_col)
                    if cell is not None:
                        event["targets"] = [
                            t.strip() for t in cell.text.split(",")
                        ]
                events.append(event)
        elif table.get("class", "") == "def":
            # CSS definition table, one property per row
            # (extract-events.mjs:141-168, used in css-nav-1)
            row_ths = table.query_all("tbody th") or [
                next((c for c in tr.child_elements() if c.tag == "th"), None)
                for tr in _table_rows(table, None)
            ]
            row_ths = [th for th in row_ths if th is not None]
            headings = [th.text.strip() for th in row_ths]
            if "Bubbles" not in headings:
                continue

            def row(pred):
                return next((i for i, h in enumerate(headings) if pred(h)), -1)

            rows = _table_rows(table, None)

            def row_td(idx):
                if 0 <= idx < len(rows):
                    return _nth_child_td(rows[idx], 1)
                return None

            type_cell = row_td(row(lambda h: re.match(r"^type", h, re.I)))
            bub_cell = row_td(row(lambda h: h == "Bubbles"))
            canc_cell = row_td(row(lambda h: h == "Cancelable"))
            iface_cell = row_td(row(lambda h: re.match(r"^interface", h, re.I)))
            event_name = type_cell.text.strip() if type_cell is not None else None
            if event_name:
                loc = _href_of(table.closest("[id]"), ctx)
                events.append(
                    {
                        "type": event_name,
                        "interface": (
                            iface_cell.text.strip() if iface_cell is not None else None
                        ),
                        "bubbles": (
                            bub_cell.text.strip() == "Yes"
                            if bub_cell is not None
                            else None
                        ),
                        "cancelable": (
                            canc_cell.text.strip() == "Yes"
                            if canc_cell is not None
                            else None
                        ),
                        "src": {"format": "css definition table", "href": loc},
                        "href": loc,
                    }
                )
    return has_structured


def _event_definition_tables(ctx, events) -> None:
    """table.event-definition (extract-events.mjs:172-214, Pointer/UI
    Events)."""
    for table in ctx.root.query_all("table.event-definition"):
        event: dict = {}
        for tr in table.query_all("tr"):
            name_el = tr.query("th")
            value_el = tr.query("td")
            if name_el is None or value_el is None:
                continue
            name = name_el.text.strip().lower()
            value = value_el.text.strip()
            if name == "trusted targets":
                event["targets"] = [v.strip() for v in value.split(",")]
            elif name in ("type", "interface"):
                event[name] = value
            elif name in ("bubbles", "cancelable"):
                event[name] = value.lower() == "yes"
        event["src"] = {
            "format": "event table",
            "href": _href_of(table.closest("[id]"), ctx),
        }
        # prefer the summary table over an event-definition table
        if not any(_is_same_event(e, event) for e in events):
            events.append(event)


def _extract_fired_events(ctx, handled, events) -> None:
    """'Fire an event named X' prose (extract-events.mjs:218-370)."""
    for a in ctx.root.query_all("a[href]"):
        if a.get("href") not in _FIRING_HREFS:
            continue
        if is_informative(a):
            continue
        parent = a.parent
        if parent is None:
            continue
        # text window: the firing link through to the next firing link
        # sibling (or container end), minus aside annotations
        parts: list[str] = []
        seen_anchor = False
        next_firing = None
        window_els: list[Element] = []
        for child in parent.children:
            if child is a:
                seen_anchor = True
                parts.append(clean_text(a, "aside, .mdn-anno"))
                continue
            if not seen_anchor:
                continue
            if isinstance(child, str):
                parts.append(child)
            elif child.tag == "a" and child.get("href") in _FIRING_HREFS:
                next_firing = child
                break
            else:
                parts.append(clean_text(child, "aside, .mdn-anno"))
                window_els.append(child)
        window = "".join(parts)

        phrasing = None
        m = _FIRE_RE.search(window)
        if m:
            phrasing = "fire an event" if m.group(2) == "n" else "fire a pointer event"
        else:
            m = _FIRE_FUNCTIONAL_RE.search(window)
            if m:
                phrasing = "fire functional event"
        if not phrasing:
            continue
        name = m.group("eventName")
        if name in ("eventName", "type", "e", "event", "name"):
            continue

        loc = _href_of(a.closest("[id]"), ctx)
        event: dict = {
            "src": {"format": "fire an event phrasing", "href": loc},
            "href": loc,
        }
        event["type"] = name
        nxt = a.next_element_sibling
        event_el = None
        if nxt is not None and nxt.text.strip() == name:
            event_el = nxt.query("a, dfn") or nxt
        if event_el is not None:
            if event_el.tag == "a" and event_el.get("href"):
                raw = event_el.get("href")
                event["href"] = (
                    ctx.url.split("#")[0] + raw if raw.startswith("#") else raw
                )
            elif event_el.tag == "dfn" and event_el.id:
                event["href"] = _href_of(event_el, ctx)
            event["targets"] = _targets_of(event_el, ctx, handled)
        # merge into an already-detected combination
        new_event = True
        for e in events:
            if _is_same_event(event, e):
                new_event = False
                event = e
                break
        if not event.get("interface"):
            iface = next(
                (
                    el.text.strip()
                    for el in window_els
                    if _EVENT_IFACE_RE.match(el.text)
                ),
                None,
            )
            if iface:
                event["interface"] = iface
            elif phrasing == "fire an event":
                event["interface"] = "Event"
            elif phrasing == "fire a pointer event":
                event["interface"] = "PointerEvent"
            else:
                event["interface"] = "ExtendableEvent"
        if event.get("bubbles") is None and event.get("cancelable") is None:
            if re.search(r"bubbles and cancelable attributes", window):
                if re.search(r"true", window):
                    event["bubbles"] = True
                    event["cancelable"] = True
                elif re.search(r"false", window):
                    event["bubbles"] = False
                    event["cancelable"] = False
        if event.get("bubbles") is None:
            if re.search(r"bubbles attribute", window):
                if re.search(r"true", window):
                    event["bubbles"] = True
                elif re.search(r"false", window):
                    event["bubbles"] = False
            elif re.search(r"not bubble", window):
                event["bubbles"] = False
            elif re.search(r"bubbles|bubbling", window):
                event["bubbles"] = True
        if event.get("cancelable") is None:
            if re.search(r"cancelable attribute", window):
                if re.search(r"true", window):
                    event["cancelable"] = True
                elif re.search(r"false", window):
                    event["cancelable"] = False
            elif re.search(r"not cancelable|not be cancelable", window):
                event["cancelable"] = False
            elif re.search(r"cancelable", window):
                event["cancelable"] = True
        if new_event:
            events.append(event)


def _complete_with_idl_handlers(ctx, handled, events, has_structured) -> None:
    """IDL on<event> EventHandler completion
    (extract-events.mjs:373-406)."""
    for event_name, ifaces in handled.items():
        matching = [e for e in events if e.get("type") == event_name]
        if not matching and not has_structured:
            for iface in ifaces:
                events.append(
                    {
                        "type": event_name,
                        "targets": [iface],
                        "interface": None,
                        "src": {"format": "IDL eventHandler", "href": None},
                    }
                )
        elif len(matching) == 1:
            if not matching[0].get("targets"):
                matching[0]["targets"] = list(ifaces)


def _event_dfns(ctx, handled, events) -> None:
    """dfn[data-dfn-type=event] definitions (extract-events.mjs:409-469),
    including the CSS Animations/Transitions dt/dd + heading pattern."""
    for dfn in ctx.root.query_all("dfn[data-dfn-type=event]"):
        ev_type = dfn.text.strip()
        container = dfn.parent
        event = {
            "type": ev_type,
            "interface": None,
            "targets": _targets_of(dfn, ctx, handled),
            "src": {"format": "dfn", "href": _href_of(dfn.closest("[id]"), ctx)},
            "href": _href_of(dfn, ctx),
        }
        bubbles = cancelable = iface = None
        if container is not None and container.tag == "dt":
            dd = container.next_element_sibling
            items = dd.query_all("li") if dd is not None else []
            bub_item = next(
                (li for li in items if li.text.startswith("Bubbles:")), None
            )
            if bub_item is not None:
                bubbles = bool(re.search(r"yes", bub_item.text, re.I))
            canc_item = next(
                (li for li in items if li.text.startswith("Cancelable:")), None
            )
            if canc_item is not None:
                cancelable = bool(re.search(r"yes", canc_item.text, re.I))
            # the interface is documented in the section heading
            cur = container.parent
            while cur is not None and cur.tag not in _HEADING_TAGS:
                cur = cur.previous_element_sibling
            iface_el = cur.query("code") if cur is not None else None
            if iface_el is not None and re.match(
                r"^[A-Z][a-z]+Event$", iface_el.text or ""
            ):
                iface = iface_el.text
        existing = next((e for e in events if _is_same_event(event, e)), None)
        if existing is None:
            if iface:
                event["interface"] = iface
            if bubbles is not None:
                event["bubbles"] = bubbles
            if cancelable is not None:
                event["cancelable"] = cancelable
            events.append(event)
        else:
            if iface:
                existing["interface"] = iface
            if not existing.get("href") and event.get("href"):
                existing["href"] = event["href"]
            if bubbles is not None:
                existing["bubbles"] = bubbles
            if cancelable is not None:
                existing["cancelable"] = cancelable


def extract_events(ctx) -> list[dict]:
    """extract-events.mjs (full surface): summary tables, CSS definition
    tables, event-definition tables, 'fire an event' prose, IDL
    EventHandler completion, event dfns, and extension marking for hrefs
    pointing outside the page."""
    handled = _idl_event_handlers(ctx)
    events: list[dict] = []
    has_structured = _summary_and_def_tables(ctx, handled, events)
    _event_definition_tables(ctx, events)
    _extract_fired_events(ctx, handled, events)
    _complete_with_idl_handlers(ctx, handled, events, has_structured)
    _event_dfns(ctx, handled, events)

    out = []
    for e in events:
        # drop null properties (extract-events.mjs:472-485)
        if "interface" in e and not e["interface"]:
            del e["interface"]
        if "href" in e and not e["href"]:
            del e["href"]
        if e.get("src") and "href" in e["src"] and not e["src"]["href"]:
            del e["src"]["href"]
        if "bubbles" in e and e["bubbles"] is None:
            del e["bubbles"]
        if "cancelable" in e and e["cancelable"] is None:
            del e["cancelable"]
        if "targets" in e and e["targets"] is None:
            del e["targets"]
        if e.get("href") and not e["href"].startswith(ctx.url):
            e["isExtension"] = True
        out.append(e)
    return out


# --- extract-algorithms.mjs faithful port ---------------------------------

# step-leading verbs + branching keywords (extract-algorithms.mjs:104-266)
_STEP_OPERATIONS = (
    "abort acknowledge activate add adopt advance append apply ask assert "
    "assign attach attempt batch block branch call check cancel cause change "
    "choose clamp clean clear close collect complete compute consume continue "
    "convert copy create deactivate decrease decrement decrypt define delete "
    "dequeue destroy determine discard dismiss dispatch display down-mix do "
    "dump emit empty end enqueue ensure error establish execute extend "
    "extract fail fetch finalize find finish fire gather generate give "
    "handle hand-off increase increment initialize insert interpret invoke "
    "issue jump let load make mark match move multiply navigate paint parse "
    "perform place pop populate prepare prepend process prompt push query "
    "queue recalculate rectify reference register reinitialize reject "
    "release remove replace reset resolve restore render remap report "
    "return run score scroll send serialize set shuffle skip sort split "
    "spin start stop store strip suspend switch take terminate throw trap "
    "try undisplay unset up-mix update upgrade use validate verify visit "
    "wait for if while"
).split()
# one alternation, tried in _STEP_OPERATIONS order like the reference's
# loop over the verbs; group i+1 captures verb i
_STEP_OPERATION_RE = re.compile(
    "^(?:"
    + "|".join(f"({re.escape(op)})" for op in _STEP_OPERATIONS)
    + r")(?:\.|:| )",
    re.I,
)

# (value, serialized) pairs: the reference stores the matched item itself
# as the rationale and later calls toString(), so regex entries serialize
# in JS regex-literal form (extract-algorithms.mjs:273-296, 556)
_STEP_INLINE_OPERATIONS = [
    ("abort all these steps", None),
    ("abort these steps", None),
    ("fire a simple event", None),
    ("fire an event", None),
    ("in parallel", None),
    ("reject", None),
    ("resolve", None),
    ("run the following steps", None),
    ("run these steps", None),
    ("terminate these steps", None),
    (re.compile(r"queue a( \w+)? task", re.I), "/queue a( \\w+)? task/i"),
]
_STEP_ANCHORS = [
    (re.compile(r"^⌛"), "/^⌛/"),
    ("in parallel", None),
    (re.compile(r"^otherwise(\,| )", re.I), "/^otherwise(\\,| )/i"),
]

_TEXT_ESCAPES = {"&": "&amp;", "<": "&lt;", ">": "&gt;", "\xa0": "&nbsp;"}
_ATTR_ESCAPES = {"&": "&amp;", '"': "&quot;", "\xa0": "&nbsp;"}


def _escape_text(s: str) -> str:
    return re.sub(r"[&<>\xa0]", lambda m: _TEXT_ESCAPES[m.group()], s)


def _escape_attr(s: str) -> str:
    return re.sub(r'[&"\xa0]', lambda m: _ATTR_ESCAPES[m.group()], s)


def _algo_abs_url(value: str, base: str) -> str:
    """new URL(value, base) for href/src absolutization; opaque bases
    (about:blank) only support fragment-only relatives, like the browser."""
    from urllib.parse import urljoin

    if value.startswith("#"):
        return base.split("#")[0] + value
    try:
        return urljoin(base, value)
    except ValueError:  # pragma: no cover
        return value


def _serialize_html(nodes: list[Element | str], base: str) -> str:
    """HTML of ``nodes`` after cloneAndClean (informative subtrees and
    comments dropped; comments never enter our tree) with <ol>
    descendants dropped and relative href/src made absolute against
    ``base`` (extract-algorithms.mjs getHTMLContent:311-335).

    NOTE: sibling walker of ``_html_prose_definition`` — see the note
    there; fixes to the shared mechanics must be applied to BOTH."""
    out: list[str] = []

    def ser(node):
        if isinstance(node, str):
            out.append(_escape_text(node))
            return
        if node.matches(INFORMATIVE_SELECTOR):
            return
        if node.tag == "ol":
            return
        parts = [f"<{node.tag}"]
        for k, v in node.attrs.items():
            if k in ("href", "src") and v and not v.startswith("http"):
                v = _algo_abs_url(v, base)
            parts.append(f' {k}="{_escape_attr(v)}"')
        parts.append(">")
        out.append("".join(parts))
        if node.tag not in _VOID_ELEMENTS:
            for c in node.children:
                ser(c)
            out.append(f"</{node.tag}>")

    for c in nodes:
        ser(c)
    return "".join(out).strip()


from reffy_spark.html.dom import VOID_ELEMENTS as _VOID_ELEMENTS  # noqa: E402


def _algo_text(el: Element) -> str:
    return normalize(clean_text(el, INFORMATIVE_SELECTOR))


def _algo_html(el: Element, ctx) -> str:
    """innerHTML of ``el``, serialized by ``_serialize_html`` against
    its page's URL."""
    page_el = el.closest("[data-reffy-page]")
    base = page_el.get("data-reffy-page") if page_el is not None else ctx.url
    return _serialize_html(el.children, base)


def _algo_defined_name_in(el: Element, ctx, before: Element | None = None) -> dict:
    """getDefinedNameIn (extract-algorithms.mjs:345-388). With
    ``before``, a child of ``el``, it searches only the nodes of ``el``
    that precede that child."""

    def first(selector: str) -> Element | None:
        found = el.query_all(selector)
        if before is not None:
            found = [m for m in found if m.pos < before.pos]
        return found[0] if found else None

    dfn = (
        el
        if el.tag == "dfn"
        else first(
            "dfn,h2[data-dfn-type],h3[data-dfn-type],h4[data-dfn-type],"
            "h5[data-dfn-type],h6[data-dfn-type]"
        )
    )
    if dfn is not None:
        name = ""
        if dfn.get("data-dfn-for"):
            name = (
                normalize(re.split(r",(?![^\(]*\))", dfn.get("data-dfn-for"))[0])
                + "/"
            )
        if dfn.get("data-lt"):
            name += normalize(dfn.get("data-lt").split("|")[0])
        else:
            name += _algo_text(dfn)
        if dfn.id:
            return {"name": name, "href": get_absolute_url(dfn, ctx)}
        # dfn without an id: report the name alone (the JSON schema
        # forbids null hrefs — extract-algorithms.mjs:364-380)
        return {"name": name}
    heading = first("h2[id],h3[id],h4[id],h5[id],h6[id]")
    if heading is not None:
        return {"name": _algo_text(heading), "href": get_absolute_url(heading, ctx)}
    return {}


def _algo_find_intro(algo: dict) -> Element | None:
    """findIntroParagraph (extract-algorithms.mjs:395-424)."""
    root: Element = algo["root"]
    paragraph = None
    container = root.closest("li,.algorithm")
    while container is not None:
        dfn = container.query("dfn")
        if dfn is not None and not root.contains(dfn):
            paragraph = dfn.closest("p,div,li")
            break
        if container.tag == "li":
            break
        container = (
            container.parent.closest("li,.algorithm")
            if container.parent is not None
            else None
        )
    if paragraph is None:
        paragraph = root
        while paragraph is not None and (
            paragraph.tag != "p" or paragraph.matches(INFORMATIVE_SELECTOR)
        ):
            paragraph = paragraph.previous_element_sibling
    return paragraph


def _algo_info(algo: dict, ctx, nested: bool) -> dict:
    """getAlgorithmInfo (extract-algorithms.mjs:432-506)."""
    info: dict = {}
    root: Element = algo["root"]
    container = root.closest(".algorithm")
    if not nested:
        while container is not None:
            if container.get("data-algorithm"):
                info["name"] = normalize(container.get("data-algorithm"))
                if container.get("data-algorithm-for"):
                    info["name"] = (
                        normalize(container.get("data-algorithm-for"))
                        + "/"
                        + info["name"]
                    )
                if container.id:
                    info["href"] = get_absolute_url(container, ctx)
                else:
                    dfn = _algo_defined_name_in(container, ctx)
                    if "href" in dfn:
                        info["href"] = dfn["href"]
            else:
                info = _algo_defined_name_in(container, ctx)
                if info.get("name") or info.get("href"):
                    break
            container = (
                container.parent.closest(".algorithm")
                if container.parent is not None
                else None
            )

    paragraph = algo.get("intro")
    if paragraph is not None:
        if not nested and not (info.get("name") and info.get("href")):
            info = {**_algo_defined_name_in(paragraph, ctx), **info}
        info["html"] = _algo_html(paragraph, ctx)
    elif root.parent is not None and root.parent.tag in ("li", "dd", "div"):
        # no intro paragraph: the prose before the algorithm inside the
        # list/definition item is the introduction. Its relative URLs
        # resolve against the page URL, not a multipage section's
        # data-reffy-page.
        item = root.parent
        if not nested and not (info.get("name") and info.get("href")):
            info = {**_algo_defined_name_in(item, ctx, before=root), **info}
        intro = item.children[: item.children.index(root)]
        info["html"] = _serialize_html(intro, ctx.url)

    if (
        not nested
        and not (info.get("name") and info.get("href"))
        and root.parent is not None
        and root.parent.tag == "dd"
    ):
        dt = root.parent.previous_element_sibling
        while dt is not None and dt.tag != "dt":
            dt = dt.previous_element_sibling
        if dt is not None:
            info = {**_algo_defined_name_in(dt, ctx), **info}
    return info


def _algo_rationale(ol: Element) -> str | None:
    """findRationale (extract-algorithms.mjs:540-578)."""
    if ol.matches(".algorithm"):
        return ".algorithm"
    for li in ol.query_all("li"):
        text = _algo_text(li).lower()
        m = _STEP_OPERATION_RE.match(text)
        if m is not None:
            return _STEP_OPERATIONS[m.lastindex - 1]
        for op, ser in _STEP_INLINE_OPERATIONS:
            if isinstance(op, str):
                if op in text:
                    return op
            elif op.search(text):
                return ser
        for op, ser in _STEP_ANCHORS:
            if isinstance(op, str):
                if op in text:
                    return op
            elif op.search(text):
                return ser
    return None


def _algo_find_algorithms(section: Element, ctx, include_ignored: bool = False) -> list[dict]:
    """findAlgorithms (extract-algorithms.mjs:584-667)."""
    actual = []
    for el in section.query_all(".algorithm,.switch"):
        if is_informative(el):
            continue
        algo = {
            "rationale": ".algorithm" if el.matches(".algorithm") else ".switch",
            "root": el,
        }
        if algo["root"].tag not in ("dl", "ol"):
            algo["root"] = algo["root"].query("ol")
        if algo["root"] is not None:
            actual.append(algo)

    probable = []
    for ol in section.query_all("ol"):
        if is_informative(ol) or ol.within("nav,.toc,#toc"):
            continue
        if any(a["root"].contains(ol) for a in actual):
            continue
        rationale = _algo_rationale(ol)
        if include_ignored or rationale:
            probable.append({"rationale": rationale, "root": ol})

    all_algos = actual + probable
    seen_roots: list[Element] = []
    deduped = []
    for a in all_algos:
        if any(a["root"] is r for r in seen_roots):
            continue
        seen_roots.append(a["root"])
        deduped.append(a)
    all_algos = [
        a1
        for a1 in deduped
        if not any(
            a2 is not a1 and a2["root"].contains(a1["root"])
            for a2 in deduped
        )
    ]
    for algo in all_algos:
        algo["intro"] = _algo_find_intro(algo)

    # probable "one-step" algorithms: "To <dfn data-export>" paragraphs
    # without captured steps (extract-algorithms.mjs:639-651)
    dfn_sel = (
        'dfn[data-export][data-dfn-type="dfn"],'
        'dfn[data-export][data-dfn-type="abstract-op"]'
    )
    for p in section.query_all("p"):
        dfn = p.query(dfn_sel)
        if dfn is None:
            continue
        if not p.text.startswith("To " + dfn.text):
            continue
        if any(a.get("intro") is p for a in all_algos):
            continue
        all_algos.append({"rationale": "To <dfn>", "root": p, "intro": p})

    all_algos.sort(key=lambda a: a["root"].pos)
    return all_algos


def _algo_serialize_step(li: Element, ctx) -> dict:
    """serializeStep (extract-algorithms.mjs:515-537)."""
    res: dict = {}
    candidates = _algo_find_algorithms(li, ctx, include_ignored=True)
    algos = [a for a in candidates if a["rationale"]]
    if algos:
        res = _algo_serialize(algos[0], ctx, nested=True)
    if not res.get("html"):
        res["html"] = _algo_html(li, ctx)
    if len(algos) > 1:
        res["additional"] = [
            _algo_serialize(a, ctx, nested=True) for a in algos[1:]
        ]
    ignored = [a for a in candidates if not a["rationale"]]
    if ignored:
        res["ignored"] = [_algo_text(a["root"]) for a in ignored]
    return res


def _algo_serialize_steps(root: Element, ctx) -> list[dict]:
    """serializeSteps (extract-algorithms.mjs:484-510)."""
    if root.tag == "dl":
        steps = []
        for dt in [c for c in root.child_elements() if c.tag == "dt"]:
            dd = dt.next_element_sibling
            while dd is not None and dd.tag != "dd":
                dd = dd.next_element_sibling
            step: dict = {"case": _algo_text(dt)}
            if dd is not None:
                step.update(_algo_serialize_step(dd, ctx))
            steps.append(step)
        return [{"operation": "switch", "steps": steps}]
    if root.tag == "ol":
        return [
            _algo_serialize_step(li, ctx)
            for li in root.child_elements()
            if li.tag == "li"
        ]
    return []


def _algo_serialize(algo: dict, ctx, nested: bool = False) -> dict:
    res = _algo_info(algo, ctx, nested)
    res["rationale"] = algo["rationale"]
    steps = _algo_serialize_steps(algo["root"], ctx)
    if steps:
        res["steps"] = steps
    return res


def extract_algorithms(ctx) -> list[dict]:
    """extract-algorithms.mjs full port (W6): `.algorithm`/`.switch`
    containers, probable `<ol>` step lists gated on step-operation verbs,
    "To <dfn>" one-liners, switch serialization, nested/additional/
    ignored step reporting, intro-paragraph and name/href resolution.
    ES specs use <emu-alg> clauses the reference skips
    (organization === 'Ecma International'); mirrored by the emu-clause
    sniff."""
    if ctx.root.query("emu-alg, emu-clause") is not None:
        return []
    return [
        _algo_serialize(a, ctx)
        for a in _algo_find_algorithms(ctx.root, ctx)
    ]


# ---------------------------------------------------------------------------
# css (extract-cssdfn.mjs — core subset)
# ---------------------------------------------------------------------------


def _css_normalize(value: str) -> str:
    """normalize + minus-sign fix (extract-cssdfn.mjs:365)."""
    return re.sub(r"\s+", " ", value.strip()).replace("−", "-")


def _dfn_label_to_property(label: str) -> str:
    """CSS table row label → lowerCamel key (extract-cssdfn.mjs:375-384)."""
    words = label.strip().replace(":", "", 1).split()
    if not words:
        return ""
    out = words[0].lower() + "".join(w[:1].upper() + w[1:] for w in words[1:])
    return re.sub(r"^newValue$", "newValues", out)


_CSS_ASIDE = "aside, .mdn-anno, .wpt-tests-block"


def _extract_table_dfns(table: Element, ctx) -> list[dict]:
    """table.propdef/descdef extraction (extract-cssdfn.mjs:407-458)."""
    res: list[dict] = []
    props: list[tuple[str, str]] = []
    for line in table.query_all("tr"):
        cells = line.child_elements()
        if not cells:
            continue
        name_el = cells[0]
        tds = [c for c in cells if c.tag == "td"]
        value_el = tds[-1] if tds else None
        if value_el is None:
            continue
        prop_name = _dfn_label_to_property(clean_text(name_el, _CSS_ASIDE))
        if prop_name == "name":
            dfns = value_el.query_all("dfn[id]")
            if dfns:
                res = [
                    {"name": _css_normalize(d.text), "href": get_absolute_url(d, ctx)}
                    for d in dfns
                ]
            else:
                value = _css_normalize(clean_text(value_el, _CSS_ASIDE))
                res = [{"name": n.strip()} for n in value.split(",")]
        elif prop_name:
            props.append((prop_name, _css_normalize(clean_text(value_el, _CSS_ASIDE))))
    for dfn in res:
        for k, v in props:
            dfn[k] = v
    return res


def _extract_dl_dfns(dl: Element, ctx) -> list[dict]:
    """Legacy div.propdef dl form (extract-cssdfn.mjs:470-506)."""
    res: list[dict] = []
    first_dt = next((c for c in dl.child_elements() if c.tag == "dt"), None)
    if first_dt is None:
        return res
    dfns = first_dt.query_all("dfn[id]") + [
        a for a in first_dt.query_all("a[name]") if not a.id
    ]
    if dfns:
        res = [
            {
                "name": _css_normalize(d.text.replace("'", "")),
                "href": get_absolute_url(d, ctx, attribute="id" if d.id else "name"),
            }
            for d in dfns
        ]
    elif first_dt.id:
        res = [
            {
                "name": _css_normalize(first_dt.text.replace("'", "")),
                "href": get_absolute_url(first_dt, ctx),
            }
        ]
    else:
        res = [
            {"name": _css_normalize(n.replace("'", ""))}
            for n in first_dt.text.split(",")
        ]
    props = []
    for line in dl.query_all("dd table tr"):
        cells = line.child_elements()
        tds = [c for c in cells if c.tag == "td"]
        if cells and tds:
            props.append(
                (
                    _dfn_label_to_property(cells[0].text),
                    _css_normalize(tds[-1].text),
                )
            )
    for dfn in res:
        for k, v in props:
            dfn[k] = v
    return res


def _merge_css_dfns(dfn1: dict, dfn2: dict) -> dict | None:
    """mergeDfns (extract-cssdfn.mjs:517-544)."""
    if dfn1["name"] != dfn2["name"]:
        return None
    if dfn1.get("value") and dfn2.get("value"):
        return None
    base, partial = (dfn2, dfn1) if dfn2.get("value") else (dfn1, dfn2)
    if (
        (not base.get("value") and not base.get("newValues"))
        or not partial.get("newValues")
        or (partial.get("initial") and partial.get("initial") != base.get("initial"))
    ):
        return None
    merged = dict(base)
    if merged.get("value"):
        merged["value"] += f" | {_css_normalize(partial['newValues'])}"
    else:
        merged["newValues"] += f" | {_css_normalize(partial['newValues'])}"
    return merged


def _extract_css_dfns(ctx, els, extractor, duplicates, keep_type, warnings):
    """extractDfns driver with merge/push/reject strategies
    (extract-cssdfn.mjs:556-607)."""
    res: list = []
    for el in els:
        if is_informative(el):
            continue
        if el.query("ins, del") is not None:
            continue
        dfns = extractor(el, ctx)
        if not isinstance(dfns, list):
            dfns = [dfns]
        for dfn in dfns:
            if not dfn or not dfn.get("name"):
                continue
            if dfn.get("type") and not keep_type:
                del dfn["type"]
            idx = next(
                (
                    i
                    for i, e in enumerate(res)
                    if (e[0]["name"] if duplicates == "push" else e["name"])
                    == dfn["name"]
                ),
                -1,
            )
            if idx >= 0:
                if duplicates == "merge":
                    merged = _merge_css_dfns(res[idx], dfn)
                    if merged:
                        res[idx] = merged
                    else:
                        warnings.append({"msg": "Unmergeable definition", **dfn})
                elif duplicates == "push":
                    res[idx].append(dfn)
                    warnings.append({"msg": "Duplicate definition", **dfn})
                else:
                    warnings.append({"msg": "Duplicate definition", **dfn})
            else:
                res.append([dfn] if duplicates == "push" else dfn)
    return res


# Production-rule splitting (extract-cssdfn.mjs:628,634): a rule starts
# at "name =" where name is a non-space run or a <boolean-expr[ <t> ]>-
# style parameterized type; "=" inside quoted strings is not a rule start.
_RE_SPLIT_RULES = re.compile(r"\s(?=(?:[^\]\s]+?|<.*?\[\s*<.*?>\s*\]>)\s*?=[^'])")
_RE_PRODUCTION_RULE = re.compile(r"\s?=\s")
_RE_CSS_COMMENT = re.compile(r"/\*[\s\S]*?\*/")


def _parse_production_rule(rule: str, res: list[dict], pure_syntax: bool = False) -> dict:
    """parseProductionRule (extract-cssdfn.mjs:645-674): record one
    ``name = value`` rule, preferring pure-syntax sections, combining
    conflicting re-definitions as alternatives."""
    name_and_value = [
        re.sub(r"\s+", " ", s.strip())
        for s in _RE_PRODUCTION_RULE.split(_RE_CSS_COMMENT.sub("", rule))
    ]
    # drop the parameter in `<boolean-expr[ <test> ]>` to get the type name
    name = re.sub(r"\[[^\]]+\]", "", name_and_value[0], count=1)
    value = _css_normalize(name_and_value[1])
    entry = next((e for e in res if e.get("name") == name), None)
    if entry is None:
        entry = {"name": name}
        res.append(entry)
    if not entry.get("value") or (pure_syntax and not entry.get("pureSyntax")):
        entry["value"] = value
        entry["pureSyntax"] = pure_syntax
    elif entry["value"] != value:
        entry["value"] += f" | {value}"
    return entry


_CSS_TYPED_DFN_SELECTOR = (
    "dfn[data-dfn-type=at-rule], dfn[data-dfn-type=selector], "
    "dfn[data-dfn-type=value], dfn[data-dfn-type=function], "
    "dfn[data-dfn-type=type]"
)


def _extract_production_rules(ctx) -> list[dict]:
    """extractProductionRules (extract-cssdfn.mjs:871-915): parse
    ``pre.prod`` blocks (and dfn-carrying plain ``pre`` blocks) into
    (name, value) production rules."""
    els: list[Element] = []
    for el in ctx.root.query_all("pre"):
        if el.has_class("prod") and el.query("del, ins") is None:
            els.append(el)
    for el in ctx.root.query_all("pre"):
        if el.has_class("prod") or el.has_class("idl"):
            continue
        if el.query(".idl, del, ins") is not None:
            continue
        if el.query(_CSS_TYPED_DFN_SELECTOR) is not None:
            els.append(el)

    rules: list[dict] = []
    for el in els:
        if is_informative(el):
            continue
        text = clean_text(el, _CSS_ASIDE + ", sup")
        text = _RE_CSS_COMMENT.sub("", text)
        for part in _RE_SPLIT_RULES.split(text):
            part = part.strip()
            if _RE_PRODUCTION_RULE.search(part):
                _parse_production_rule(part, rules, pure_syntax=True)
            elif part.startswith("@"):
                name = part.split(" ")[0]
                _parse_production_rule(f"{name} = {part}", rules, pure_syntax=True)
    return rules


def _css_match_name(name: str, dfn: dict, approx: bool = False) -> bool:
    """matchName (extract-cssdfn.mjs:154-166): exact, @at-rule/descriptor
    split, and <name>-vs-name approximate matching."""
    if dfn.get("name") == name:
        return True
    if re.fullmatch(r"@.+/.+", name):
        parts = name.split("/")
        if dfn.get("name") == parts[1] and dfn.get("for") == parts[0]:
            return True
    if approx and f"<{dfn.get('name')}>" == name:
        return True
    return False


_FN_RE = re.compile(r"^([:a-zA-Z_][:a-zA-Z0-9_\-]+)\([^\)]*\)$")


def _get_dfn_names(el: Element) -> list[str]:
    """getDfnNames (extract-cssdfn.mjs:687-709): among the linking texts,
    keep the "syntax" forms (@at-rule, fn(), <type>, :selector) — or all
    of them when every name is a plain keyword/property."""
    if el.get("data-lt"):
        names = [_css_normalize(n) for n in el.get("data-lt").split("|")]
    else:
        names = [el.text.strip()]

    def _is_syntaxish(n: str) -> bool:
        return (
            n.startswith("@")
            or n.endswith("()")
            or bool(re.fullmatch(r"<.*>", n))
            or n.startswith(":")
        )

    is_keyword_or_property = not any(_is_syntaxish(n) for n in names)
    has_fn = any(n.endswith("()") for n in names)
    return [
        n
        for n in names
        if n.startswith("@")
        or n.endswith("()")
        or re.fullmatch(r"<.*>", n)
        or (n.startswith(":") and not has_fn)
        or is_keyword_or_property
    ]


def _typed_dfn_extractor(el: Element, ctx) -> list[dict]:
    """extractTypedDfns (extract-cssdfn.mjs:715-868): typed dfn plus the
    value syntax / prose gleaned from the surrounding production rule,
    function signature, or dt/dd context."""
    dfns: list[dict] = []
    dfn_type = el.get("data-dfn-type")
    dfn_for = el.get("data-dfn-for")
    parent = (
        el
        if (
            el.tag in _HEADING_TAGS
            or el.parent is None
            or el.parent.tag in ("body", "main", "#root")
        )
        else el.parent
    )

    # skip scoped type/function dfns that just wrap a link to *another*
    # construct (extract-cssdfn.mjs:729-743)
    wrapped = el.query("a[data-link-type]")
    if (
        dfn_for
        and dfn_type in ("function", "type")
        and wrapped is not None
        and el.text.strip() == wrapped.text.strip()
    ):
        raw = wrapped.get("href") or ""
        absolute = (
            raw
            if "://" in raw
            else (ctx.url.split("#")[0] + raw if raw.startswith("#") else raw)
        )
        if absolute != get_absolute_url(el, ctx):
            return dfns

    text = clean_text(parent, _CSS_ASIDE + ", sup").strip()
    for name in _get_dfn_names(el):
        res: dict = {"name": name}
        fn_m = _FN_RE.match(name)
        if _RE_PRODUCTION_RULE.search(text):
            prod = next(
                (
                    p
                    for p in _RE_SPLIT_RULES.split(text)
                    if p.strip().startswith(el.text.strip())
                ),
                None,
            )
            if el.within("pre"):
                # pre blocks are parsed separately as production rules; a
                # function dfn on the right-hand side still yields its
                # parameters (extract-cssdfn.mjs:769-784)
                if fn_m:
                    fn = fn_m.group(1)
                    full_fn = el.text.strip()
                    if full_fn.startswith(fn + "("):
                        res = _parse_production_rule(
                            f"{fn}() = {full_fn}", [], pure_syntax=False
                        )
            elif prod:
                res = _parse_production_rule(prod, [], pure_syntax=True)
            else:
                res = {"name": name, "prose": re.sub(r"\s+", " ", text)}
        elif fn_m:
            fn = fn_m.group(1)
            full_fn = el.text.strip()
            if full_fn.startswith(fn + "(") and full_fn != f"{fn}()":
                res = _parse_production_rule(
                    f"{fn}() = {full_fn}", [], pure_syntax=False
                )
        elif parent.tag == "dt":
            dd = next_tag(parent, "dd")
            if dd is None:
                continue
            code = dd.query("code.prod, pre.prod")
            if code is not None and not is_informative(code):
                ctext = code.text
                if ctext.startswith(f"{name} = ") or ctext.startswith(f"<{name}> = "):
                    res = _parse_production_rule(ctext, [], pure_syntax=True)
                elif not _RE_PRODUCTION_RULE.search(ctext):
                    res = _parse_production_rule(
                        f"{name} = {ctext}", [], pure_syntax=False
                    )
            else:
                # prose from the dd, minus notes/details/sub-lists
                parts: list[str] = []
                for child in dd.children:
                    if isinstance(child, str):
                        parts.append(child)
                    elif child.tag in ("details", "dl") or child.has_class("note"):
                        continue
                    else:
                        parts.append(clean_text(child, _CSS_ASIDE + ", sup"))
                res = {"name": name, "prose": normalize("".join(parts))}

        if not res.get("value") and parent.tag == "p":
            res["prose"] = normalize(text)
        if el.id:
            res["href"] = get_absolute_url(el, ctx)
        res["type"] = dfn_type
        if dfn_type == "value":
            res["value"] = _css_normalize(res["name"])
        if dfn_for:
            res["for"] = dfn_for
        dfns.append(res)
    return dfns


def extract_css(ctx) -> dict:
    """extract-cssdfn.mjs core: propdef/descdef tables, typed dfns,
    descriptor→at-rule attachment, dup strategies, warnings, plus
    production-rule parsing (pre.prod, via _extract_production_rules /
    functions/css_grammar.py) and the parents index / deepest-construct
    scoping (A8) implemented further down in this function."""
    warnings: list[dict] = []
    root = ctx.root

    def typed(selector_types, require_no_for=True, require_export=False):
        out = []
        for tag in ("dfn", "h2", "h3", "h4", "h5", "h6"):
            for el in root.query_all(f"{tag}[data-dfn-type]"):
                if el.get("data-dfn-type") not in selector_types:
                    continue
                if require_export and el.get("data-export") is None:
                    continue
                f = el.get("data-dfn-for")
                if require_no_for and f not in (None, ""):
                    continue
                if not require_no_for and f in (None, ""):
                    continue
                out.append(el)
        return sorted(out, key=lambda e: e.pos)

    props = _extract_css_dfns(
        ctx,
        [t for t in root.query_all("table.propdef") if not t.has_class("attrdef")],
        _extract_table_dfns,
        "merge",
        False,
        warnings,
    )
    atrules = _extract_css_dfns(
        ctx, typed({"at-rule"}), _typed_dfn_extractor, "reject", False, warnings
    )
    selectors = _extract_css_dfns(
        ctx,
        typed({"selector"}, require_export=True),
        _typed_dfn_extractor,
        "reject",
        False,
        warnings,
    )
    values = _extract_css_dfns(
        ctx,
        typed({"function", "type"}),
        _typed_dfn_extractor,
        "reject",
        True,
        warnings,
    )
    descriptors = _extract_css_dfns(
        ctx,
        [t for t in root.query_all("table.descdef") if not t.has_class("attrdef")],
        _extract_table_dfns,
        "push",
        True,
        warnings,
    )
    if not props and not descriptors:
        props = _extract_css_dfns(
            ctx, root.query_all("div.propdef dl"), _extract_dl_dfns, "merge", False, warnings
        )
        descriptors = _extract_css_dfns(
            ctx, root.query_all("div.descdef dl"), _extract_dl_dfns, "push", True, warnings
        )
    # legacy name aliases: prose dfn + reference, or a two-column compat
    # table right after the paragraph (extract-cssdfn.mjs:919-966)
    for a in root.query_all('a[href$="#legacy-name-alias"]'):
        el = a.parent
        if el is None:
            continue
        dfn = el.query('dfn[data-dfn-type="property"]')
        alias = el.query('a[data-link-type="property"]')
        if dfn is not None and alias is not None:
            props.append(
                {
                    "name": _css_normalize(dfn.text),
                    "href": get_absolute_url(dfn, ctx),
                    "legacyAliasOf": _css_normalize(alias.text),
                }
            )
        else:
            table = el.next_element_sibling
            if table is None or table.tag != "table":
                continue
            if len(table.query_all("thead > tr > th")) != 2:
                continue
            for row in table.query_all("tbody > tr"):
                dfn = row.query('dfn[data-dfn-type="property"]')
                alias = row.query('a[data-link-type="property"]')
                if dfn is not None and alias is not None:
                    props.append(
                        {
                            "name": _css_normalize(dfn.text),
                            "href": get_absolute_url(dfn, ctx),
                            "legacyAliasOf": _css_normalize(alias.text),
                        }
                    )

    subsidiary = _extract_css_dfns(
        ctx,
        typed({"at-rule"}, require_no_for=False),
        _typed_dfn_extractor,
        "reject",
        True,
        warnings,
    )
    if subsidiary:
        descriptors = descriptors + [subsidiary]

    # attach descriptors to their at-rules (extract-cssdfn.mjs:108-128)
    for desclist in descriptors:
        for desc in desclist:
            rule_name = desc.get("for")
            rule = next((r for r in atrules if r["name"] == rule_name), None)
            if rule is None:
                rule = {"name": rule_name, "descriptors": []}
                atrules.append(rule)
            elif "descriptors" not in rule:
                rule["descriptors"] = []
            rule["descriptors"].append(desc)
    for rule in atrules:
        rule.setdefault("descriptors", [])

    res = {
        "properties": props,
        "atrules": atrules,
        "selectors": selectors,
        "values": values,
    }

    # index of root (non-namespaced + descriptor) dfns
    # (extract-cssdfn.mjs:130-136)
    root_dfns: list[dict] = [d for lst in res.values() for d in lst]
    for desclist in descriptors:
        root_dfns.extend(desclist)

    # namespaced value dfns (extract-cssdfn.mjs:142-152)
    values_list: list[dict] = [
        v
        for group in _extract_css_dfns(
            ctx,
            typed({"value", "function", "type", "selector"}, require_no_for=False),
            _typed_dfn_extractor,
            "push",
            True,
            warnings,
        )
        for v in group
    ]

    # production rules from pre.prod (extract-cssdfn.mjs:168-199)
    for rule in _extract_production_rules(ctx):
        dfn = next(
            (d for d in root_dfns if _css_match_name(rule["name"], d)), None
        ) or next(
            (d for d in root_dfns if _css_match_name(rule["name"], d, approx=True)),
            None,
        )
        if dfn is not None:
            dfn["value"] = rule["value"]
            continue
        matching = [v for v in values_list if _css_match_name(rule["name"], v)]
        if not matching:
            matching = [
                v for v in values_list if _css_match_name(rule["name"], v, approx=True)
            ]
        for mv in matching:
            mv["value"] = rule["value"]
        if not matching:
            warning = {"msg": "Missing definition", **rule}
            warnings.append(warning)
            root_dfns.append(warning)

    # parents index: direct constructs for each namespaced value, plus the
    # definitions whose syntax references each non-namespaced type
    # (A8, extract-cssdfn.mjs:216-243)
    parents: dict[str, list[str]] = {}
    for value in values_list:
        parents.setdefault(value["name"], []).extend(
            r.strip() for r in value.get("for", "").split(",")
        )
    for typ in res["values"]:
        lst = parents.setdefault(typ["name"], [])
        for value in values_list:
            if value.get("value") and typ["name"] in value["value"]:
                lst.append(value["name"])
        for dfn in root_dfns:
            if dfn.get("value") and typ["name"] in dfn["value"]:
                lst.append(dfn["name"])

    def is_ancestor_of(ancestor: str, child: str, depth: int = 0) -> bool:
        # bounded walk: the parents graph may contain cycles
        # (extract-cssdfn.mjs:250-254)
        if depth >= 10:
            return False
        if child == ancestor:
            return True
        return any(is_ancestor_of(ancestor, p, depth + 1) for p in parents.get(child, []))

    def is_deepest_construct(name: str, refs: list[str]) -> bool:
        return all(p == name or not is_ancestor_of(name, p) for p in refs)

    # associate values with the deepest construct they apply to
    # (extract-cssdfn.mjs:261-299)
    for value in values_list:
        refs = [r.strip() for r in value.get("for", "").split(",")]
        for ref in (r for r in refs if is_deepest_construct(r, refs)):
            dfn = next(
                (d for d in root_dfns if _css_match_name(ref, d)), None
            ) or next(
                (d for d in root_dfns if _css_match_name(ref, d, approx=True)), None
            )
            if dfn is not None:
                dfn.setdefault("values", []).append(value)
                continue
            referenced = [v for v in values_list if _css_match_name(ref, v)]
            if not referenced:
                referenced = [
                    v for v in values_list if _css_match_name(ref, v, approx=True)
                ]
            for rv in referenced:
                rv.setdefault("values", []).append(value)
            if not referenced:
                warnings.append({"msg": "Dangling value", **value, "for": ref})

    # strip bookkeeping fields (extract-cssdfn.mjs:302-309)
    for dfn in root_dfns:
        dfn.pop("pureSyntax", None)
    for value in values_list:
        value.pop("for", None)
        value.pop("pureSyntax", None)

    # infer selector syntax from the selector name
    # (extract-cssdfn.mjs:317-345)
    def set_value_from_name(selector: dict) -> None:
        if selector.get("value"):
            return
        name = selector.get("name", "")
        if "(" in name:
            return  # function-like selector
        if re.match(r"^[:a-z]", name, re.I):
            selector["value"] = name
        else:
            selector["value"] = " ".join(f"'{tok}'" for tok in name)

    for selector in res["selectors"]:
        set_value_from_name(selector)
        for sub in selector.get("values", []):
            set_value_from_name(sub)

    if warnings:
        res["warnings"] = warnings
    return res
