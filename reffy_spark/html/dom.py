"""Minimal HTML DOM for the extraction UDFs.

The container has no lxml/selectolax, so we parse with the stdlib
``html.parser`` into a lightweight element tree supporting exactly the
query surface the reference extractors use (catalogued in SURVEY.md §2):
tag / id / class / attribute selectors, descendant and child combinators,
comma lists, ``closest``, ``textContent``, and document-order positions.

This module runs *inside* Arrow-batched pandas UDFs — one parse per page,
never shipped between stages (SURVEY.md §1.1 "Page DOM").
"""

from __future__ import annotations

import re
from bisect import bisect_right
from html.parser import HTMLParser

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
# Elements whose open tag implicitly closes a same-tag ancestor (subset
# sufficient for spec-style HTML).
_AUTOCLOSE_SIBLING = frozenset("li dt dd tr td th option p".split())


class Element:
    __slots__ = (
        "tag", "attrs", "children", "parent", "pos", "_text_parts",
        "_end", "_doc", "_classes",
    )

    def __init__(self, tag: str, attrs: dict[str, str], parent: "Element | None", pos: int):
        self.tag = tag
        self.attrs = attrs
        self.children: list[Element | str] = []
        self.parent = parent
        self.pos = pos  # document order (open-tag index)
        self._text_parts = None
        # subtree-max pos (set by the doc index; pre-order contiguity:
        # descendants of X are exactly pos in (X.pos, X._end])
        self._end = pos
        # on #root only: lazily-built document index (see _doc_index)
        self._doc = None
        self._classes = None  # cached frozenset of class names

    # -- tree --------------------------------------------------------------
    def iter(self):
        """Depth-first pre-order over descendant elements (self excluded)."""
        stack = [c for c in reversed(self.children) if isinstance(c, Element)]
        while stack:
            el = stack.pop()
            yield el
            stack.extend(c for c in reversed(el.children) if isinstance(c, Element))

    def child_elements(self) -> list["Element"]:
        return [c for c in self.children if isinstance(c, Element)]

    def ancestors(self):
        p = self.parent
        while p is not None:
            yield p
            p = p.parent

    @property
    def next_element_sibling(self) -> "Element | None":
        if self.parent is None:
            return None
        sibs = self.parent.child_elements()
        try:
            i = sibs.index(self)
        except ValueError:
            return None
        return sibs[i + 1] if i + 1 < len(sibs) else None

    @property
    def previous_element_sibling(self) -> "Element | None":
        if self.parent is None:
            return None
        sibs = self.parent.child_elements()
        try:
            i = sibs.index(self)
        except ValueError:
            return None
        return sibs[i - 1] if i > 0 else None

    # -- attributes ---------------------------------------------------------
    def get(self, name: str, default: str | None = None) -> str | None:
        return self.attrs.get(name, default)

    @property
    def id(self) -> str | None:
        return self.attrs.get("id")

    @property
    def classes(self) -> list[str]:
        return self.attrs.get("class", "").split()

    @property
    def class_set(self) -> frozenset[str]:
        """Cached class-name set (the class attribute is never mutated
        post-parse — the one attrs mutation in the extractor suite is
        data-dfn-type)."""
        cs = self._classes
        if cs is None:
            cs = self._classes = frozenset(self.attrs.get("class", "").split())
        return cs

    def has_class(self, name: str) -> bool:
        return name in self.class_set

    # -- text ---------------------------------------------------------------
    @property
    def text(self) -> str:
        """textContent: concatenated text of all descendants."""
        parts: list[str] = []
        stack: list[Element | str] = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if isinstance(node, str):
                parts.append(node)
            elif node.tag not in ("script", "style"):
                stack.extend(reversed(node.children))
        return "".join(parts)

    # -- selectors ------------------------------------------------------------
    def matches(self, selector: str) -> bool:
        for compound in _parse_selector(selector):
            if _matches_simple(self, compound[-1][1]) and _matches_combinators(
                self, compound
            ):
                return True
        return False

    def within(self, selector: str) -> bool:
        """True iff ``closest(selector)`` would hit — ancestor-or-self
        matches. Attached documents answer from per-selector merged
        subtree intervals cached on the #root index (one query_all per
        document per selector, O(log n) bisect per call); detached
        fragments fall back to the ancestor walk.

        CONTRACT: the selector's outcome must be stable over the
        document's lifetime — fine for tag/class/id structure (never
        mutated post-parse); do NOT use with selectors over mutable
        attributes (the extractor suite mutates exactly one attribute,
        data-dfn-type — route those through closest())."""
        root: Element = self
        while root.parent is not None:
            root = root.parent
        if root.tag != "#root":
            return self.closest(selector) is not None
        cache = _doc_index(root)[4]
        iv = cache.get(selector)
        if iv is None:
            starts: list[int] = []
            ends: list[int] = []
            for m in root.query_all(selector):  # document order
                if starts and m.pos <= ends[-1]:  # nested/adjacent: merge
                    if m._end > ends[-1]:
                        ends[-1] = m._end
                else:
                    starts.append(m.pos)
                    ends.append(m._end)
            iv = (starts, ends)
            cache[selector] = iv
        starts, ends = iv
        i = bisect_right(starts, self.pos) - 1
        return i >= 0 and self.pos <= ends[i]

    def closest(self, selector: str) -> "Element | None":
        node: Element | None = self
        while node is not None:
            if node.tag != "#root" and node.matches(selector):
                return node
            node = node.parent
        return None

    def query_all(self, selector: str) -> list["Element"]:
        compounds = _parse_selector(selector)
        root: Element = self
        while root.parent is not None:
            root = root.parent
        if root.tag != "#root":
            # detached fragment (e.g. the synthetic intro container in
            # extract-algorithms): no index home, walk it
            return self._query_all_walk(compounds)
        flat, by_tag, pos_by_tag, all_pos, _, by_class, pos_by_class, *_rest = (
            _doc_index(root)
        )
        is_root = self is root
        multi = len(compounds) > 1
        out: list[Element] = []
        seen: set[int] | None = set() if multi else None
        for chain in compounds:
            simple = chain[-1][1]
            tag = simple[0]
            if tag is not None:
                cands = by_tag.get(tag)
                if cands is None:
                    continue
                poss = pos_by_tag[tag]
            else:
                cls = next(
                    (k for kind, k, _ in simple[1] if kind == "class"), None
                )
                if cls is not None:
                    cands = by_class.get(cls)
                    if cands is None:
                        continue
                    poss = pos_by_class[cls]
                else:
                    cands, poss = flat, all_pos
            if not is_root:
                lo = bisect_right(poss, self.pos)
                hi = bisect_right(poss, self._end)
                cands = cands[lo:hi]
            if len(chain) == 1:
                if not simple[1]:  # bare tag: the bucket IS the answer
                    matched = list(cands)
                else:
                    matched = [
                        el for el in cands if _matches_simple(el, simple)
                    ]
            else:
                matched = [
                    el
                    for el in cands
                    if _matches_simple(el, simple)
                    and _matches_combinators(el, chain)
                ]
            if multi:
                for el in matched:
                    if el.pos not in seen:
                        seen.add(el.pos)
                        out.append(el)
            else:
                out = matched
        if multi:
            out.sort(key=_pos_key)
        return out

    def _query_all_walk(self, compounds) -> list["Element"]:
        out = []
        for el in self.iter():
            for compound in compounds:
                if _matches_compound(el, compound[-1]) and _matches_combinators(el, compound):
                    out.append(el)
                    break
        return out

    def query(self, selector: str) -> "Element | None":
        res = self.query_all(selector)
        return res[0] if res else None

    def __repr__(self) -> str:  # pragma: no cover
        return f"<{self.tag} id={self.attrs.get('id')!r} pos={self.pos}>"


def _pos_key(el: Element) -> int:
    return el.pos


def _doc_index(root: Element):
    """Lazily build (and cache on #root) the per-document query index:
    flat pre-order element list, per-tag buckets, bisectable position
    arrays, and subtree-max positions (``_end``).

    SAFE because the tree is never structurally mutated after
    ``parse_html`` returns (the one synthetic-container site in
    extract-algorithms builds a DETACHED div, which routes to the
    fallback walk). Positions are open-tag order == pre-order, so a
    subtree is the contiguous pos range (X.pos, X._end]."""
    doc = root._doc
    if doc is None:
        flat = list(root.iter())
        # subtree-max pos: children follow parents in pre-order, so a
        # reverse sweep finishes every child before its parent reads it
        for el in flat:
            el._end = el.pos
        for el in reversed(flat):
            p = el.parent
            if p is not None and el._end > p._end:
                p._end = el._end
        by_tag: dict[str, list[Element]] = {}
        by_class: dict[str, list[Element]] = {}
        id_name: list[Element] = []
        for el in flat:
            b = by_tag.get(el.tag)
            if b is None:
                by_tag[el.tag] = [el]
            else:
                b.append(el)
            if "class" in el.attrs:
                for c in el.class_set:
                    cb = by_class.get(c)
                    if cb is None:
                        by_class[c] = [el]
                    else:
                        cb.append(el)
            if "id" in el.attrs or "name" in el.attrs:
                id_name.append(el)
        pos_by_tag = {t: [e.pos for e in els] for t, els in by_tag.items()}
        pos_by_class = {
            c: [e.pos for e in els] for c, els in by_class.items()
        }
        # [4]: per-selector merged subtree intervals for within()
        doc = (
            flat,
            by_tag,
            pos_by_tag,
            [e.pos for e in flat],
            {},
            by_class,
            pos_by_class,
            id_name,
            [e.pos for e in id_name],
        )
        root._doc = doc
    return doc


def iter_id_name(el: Element) -> list[Element]:
    """Pre-order list of ``el``'s descendants (``el.iter()`` semantics:
    self excluded) that carry an ``id`` or ``name`` attribute, served
    from the doc index bucket — the shared scan under getElementById-
    style indexes, extract-ids.mjs and map-ids-to-headings.mjs, which
    otherwise each walk every element of the page."""
    root = el
    while root.parent is not None:
        root = root.parent
    if root.tag != "#root":  # detached fragment: no index home
        return [
            n for n in el.iter() if "id" in n.attrs or "name" in n.attrs
        ]
    doc = _doc_index(root)
    bucket, poss = doc[7], doc[8]
    if el is root:
        return bucket
    lo = bisect_right(poss, el.pos)
    hi = bisect_right(poss, el._end)
    return bucket[lo:hi]


# ---------------------------------------------------------------------------
# Selector machinery: compound = (simple, combinator, simple, ...) reversed
# ---------------------------------------------------------------------------

from functools import lru_cache

_SIMPLE_RE = re.compile(
    r"(?P<tag>[a-zA-Z][a-zA-Z0-9-]*|\*)?"
    r"(?P<rest>(?:[.#][\w-]+|\[[^\]]+\])*)"
)
_PART_RE = re.compile(r"([.#][\w-]+|\[[^\]]+\])")


@lru_cache(maxsize=512)
def _parse_simple(s: str):
    m = _SIMPLE_RE.fullmatch(s.strip())
    if not m:
        raise ValueError(f"unsupported selector: {s!r}")
    tag = m.group("tag")
    conds = []
    for part in _PART_RE.findall(m.group("rest") or ""):
        if part.startswith("."):
            conds.append(("class", part[1:], None))
        elif part.startswith("#"):
            conds.append(("id", part[1:], None))
        else:  # [attr] or [attr=val] or [attr^=val]
            body = part[1:-1]
            if "^=" in body:
                k, v = body.split("^=", 1)
                conds.append(("attr^", k.strip(), v.strip().strip("\"'")))
            elif "$=" in body:
                k, v = body.split("$=", 1)
                conds.append(("attr$", k.strip(), v.strip().strip("\"'")))
            elif "*=" in body:
                k, v = body.split("*=", 1)
                conds.append(("attr*", k.strip(), v.strip().strip("\"'")))
            elif "=" in body:
                k, v = body.split("=", 1)
                conds.append(("attr", k.strip(), v.strip().strip("\"'")))
            else:
                conds.append(("hasattr", body.strip(), None))
    return (tag.lower() if tag and tag != "*" else None, tuple(conds))


@lru_cache(maxsize=512)
def _parse_selector(selector: str):
    """Parse comma list of 'a > b c' chains into a list of compounds.
    Memoized: the extractor suite uses a small fixed selector set but
    queries it once per page (~10^10 times at scale).

    Each compound is a list [(comb, simple), ...] leaf-last, where comb is
    ' ' (descendant) or '>' (child); the first entry's comb is None.
    """
    compounds = []
    for alt in selector.split(","):
        tokens = re.split(r"\s*(>)\s*|\s+", alt.strip())
        chain = []
        comb = None
        for tok in tokens:
            if tok is None or tok == "":
                continue
            if tok == ">":
                comb = ">"
                continue
            chain.append((comb, _parse_simple(tok)))
            comb = " "
        if chain:
            compounds.append(chain)
    return compounds


def _matches_simple(el: Element, simple) -> bool:
    tag, conds = simple
    if tag is not None and el.tag != tag:
        return False
    for kind, k, v in conds:
        if kind == "class":
            if k not in el.class_set:
                return False
        elif kind == "id":
            if el.attrs.get("id") != k:
                return False
        elif kind == "hasattr":
            if k not in el.attrs:
                return False
        elif kind == "attr":
            if el.attrs.get(k) != v:
                return False
        elif kind == "attr^":
            if not (el.attrs.get(k) or "").startswith(v):
                return False
        elif kind == "attr$":
            if not (el.attrs.get(k) or "").endswith(v):
                return False
        elif kind == "attr*":
            if v not in (el.attrs.get(k) or ""):
                return False
    return True


def _matches_compound(el: Element, leaf) -> bool:
    return _matches_simple(el, leaf[1])


def _matches_combinators(el: Element, chain) -> bool:
    """Check the ancestor part of the chain (all but the leaf)."""
    node = el
    for i in range(len(chain) - 2, -1, -1):
        comb_of_next = chain[i + 1][0]  # combinator between chain[i] and chain[i+1]
        simple = chain[i][1]
        if comb_of_next == ">":
            node = node.parent
            if node is None or node.tag == "#root" or not _matches_simple(node, simple):
                return False
        else:  # descendant
            node = node.parent
            while node is not None and node.tag != "#root":
                if _matches_simple(node, simple):
                    break
                node = node.parent
            else:
                return False
    return True


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Element("#root", {}, None, -1)
        self.stack = [self.root]
        self.counter = 0

    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        top = self.stack[-1]
        if tag in _AUTOCLOSE_SIBLING and top.tag == tag:
            self.stack.pop()
        elif tag in ("td", "th") and top.tag in ("td", "th"):
            self.stack.pop()
        elif tag == "tr" and top.tag in ("td", "th"):
            self.stack.pop()
            if self.stack[-1].tag == "tr":
                self.stack.pop()
        el = Element(tag, {k.lower(): (v if v is not None else "") for k, v in attrs},
                     self.stack[-1], self.counter)
        self.counter += 1
        self.stack[-1].children.append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        tag = tag.lower()
        el = Element(tag, {k.lower(): (v if v is not None else "") for k, v in attrs},
                     self.stack[-1], self.counter)
        self.counter += 1
        self.stack[-1].children.append(el)

    def handle_endtag(self, tag):
        tag = tag.lower()
        if tag in VOID_ELEMENTS:
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray end tag: ignore

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(data)


# ---------------------------------------------------------------------------
# Fast tokenizer: one compiled regex over the document, building the same
# tree as _TreeBuilder (pinned by tests/test_dom.py equivalence tests).
# ~2x the stdlib HTMLParser on spec HTML; stdlib semantics replicated:
# charrefs decoded in data and attr values (html.unescape, the same
# function HTMLParser uses), script/style raw-text (no decode, no tags),
# comments/doctype/PIs dropped, lone '<' before a non-tag char is text.
# ---------------------------------------------------------------------------

# start tag, mirroring stdlib html.parser's locatestarttagend_tolerant
# (the tolerant attr blob, incl. quoted '>' and junk attr names) with the
# closing '>' / '/>' folded in
_START_RE = re.compile(
    r"<([a-zA-Z][^\t\n\r\f />\x00]*)"  # tag name -> 1
    r"((?:(?:\s|/(?!>))*"  # attr blob -> 2 (never eats the '/' of '/>')
    r"(?:(?<=['\"\s/])[^\s/>][^\s/=>]*"  # attr name
    r"(?:\s*=+\s*"
    r"(?:'[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*)"
    r"(?:\s*,)*"
    r")?(?:\s|/(?!>))*"
    r")*)?)"
    r"\s*(/?)>",  # self-closing -> 3
)
# stdlib attrfind_tolerant
_ATTR_RE = re.compile(
    r"((?<=['\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"(\'[^\']*\'|\"[^\"]*\"|(?![\'\"])[^>\s]*))?(?:\s|/(?!>))*"
)
# stdlib endtagfind (strict) and tagfind_tolerant for the lenient path
_END_RE = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_END_TOLERANT_RE = re.compile(r"</([a-zA-Z][^\t\n\r\f />\x00]*)[^>]*>")
# stdlib CDATA_CONTENT_ELEMENTS: script/style only. The end pattern is
# CPython 3.11's set_cdata_mode `interesting` regex, written out instead
# of read from the parser's private API; tests/test_dom.py asserts it
# still equals the running interpreter's, so a CPython change to the
# rawtext regex fails that test rather than diverging silently.
_RAWTEXT_END = {
    t: re.compile(r"</\s*%s\s*>" % t, re.I) for t in ("script", "style")
}
_CDATA_ELEMS = frozenset(_RAWTEXT_END)

from html import unescape as _unescape


def _fast_parse(html: str) -> Element:
    root = Element("#root", {}, None, -1)
    stack = [root]
    counter = 0
    pos = 0
    n = len(html)
    find = html.find

    def salvage(lt: int) -> int:
        """stdlib goahead's k<0-at-EOF recovery for an unterminated
        construct at ``lt``: emit text up to (and including) the next
        '>', else up to the next '<', else just the '<'; resume there."""
        gt = find(">", lt + 1)
        if gt >= 0:
            k = gt + 1
        else:
            k = find("<", lt + 1)
            if k < 0:
                k = lt + 1
        data = html[lt:k]
        stack[-1].children.append(_unescape(data) if "&" in data else data)
        return k

    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            data = html[pos:]
            stack[-1].children.append(
                _unescape(data) if "&" in data else data
            )
            break
        if lt > pos:
            data = html[pos:lt]
            stack[-1].children.append(
                _unescape(data) if "&" in data else data
            )
        nxt = html[lt + 1 : lt + 2]
        if nxt.isalpha():
            m = _START_RE.match(html, lt)
            if m is None:
                # incomplete/mangled start tag: stdlib degrades to data;
                # we emit the '<' and keep scanning (divergence only on
                # inputs stdlib also mangles)
                stack[-1].children.append("<")
                pos = lt + 1
                continue
            pos = m.end()
            tag = m.group(1).lower()
            attrs: dict[str, str] = {}
            raw_attrs = m.group(2)
            if raw_attrs:
                for am in _ATTR_RE.finditer(raw_attrs):
                    k = am.group(1).lower()
                    v = am.group(3)
                    if v is None:
                        v = ""
                    else:
                        if v[:1] in "\"'":
                            v = v[1:-1]
                        if "&" in v:
                            v = _unescape(v)
                    attrs[k] = v  # duplicate attr: last wins (as builder)
            top = stack[-1]
            if tag in _AUTOCLOSE_SIBLING and top.tag == tag:
                stack.pop()
            elif tag in ("td", "th") and top.tag in ("td", "th"):
                stack.pop()
            elif tag == "tr" and top.tag in ("td", "th"):
                stack.pop()
                if stack[-1].tag == "tr":
                    stack.pop()
            el = Element(tag, attrs, stack[-1], counter)
            counter += 1
            stack[-1].children.append(el)
            if not m.group(3) and tag not in VOID_ELEMENTS:
                stack.append(el)
                if tag in _CDATA_ELEMS:
                    # raw text: no tags, no charref decoding (stdlib
                    # CDATA_CONTENT_ELEMENTS behavior). Unterminated
                    # raw text is DISCARDED like the stdlib (goahead
                    # breaks in cdata mode without an end-tag match, so
                    # close() never emits the pending data)
                    endm = _RAWTEXT_END[tag].search(html, pos)
                    if endm is None:
                        pos = n
                    else:
                        end_at = endm.start()
                        if end_at > pos:
                            el.children.append(html[pos:end_at])
                        pos = end_at  # the end tag parses next loop
        elif nxt == "/":
            m = _END_RE.match(html, lt) or _END_TOLERANT_RE.match(html, lt)
            if m is not None:
                pos = m.end()
                tag = m.group(1).lower()
                if tag not in VOID_ELEMENTS:
                    for i in range(len(stack) - 1, 0, -1):
                        if stack[i].tag == tag:
                            del stack[i:]
                            break
            elif html.startswith("</>", lt):
                pos = lt + 3  # stdlib: ignored
            else:
                gt = find(">", lt)  # bogus comment, dropped
                pos = gt + 1 if gt >= 0 else salvage(lt)
        elif nxt == "!":
            if html.startswith("<!--", lt):
                end = find("-->", lt + 4)
                pos = end + 3 if end >= 0 else salvage(lt)
            elif html.startswith("<![", lt):
                end = find("]>", lt + 3)
                pos = end + 2 if end >= 0 else salvage(lt)
            else:  # doctype / decl
                gt = find(">", lt)
                pos = gt + 1 if gt >= 0 else salvage(lt)
        elif nxt == "?":
            gt = find(">", lt)
            pos = gt + 1 if gt >= 0 else salvage(lt)
        else:
            stack[-1].children.append("<")
            pos = lt + 1
    return root


def parse_html(html: str | bytes) -> Element:
    """Parse HTML into an element tree; returns the #root pseudo-element."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    return _fast_parse(html)


def parse_html_stdlib(html: str | bytes) -> Element:
    """stdlib html.parser reference builder — kept as the equivalence
    oracle for the fast tokenizer (tests/test_dom.py)."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    return builder.root
