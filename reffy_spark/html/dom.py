"""Minimal HTML DOM for the extraction UDFs.

The container has no lxml/selectolax, so we parse with the stdlib
``html.parser`` into a lightweight element tree supporting exactly the
query surface the reference extractors use (catalogued in SURVEY.md §2):
tag / id / class / attribute selectors, descendant and child combinators,
comma lists, ``closest``, ``textContent``, and document-order positions.

This module runs *inside* Arrow-batched pandas UDFs — one parse per page,
never shipped between stages (SURVEY.md §1.1 "Page DOM").

CONTRACT: a parsed document is
- indexed at parse: ``parse_html`` (and its oracle ``parse_html_stdlib``)
  builds the document's query index before returning, and every element
  holds it (``Element._doc``), so queries never climb to the root;
- immutable: nothing outside the parsers writes an element's ``attrs``,
  ``children`` or ``parent``, so the index, the cached class sets and the
  ``within()`` intervals stay true for the document's lifetime;
- attached: every element belongs to a parsed document (no element is
  built outside the parsers), so there is one query path, the index.
tests/test_module_state.py checks, on the package source, that no code
outside this module builds an ``Element`` or writes an element's
``attrs`` or ``children``.
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
        "tag", "attrs", "children", "parent", "pos", "_end", "_doc",
        "_classes",
    )

    def __init__(self, tag: str, attrs: dict[str, str], parent: "Element | None", pos: int):
        self.tag = tag
        self.attrs = attrs
        self.children: list[Element | str] = []
        self.parent = parent
        self.pos = pos  # document order (open-tag index)
        # subtree-max pos (set by _Doc; pre-order contiguity:
        # descendants of X are exactly pos in (X.pos, X._end])
        self._end = pos
        self._doc: _Doc | None = None  # the document's index (set by _Doc)
        self._classes = None  # cached frozenset of class names

    # -- tree --------------------------------------------------------------
    def iter(self):
        """Depth-first pre-order over descendant elements (self excluded),
        walking the tree; ``descendants()`` is the same list from the
        index."""
        stack = [c for c in reversed(self.children) if isinstance(c, Element)]
        while stack:
            el = stack.pop()
            yield el
            stack.extend(c for c in reversed(el.children) if isinstance(c, Element))

    def descendants(self) -> list["Element"]:
        """Pre-order descendant elements (self excluded): the document's
        flat element list holds element ``i`` at index ``i``, so a subtree
        is one slice of it."""
        return self._doc.flat[self.pos + 1 : self._end + 1]

    def contains(self, other: "Element") -> bool:
        """Node.contains: ``other`` is this element or a descendant."""
        return other._doc is self._doc and self.pos <= other.pos <= self._end

    def child_elements(self) -> list["Element"]:
        return [c for c in self.children if isinstance(c, Element)]

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
        """Cached class-name set (attributes are never mutated after
        parse)."""
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
        matches. Answered from the selector's merged subtree intervals,
        cached on the document index (one query_all per document per
        selector, O(log n) bisect per call)."""
        cache = self._doc.within
        iv = cache.get(selector)
        if iv is None:
            starts: list[int] = []
            ends: list[int] = []
            for m in self._doc.root.query_all(selector):  # document order
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
        doc = self._doc
        is_root = self is doc.root
        multi = len(compounds) > 1
        out: list[Element] = []
        seen: set[int] | None = set() if multi else None
        for chain in compounds:
            simple = chain[-1][1]
            tag = simple[0]
            if tag is not None:
                cands = doc.by_tag.get(tag)
                if cands is None:
                    continue
                poss = doc.pos_by_tag[tag]
            else:
                cls = next(
                    (k for kind, k, _ in simple[1] if kind == "class"), None
                )
                if cls is not None:
                    cands = doc.by_class.get(cls)
                    if cands is None:
                        continue
                    poss = doc.pos_by_class[cls]
                else:
                    cands = doc.flat if is_root else self.descendants()
                    poss = None
            if poss is not None and not is_root:
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
        """The tree-walk answer to ``query_all``: the oracle the indexed
        path is tested against (tests/test_dom.py)."""
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


class _Doc:
    """A document's query index: built once, when a parser returns, and
    held by every element of the document (``Element._doc``).

    ``flat`` is the pre-order element list, and element ``i`` sits at
    ``flat[i]`` (positions are open-tag order, which is pre-order), so a
    subtree is the contiguous pos range (X.pos, X._end]. The buckets list
    their elements in document order, each beside its bisectable
    position array."""

    __slots__ = (
        "root", "flat", "by_tag", "pos_by_tag", "by_class", "pos_by_class",
        "id_name", "id_name_pos", "within",
    )

    def __init__(self, root: Element, flat: list[Element]):
        """Index the tree a parser built (``flat``: its elements in
        creation order) and attach the index to all of them."""
        # subtree-max pos: children follow parents in pre-order, so a
        # reverse sweep finishes every child before its parent reads it
        for el in reversed(flat):
            p = el.parent
            if el._end > p._end:
                p._end = el._end
        by_tag: dict[str, list[Element]] = {}
        by_class: dict[str, list[Element]] = {}
        id_name: list[Element] = []  # elements with an id or name
        root._doc = self
        for el in flat:
            el._doc = self
            b = by_tag.get(el.tag)
            if b is None:
                by_tag[el.tag] = [el]
            else:
                b.append(el)
            attrs = el.attrs
            if "class" in attrs:
                for c in el.class_set:
                    cb = by_class.get(c)
                    if cb is None:
                        by_class[c] = [el]
                    else:
                        cb.append(el)
            if "id" in attrs or "name" in attrs:
                id_name.append(el)
        self.root = root
        self.flat = flat
        self.by_tag = by_tag
        self.pos_by_tag = {t: [e.pos for e in els] for t, els in by_tag.items()}
        self.by_class = by_class
        self.pos_by_class = {
            c: [e.pos for e in els] for c, els in by_class.items()
        }
        self.id_name = id_name
        self.id_name_pos = [e.pos for e in id_name]
        # selector -> merged subtree intervals (starts, ends), for within()
        self.within: dict[str, tuple[list[int], list[int]]] = {}


def iter_id_name(el: Element) -> list[Element]:
    """Pre-order list of ``el``'s descendants (``el.iter()`` semantics:
    self excluded) that carry an ``id`` or ``name`` attribute, served
    from the doc index bucket — the shared scan under getElementById-
    style indexes, extract-ids.mjs and map-ids-to-headings.mjs, which
    otherwise each walk every element of the page."""
    doc = el._doc
    if el is doc.root:
        return doc.id_name
    poss = doc.id_name_pos
    lo = bisect_right(poss, el.pos)
    hi = bisect_right(poss, el._end)
    return doc.id_name[lo:hi]


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
        self.flat: list[Element] = []  # elements in creation order

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
                     self.stack[-1], len(self.flat))
        self.flat.append(el)
        self.stack[-1].children.append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        tag = tag.lower()
        el = Element(tag, {k.lower(): (v if v is not None else "") for k, v in attrs},
                     self.stack[-1], len(self.flat))
        self.flat.append(el)
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


def _fast_parse(html: str) -> tuple[Element, list[Element]]:
    """(#root, the elements in creation order)."""
    root = Element("#root", {}, None, -1)
    stack = [root]
    flat: list[Element] = []
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
            el = Element(tag, attrs, stack[-1], len(flat))
            flat.append(el)
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
    return root, flat


def parse_html(html: str | bytes) -> Element:
    """Parse HTML into an indexed element tree; returns the #root
    pseudo-element."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    root, flat = _fast_parse(html)
    _Doc(root, flat)
    return root


def parse_html_stdlib(html: str | bytes) -> Element:
    """stdlib html.parser reference builder — kept as the equivalence
    oracle for the fast tokenizer (tests/test_dom.py)."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    _Doc(builder.root, builder.flat)
    return builder.root
