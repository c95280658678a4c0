"""HTML outline algorithm ("creating an outline", WHATWG HTML §4.3.11.1).

Faithful re-implementation of the reference's
/root/reference/src/browserlib/create-outline.mjs:15-353 over the
mini-DOM: a depth-first walk with an element stack builds conceptual
sections and associates every id/name-bearing node with its section.
Used by ``map_ids_to_headings`` (A10) so dfn/heading/id hrefs carry the
correct enclosing heading even for nested or out-of-order sectioning.

Runs inside the Arrow extraction UDF — pure Python per page, no Spark.
"""

from __future__ import annotations

from reffy_spark.html.dom import Element

HEADING_CONTENT = frozenset(["h1", "h2", "h3", "h4", "h5", "h6", "hgroup"])
SECTIONING_CONTENT = frozenset(["article", "aside", "nav", "section"])
SECTIONING_ROOT = frozenset(
    ["blockquote", "body", "details", "dialog", "fieldset", "figure", "td"]
)

IMPLIED = "__implied"


class Section:
    """Conceptual section: heading element (or ``IMPLIED``), optional
    sectioning element that created it, nested sections/outlines, and a
    parent pointer (replaces the reference's flatten-and-find lookup —
    same relation, O(1))."""

    __slots__ = ("heading", "root", "sub_sections", "sub_roots", "parent")

    def __init__(self) -> None:
        self.heading: Element | str | None = None
        self.root: Element | None = None
        self.sub_sections: list[Section] = []
        self.sub_roots: list[Section] = []
        self.parent: Section | None = None

    def add_sub_section(self, sec: "Section") -> None:
        sec.parent = self
        self.sub_sections.append(sec)

    def add_sub_root(self, sec: "Section") -> None:
        sec.parent = self
        self.sub_roots.append(sec)


def _rank(node: Element | str | None) -> float:
    if not isinstance(node, Element):
        return -100
    if node.tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
        return -int(node.tag[1])
    if node.tag == "hgroup":
        ranks = [_rank(c) for c in node.child_elements()]
        return max(ranks) if ranks else float("-inf")
    return -100


# Tags whose enter()/exit_() can change walk state. Any element outside
# this set that also carries no id/name/hidden attribute is a proven
# no-op in the walk (never pushed, no branch taken, no mapping emitted).
_RELEVANT_TAGS = HEADING_CONTENT | SECTIONING_CONTENT | SECTIONING_ROOT


def create_outline(root: Element, dense: bool = False):
    """Build the outline rooted at ``root`` (treated as a sectioning root,
    as ``document.body`` is in the reference).

    Returns ``(outline, node_to_section)`` where outline is the root's
    section list and node_to_section maps id/name-bearing elements (plus
    sectioning elements) to their Section.

    ``dense=True`` forces the full walk over every element (the literal
    shape of create-outline.mjs:322-328); the default sparse walk visits
    only relevant nodes and is equivalence-pinned to it by property
    tests (tests/test_outline.py).
    """
    current_outline_target: Element | None = None
    current_section: Section | None = None
    stack: list[Element] = []

    node_to_outline: dict[Element, list[Section]] = {}
    node_to_parent_section: dict[Element, Section | None] = {}
    node_to_section: dict[Element, Section] = {}

    def enter(node: Element) -> None:
        nonlocal current_outline_target, current_section
        top = stack[-1] if stack else None
        if top is not None and (
            top.tag in HEADING_CONTENT or top.get("hidden") is not None
        ):
            return
        if node.get("hidden") is not None:
            stack.append(node)
            return

        if node.tag in SECTIONING_CONTENT:
            if current_outline_target is not None:
                if not current_section.heading:
                    current_section.heading = IMPLIED
                stack.append(current_outline_target)
            current_outline_target = node
            current_section = Section()
            current_section.root = node
            node_to_section[node] = current_section
            node_to_outline[node] = [current_section]
            return

        if node.tag in SECTIONING_ROOT or node is root:
            if current_outline_target is not None:
                stack.append(current_outline_target)
            current_outline_target = node
            node_to_parent_section[node] = current_section
            current_section = Section()
            current_section.root = node
            node_to_outline[node] = [current_section]
            return

        if node.tag in HEADING_CONTENT:
            outline = node_to_outline[current_outline_target]
            last_section = outline[-1]
            if not current_section.heading:
                current_section.heading = node
            elif last_section.heading == IMPLIED or _rank(node) >= _rank(
                last_section.heading
            ):
                current_section = Section()
                current_section.heading = node
                outline.append(current_section)
            else:
                candidate = current_section
                while candidate is not None:
                    if _rank(node) < _rank(candidate.heading):
                        current_section = Section()
                        current_section.heading = node
                        candidate.add_sub_section(current_section)
                        break
                    # ascend to the section containing candidate in the
                    # current outline (sub_sections relation only, as in
                    # create-outline.mjs:199-206)
                    candidate = (
                        candidate.parent
                        if candidate.parent is not None
                        and candidate in candidate.parent.sub_sections
                        else None
                    )
                stack.append(node)
                return

    def exit_(node: Element) -> None:
        nonlocal current_outline_target, current_section

        def inner_exit() -> None:
            nonlocal current_outline_target, current_section
            top = stack[-1] if stack else None
            if top is node:
                stack.pop()
                return
            if top is not None and (
                top.tag in HEADING_CONTENT or top.get("hidden") is not None
            ):
                return

            is_content = node.tag in SECTIONING_CONTENT
            is_root = node.tag in SECTIONING_ROOT or node is root
            if is_content and stack:
                if not current_section.heading:
                    current_section.heading = IMPLIED
                current_outline_target = stack.pop()
                outline = node_to_outline[current_outline_target]
                current_section = outline[-1]
                for sec in node_to_outline[node]:
                    current_section.add_sub_section(sec)
                return
            if is_root and stack:
                if not current_section.heading:
                    current_section.heading = IMPLIED
                current_section = node_to_parent_section.get(node)
                if current_section is not None:
                    for sec in node_to_outline[node]:
                        current_section.add_sub_root(sec)
                current_outline_target = stack.pop()
                return
            if is_content or is_root:
                if not current_section.heading:
                    current_section.heading = IMPLIED
                return

        inner_exit()
        if (node.get("id") or node.get("name")) and node not in node_to_section:
            if current_section is not None:
                node_to_section[node] = current_section

    if dense:
        # full depth-first walk entering/exiting EVERY element node;
        # HGROUP children are skipped (create-outline.mjs:322-328)
        frames: list[tuple[Element, list[Element], int]] = []
        enter(root)
        frames.append(
            (root, root.child_elements() if root.tag != "hgroup" else [], 0)
        )
        while frames:
            node, kids, i = frames[-1]
            if i < len(kids):
                frames[-1] = (node, kids, i + 1)
                child = kids[i]
                enter(child)
                frames.append(
                    (child, child.child_elements() if child.tag != "hgroup" else [], 0)
                )
            else:
                frames.pop()
                exit_(node)
        return node_to_outline.get(root, []), node_to_section

    # Sparse walk: elements that are not sectioning/heading content and
    # carry no id/name/hidden attribute are proven no-ops in enter()/
    # exit_() (never pushed, change no state, emit no mapping), so only
    # the RELEVANT nodes are visited, replaying the dense walk's exact
    # event order from the doc index's pre-order positions + subtree-max
    # ranges (descendant test: el.pos <= top._end). hgroup subtrees are
    # excluded wholesale — the dense walk never descends into them.
    #
    # a root that is ITSELF an hgroup has no visitable content in the
    # dense walk (kids=[]) — mirror that here so the equivalence
    # contract is total (ADVICE r7)
    flat = [] if root.tag == "hgroup" else root.descendants()
    enter(root)
    skip_until = -1
    open_stack: list[Element] = []
    for el in flat:
        if el.pos <= skip_until:
            continue
        if not (
            el.tag in _RELEVANT_TAGS
            or "id" in el.attrs
            or "name" in el.attrs
            or "hidden" in el.attrs
        ):
            continue
        if el.tag == "hgroup":
            skip_until = el._end
        while open_stack and open_stack[-1]._end < el.pos:
            exit_(open_stack.pop())
        enter(el)
        open_stack.append(el)
    while open_stack:
        exit_(open_stack.pop())
    exit_(root)

    return node_to_outline.get(root, []), node_to_section
