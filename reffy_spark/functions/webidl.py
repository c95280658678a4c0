"""WebIDL parser + the idlparsed report.

Re-expresses the reference's ``parse-webidl`` post-processor
(src/cli/parse-webidl.js:85-130 and src/postprocessing/idlparsed.js,
there built on the public webidl2.js parser). One recursive-descent
parser emits the webidl2.js AST, with shapes as documented in the
"Data types" section of its README (https://github.com/w3c/webidl2.js;
no code copied): context-typed ``idlType`` records, extended attributes
as ``{type: "extended-attribute", name, rhs, arguments}`` records,
default/const value records, and ``special`` as a single string.

One walk over those constructs builds the report

    {jsNames: {constructors, functions}, idlNames, idlExtendedNames,
     globals, exposed, dependencies, externalDependencies, hasObsoleteIdl}

in two shapes: ``build_report_ast`` keeps the AST constructs (the
reference's exact payload), ``parse_idl`` projects each construct to the
simplified normal form every oracle asserts against (type records become
strings, extAttrs become names, ``special`` becomes a list). WebIDL-1
constructs are normalized first (``T[]`` → ``FrozenArray<T>`` —
parse-webidl.js:30-55, F10).
"""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+|//[^\n]*|/\*.*?\*/)
  | (?P<str>"[^"]*")
  | (?P<float>-?\d+\.\d+(e[-+]?\d+)?|-?\.\d+|-?\d+e[-+]?\d+|Infinity|-Infinity|NaN)
  | (?P<int>-?0[xX][0-9a-fA-F]+|-?\d+)
  | (?P<id>[_-]?[A-Za-z][0-9A-Za-z_-]*)
  | (?P<punct>\.\.\.|[(){}\[\]<>,;:=?*])
""",
    re.VERBOSE | re.DOTALL,
)

PRIMITIVES = frozenset(
    """any object boolean byte octet short unsigned long float double
    unrestricted undefined void DOMString ByteString USVString bigint
    symbol or sequence record Promise FrozenArray ObservableArray
    optional""".split()
)

_GENERICS = frozenset(
    ["sequence", "record", "Promise", "FrozenArray", "ObservableArray"]
)
_MULTIWORD_FOLLOW = frozenset(["short", "long", "float", "double"])


def tokenize_spans(idl: str) -> tuple[list[str], list[tuple[int, int]]]:
    """Tokens plus their (start, end) character spans in ``idl`` — spans
    let the parser slice each construct's source fragment (the reference
    records per-construct ``fragment`` text in the idlparsed report,
    src/postprocessing/idlparsed.js, consumed by idlnames.js)."""
    out: list[str] = []
    spans: list[tuple[int, int]] = []
    pos = 0
    while pos < len(idl):
        m = _TOKEN_RE.match(idl, pos)
        if not m:
            pos += 1  # skip unknown byte
            continue
        pos = m.end()
        if m.lastgroup != "ws":
            out.append(m.group())
            spans.append((m.start(), m.end()))
    return out, spans


class _AstParser:
    def __init__(self, idl: str):
        self.idl = idl
        self.toks, self.spans = tokenize_spans(idl)
        self.i = 0
        self.syntax_error: str | None = None

    # -- token plumbing -----------------------------------------------------
    def peek(self, k: int = 0):
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, t: str):
        got = self.next()
        if got != t:
            raise ValueError(f"expected {t!r}, got {got!r}")

    def eat(self, t: str) -> bool:
        if self.peek() == t:
            self.next()
            return True
        return False

    def cur_start(self) -> int:
        return self.spans[self.i][0] if self.i < len(self.spans) else -1

    def prev_end(self) -> int:
        return self.spans[min(self.i, len(self.spans)) - 1][1] if self.i else -1

    # -- extended attributes ------------------------------------------------
    def parse_ext_attrs(self) -> list[dict]:
        """``[A, B=x, C=(y, z), D=f(T t)]`` → webidl2 extended-attribute
        records. rhs types: identifier / identifier-list / string /
        string-list / integer / decimal / ``*``; trailing argument list
        parsed with full argument records."""
        attrs: list[dict] = []
        while self.peek() == "[":
            self.next()
            while True:
                name = self.next()
                rhs = None
                arguments: list[dict] = []
                if self.eat("="):
                    rhs = self._ext_attr_rhs()
                if self.peek() == "(":
                    arguments = self.parse_arguments()
                attrs.append(
                    {
                        "type": "extended-attribute",
                        "name": name,
                        "rhs": rhs,
                        "arguments": arguments,
                    }
                )
                if self.eat(","):
                    continue
                self.expect("]")
                break
        return attrs

    def _ext_attr_rhs(self) -> dict:
        t = self.peek()
        if t == "(":  # list form
            self.next()
            items = []
            kind = "identifier-list"
            while self.peek() not in (")", None):
                v = self.next()
                if v == ",":
                    continue
                if v.startswith('"'):
                    kind = "string-list"
                    v = v.strip('"')
                elif _is_int(v):
                    kind = "integer-list"
                elif _is_decimal(v):
                    kind = "decimal-list"
                items.append({"value": v})
            self.next()  # )
            return {"type": kind, "value": items}
        v = self.next()
        if v == "*":
            return {"type": "*"}
        if v.startswith('"'):
            return {"type": "string", "value": v.strip('"')}
        if _is_int(v):
            return {"type": "integer", "value": v}
        if _is_decimal(v):
            return {"type": "decimal", "value": v}
        return {"type": "identifier", "value": v}

    # -- types ----------------------------------------------------------------
    def parse_type(self, ctx: str) -> dict:
        """A webidl2 ``idlType`` record; nested generic/union member
        types inherit the context string, per webidl2.js."""
        ext = self.parse_ext_attrs()
        t = {
            "type": ctx,
            "extAttrs": ext,
            "generic": "",
            "nullable": False,
            "union": False,
            "idlType": "",
        }
        if self.peek() == "(":  # union
            self.next()
            members = []
            while self.peek() not in (")", None):
                if self.eat("or"):
                    continue
                members.append(self.parse_type(ctx))
            self.next()  # )
            t["union"] = True
            t["idlType"] = members
        else:
            word = self.next()
            if word in _GENERICS and self.peek() == "<":
                self.next()
                t["generic"] = word
                t["idlType"] = self._type_params(ctx)
            else:
                words = [word]
                while words[-1] in ("unsigned", "unrestricted", "long") and self.peek() in _MULTIWORD_FOLLOW:
                    words.append(self.next())
                t["idlType"] = " ".join(words)
        if self.eat("?"):
            t["nullable"] = True
        return t

    def _type_params(self, ctx: str | None) -> list[dict]:
        """The types of a ``<...>`` list whose ``<`` is already eaten."""
        params = []
        while self.peek() not in (">", None):
            if self.eat(","):
                continue
            params.append(self.parse_type(ctx))
        self.next()  # >
        return params

    # -- values ---------------------------------------------------------------
    def parse_value(self) -> dict:
        """Default / const value records (webidl2 ``Default`` shapes)."""
        t = self.next()
        if t == "[":
            self.expect("]")
            return {"type": "sequence", "value": []}
        if t == "{":
            self.expect("}")
            return {"type": "dictionary"}
        if t is None:
            return {"type": "null"}
        if t.startswith('"'):
            return {"type": "string", "value": t.strip('"')}
        if t == "null":
            return {"type": "null"}
        if t in ("true", "false"):
            return {"type": "boolean", "value": t == "true"}
        if t in ("Infinity", "-Infinity"):
            return {"type": "Infinity", "negative": t.startswith("-")}
        if t == "NaN":
            return {"type": "NaN"}
        return {"type": "number", "value": t}

    # -- arguments ------------------------------------------------------------
    def parse_arguments(self) -> list[dict]:
        args = []
        self.expect("(")
        while self.peek() not in (")", None):
            if self.eat(","):
                continue
            ext = self.parse_ext_attrs()
            optional = self.eat("optional")
            typ = self.parse_type("argument-type")
            variadic = self.eat("...")
            name = self.next()
            default = None
            if self.eat("="):
                default = self.parse_value()
            args.append(
                {
                    "type": "argument",
                    "name": name,
                    "extAttrs": ext,
                    "idlType": typ,
                    "default": default,
                    "optional": optional,
                    "variadic": variadic,
                }
            )
        self.next()  # )
        return args

    # -- members --------------------------------------------------------------
    def parse_members(self) -> list[dict]:
        members: list[dict] = []
        if not self.eat("{"):
            self.eat(";")
            return members
        while self.peek() not in ("}", None):
            members.append(self.parse_member())
        self.next()  # }
        self.eat(";")
        return members

    def parse_member(self) -> dict:
        ext = self.parse_ext_attrs()
        special = ""
        readonly = False
        async_ = False
        while True:
            t = self.peek()
            if t in ("static", "stringifier", "inherit", "getter", "setter", "deleter"):
                special = self.next()
            elif t == "readonly":
                readonly = True
                self.next()
            elif t == "async":
                async_ = True
                self.next()
            else:
                break
        t = self.peek()
        if t == "constructor":
            self.next()
            args = self.parse_arguments()
            self.eat(";")
            return {"type": "constructor", "arguments": args, "extAttrs": ext}
        if t == "attribute":
            self.next()
            typ = self.parse_type("attribute-type")
            name = self.next()
            self.eat(";")
            return {
                "type": "attribute",
                "name": name,
                "special": special,
                "readonly": readonly,
                "idlType": typ,
                "extAttrs": ext,
            }
        if t == "const":
            self.next()
            typ = self.parse_type("const-type")
            name = self.next()
            self.expect("=")
            value = self.parse_value()
            self.eat(";")
            return {
                "type": "const",
                "name": name,
                "idlType": typ,
                "value": value,
                "extAttrs": ext,
            }
        if t in ("iterable", "maplike", "setlike"):
            kind = self.next()
            params = self._type_params(None) if self.eat("<") else []
            args = self.parse_arguments() if self.peek() == "(" else []
            self.eat(";")
            return {
                "type": kind,
                "idlType": params,
                "readonly": readonly,
                "async": async_,
                "arguments": args,
                "extAttrs": ext,
            }
        if t == ";":  # bare `stringifier;`
            self.next()
            return {
                "type": "operation",
                "name": "",
                "special": special,
                "idlType": None,
                "arguments": [],
                "extAttrs": ext,
            }
        # operation (or dictionary field — dictionaries use parse_dict_members)
        typ = self.parse_type("return-type")
        name = "" if self.peek() == "(" else self.next()
        if self.peek() == "(":
            args = self.parse_arguments()
            self.eat(";")
            return {
                "type": "operation",
                "name": name,
                "special": special,
                "idlType": typ,
                "arguments": args,
                "extAttrs": ext,
            }
        self.eat(";")
        # interface bodies have no plain fields; tolerate by emitting a
        # field record (webidl2.js would throw — ``parse_idl`` flags the
        # non-identifier names such a mis-parse produces)
        typ["type"] = "dictionary-type"
        return {
            "type": "field",
            "name": name,
            "required": False,
            "idlType": typ,
            "default": None,
            "extAttrs": ext,
        }

    def parse_dict_members(self) -> list[dict]:
        members: list[dict] = []
        if not self.eat("{"):
            self.eat(";")
            return members
        while self.peek() not in ("}", None):
            ext = self.parse_ext_attrs()
            required = self.eat("required")
            typ = self.parse_type("dictionary-type")
            name = self.next()
            default = None
            if self.eat("="):
                default = self.parse_value()
            self.eat(";")
            members.append(
                {
                    "type": "field",
                    "name": name,
                    "required": required,
                    "idlType": typ,
                    "default": default,
                    "extAttrs": ext,
                }
            )
        self.next()
        self.eat(";")
        return members

    # -- top-level constructs -------------------------------------------------
    def parse(self) -> list[dict]:
        """Top-level constructs, each with its source ``fragment``. A
        construct that fails to parse is skipped up to the next ``;``;
        the first one is kept in ``syntax_error`` as webidl2.js's throw
        message."""
        out = []
        while self.peek() is not None:
            start, i0 = self.cur_start(), self.i
            try:
                c = self.parse_construct()
            except ValueError:
                self.syntax_error = self.syntax_error or self._syntax_error_at(start)
                # resume after the construct's `;`, unless the failure ate it
                if self.i == i0 or self.toks[min(self.i, len(self.toks)) - 1] != ";":
                    while self.next() not in (";", None):
                        pass
                continue
            if c is not None:
                c["fragment"] = self.idl[start : self.prev_end()].strip()
                out.append(c)
        return out

    def _syntax_error_at(self, pos: int) -> str:
        line_no = self.idl.count("\n", 0, pos) + 1
        line_start = self.idl.rfind("\n", 0, pos) + 1
        line = self.idl[line_start:].split("\n", 1)[0]
        return (
            f"WebIDLParseError: Syntax error at line {line_no}:\n"
            f"{line}\n{' ' * (pos - line_start)}^ Unrecognised tokens"
        )

    def parse_construct(self) -> dict | None:
        """The next construct, or None for extended attributes that end
        the dump."""
        ext = self.parse_ext_attrs()
        partial = self.eat("partial")
        t = self.peek()
        if t is None:
            return None
        if t == "interface" or (t == "callback" and self.peek(1) == "interface"):
            callback = t == "callback"
            if callback:
                self.next()
            self.next()  # interface
            mixin = self.eat("mixin")
            name = self.next()
            inheritance = self.next() if self.eat(":") else None
            members = self.parse_members()
            return {
                "type": "interface mixin" if mixin else (
                    "callback interface" if callback else "interface"
                ),
                "name": name,
                "inheritance": inheritance,
                "members": members,
                "partial": partial,
                "extAttrs": ext,
            }
        if t == "namespace":
            self.next()
            name = self.next()
            members = self.parse_members()
            return {
                "type": "namespace",
                "name": name,
                "inheritance": None,
                "members": members,
                "partial": partial,
                "extAttrs": ext,
            }
        if t == "dictionary":
            self.next()
            name = self.next()
            inheritance = self.next() if self.eat(":") else None
            members = self.parse_dict_members()
            return {
                "type": "dictionary",
                "name": name,
                "inheritance": inheritance,
                "members": members,
                "partial": partial,
                "extAttrs": ext,
            }
        if t == "enum":
            self.next()
            name = self.next()
            values = []
            self.expect("{")
            while self.peek() not in ("}", None):
                v = self.next()
                if v != ",":
                    values.append({"type": "enum-value", "value": v.strip('"')})
            self.next()
            self.eat(";")
            return {"type": "enum", "name": name, "values": values, "extAttrs": ext}
        if t == "typedef":
            self.next()
            typ = self.parse_type("typedef-type")
            name = self.next()
            self.eat(";")
            return {"type": "typedef", "name": name, "idlType": typ, "extAttrs": ext}
        if t == "callback":
            self.next()
            name = self.next()
            self.expect("=")
            ret = self.parse_type("return-type")
            args = self.parse_arguments()
            self.eat(";")
            return {
                "type": "callback",
                "name": name,
                "idlType": ret,
                "arguments": args,
                "extAttrs": ext,
            }
        if self.peek(1) == "includes":
            target = self.next()
            self.next()
            mixin = self.next()
            self.eat(";")
            return {
                "type": "includes",
                "target": target,
                "includes": mixin,
                "extAttrs": ext,
            }
        raise ValueError(f"unrecognised construct at token {t!r}")


def _is_int(t: str) -> bool:
    try:
        int(t, 0)
        return True
    except (ValueError, TypeError):
        return False


def _is_decimal(t: str) -> bool:
    try:
        float(t)
        return True
    except (ValueError, TypeError):
        return False


# ---------------------------------------------------------------------------
# The report walk
# ---------------------------------------------------------------------------


def _type_deps(t) -> set[str]:
    """Non-primitive identifiers referenced by an idlType record (or a
    list of them: generic parameters, union members, iterable types)."""
    inner = t.get("idlType") if isinstance(t, dict) else t
    if isinstance(inner, str):
        return {inner} if inner not in PRIMITIVES and inner[:1].isupper() else set()
    return set().union(*map(_type_deps, inner or []))


def _rhs_values(rhs) -> list[str]:
    if rhs is None:
        return []
    if rhs["type"] == "*":
        return ["*"]
    v = rhs["value"]
    return [x["value"] for x in v] if isinstance(v, list) else [v]


def _add_name(index: dict, key: str, name: str) -> None:
    names = index.setdefault(key, [])
    if name not in names:
        names.append(name)


def build_report_ast(idl: str) -> dict:
    """The reference's idlparsed report with full webidl2.js AST
    constructs in idlNames/idlExtendedNames — the walk of
    src/postprocessing/idlparsed.js:30-118. A top-level construct that
    fails to parse is skipped to the next ``;``, and the first one's
    webidl2.js throw message is kept as ``_syntaxError`` (the reference
    stores it as the whole idlparsed value)."""
    # WebIDL-1→2 normalization (F10): T[] → FrozenArray<T>;
    # serializer={...} → [Default] object toJSON();
    parser = _AstParser(
        re.sub(
            r"serializer\s*=\s*{[^}]*};?",
            "[Default] object toJSON();",
            re.sub(r"(\w+(?:<[^>]*>)?)\[\]", r"FrozenArray<\1>", idl),
        )
    )
    constructs = parser.parse()
    report: dict = {
        "jsNames": {"constructors": {}, "functions": {}},
        "idlNames": {},
        "idlExtendedNames": {},
        "globals": {},
        "exposed": {},
        "dependencies": {},
        "externalDependencies": [],
        # always present, true or false — the reference assigns it
        # unconditionally (src/postprocessing/idlparsed.js:119) and the
        # idlparsed schema lists it as required
        "hasObsoleteIdl": bool(
            re.search(r"\w+\[\]", idl) or re.search(r"serializer\s*=", idl)
        ),
    }
    if parser.syntax_error is not None:
        report["_syntaxError"] = parser.syntax_error
    all_deps: dict[str, set] = {}

    for c in constructs:
        if c["type"] == "includes":
            report["idlExtendedNames"].setdefault(c["target"], []).append(c)
            all_deps.setdefault(c["target"], set()).add(c["includes"])
            continue
        name = c["name"]
        deps = {c["inheritance"]} if c.get("inheritance") else set()
        # callbacks and typedefs carry their own idlType/arguments
        for node in [c, *c.get("members", [])]:
            deps |= _type_deps(node.get("idlType"))
            for a in node.get("arguments") or []:
                deps |= _type_deps(a["idlType"])
        if c.get("partial"):
            report["idlExtendedNames"].setdefault(name, []).append(c)
        else:
            report["idlNames"][name] = c
        all_deps.setdefault(name, set()).update(deps)

        exposed: list[str] = []
        for a in c["extAttrs"]:
            if a["name"] == "Exposed":
                exposed = _rhs_values(a["rhs"]) or ["*"]
            elif a["name"] == "Global":
                for g in _rhs_values(a["rhs"]):
                    _add_name(report["globals"], g, name)
        for g in exposed:
            _add_name(report["exposed"], g, name)
        if exposed and c["type"] == "interface" and not c["partial"]:
            has_ctor = any(m["type"] == "constructor" for m in c["members"])
            bucket = "constructors" if has_ctor else "functions"
            for g in exposed:
                _add_name(report["jsNames"][bucket], g, name)

    for name, deps in all_deps.items():
        deps.discard(name)
        report["dependencies"][name] = sorted(deps)
    known = set(report["idlNames"])
    report["externalDependencies"] = sorted(
        {d for deps in all_deps.values() for d in deps if d not in known}
    )
    return report


# ---------------------------------------------------------------------------
# The simplified normal form
# ---------------------------------------------------------------------------


def _type_str(t: dict) -> str:
    if t["union"]:
        s = "(" + " or ".join(map(_type_str, t["idlType"])) + ")"
    elif t["generic"]:
        s = t["generic"] + "<" + ", ".join(map(_type_str, t["idlType"])) + ">"
    else:
        s = t["idlType"]
    return s + "?" if t["nullable"] else s


def _simple_args(args: list[dict]) -> list[dict]:
    return [
        {
            "name": a["name"],
            "idlType": _type_str(a["idlType"]),
            "optional": a["optional"],
            "variadic": a["variadic"],
        }
        for a in args
    ]


def _simple_member(m: dict, in_dict: bool) -> dict | None:
    kind = m["type"]
    if kind == "constructor":
        return {"type": kind, "name": "constructor", "arguments": _simple_args(m["arguments"])}
    if kind in ("iterable", "maplike", "setlike"):
        return {"type": kind, "name": None}
    if kind != "operation":
        out = {"type": kind, "name": m["name"], "idlType": _type_str(m["idlType"])}
        if kind == "attribute":
            out.update(readonly=m["readonly"], static=m["special"] == "static")
        elif kind == "field" and in_dict:
            out["required"] = m["required"]
        return out
    special = [m["special"]] if m["special"] else []
    if m["idlType"] is None:  # bare `stringifier;`
        return {"type": kind, "name": None, "special": special} if special == ["stringifier"] else None
    out = {
        "type": kind,
        "name": m["name"] or None,
        "idlType": _type_str(m["idlType"]),
        "arguments": _simple_args(m["arguments"]),
        "special": special,
    }
    if m["special"] not in ("getter", "setter", "deleter"):
        out.update(static=m["special"] == "static", extAttrs=[a["name"] for a in m["extAttrs"]])
    return out


def _simple(c: dict) -> dict:
    kind = c["type"]
    if kind == "includes":
        out = {"type": kind, "target": c["target"], "includes": c["includes"]}
    elif kind == "enum":
        out = {"type": kind, "name": c["name"], "values": [v["value"] for v in c["values"]]}
    elif kind in ("typedef", "callback"):
        out = {"type": kind, "name": c["name"], "idlType": _type_str(c["idlType"])}
        if kind == "callback":
            out["arguments"] = _simple_args(c["arguments"])
    else:
        members = (_simple_member(m, kind == "dictionary") for m in c["members"])
        out = {
            "type": kind,
            "name": c["name"],
            "inheritance": c["inheritance"],
            "members": [m for m in members if m is not None],
            "partial": c["partial"],
            "extAttrs": [a["name"] for a in c["extAttrs"]],
        }
    out["fragment"] = c["fragment"]
    return out


_IDENT = re.compile(r"^[A-Za-z_][0-9A-Za-z_-]*$")


def parse_idl(idl: str) -> dict:
    """Parse an IDL dump into the idlparsed report, constructs in the
    simplified normal form."""
    report = build_report_ast(idl)
    report["idlNames"] = {n: _simple(c) for n, c in report["idlNames"].items()}
    report["idlExtendedNames"] = {
        n: [_simple(c) for c in cs] for n, cs in report["idlExtendedNames"].items()
    }
    # Flag mis-parses so strict consumers can mirror webidl2.js's throw
    # semantics (the reference ignores a spec's ENTIRE IDL when any
    # fragment is invalid — extract-events.mjs:13-22). The parser
    # tolerates a stray token inside a body by reading it as a field,
    # which produces members whose names are not valid IDL identifiers.
    constructs = [*report["idlNames"].values(), *sum(report["idlExtendedNames"].values(), [])]
    if any(
        m.get("name") is not None and not _IDENT.match(m["name"])
        for c in constructs
        for m in c.get("members") or []
    ):
        report["hasSyntaxErrors"] = True
    return report


def event_handlers_of(report: dict) -> list[tuple[str, str]]:
    """(interface, event_type) pairs from ``on<event>`` EventHandler
    attributes — feeds the J6 event↔EventHandler join
    (extract-events.mjs:25-34,373-406)."""
    out = []
    for name, construct in report["idlNames"].items():
        for m in construct.get("members") or []:
            if (
                m.get("type") == "attribute"
                and (m.get("name") or "").startswith("on")
                and "EventHandler" in (m.get("idlType") or "")
            ):
                out.append((name, m["name"][2:]))
    return out
