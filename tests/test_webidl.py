"""WebIDL parser tests (parse-webidl.js semantics)."""

import json
import pathlib

import pytest

from reffy_spark.functions.webidl import (
    build_report_ast,
    event_handlers_of,
    parse_idl,
    tokenize_spans,
)

IDL = """
[Exposed=(Window,Worker)]
interface Foo : EventTarget {
  constructor(DOMString name);
  readonly attribute unsigned long count;
  attribute EventHandler onchange;
  Promise<sequence<Bar>> list(optional unsigned long max = 10);
  DOMString list(DOMString filter);
  const unsigned short MODE = 2;
};

interface mixin Extras {
  undefined ping();
};
Foo includes Extras;

partial interface Foo {
  attribute DOMString extra;
};

dictionary Options : BaseOptions {
  required DOMString name;
  unsigned long count = 1;
};

enum Mode { "auto", "manual" };
typedef (DOMString or Foo) FooLike;
callback Cb = undefined (DOMString msg);

[Global=Worker, Exposed=Worker]
interface WorkerScope {
};
"""


def test_idl_names_and_types():
    r = parse_idl(IDL)
    assert set(r["idlNames"]) == {
        "Foo", "Extras", "Options", "Mode", "FooLike", "Cb", "WorkerScope"
    }
    assert r["idlNames"]["Foo"]["type"] == "interface"
    assert r["idlNames"]["Foo"]["inheritance"] == "EventTarget"
    assert r["idlNames"]["Extras"]["type"] == "interface mixin"
    assert r["idlNames"]["Mode"]["values"] == ["auto", "manual"]


def test_members_and_overloads():
    r = parse_idl(IDL)
    members = r["idlNames"]["Foo"]["members"]
    kinds = [(m["type"], m["name"]) for m in members]
    assert ("constructor", "constructor") in kinds
    assert ("attribute", "count") in kinds
    ops = [m for m in members if m["type"] == "operation" and m["name"] == "list"]
    assert len(ops) == 2  # overloads preserved (W4 numbering downstream)


def test_extended_names_partial_and_includes():
    r = parse_idl(IDL)
    exts = r["idlExtendedNames"]["Foo"]
    types = sorted(e["type"] for e in exts)
    assert types == ["includes", "interface"]


def test_globals_exposed_jsnames():
    r = parse_idl(IDL)
    assert r["globals"] == {"Worker": ["WorkerScope"]}
    assert set(r["exposed"]) == {"Window", "Worker"}
    assert "Foo" in r["exposed"]["Window"]
    assert "Foo" in r["jsNames"]["constructors"]["Window"]
    assert "WorkerScope" in r["jsNames"]["functions"]["Worker"]


def test_dependencies():
    r = parse_idl(IDL)
    assert "EventTarget" in r["dependencies"]["Foo"]
    assert "Bar" in r["dependencies"]["Foo"]
    assert "EventTarget" in r["externalDependencies"]
    assert "Bar" in r["externalDependencies"]
    assert "Extras" not in r["externalDependencies"]  # defined internally


def test_webidl1_normalization():
    r = parse_idl("interface A { attribute DOMString[] names; serializer = {attribute}; };")
    assert r.get("hasObsoleteIdl") is True
    m = r["idlNames"]["A"]["members"][0]
    assert m["idlType"] == "FrozenArray<DOMString>"


def test_event_handlers_of():
    r = parse_idl(IDL)
    assert event_handlers_of(r) == [("Foo", "change")]


def test_empty_and_garbage():
    assert parse_idl("")["idlNames"] == {}
    r = parse_idl("this is ; not idl at all ;")
    assert isinstance(r["idlNames"], dict)

@pytest.mark.parametrize(
    "idl",
    [
        "enum E;",
        "callback C;",
        "[Exposed=Window interface A {};",
        # dumps that end inside a construct
        "interface A { attribute",
        "dictionary D { required",
        "interface A {",
        "interface A { attribute long",
    ],
)
def test_malformed_construct_records_syntax_error(idl):
    # webidl2.js throws on these; the report keeps its message instead
    for report in (parse_idl(idl), build_report_ast(idl)):
        assert report["_syntaxError"] == (
            f"WebIDLParseError: Syntax error at line 1:\n{idl}\n^ Unrecognised tokens"
        )


def test_parsing_resumes_after_a_malformed_construct():
    report = parse_idl("callback C; intraface D {}; interface B {};")
    assert list(report["idlNames"]) == ["B"]


def test_exposed_identifier_list_in_parens():
    # [Exposed=(Window,Worker)]: commas inside parens must NOT split the
    # extended attribute (webidl2.js IdentifierList semantics)
    r = parse_idl("[Exposed=(Window,Worker)] interface Foo { attribute long x; };")
    assert set(r["exposed"]) == {"Window", "Worker"}
    assert r["idlNames"]["Foo"]["extAttrs"] == ["Exposed"]
    assert "Foo" in r["jsNames"]["functions"]["Window"]
    assert "Foo" in r["jsNames"]["functions"]["Worker"]


# Output frozen from the two-parser implementation (a lenient parser for
# the simplified form beside an AST parser, commit 90e3880) before the
# parsers merged: one dump per shape that the nine IDL queries of
# ``__spark_entry__.queries()`` feed to ``idlparsed`` at sf0.001 and
# sf0.01 (digits ignored), the AST skeleton corpus of
# test_webidl_ast.py, and three malformed dumps. Both report shapes must
# reproduce it byte for byte; the AST shape is frozen for the
# well-formed dumps only, since the old AST parser raised on the others.
_FROZEN = json.loads(
    (pathlib.Path(__file__).parent / "data" / "webidl_frozen.json").read_text()
)


@pytest.mark.parametrize("entry", _FROZEN, ids=range(len(_FROZEN)))
def test_reports_match_frozen_output(entry):
    def canon(report):
        return json.dumps(report, sort_keys=True)

    assert canon(parse_idl(entry["idl"])) == canon(entry["parse_idl"])
    if "build_report_ast" in entry:
        assert canon(build_report_ast(entry["idl"])) == canon(entry["build_report_ast"])


@pytest.mark.parametrize("entry", _FROZEN, ids=range(len(_FROZEN)))
def test_every_prefix_of_a_dump_parses(entry):
    """A dump cut at any token boundary (a truncated extract) parses in
    both shapes."""
    idl = entry["idl"]
    for _, end in tokenize_spans(idl)[1]:
        for report in (parse_idl(idl[:end]), build_report_ast(idl[:end])):
            assert isinstance(report["idlNames"], dict)
