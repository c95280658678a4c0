"""webidl2.js-shaped AST parity (``build_report_ast`` in functions/webidl.py).

The reference's idlparsed payload embeds the full webidl2.js AST
(src/postprocessing/idlparsed.js; schema common.json $defs
idlType/idlMember). Expected dicts here are hand-transcribed from the
public webidl2.js AST documentation ("Data types" in its README), NOT
generated from the parser under test.
"""

import pytest

from reffy_spark.functions.webidl import build_report_ast, parse_idl
from reffy_spark.plans.postprocess import idlparsed_run


def _one(idl: str) -> dict:
    report = build_report_ast(idl)
    out = [*report["idlNames"].values(), *sum(report["idlExtendedNames"].values(), [])]
    assert len(out) == 1
    return out[0]


def test_simple_type_record():
    c = _one("interface A { attribute DOMString s; };")
    assert c["members"][0]["idlType"] == {
        "type": "attribute-type",
        "extAttrs": [],
        "generic": "",
        "nullable": False,
        "union": False,
        "idlType": "DOMString",
    }


def test_multiword_primitive_and_nullable():
    c = _one("interface A { attribute unsigned long long? n; };")
    t = c["members"][0]["idlType"]
    assert t["idlType"] == "unsigned long long"
    assert t["nullable"] is True


def test_generic_type_nests_context():
    c = _one("interface A { attribute sequence<long> xs; };")
    t = c["members"][0]["idlType"]
    assert t["generic"] == "sequence"
    assert isinstance(t["idlType"], list)
    inner = t["idlType"][0]
    assert inner["type"] == "attribute-type"  # context inherited
    assert inner["idlType"] == "long"


def test_union_type():
    c = _one("interface A { attribute (DOMString or long)? u; };")
    t = c["members"][0]["idlType"]
    assert t["union"] is True and t["nullable"] is True
    assert [m["idlType"] for m in t["idlType"]] == ["DOMString", "long"]
    assert all(m["type"] == "attribute-type" for m in t["idlType"])


def test_record_generic_two_params():
    c = _one("typedef record<DOMString, long> M;")
    t = c["idlType"]
    assert t["type"] == "typedef-type"
    assert t["generic"] == "record"
    assert [m["idlType"] for m in t["idlType"]] == ["DOMString", "long"]


def test_operation_return_and_argument_types():
    c = _one("interface A { Promise<undefined> go(optional long n = 7, DOMString... rest); };")
    op = c["members"][0]
    assert op["type"] == "operation" and op["special"] == ""
    assert op["idlType"]["type"] == "return-type"
    assert op["idlType"]["generic"] == "Promise"
    a0, a1 = op["arguments"]
    assert a0 == {
        "type": "argument",
        "name": "n",
        "extAttrs": [],
        "idlType": {
            "type": "argument-type",
            "extAttrs": [],
            "generic": "",
            "nullable": False,
            "union": False,
            "idlType": "long",
        },
        "default": {"type": "number", "value": "7"},
        "optional": True,
        "variadic": False,
    }
    assert a1["variadic"] is True and a1["default"] is None


@pytest.mark.parametrize(
    "lit,expected",
    [
        ('"x"', {"type": "string", "value": "x"}),
        ("42", {"type": "number", "value": "42"}),
        ("-1.5", {"type": "number", "value": "-1.5"}),
        ("true", {"type": "boolean", "value": True}),
        ("false", {"type": "boolean", "value": False}),
        ("null", {"type": "null"}),
        ("[]", {"type": "sequence", "value": []}),
        ("{}", {"type": "dictionary"}),
        ("Infinity", {"type": "Infinity", "negative": False}),
        ("-Infinity", {"type": "Infinity", "negative": True}),
        ("NaN", {"type": "NaN"}),
    ],
)
def test_default_value_records(lit, expected):
    # dictionary member defaults exercise every webidl2 Default shape
    typ = "DOMString" if lit.startswith('"') else "any"
    c = _one("dictionary D { %s v = %s; };" % (typ, lit))
    assert c["members"][0]["default"] == expected


def test_const_value_record():
    c = _one("interface A { const unsigned short MODE = 0x02; };")
    m = c["members"][0]
    assert m["type"] == "const"
    assert m["idlType"]["type"] == "const-type"
    assert m["value"] == {"type": "number", "value": "0x02"}


def test_ext_attr_rhs_forms():
    c = _one(
        "[Exposed=(Window,Worker), SecureContext, Size=4]\n"
        "interface A {};"
    )
    by_name = {a["name"]: a for a in c["extAttrs"]}
    assert by_name["Exposed"]["rhs"] == {
        "type": "identifier-list",
        "value": [{"value": "Window"}, {"value": "Worker"}],
    }
    assert by_name["SecureContext"]["rhs"] is None
    assert by_name["Size"]["rhs"] == {"type": "integer", "value": "4"}
    assert all(a["type"] == "extended-attribute" for a in c["extAttrs"])


def test_ext_attr_exposed_star():
    c = _one("[Exposed=*] interface A {};")
    assert c["extAttrs"][0]["rhs"] == {"type": "*"}


def test_ext_attr_with_arguments():
    c = _one("[LegacyFactoryFunction=Image(DOMString src)] interface A {};")
    a = c["extAttrs"][0]
    assert a["rhs"] == {"type": "identifier", "value": "Image"}
    assert a["arguments"][0]["name"] == "src"
    assert a["arguments"][0]["idlType"]["idlType"] == "DOMString"


def test_special_is_single_string():
    c = _one(
        "interface A { static undefined s(); getter DOMString (unsigned long i); stringifier; };"
    )
    specials = [m["special"] for m in c["members"]]
    assert specials == ["static", "getter", "stringifier"]
    assert c["members"][1]["name"] == ""
    assert c["members"][2]["idlType"] is None


def test_constructor_has_no_name_key():
    c = _one("interface A { constructor(DOMString n); };")
    m = c["members"][0]
    assert m["type"] == "constructor"
    assert "name" not in m
    assert m["arguments"][0]["name"] == "n"


def test_enum_values_are_records():
    c = _one('enum Dir { "up", "down" };')
    assert c["values"] == [
        {"type": "enum-value", "value": "up"},
        {"type": "enum-value", "value": "down"},
    ]


def test_iterable_record():
    c = _one("interface A { async iterable<DOMString, long>; };")
    m = c["members"][0]
    assert m["type"] == "iterable" and m["async"] is True
    assert [t["idlType"] for t in m["idlType"]] == ["DOMString", "long"]


def test_maplike_readonly():
    c = _one("interface A { readonly maplike<DOMString, long>; };")
    m = c["members"][0]
    assert m["type"] == "maplike" and m["readonly"] is True


def test_includes_and_fragment():
    c = _one("A includes B;")
    assert c["type"] == "includes"
    assert c["target"] == "A" and c["includes"] == "B"
    assert c["fragment"] == "A includes B;"


def test_dictionary_required_field():
    c = _one("dictionary D { required long a; };")
    m = c["members"][0]
    assert m == {
        "type": "field",
        "name": "a",
        "required": True,
        "idlType": {
            "type": "dictionary-type",
            "extAttrs": [],
            "generic": "",
            "nullable": False,
            "union": False,
            "idlType": "long",
        },
        "default": None,
        "extAttrs": [],
    }


# --- report skeleton agrees with the simplified parser ----------------------

_CORPUS = [
    "interface foo {};",
    "partial interface testInterface {};\npartial dictionary testDict {};",
    "[Global=primaryInterface]\ninterface primaryInterface {};\n"
    "[Exposed=primaryInterface]\ninterface exposedOnPrimaryInterface {};",
    "[Exposed=Window]\ninterface WithCtor { constructor(); };",
    "interface A : B { attribute C c; undefined f(D d); };\n"
    "A includes M;\ninterface mixin M { attribute E e; };",
    "dictionary Opts { required long a; DOMString b = \"x\"; };",
    "enum Dir { \"up\", \"down\" };",
    "typedef sequence<Foo> Foos;",
    "callback Cb = undefined (Bar o);",
    "namespace NS { };",
    "[Exposed=*]\ninterface Star {};",
    "interface Ser { attribute long x; serializer = {attribute}; };",
]


@pytest.mark.parametrize("idl", _CORPUS)
def test_report_skeleton_matches_simplified_parser(idl):
    """Same idlNames keys, deps, exposure, jsNames as the oracle-backed
    simplified form — the AST mode changes construct payloads only."""
    simple = parse_idl(idl)
    full = build_report_ast(idl)
    assert sorted(full["idlNames"]) == sorted(simple["idlNames"])
    assert sorted(full["idlExtendedNames"]) == sorted(simple["idlExtendedNames"])
    assert full["dependencies"] == simple["dependencies"]
    assert full["externalDependencies"] == simple["externalDependencies"]
    assert full["exposed"] == simple["exposed"]
    assert full["globals"] == simple["globals"]
    assert full["jsNames"] == simple["jsNames"]
    assert full["hasObsoleteIdl"] == simple["hasObsoleteIdl"]


# --- idlparsed_run ast mode -------------------------------------------------


def test_idlparsed_run_ast_matches_reference_golden():
    """generate-idlparsed.js 'parses raw IDL' — in ast mode our payload
    is the reference's exact webidl2 shape (the simplified mode drops
    extended-attribute objects)."""
    result = idlparsed_run({"idl": "interface foo {};"}, ast=True)
    assert result["idlparsed"]["idlNames"] == {
        "foo": {
            "extAttrs": [],
            "fragment": "interface foo {};",
            "inheritance": None,
            "members": [],
            "name": "foo",
            "partial": False,
            "type": "interface",
        }
    }


def test_idlparsed_run_ast_attaches_hrefs():
    spec = {
        "dfns": [
            {
                "href": "about:blank/#foo",
                "linkingText": ["foo"],
                "localLinkingText": [],
                "type": "interface",
                "for": [],
                "access": "public",
                "informative": False,
                "links": [],
            }
        ],
        "idl": "interface foo {};",
    }
    result = idlparsed_run(spec, ast=True)
    assert result["idlparsed"]["idlNames"]["foo"]["href"] == "about:blank/#foo"


def test_idlparsed_run_ast_keeps_error_string():
    result = idlparsed_run({"idl": "intraface foo {};"}, ast=True)
    assert result["idlparsed"].startswith("WebIDLParseError: Syntax error")


def test_idlparsed_run_ast_links_enum_values():
    """idlparsed.js:128-135 — enum-value records get hrefs, matching
    either the bare value or the Bikeshed quoted form."""
    spec = {
        "dfns": [
            {
                "href": "about:blank/#dir-up",
                "linkingText": ['"up"'],
                "localLinkingText": [],
                "type": "enum-value",
                "for": ["Dir"],
                "access": "public",
                "informative": False,
                "links": [],
            }
        ],
        "idl": 'enum Dir { "up", "down" };',
    }
    result = idlparsed_run(spec, ast=True)
    values = result["idlparsed"]["idlNames"]["Dir"]["values"]
    assert values[0]["href"] == "about:blank/#dir-up"
    assert "href" not in values[1]
