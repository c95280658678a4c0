"""Ported output-contract schemas for extract + postprocessing tables.

Python re-expression of the reference's JSON Schemas
(/root/reference/schemas/common.json, schemas/browserlib/extract-*.json,
schemas/postprocessing/*.json — compiled via Ajv in util.js:1065-1140).
The keyword inventory and required/enum contracts are the parity surface
(like the golden corpora, the contract IS the data); the encoding is
ours: named definitions in a flat registry consumed by
``reffy_spark.validation.validator``, built with the helpers below.

``MODULE_SCHEMAS`` maps our extractor-module names (extractors/base.py
MODULES) to the schema for that module's per-page JSON output.
``POST_SCHEMAS`` maps post-processing table names to theirs.
"""

from __future__ import annotations

STR = {"type": "string"}
BOOL = {"type": "boolean"}
INT = {"type": "integer"}


def obj(required=(), props=None):
    s: dict = {"type": "object", "additionalProperties": False}
    if required:
        s["required"] = list(required)
    if props:
        s["properties"] = props
    return s


def arr(items, min_items=None):
    s: dict = {"type": "array", "items": items}
    if min_items is not None:
        s["minItems"] = min_items
    return s


def ref(name):
    return {"$ref": name}


def enum(*vals):
    return {"type": "string", "enum": list(vals)}


def one_of(*alts):
    return {"oneOf": list(alts)}


# ---------------------------------------------------------------------------
# common.json $defs (common.json:5-904)
# ---------------------------------------------------------------------------

_IDL_MEMBER_KINDS = (
    "constructorMember attributeMember operationMember constMember "
    "fieldMember iterableMember setlikeMember maplikeMember "
    "asyncIterableMember"
).split()

# iterable/setlike/maplike/async_iterable share one shape modulo the
# type const (common.json:627-806)
def _collection_member(kind: str) -> dict:
    return {
        "type": "object",
        "required": ["type", "idlType", "arguments", "extAttrs", "readonly", "async"],
        "properties": {
            "type": {"const": kind},
            "idlType": arr(ref("idlType")),
            "arguments": arr(ref("argument")),
            "extAttrs": arr(ref("extendedAttribute")),
            "readonly": BOOL,
            "async": BOOL,
        },
    }


DEFS: dict[str, dict] = {
    "url": STR,  # format: url — Ajv format checks are off in the reference's compile
    "title": {"type": "string", "minLength": 1},
    # common.json's shortname uses a variable-width look-behind
    # (^[\w\-]+((?<=-v?\d+)\.\d+)?$) which JS allows but Python re does
    # not; this alternation is semantically identical: a plain
    # word/hyphen name, or one whose ".minor" suffix follows a -v?N part
    "shortname": {"type": "string", "pattern": r"^[\w\-]+$|^[\w\-]*-v?\d+\.\d+$"},
    "specInExtract": obj(
        ["title", "url"], {"title": ref("title"), "url": ref("url")}
    ),
    "cssPropertyName": {"type": "string", "minLength": 1},
    "cssValue": {"type": "string", "minLength": 1},
    "cssValues": arr(
        {
            "type": "object",
            "required": ["name", "type"],
            "additionalProperties": False,
            "properties": {
                "name": ref("cssValue"),
                "type": enum("type", "function", "value", "selector"),
                "href": ref("url"),
                "prose": STR,
                "value": ref("cssValue"),
                "values": ref("cssValues"),
            },
        }
    ),
    "interface": {"type": "string", "pattern": r"^[A-Z]([A-Za-z0-9_])*$|^console$"},
    "interfacetype": enum(
        "dictionary", "interface", "interface mixin", "enum", "typedef",
        "callback", "callback interface", "namespace",
    ),
    "extensiontype": one_of(ref("interfacetype"), {"type": "string", "const": "includes"}),
    "global": one_of(ref("interface"), {"type": "string", "const": "*"}),
    "id": {"type": "string", "minLength": 1},
    "strings": arr(STR),
    # dfn types taken from src/browserlib/extract-dfns.mjs (common.json:101-117)
    "dfnType": enum(
        "property", "descriptor", "value", "type",
        "at-rule", "function", "selector",
        "namespace", "interface", "constructor", "method", "argument",
        "attribute", "callback", "dictionary", "dict-member", "enum",
        "enum-value", "exception", "const", "typedef", "stringifier",
        "serializer", "iterator", "maplike", "setlike", "extended-attribute",
        "event", "permission",
        "element", "element-state", "element-attr", "attr-value",
        "cddl-module", "cddl-type", "cddl-parameter", "cddl-key", "cddl-value",
        "scheme", "http-header",
        "grammar", "abstract-op", "dfn",
    ),
    "access": enum("private", "public"),
    "headingNumber": {"type": "string", "pattern": r"^(\d+|[A-Z])(\.\d+)*$"},
    "interfaces": arr(ref("interface")),
    "interfacesByGlobal": {
        "type": "object",
        "propertyNames": ref("global"),
        "additionalProperties": ref("interfaces"),
    },
    "idlFragment": {
        "type": "object",
        "required": ["fragment", "type", "extAttrs"],
        "properties": {
            "fragment": {"type": "string", "minLength": 1},
            "type": ref("extensiontype"),
            "name": {"type": "string", "minLength": 1},
            "target": {"type": "string", "minLength": 1},
            "includes": {"type": "string", "minLength": 1},
            "inheritance": {"type": ["string", "null"]},
            "members": arr(ref("idlMember")),
            "idlType": ref("idlType"),
            "arguments": arr(ref("argument")),
            "extAttrs": arr(ref("extendedAttribute")),
            "partial": BOOL,
            "href": STR,
        },
    },
    "idlFragmentInSpec": obj(
        ["spec", "fragment"],
        {"spec": ref("specInExtract"), "fragment": STR, "href": ref("url")},
    ),
    "references": arr(
        obj(
            ["name"],
            {"name": {"type": "string", "minLength": 1}, "url": ref("url")},
        )
    ),
    "links": {
        "type": "object",
        "propertyNames": ref("url"),
        "additionalProperties": obj(
            (),
            {
                "anchors": arr(ref("id"), min_items=1),
                "specShortname": ref("shortname"),
            },
        ),
    },
    "idlType": {
        "type": "object",
        "required": ["type", "extAttrs", "generic", "nullable", "union", "idlType"],
        "properties": {
            "type": {
                "type": ["string", "null"],
                "enum": [
                    "argument-type", "attribute-type", "return-type",
                    "const-type", "dictionary-type", "field-type",
                    "typedef-type", None,
                ],
            },
            "extAttrs": arr(ref("extendedAttribute")),
            "generic": enum(
                "", "FrozenArray", "ObservableArray", "Promise", "record",
                "sequence", "async_sequence",
            ),
            "nullable": BOOL,
            "union": BOOL,
            "idlType": one_of(STR, arr(ref("idlType"))),
        },
    },
    "extendedAttribute": {
        "type": "object",
        "required": ["type", "name", "rhs", "arguments"],
        "properties": {
            "type": enum("extended-attribute"),
            "name": STR,
            "rhs": {"type": ["object", "null"]},
            "arguments": {"type": "array"},
        },
    },
    "argument": {
        "type": "object",
        "required": [
            "type", "name", "extAttrs", "idlType", "default", "optional", "variadic",
        ],
        "properties": {
            "type": {"const": "argument"},
            "name": STR,
            "extAttrs": arr(ref("extendedAttribute")),
            "idlType": ref("idlType"),
            "default": ref("defaultValue"),
            "optional": BOOL,
            "variadic": BOOL,
        },
    },
    "idlMember": one_of(*[ref(k) for k in _IDL_MEMBER_KINDS]),
    "constructorMember": {
        "type": "object",
        "required": ["type", "arguments", "extAttrs"],
        "properties": {
            "type": {"const": "constructor"},
            "arguments": arr(ref("argument")),
            "extAttrs": arr(ref("extendedAttribute")),
            "href": STR,
        },
    },
    "attributeMember": {
        "type": "object",
        "required": ["type", "name", "idlType", "extAttrs", "special"],
        "properties": {
            "type": {"const": "attribute"},
            "name": STR,
            "idlType": ref("idlType"),
            "extAttrs": arr(ref("extendedAttribute")),
            "special": enum("", "inherit", "static", "stringifier"),
            "readonly": BOOL,
            "href": STR,
        },
    },
    "operationMember": {
        "type": "object",
        "required": ["type", "name", "arguments", "extAttrs", "special"],
        "properties": {
            "type": {"const": "operation"},
            "name": STR,
            "idlType": ref("idlType"),
            "arguments": arr(ref("argument")),
            "extAttrs": arr(ref("extendedAttribute")),
            "special": enum("", "deleter", "getter", "setter", "static", "stringifier"),
            "readonly": BOOL,
            "href": STR,
        },
    },
    "constMember": {
        "type": "object",
        "required": ["type", "name", "idlType", "extAttrs", "value"],
        "properties": {
            "type": {"const": "const"},
            "name": STR,
            "idlType": ref("idlType"),
            "extAttrs": arr(ref("extendedAttribute")),
            "value": {"type": "object"},
            "href": STR,
        },
    },
    "fieldMember": {
        "type": "object",
        "required": ["type", "name", "extAttrs", "idlType", "default", "required"],
        "properties": {
            "type": {"const": "field"},
            "name": STR,
            "extAttrs": arr(ref("extendedAttribute")),
            "idlType": ref("idlType"),
            "default": ref("defaultValue"),
            "required": BOOL,
            "href": STR,
        },
    },
    "iterableMember": _collection_member("iterable"),
    "setlikeMember": _collection_member("setlike"),
    "maplikeMember": _collection_member("maplike"),
    "asyncIterableMember": _collection_member("async_iterable"),
    "defaultValue": one_of(
        {"type": "null"},
        obj(["type", "value"], {"type": {"const": "string"}, "value": STR}),
        obj(
            ["type", "value"],
            {"type": {"const": "number"}, "value": {"type": ["number", "string"]}},
        ),
        obj(["type", "value"], {"type": {"const": "boolean"}, "value": BOOL}),
        obj(["type"], {"type": {"const": "dictionary"}, "value": {"type": "object"}}),
        obj(["type"], {"type": {"const": "sequence"}, "value": {"type": "array"}}),
        obj(["type"], {"type": {"const": "null"}}),
    ),
}

# ---------------------------------------------------------------------------
# browserlib extract schemas (schemas/browserlib/extract-*.json)
# ---------------------------------------------------------------------------

# shared by extract-dfns and extract-headings (extract-dfns.json:5-18)
DEFS["dfnHeading"] = obj(
    ["href", "title"],
    {
        "id": ref("id"),
        "href": ref("url"),
        "title": STR,
        "number": ref("headingNumber"),
        "alternateIds": arr(ref("id")),
    },
)

SCHEMA_DFNS = arr(
    obj(
        [
            "id", "href", "linkingText", "localLinkingText", "type", "for",
            "access", "informative", "heading", "definedIn",
        ],
        {
            "id": ref("id"),
            "href": ref("url"),
            "linkingText": ref("strings"),
            "localLinkingText": ref("strings"),
            "type": ref("dfnType"),
            "for": ref("strings"),
            "access": ref("access"),
            "informative": BOOL,
            "heading": ref("dfnHeading"),
            "definedIn": STR,
            "links": arr(
                obj(
                    ["type", "id", "href", "name"],
                    {
                        "type": enum("dev"),
                        "id": ref("id"),
                        "name": STR,
                        "href": ref("url"),
                        "heading": ref("dfnHeading"),
                    },
                )
            ),
            "htmlProse": {"type": "string", "minLength": 1},
        },
    )
)

SCHEMA_HEADINGS = arr(
    obj(
        ["id", "href", "title", "level"],
        {
            "id": ref("id"),
            "href": ref("url"),
            "title": STR,
            "level": INT,
            "number": ref("headingNumber"),
            "alternateIds": arr(ref("id")),
        },
    )
)

SCHEMA_IDS = arr(ref("url"))

SCHEMA_LINKS = obj(
    ["rawlinks", "autolinks"],
    {"rawlinks": ref("links"), "autolinks": ref("links")},
)

SCHEMA_REFS = obj(
    ["normative", "informative"],
    {"normative": ref("references"), "informative": ref("references")},
)

SCHEMA_ELEMENTS = arr(
    obj(
        ["name", "href"],
        {
            "name": STR,
            "interface": ref("interface"),
            "href": ref("url"),
            "obsolete": BOOL,
        },
    )
)

SCHEMA_EVENTS = arr(
    obj(
        ["type"],
        {
            "type": STR,
            "interface": ref("interface"),
            "targets": arr(ref("interface")),
            "bubbles": BOOL,
            "cancelable": BOOL,
            "isExtension": BOOL,
            "href": ref("url"),
            "src": obj((), {"format": STR, "href": ref("url")}),
        },
    )
)

DEFS["algoStep"] = obj(
    (),
    {
        "html": STR,
        "rationale": STR,
        "operation": STR,
        "case": STR,
        "steps": arr(ref("algoStep"), min_items=1),
        "ignored": arr(STR, min_items=1),
        "additional": arr(ref("algoStep"), min_items=1),
    },
)

SCHEMA_ALGORITHMS = arr(
    obj(
        ["rationale"],
        {
            "name": STR,
            "href": ref("url"),
            "html": STR,
            "rationale": STR,
            "operation": STR,
            "case": STR,
            "steps": arr(ref("algoStep"), min_items=1),
        },
    )
)

_CSS_WARNINGS = arr(
    {
        "type": "object",
        "required": ["msg", "name"],
        "properties": {"msg": STR, "name": STR},
    },
    min_items=1,
)

SCHEMA_CSS = obj(
    ["properties", "atrules", "selectors", "values"],
    {
        "properties": arr(
            {
                "type": "object",
                "additionalProperties": True,
                "required": ["name"],
                "properties": {
                    "name": ref("cssPropertyName"),
                    "href": ref("url"),
                    "value": ref("cssValue"),
                    "newValues": ref("cssValue"),
                    "values": ref("cssValues"),
                    "legacyAliasOf": ref("cssPropertyName"),
                    "styleDeclaration": arr(STR, min_items=1),
                },
            }
        ),
        "atrules": arr(
            obj(
                ["name", "descriptors"],
                {
                    "name": {"type": "string", "pattern": "^@"},
                    "href": ref("url"),
                    "value": ref("cssValue"),
                    "prose": STR,
                    "descriptors": arr(
                        {
                            "type": "object",
                            "additionalProperties": True,
                            "required": ["name", "for"],
                            "properties": {
                                "name": STR,
                                "for": STR,
                                "href": ref("url"),
                                "value": ref("cssValue"),
                                "values": ref("cssValues"),
                            },
                        }
                    ),
                    "values": ref("cssValues"),
                },
            )
        ),
        "selectors": arr(
            obj(
                ["name"],
                {
                    "name": ref("cssPropertyName"),
                    "href": ref("url"),
                    "prose": STR,
                    "value": ref("cssValue"),
                    "values": ref("cssValues"),
                },
            )
        ),
        "values": arr(
            obj(
                ["name", "type"],
                {
                    "name": {"type": "string", "pattern": "^<[^>]+>$|^.*()$"},
                    "href": ref("url"),
                    "type": enum("type", "function"),
                    "prose": STR,
                    "value": ref("cssValue"),
                    "values": ref("cssValues"),
                },
            )
        ),
        "warnings": _CSS_WARNINGS,
    },
)

# scalar modules (title/generator/date/revision/idl/cddl): the reference
# validates these implicitly by type in crawl results, not with a
# dedicated schema file; the contracts are trivial.
SCHEMA_TITLE = STR
SCHEMA_GENERATOR = {"type": ["string", "null"], "enum": ["bikeshed", "respec", None]}
SCHEMA_DATE = {"type": ["string", "null"]}
SCHEMA_REVISION = {
    "oneOf": [{"type": "null"}, {"type": "string", "pattern": "[0-9a-f]{40}"}]
}
SCHEMA_RAW_IDL = {"type": ["string", "null"]}
SCHEMA_CDDL = arr(obj(["name", "cddl"], {"name": STR, "cddl": STR}))

MODULE_SCHEMAS: dict[str, dict] = {
    "title": SCHEMA_TITLE,
    "generator": SCHEMA_GENERATOR,
    "date": SCHEMA_DATE,
    "revision": SCHEMA_REVISION,
    "headings": SCHEMA_HEADINGS,
    "ids": SCHEMA_IDS,
    "links": SCHEMA_LINKS,
    "dfns": SCHEMA_DFNS,
    "refs": SCHEMA_REFS,
    "idl": SCHEMA_RAW_IDL,
    "cddl": SCHEMA_CDDL,
    "elements": SCHEMA_ELEMENTS,
    "events": SCHEMA_EVENTS,
    "algorithms": SCHEMA_ALGORITHMS,
    "css": SCHEMA_CSS,
}

# ---------------------------------------------------------------------------
# postprocessing schemas (schemas/postprocessing/*.json)
# ---------------------------------------------------------------------------

SCHEMA_POST_BACKREFS = obj(
    ["spec", "backrefs"],
    {
        "spec": ref("specInExtract"),
        "backrefs": arr(
            obj(
                ["id", "href", "linkingText", "type", "for", "access", "referencedBy"],
                {
                    "id": ref("id"),
                    "href": ref("url"),
                    "linkingText": ref("strings"),
                    "type": ref("dfnType"),
                    "for": ref("strings"),
                    "access": ref("access"),
                    "referencedBy": arr(
                        obj(
                            ["shortname", "title", "url"],
                            {
                                "shortname": ref("shortname"),
                                "title": ref("title"),
                                "url": ref("url"),
                            },
                        ),
                        min_items=1,
                    ),
                },
            )
        ),
    },
)

DEFS["cssScopes"] = arr(STR, min_items=1)
DEFS["cssExtended"] = arr(ref("url"))

SCHEMA_POST_CSS = obj(
    ["atrules", "functions", "properties", "selectors", "types"],
    {
        "atrules": arr(
            obj(
                ["name", "descriptors"],
                {
                    "name": {"type": "string", "pattern": "^@"},
                    "href": ref("url"),
                    "for": ref("cssScopes"),
                    "extended": ref("cssExtended"),
                    "syntax": ref("cssValue"),
                    "prose": STR,
                    "descriptors": arr(
                        {
                            "type": "object",
                            "additionalProperties": True,
                            "required": ["name", "for"],
                            "properties": {
                                "name": STR,
                                "for": STR,
                                "href": ref("url"),
                                "syntax": ref("cssValue"),
                            },
                        }
                    ),
                },
            )
        ),
        "functions": arr(
            obj(
                ["name"],
                {
                    "name": {"type": "string", "pattern": "^.*()$"},
                    "for": ref("cssScopes"),
                    "href": ref("url"),
                    "extended": ref("cssExtended"),
                    "prose": STR,
                    "syntax": ref("cssValue"),
                },
            )
        ),
        "properties": arr(
            {
                "type": "object",
                "additionalProperties": True,
                "required": ["name"],
                "properties": {
                    "name": ref("cssPropertyName"),
                    "href": ref("url"),
                    "extended": ref("cssExtended"),
                    "syntax": ref("cssValue"),
                    "legacyAliasOf": ref("cssPropertyName"),
                    "styleDeclaration": arr(STR, min_items=1),
                },
            }
        ),
        "selectors": arr(
            obj(
                ["name"],
                {
                    "name": ref("cssPropertyName"),
                    "href": ref("url"),
                    "extended": ref("cssExtended"),
                    "prose": STR,
                    "syntax": ref("cssValue"),
                },
            )
        ),
        "types": arr(
            obj(
                ["name"],
                {
                    "name": STR,
                    "href": ref("url"),
                    "for": ref("cssScopes"),
                    "extended": ref("cssExtended"),
                    "prose": STR,
                    "syntax": ref("cssValue"),
                },
            )
        ),
    },
)

SCHEMA_POST_EVENTS = arr(
    obj(
        ["type", "interface", "targets"],
        {
            "type": STR,
            "interface": ref("interface"),
            "targets": arr(
                obj(
                    ["target"],
                    {
                        "target": ref("interface"),
                        "bubbles": BOOL,
                        "bubblingPath": ref("interfaces"),
                    },
                )
            ),
            "href": ref("url"),
            "src": obj((), {"format": STR, "href": ref("url")}),
            "cancelable": BOOL,
            "extendedIn": arr(
                obj(["spec"], {"spec": ref("shortname"), "href": ref("url")})
            ),
        },
    )
)

SCHEMA_POST_IDLNAMES = {
    "type": "object",
    "propertyNames": ref("interface"),
    "additionalProperties": obj(
        ["fragment", "parsed", "type"],
        {"fragment": STR, "parsed": STR, "type": ref("interfacetype")},
    ),
}

SCHEMA_POST_IDLNAMES_PARSED = obj(
    ["name", "type", "defined", "extended", "includes"],
    {
        "name": ref("interface"),
        "type": ref("interfacetype"),
        "defined": ref("idlFragmentInSpec"),
        "extended": arr(ref("idlFragmentInSpec")),
        "inheritance": one_of({"type": "null"}, ref("#")),
        "includes": arr(ref("#")),
    },
)

SCHEMA_POST_IDLPARSED = obj(
    ["spec", "idlparsed"],
    {
        "spec": ref("specInExtract"),
        "idlparsed": obj(
            [
                "jsNames", "idlNames", "idlExtendedNames", "globals",
                "exposed", "dependencies", "externalDependencies", "hasObsoleteIdl",
            ],
            {
                "jsNames": obj(
                    ["constructors", "functions"],
                    {
                        "constructors": ref("interfacesByGlobal"),
                        "functions": ref("interfacesByGlobal"),
                    },
                ),
                "idlNames": {
                    "type": "object",
                    "propertyNames": ref("interface"),
                    "additionalProperties": ref("idlFragment"),
                },
                "idlExtendedNames": {
                    "type": "object",
                    "propertyNames": ref("interface"),
                    "additionalProperties": arr(ref("idlFragment")),
                },
                "globals": ref("interfacesByGlobal"),
                "exposed": ref("interfacesByGlobal"),
                "dependencies": {
                    "type": "object",
                    "propertyNames": ref("interface"),
                    "additionalProperties": ref("interfaces"),
                },
                "externalDependencies": ref("interfaces"),
                "hasObsoleteIdl": BOOL,
            },
        ),
    },
)

POST_SCHEMAS: dict[str, dict] = {
    "backrefs": SCHEMA_POST_BACKREFS,
    "css": SCHEMA_POST_CSS,
    "events": SCHEMA_POST_EVENTS,
    "idlnames": SCHEMA_POST_IDLNAMES,
    "idlnames-parsed": SCHEMA_POST_IDLNAMES_PARSED,
    "idlparsed": SCHEMA_POST_IDLPARSED,
}
