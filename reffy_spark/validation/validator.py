"""Minimal JSON-Schema-subset validator for extract/postprocessing outputs.

The reference compiles its schemas with Ajv and validates every extract
in tests (src/lib/util.js:1065-1140, used by every test/extract-*.js).
This is a from-scratch validator covering exactly the keyword subset the
reference schemas use: type (incl. type unions with "null"), required, properties,
additionalProperties (false | schema), propertyNames, items, enum,
const, oneOf, anyOf, pattern, minLength, minItems, and $ref into a
named-definition registry ("#" = the root schema, for self-recursive
schemas like idlnames-parsed).

Errors are returned as a list of "json.path: message" strings (empty =
valid), mirroring Ajv's instancePath+message shape closely enough for
test assertions.
"""

from __future__ import annotations

import re

_TYPE_CHECKS = {
    "object": lambda v: isinstance(v, dict),
    "array": lambda v: isinstance(v, list),
    "string": lambda v: isinstance(v, str),
    # bool is an int subclass in Python; order matters
    "boolean": lambda v: isinstance(v, bool),
    "integer": lambda v: isinstance(v, int) and not isinstance(v, bool),
    "number": lambda v: isinstance(v, (int, float)) and not isinstance(v, bool),
    "null": lambda v: v is None,
}


class SchemaError(ValueError):
    pass


def _resolve(schema, defs, root):
    seen = 0
    while isinstance(schema, dict) and "$ref" in schema:
        ref = schema["$ref"]
        if ref == "#":
            schema = root
            break  # root is already resolved
        if ref not in defs:
            raise SchemaError(f"unknown $ref {ref!r}")
        schema = defs[ref]
        seen += 1
        if seen > 50:
            raise SchemaError(f"$ref cycle at {ref!r}")
    return schema


def validate(value, schema, defs=None, path="$", root=None, errors=None) -> list[str]:
    """Validate ``value`` against ``schema``; returns error strings."""
    defs = defs or {}
    errors = errors if errors is not None else []
    if root is None:
        root = schema
    schema = _resolve(schema, defs, root)

    def fail(msg):
        errors.append(f"{path}: {msg}")

    typ = schema.get("type")
    if typ is not None:
        types = typ if isinstance(typ, list) else [typ]
        if not any(_TYPE_CHECKS[t](value) for t in types):
            fail(f"expected type {typ}, got {type(value).__name__}")
            return errors

    if "enum" in schema and value not in schema["enum"]:
        fail(f"{value!r} not in enum {schema['enum']}")
    if "const" in schema and value != schema["const"]:
        fail(f"{value!r} != const {schema['const']!r}")

    for kw in ("oneOf", "anyOf"):
        if kw in schema:
            branches = schema[kw]
            branch_errs = []
            ok = 0
            for alt in branches:
                sub = validate(value, alt, defs, path, root, [])
                if not sub:
                    ok += 1
                else:
                    branch_errs.append(sub)
            # Ajv's oneOf demands exactly one; every reference schema's
            # oneOf has mutually-exclusive branches, so >=1 is equivalent
            # and gives far better error messages on the common miss.
            if ok == 0:
                detail = "; ".join(e[0] for e in branch_errs[:3])
                fail(f"no {kw} branch matched ({detail})")

    if isinstance(value, str):
        if "pattern" in schema and not re.search(schema["pattern"], value):
            fail(f"{value!r} does not match pattern {schema['pattern']!r}")
        if "minLength" in schema and len(value) < schema["minLength"]:
            fail(f"string shorter than minLength {schema['minLength']}")

    if isinstance(value, list):
        if "minItems" in schema and len(value) < schema["minItems"]:
            fail(f"array shorter than minItems {schema['minItems']}")
        items = schema.get("items")
        if items is not None:
            for i, item in enumerate(value):
                validate(item, items, defs, f"{path}[{i}]", root, errors)

    if isinstance(value, dict):
        props = schema.get("properties", {})
        for key in schema.get("required", ()):
            if key not in value:
                fail(f"missing required property {key!r}")
        addl = schema.get("additionalProperties", True)
        prop_names = schema.get("propertyNames")
        for key, val in value.items():
            if prop_names is not None:
                validate(key, prop_names, defs, f"{path}.{key}(name)", root, errors)
            if key in props:
                validate(val, props[key], defs, f"{path}.{key}", root, errors)
            elif addl is False:
                fail(f"unexpected additional property {key!r}")
            elif isinstance(addl, dict):
                validate(val, addl, defs, f"{path}.{key}", root, errors)
    return errors
