"""Typed relational views over the extraction output.

``extract_all`` emits one JSON-string column per module (recursive or
irregular shapes stay JSON — SURVEY.md §7.3 risk 5); these helpers parse
the regular ones into long/typed tables with ``from_json`` (JVM-side,
no Python). Schemas are lifted from the reference's JSON Schemas
(/root/reference/schemas/browserlib/extract-*.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HEADING_SCHEMA = (
    "array<struct<id:string, href:string, title:string, level:int, "
    "number:string, alternateIds:array<string>>>"
)

DFN_SCHEMA = (
    "array<struct<id:string, href:string, linkingText:array<string>, "
    "localLinkingText:array<string>, type:string, for:array<string>, "
    "access:string, informative:boolean, "
    "heading:struct<id:string, href:string, title:string, number:string>, "
    "definedIn:string, "
    "links:array<struct<type:string, id:string, name:string, href:string>>, "
    "htmlProse:string>>"
)

REF_SCHEMA = (
    "struct<normative:array<struct<name:string, url:string>>, "
    "informative:array<struct<name:string, url:string>>>"
)

EVENT_SCHEMA = (
    "array<struct<type:string, interface:string, bubbles:boolean, "
    "cancelable:boolean, targets:array<string>, href:string, "
    "src:struct<format:string, href:string>>>"
)

CDDL_SCHEMA = "array<struct<name:string, cddl:string>>"

ELEMENT_SCHEMA = "array<struct<name:string, href:string, interface:string>>"


def headings_table(extracts: DataFrame) -> DataFrame:
    return extracts.select(
        "url", F.explode(F.from_json("headings", HEADING_SCHEMA)).alias("h")
    ).select("url", "h.*")


def dfns_table(extracts: DataFrame) -> DataFrame:
    return extracts.select(
        "url", F.explode(F.from_json("dfns", DFN_SCHEMA)).alias("d")
    ).select("url", "d.*")


def ids_table(extracts: DataFrame, key: str = "url") -> DataFrame:
    return extracts.select(
        key, F.explode(F.from_json("ids", "array<string>")).alias("id_url")
    )


def refs_table(extracts: DataFrame, key: str = "url") -> DataFrame:
    parsed = extracts.select(key, F.from_json("refs", REF_SCHEMA).alias("r"))
    out = None
    for kind in ("normative", "informative"):
        part = parsed.select(
            key,
            F.explode(F.coalesce(f"r.{kind}", F.array().cast("array<struct<name:string,url:string>>"))).alias("ref"),
            F.lit(kind == "normative").alias("normative"),
        ).select(key, "ref.name", "ref.url", "normative")
        out = part if out is None else out.unionByName(part)
    return out


def events_table(extracts: DataFrame) -> DataFrame:
    return extracts.select(
        "url", F.explode(F.from_json("events", EVENT_SCHEMA)).alias("e")
    ).select("url", "e.*")


def cddl_table(extracts: DataFrame) -> DataFrame:
    return extracts.select(
        "url", F.explode(F.from_json("cddl", CDDL_SCHEMA)).alias("c")
    ).select("url", "c.*")


def elements_table(extracts: DataFrame) -> DataFrame:
    return extracts.select(
        "url", F.explode(F.from_json("elements", ELEMENT_SCHEMA)).alias("e")
    ).select("url", "e.*")


ALGORITHM_SCHEMA = (
    "array<struct<rationale:string, name:string, href:string, "
    "steps:array<struct<html:string>>>>"
)


def algorithms_table(extracts: DataFrame) -> DataFrame:
    """Long table of algorithms with their document-order index (W6)."""
    return extracts.select(
        "url",
        F.posexplode(F.from_json("algorithms", ALGORITHM_SCHEMA)).alias("algo_idx", "a"),
    ).select("url", "algo_idx", "a.rationale", "a.name", "a.href", "a.steps")


CSS_PROPERTY_SCHEMA = (
    "struct<properties:array<struct<name:string, href:string, value:string, "
    "newValues:string, initial:string, inherited:string, for:string>>>"
)


def css_properties_table(extracts: DataFrame) -> DataFrame:
    """Long table of CSS property definitions from the css JSON column."""
    parsed = extracts.select("url", F.from_json("css", CSS_PROPERTY_SCHEMA).alias("c"))
    return parsed.select(
        "url", F.explode("c.properties").alias("p")
    ).select("url", "p.name", "p.href", "p.value", "p.newValues", "p.initial", "p.inherited")
