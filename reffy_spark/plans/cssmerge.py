"""Crawl-level CSS consolidation (A9 — the reference's cssmerge).

Re-expression of /root/reference/src/postprocessing/cssmerge.js:99-360 as
a DataFrame pipeline over a LONG table of CSS features. The nested
extract JSON is first flattened into one row per feature (scoped
functions/types hoisted to the root with a ``for`` backlink, nested
at-rules hoisted out of descriptor lists — copyScopedValuesToRootLevel,
cssmerge.js:62-96), then consolidated per category:

* base definition = the (href, syntax)-bearing definition from the
  LATEST level of the spec series (live-on-the-edge, cssmerge.js:211-241)
* property extensions (``newValues``) union into the base syntax with
  `` | ``, recording ``extended`` hrefs; superseded extensions (same
  newValues, newer level) are ignored (cssmerge.js:247-292)
* function/type re-definitions override the base syntax
* at-rule descriptor lists merge across specs, dropping descriptors
  re-defined at a newer level
* scoped features drop when an unscoped twin with the same syntax exists
* legacy aliases inherit the target's syntax

Input rows (one per feature occurrence):
    category      atrules | properties | selectors | functions | types
    name          feature name (types unwrapped from <...>)
    for           scoping construct or null
    href          dfn URL or null
    value         syntax or null
    new_values    newValues or null
    legacy_alias_of
    series        spec series shortname
    series_version  numeric level within the series
    spec_url      crawled URL (fallback for ``extended``)

Output: one row per consolidated feature:
    (category, name, for, href, syntax, extended array<string>)

Descriptor merging is exposed separately via ``merge_descriptors`` since
descriptors live one level down in the extract structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _unwrap_name(name):
    return F.regexp_replace(name, r"^<([^>]+)>$", "$1")


def consolidate_features(features: DataFrame) -> DataFrame:
    """Merge per-spec CSS feature rows into crawl-level entries."""
    f = features.withColumn("name", _unwrap_name(F.col("name")))
    fid = F.concat_ws(
        " for ", F.col("name"), F.col("for")
    )  # getFeatureId (cssmerge.js:367-374)
    f = f.withColumn("_fid", fid)

    # --- base-definition election (cssmerge.js:211-241) -------------------
    # candidates with href+syntax first; else href without newValues;
    # winner = highest series_version (ties broken by href for determinism)
    is_full = F.col("href").isNotNull() & F.col("value").isNotNull()
    is_base_fallback = F.col("href").isNotNull() & F.col("new_values").isNull()
    ranked = f.withColumn(
        "_base_class",
        F.when(is_full, 1).when(is_base_fallback, 2).otherwise(F.lit(None)),
    )
    w = Window.partitionBy("category", "_fid").orderBy(
        F.col("_base_class").asc_nulls_last(),
        F.col("series_version").desc(),
        F.col("href").asc_nulls_last(),
    )
    # the top row per feature id is the base iff it has a base class at all
    with_rank = ranked.withColumn("_rn", F.row_number().over(w))
    base = with_rank.filter((F.col("_rn") == 1) & F.col("_base_class").isNotNull())

    # --- property extensions (cssmerge.js:258-292) -------------------------
    exts = f.filter(F.col("new_values").isNotNull())
    # drop extensions superseded by the same newValues at a newer level
    w_new = Window.partitionBy("category", "_fid", "new_values").orderBy(
        F.col("series_version").desc()
    )
    exts = exts.withColumn("_en", F.row_number().over(w_new)).filter(F.col("_en") == 1)
    ext_agg = exts.groupBy("category", "_fid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("series_version", "href", "new_values", "spec_url")
                    )
                ),
                lambda s: s["new_values"],
            ),
            " | ",
        ).alias("_ext_values"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("series_version", "href", "spec_url"))
            ),
            lambda s: F.coalesce(s["href"], s["spec_url"]),
        ).alias("_ext_hrefs"),
    )

    # --- function/type re-definitions (cssmerge.js:279-290): a row
    # carrying a syntax but NO href (href-bearing losers of the base
    # election are discarded, cssmerge.js:237-240) overrides the base
    redefs = (
        with_rank.filter(
            F.col("href").isNull()
            & F.col("value").isNotNull()
            & F.col("new_values").isNull()
        )
        .groupBy("category", "_fid")
        .agg(
            F.max_by(F.col("value"), F.col("series_version")).alias("_redef_value"),
            F.array(
                F.max_by(F.col("spec_url"), F.col("series_version"))
            ).alias("_redef_hrefs"),
        )
    )

    # redefinitions override the base syntax (cssmerge.js:279-290 —
    # ``else if (dfn.syntax)`` applies even when the base has one);
    # newValues extensions then append to whatever syntax stands
    empty = F.array().cast("array<string>")
    merged = (
        base.join(ext_agg, on=["category", "_fid"], how="left")
        .join(redefs, on=["category", "_fid"], how="left")
        .withColumn(
            "_syn0", F.coalesce(F.col("_redef_value"), F.col("value"))
        )
        .withColumn(
            "syntax",
            F.when(
                F.col("_syn0").isNotNull() & F.col("_ext_values").isNotNull(),
                F.concat(F.col("_syn0"), F.lit(" | "), F.col("_ext_values")),
            ).otherwise(F.col("_syn0")),
        )
        .withColumn(
            "extended",
            F.concat(
                F.when(F.col("_redef_value").isNotNull(), F.col("_redef_hrefs"))
                .otherwise(empty),
                F.when(
                    F.col("_syn0").isNotNull() & F.col("_ext_values").isNotNull(),
                    F.col("_ext_hrefs"),
                ).otherwise(empty),
            ),
        )
    )

    # --- drop scoped features shadowed by an unscoped twin -----------------
    # (cssmerge.js:297-312: keep a scoped feature only when its syntax is
    # known AND differs from the unscoped one)
    unscoped = merged.filter(F.col("for").isNull()).select(
        F.col("category").alias("_ucat"),
        F.col("name").alias("_un"),
        F.col("syntax").alias("_usyn"),
    )
    scoped = merged.filter(F.col("for").isNotNull()).join(
        unscoped,
        (F.col("name") == F.col("_un")) & (F.col("category") == F.col("_ucat")),
        "left",
    )
    scoped = scoped.filter(
        F.col("_un").isNull()
        | (F.col("syntax").isNotNull() & ~F.col("syntax").eqNullSafe(F.col("_usyn")))
    ).drop("_ucat", "_un", "_usyn")
    merged = merged.filter(F.col("for").isNull()).unionByName(
        scoped.select(*merged.columns)
    )

    # --- legacy aliases inherit the target's syntax ------------------------
    alias_target = merged.filter(F.col("for").isNull()).select(
        F.col("category").alias("_tcat"),
        F.col("name").alias("_tn"),
        F.col("syntax").alias("_tsyn"),
    )
    out = merged.join(
        alias_target,
        (F.col("legacy_alias_of") == F.col("_tn"))
        & (F.col("category") == F.col("_tcat")),
        "left",
    ).withColumn(
        "syntax",
        F.when(
            F.col("legacy_alias_of").isNotNull() & F.col("syntax").isNull(),
            F.col("_tsyn"),
        ).otherwise(F.col("syntax")),
    )
    # passthrough columns (full-fidelity crawl report: remaining feature
    # fields as JSON, first-seen order) survive the base election because
    # the base row is kept whole
    passthrough = [c for c in ("extra", "_ord", "legacy_alias_of") if c in features.columns]
    return out.select(
        "category", "name", "for", "href", "syntax", "extended", *passthrough
    )


def merge_descriptors(descriptors: DataFrame) -> DataFrame:
    """Merge at-rule descriptor rows across specs (cssmerge.js:247-257,
    293-296): one row per (atrule, descriptor), keeping the definition
    from the latest series level.

    Input: (atrule, name, href, value, series, series_version).
    Output: (atrule, name, href, syntax) sorted by descriptor name.
    """
    w = Window.partitionBy("atrule", "name").orderBy(
        F.col("series_version").desc(), F.col("href").asc_nulls_last()
    )
    return (
        descriptors.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("atrule", "name", "href", F.col("value").alias("syntax"))
        .orderBy("atrule", "name")
    )


# ---------------------------------------------------------------------------
# Full-fidelity crawl-level report (cssmerge.js run(), tested by the
# reference's test/merge-css.js corpus)
# ---------------------------------------------------------------------------

_EXTRACT_CATEGORIES = ("atrules", "properties", "selectors", "values")
_REPORT_CATEGORIES = ("atrules", "functions", "properties", "selectors", "types")
_FEATURE_KEYS = (
    "name", "for", "href", "value", "newValues", "legacyAliasOf",
    "type", "values", "descriptors",
)


def _copy_scoped_to_root(feature: dict, categorized: dict) -> None:
    """copyScopedValuesToRootLevel (cssmerge.js:62-96): hoist scoped
    functions/types with a `for` backlink; move nested at-rules out of
    descriptor lists; recurse."""
    if feature.get("values"):
        values = [
            {"for": feature["name"], **v}
            for v in feature["values"]
            if v.get("type") in ("function", "type")
        ]
        categorized["functions"].extend(
            v for v in values if v["type"] == "function"
        )
        categorized["types"].extend(v for v in values if v["type"] == "type")
        for v in values:
            _copy_scoped_to_root(v, categorized)
    if feature.get("descriptors"):
        atrules = [
            {"descriptors": [], **v}
            for v in feature["descriptors"]
            if v.get("type") == "at-rule"
        ]
        categorized["atrules"].extend(atrules)
        feature["descriptors"] = [
            d for d in feature["descriptors"] if d.get("type") != "at-rule"
        ]
        for d in feature["descriptors"]:
            _copy_scoped_to_root(d, categorized)


def _feature_id(name: str, for_) -> str:
    if for_:
        joined = ",".join(for_) if isinstance(for_, list) else for_
        return f"{name} for {joined}"
    return name


def cssmerge_crawl(spark, results: list[dict]) -> dict:
    """The reference's crawl-level `css.json` consolidation
    (src/postprocessing/cssmerge.js run():99-360): flatten the per-spec
    nested CSS extracts into feature/descriptor long tables, run the
    relational consolidation (`consolidate_features`), then reassemble
    the categorized report with scope merging, descriptor merging, and
    the reference's featureId sort.

    The heavy lifting (base election across series levels, newValues
    unions, re-definition overrides, shadow drops, alias syntax) runs as
    DataFrame plans; flatten/reassembly is driver-side glue over the
    (small) crawl-level extract set.
    """
    import json

    import pandas as pd  # noqa: F401

    categorized: dict[str, list[dict]] = {c: [] for c in _REPORT_CATEGORIES}
    owners: list[dict] = []  # per pushed feature: spec info + descriptors
    for spec in results:
        css = spec.get("css")
        if not css or not isinstance(css, dict):
            continue
        data = json.loads(json.dumps(css))  # structured clone
        info = {
            "series": (spec.get("series") or {}).get("shortname"),
            "series_version": float(spec.get("seriesVersion") or 0),
            "crawled": spec.get("crawled") or spec.get("url"),
        }
        cats = {
            "atrules": list(data.get("atrules") or []),
            "properties": list(data.get("properties") or []),
            "selectors": list(data.get("selectors") or []),
            "functions": [
                v for v in (data.get("values") or []) if v.get("type") == "function"
            ],
            "types": [
                v for v in (data.get("values") or []) if v.get("type") == "type"
            ],
        }
        for c in _REPORT_CATEGORIES:
            for f in cats[c]:
                f["_spec"] = info
                categorized[c].append(f)
        for cat in _EXTRACT_CATEGORIES:
            for f in data.get(cat) or []:
                before = {c: len(categorized[c]) for c in _REPORT_CATEGORIES}
                _copy_scoped_to_root(f, categorized)
                for c in _REPORT_CATEGORIES:
                    for nf in categorized[c][before[c]:]:
                        nf.setdefault("_spec", info)

    # ---- feature long table ------------------------------------------------
    rows = []
    uid = 0
    for c in _REPORT_CATEGORIES:
        for f in categorized[c]:
            extra = {
                k: v
                for k, v in f.items()
                if k not in _FEATURE_KEYS and not k.startswith("_")
            }
            rows.append(
                {
                    "uid": uid,
                    "category": c,
                    "name": f.get("name"),
                    "for": f.get("for"),
                    "href": f.get("href"),
                    "value": f.get("value"),
                    "new_values": f.get("newValues"),
                    "legacy_alias_of": f.get("legacyAliasOf"),
                    "series": f["_spec"]["series"],
                    "series_version": f["_spec"]["series_version"],
                    "spec_url": f["_spec"]["crawled"],
                    "extra": json.dumps(extra, sort_keys=True),
                    "_ord": uid,
                    "has_descriptors": "descriptors" in f,
                }
            )
            uid += 1
    if not rows:
        return {c: [] for c in _REPORT_CATEGORIES}
    feat_df = spark.createDataFrame(
        rows,
        "uid long, category string, name string, for string, href string, "
        "value string, new_values string, legacy_alias_of string, "
        "series string, series_version double, spec_url string, "
        "extra string, _ord long, has_descriptors boolean",
    )
    consolidated_df = consolidate_features(
        feat_df.drop("uid", "has_descriptors")
    )

    # ---- descriptor merge --------------------------------------------------
    # keep a descriptor from the dfn at series level v iff no other dfn of
    # the same feature defines a descriptor with the same name at a level
    # > v (hasNewerDescriptorDfn, cssmerge.js:254-259)
    desc_rows: dict[str, list[tuple[float, int, dict]]] = {}
    has_desc_key: set[str] = set()
    for c in _REPORT_CATEGORIES:
        for f in categorized[c]:
            fid = c + "\x00" + _feature_id(
                __import__("re").sub(r"^<([^>]+)>$", r"\1", f.get("name") or ""),
                f.get("for"),
            )
            if "descriptors" in f:
                has_desc_key.add(fid)
            for i, d in enumerate(f.get("descriptors") or []):
                desc_rows.setdefault(fid, []).append(
                    (f["_spec"]["series_version"], i, d)
                )
    merged_descs: dict[str, list[dict]] = {}
    for fid, entries in desc_rows.items():
        max_v_per_name: dict[str, float] = {}
        for v, _i, d in entries:
            n = d.get("name")
            max_v_per_name[n] = max(max_v_per_name.get(n, v), v)
        kept = [d for v, _i, d in entries if v >= max_v_per_name[d.get("name")]]
        for d in kept:
            d.pop("values", None)
            if d.get("value") is not None:
                d["syntax"] = d.pop("value")
        kept.sort(key=lambda d: d.get("name") or "")
        merged_descs[fid] = kept

    # ---- reassembly (executor-side, VERDICT r6 #7) --------------------------
    # one pandas group per category via applyInPandas: scope merge,
    # descriptor attach and the featureId sort all run where the data
    # is; only the five finished category JSON strings cross to the
    # driver.
    report_df = _cssmerge_report_df(consolidated_df, merged_descs, has_desc_key)
    out = {c: [] for c in _REPORT_CATEGORIES}
    for r in report_df.collect():
        out[r["category"]] = json.loads(r["report"])
    return out


def _cssmerge_report_df(
    consolidated_df, merged_descs: dict, has_desc_key: set
):
    """(category, report) with ``report`` the finished category JSON
    array — the consolidated feature table never reaches the driver.
    ``merged_descs``/``has_desc_key`` are descriptor metadata (bounded
    by features-with-descriptors, i.e. at-rules) shipped to executors
    in the UDF closure; everything feature-count-sized stays
    distributed. Exact same scope-merge / descriptor / sort semantics
    as the former driver loop (cssmerge.js:254-356)."""
    import json

    import pandas as pd

    def assemble(pdf: "pd.DataFrame") -> "pd.DataFrame":
        cat = str(pdf["category"].iloc[0])
        out_list: list[dict] = []
        by_href: dict = {}
        for r in pdf.sort_values("_ord").to_dict("records"):
            entry = dict(json.loads(r["extra"]))
            entry["name"] = r["name"]
            if r["href"] is not None:
                entry["href"] = r["href"]
            if r["legacy_alias_of"] is not None:
                entry["legacyAliasOf"] = r["legacy_alias_of"]
            if r["syntax"] is not None:
                entry["syntax"] = r["syntax"]
            ext = r["extended"]
            entry["extended"] = [] if ext is None else list(ext)
            fid = cat + "\x00" + _feature_id(r["name"], r["for"])
            if fid in has_desc_key:
                entry["descriptors"] = merged_descs.get(fid, [])
            # scope merge: same (category, href) entries collapse into
            # the first one with a sorted `for` array (cssmerge.js:330-356)
            first = by_href.get(r["href"])
            if first is not None and r["href"] is not None:
                if r["for"]:
                    first["for"].append(r["for"])
                    first["for"].sort()
                continue
            if r["for"]:
                entry["for"] = [r["for"]]
            by_href[r["href"]] = entry
            out_list.append(entry)
        out_list.sort(key=lambda f: _feature_id(f["name"], f.get("for")))
        return pd.DataFrame(
            {"category": [cat], "report": [json.dumps(out_list)]}
        )

    return consolidated_df.groupBy("category").applyInPandas(
        assemble, "category string, report string"
    )
