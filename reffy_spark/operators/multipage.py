"""Multi-page spec merge (S6).

The reference loads each page of ``spec.nightly.pages[]`` and appends
every subpage's ``<body>`` to page 1 wrapped as
``<section data-reffy-page="…">`` (/root/reference/src/lib/util.js:555-594)
so the extractors see one document while keeping page provenance (the
``data-reffy-page`` ancestor drives per-page absolute URLs, F3).

Spark form: groupBy spec, sort subpages by their declared order, wrap
and concat — a single partial-aggregatable pass. The body extraction is
a pure string operation (regex over the html column) so the merge never
enters Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _body_of(html_col):
    """Contents of <body> (fallback: whole document)."""
    body = F.regexp_extract(html_col, r"(?is)<body[^>]*>(.*)</body>", 1)
    return F.when(body == "", html_col).otherwise(body)


def merge_multipage(pages: DataFrame) -> DataFrame:
    """Merge subpages into one document per spec.

    Input: one row per (spec, page) with the page's position, as
    (spec_url, url, page_idx, html). Output:
    (spec_url, html) where html = page 0's document followed by each
    subpage's body wrapped in ``<section data-reffy-page>``.
    """
    html_str = F.col("html").cast("string")
    wrapped = F.when(
        F.col("page_idx") == 0, html_str
    ).otherwise(
        F.concat(
            F.lit('<section data-reffy-page="'),
            F.col("url"),
            F.lit('">'),
            _body_of(html_str),
            F.lit("</section>"),
        )
    )
    parts = pages.select(
        "spec_url",
        F.struct(F.col("page_idx").alias("idx"), wrapped.alias("part")).alias("p"),
    )
    return (
        parts.groupBy("spec_url")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("p")), lambda s: s["part"]
                ),
                "",
            ).alias("html")
        )
    )
