"""Extraction framework: one DOM parse per page, all modules in that pass.

Mirrors the reference's module model (registry
/root/reference/src/browserlib/reffy.json:1-85, uniform invocation
``res[mod.property] = window.reffy[mod.name](spec, idToHeading)`` at
/root/reference/src/lib/specs-crawler.js:109-121): modules share a single
parsed DOM and the ``idToHeading`` common sub-stage is computed at most
once per page (CSE by construction — SURVEY.md §4).

Spark-side, the whole suite is ONE ``mapInPandas`` stage over Arrow
batches of ``(url, html)``: no per-row Python UDFs at the Spark level, no
DOM ever crosses a stage boundary. Output is one JSON-string column per
module; downstream relational views parse them JVM-side with
``from_json`` + explicit schemas (see reffy_spark.plans.views).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from reffy_spark.extractors import modules as _m
from reffy_spark.html.dom import Element, parse_html

# module name -> (needs_id_to_heading, fn(ctx) -> JSON-serializable)
MODULES: dict[str, tuple[bool, Callable]] = {
    "title": (False, _m.get_title),
    "generator": (False, _m.get_generator),
    "date": (False, _m.get_date),
    "revision": (False, _m.get_revision),
    "headings": (True, _m.extract_headings),
    "ids": (True, _m.extract_ids),
    "links": (False, _m.extract_links),
    "dfns": (True, _m.extract_dfns),
    "refs": (False, _m.extract_refs),
    "idl": (False, _m.extract_webidl),
    "cddl": (False, _m.extract_cddl),
    "elements": (False, _m.extract_elements),
    "events": (False, _m.extract_events),
    "algorithms": (False, _m.extract_algorithms),
    "css": (False, _m.extract_css),
}

CORE_MODULES = list(MODULES)


def check_modules(modules: list[str]) -> None:
    """Raise ValueError, before any Spark job runs, when a module name is
    not one of ``MODULES``."""
    unknown = [m for m in modules if m not in MODULES]
    if unknown:
        raise ValueError(
            f"unknown extraction module(s) {unknown}; known modules: "
            + ", ".join(MODULES)
        )


class ExtractContext:
    """Per-page extraction context (one DOM parse, shared sub-stages)."""

    def __init__(
        self,
        root: Element,
        url: str,
        spec: str | None = None,
        last_modified=None,
    ):
        self.root = root
        self.url = url
        # spec shortname, when known (a few extractors special-case specs
        # the way the reference passes `spec` into browserlib modules)
        self.spec = spec
        # capture timestamp (warc_ts) — the HTTP Last-Modified analog the
        # reference reads via document.lastModified (F11 fallback)
        self.last_modified = last_modified
        # single page unless the fixture merged multipage sections
        self.single_page = root.query("[data-reffy-page]") is None
        self._id_to_heading: dict | None = None
        self._id_index: dict | None = None

    @property
    def id_to_heading(self) -> dict:
        if self._id_to_heading is None:
            self._id_to_heading = _m.map_ids_to_headings(self)
        return self._id_to_heading

    @property
    def id_index(self) -> dict:
        """id → element map (getElementById), built once per page."""
        if self._id_index is None:
            from reffy_spark.html.dom import iter_id_name

            index: dict = {}
            for el in iter_id_name(self.root):
                eid = el.id
                if eid and eid not in index:
                    index[eid] = el
            self._id_index = index
        return self._id_index


def detect_crawl_error(ctx: ExtractContext) -> str | None:
    """Page-level failure sniffs run BEFORE extraction.

    Mirrors the reference's draft-CSS-server hiccup check
    (/root/reference/src/lib/util.js:597-602, tested at test/crawl.js:178):
    a page whose first ``h1`` reads "Index of …" is a directory listing
    the drafts server emits when it hiccups, not a spec — the reference
    throws and the crawl records an error result instead of a bogus
    extract."""
    h1 = ctx.root.query("h1")
    title = (h1.text or "").replace("\n", "").strip() if h1 is not None else ""
    if title.startswith("Index of "):
        return "CSS server issue detected"
    return None


def extract_page(
    html: str | bytes,
    url: str,
    modules: list[str] | None = None,
    spec: str | None = None,
    last_modified=None,
    with_error: bool = False,
) -> dict:
    """Run the requested modules over one page; returns {module: value}.

    ``with_error=True`` runs the page-level failure sniffs first, and
    turns an exception in the parse or in a module into a failure; on a
    failure the result is ``{"_crawl_error": message}``, so one page
    cannot fail the batch it is in (the reference records an error
    result for a spec whose crawl throws)."""
    fns = [(name, MODULES[name][1]) for name in modules or CORE_MODULES]
    stage = "parse"
    try:
        ctx = ExtractContext(
            parse_html(html), url, spec=spec, last_modified=last_modified
        )
        if with_error:
            err = detect_crawl_error(ctx)
            if err is not None:
                return {"_crawl_error": err}
        out = {}
        for name, fn in fns:
            stage = f"module {name}"
            out[name] = fn(ctx)
    except Exception as e:
        if not with_error:
            raise
        return {"_crawl_error": f"{stage} raised {type(e).__name__}: {e}"}
    return out


def extract_all(
    pages: DataFrame,
    modules: list[str] | None = None,
    url_col: str = "url",
    html_col: str = "html",
    passthrough: list[str] | None = None,
    last_modified_col: str | None = None,
    error_col: str | None = None,
) -> DataFrame:
    """Distributed extraction: Arrow-batched, one parse per page.

    Returns ``url`` (+ any ``passthrough`` columns, copied through the
    Arrow stage — cheaper than a join-back shuffle for scalar metadata)
    plus one JSON-string column per module. Column pruning upstream is
    automatic; module gating is explicit (``--terse`` analog, SURVEY.md §4).

    ``last_modified_col`` names a timestamp column (the pages table's
    ``warc_ts``) fed to the ``date`` module's HTTP-Last-Modified fallback
    (F11) — only read when given, so plans without it stay unchanged.

    ``error_col`` enables the page-level failure sniffs
    (``detect_crawl_error``) and turns a page whose parse or module
    raises into a failed page: the output gains a string column holding
    the error message (null when the page is fine); module columns are
    null on failed pages (the reference throws before extraction,
    util.js:597-602).

    An unknown module name raises ValueError here, before any job.
    """
    modules = modules or CORE_MODULES
    check_modules(modules)
    passthrough = [c for c in (passthrough or []) if c not in (url_col, html_col)]
    pt_ddl = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in pages.schema.fields
        if f.name in passthrough
    )
    schema = f"{url_col} string" + pt_ddl + ", " + ", ".join(
        f"{m} string" for m in modules
    )
    if error_col:
        schema += f", {error_col} string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            extracted: dict[str, list] = {m: [] for m in modules}
            errors: list = []
            lm_series = b[last_modified_col] if last_modified_col else None
            for i, (url, html) in enumerate(zip(b[url_col], b[html_col])):
                lm = lm_series.iloc[i] if lm_series is not None else None
                if lm is not None and pd.isna(lm):
                    lm = None
                res = extract_page(
                    html, url, modules, last_modified=lm,
                    with_error=bool(error_col),
                )
                err = res.get("_crawl_error")
                errors.append(err)
                for m in modules:
                    extracted[m].append(
                        None
                        if err is not None
                        else json.dumps(res[m], ensure_ascii=False, sort_keys=False)
                    )
            out = pd.DataFrame({url_col: b[url_col].values})
            for c in passthrough:
                out[c] = b[c].values
            for m in modules:
                out[m] = extracted[m]
            if error_col:
                out[error_col] = errors
            yield out

    cols = [url_col, html_col] + passthrough
    if last_modified_col and last_modified_col not in cols:
        cols.append(last_modified_col)
    # the DOM parse is the per-task cost of this stage: when the (pruned)
    # input arrives in fewer splits than the cluster has slots (a one-file
    # local scan, a broadcast fetch join over it), the whole Arrow stage
    # serializes onto those tasks. Plan-time spread (no job; no-op at
    # scale where scans are already split; round-robin moves only the
    # pruned url+html rows once) — guide §1.2 / §2.5.
    from reffy_spark.operators.dedupe import spread_small_input

    return spread_small_input(pages.select(*cols)).mapInPandas(run, schema)
