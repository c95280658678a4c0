"""Driver-contract queries, part 2: extraction + post-processing oracles.

Round-2 closure of the operator↔oracle gap (VERDICT r01 item 1): every
extractor and post-processing join that was pytest-only gets a
``queries()`` entry here whose expected output a DuckDB oracle computes
by *independent arithmetic* over the same parquet tables — the synthetic
HTML is generated from ``doc_id`` arithmetic, the oracle derives the
expected extraction results from the same arithmetic without running any
of our code.

Registered into entry_queries.QUERIES / ORACLES at import time (see the
bottom of entry_queries.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reffy_spark.extractors.base import extract_all
from reffy_spark.plans import postprocess as PP
from reffy_spark.plans import views as V


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _s(c) -> F.Column:
    return c.cast("string")


def _cat(*parts) -> F.Column:
    """concat of str literals and Columns."""
    return F.concat(*[F.lit(p) if isinstance(p, str) else p for p in parts])


def _json_str(col) -> F.Column:
    """Decode a JSON-encoded string column (module outputs are JSON)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_json(_cat('{"v":', c, "}"), "v string")["v"]


def _docs(spark, sf_dir) -> DataFrame:
    return _load(spark, sf_dir, "documents").select("doc_id")


# ===========================================================================
# dfns (P3-P6, A6, J4, A10 flat case)
# ===========================================================================


def _dfn_pages(spark, sf_dir) -> DataFrame:
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    priv = F.when(
        F.col("doc_id") % 4 == 0,
        _cat('<dfn id="priv-', i, '">hidden ', i, "</dfn>"),
    ).otherwise(F.lit(""))
    deleted = F.when(
        F.col("doc_id") % 5 == 0,
        _cat('<del><dfn id="del-', i, '" data-dfn-type="dfn" data-export="">gone</dfn></del>'),
    ).otherwise(F.lit(""))
    imported = F.when(
        F.col("doc_id") % 7 == 0,
        _cat('<dfn id="imp-', i, '"><a href="https://ext.test/x">imported</a></dfn>'),
    ).otherwise(F.lit(""))
    html = _cat(
        "<title>Spec ", i, "</title>",
        '<h2 id="sec-', i, '">1. Section ', i, "</h2>",
        '<dfn id="term-', i, '" data-dfn-type="dfn" data-export="">term ', i, "</dfn>",
        '<dfn id="iface-', i, '" data-dfn-type="interface" data-lt="Alias', i,
        "|A", i, '" data-dfn-for="Ctx', _s(F.col("doc_id") % 3), '">Alias', i, "</dfn>",
        # A6 first-wins duplicate of term-{i} (same linkingText/type/for, both public)
        '<dfn id="dup-', i, '" data-dfn-type="dfn" data-export="">term ', i, "</dfn>",
        priv, deleted, imported,
        # J4 dev anchor pointing at term-{i}
        '<dl class="domintro"><dt><a id="dev-', i, '" href="#term-', i, '">m', i,
        "()</a></dt></dl>",
        # htmlProse prose element for term-{i} (extract-dfns.mjs:290-295):
        # keeps code/a, absolutizes href, drops the aside annotation
        '<p data-defines="#term-', i, '">The <code>term ', i,
        '</code> does <a href="#sec-', i, '">things</a>.',
        "<aside>ignored</aside></p>",
    )
    url = _cat("https://dfn.test/d", i, "/")
    return d.select("doc_id", url.alias("url"), html.alias("html"))


def q_extract_dfns(spark, sf_dir):
    pages = _dfn_pages(spark, sf_dir)
    extracts = extract_all(pages, ["dfns"])
    t = V.dfns_table(extracts)
    return t.select(
        "url",
        "id",
        "href",
        F.array_join("linkingText", "|").alias("linking"),
        "type",
        F.array_join("for", "|").alias("for_csv"),
        "access",
        "definedIn",
        F.col("heading.id").alias("heading_id"),
        F.col("heading.number").alias("heading_number"),
        F.size(F.coalesce("links", F.array().cast(
            "array<struct<type:string,id:string,name:string,href:string>>"
        ))).alias("n_links"),
        F.coalesce("htmlProse", F.lit("")).alias("html_prose"),
    )


ORACLE_EXTRACT_DFNS = """
    WITH base AS (
      SELECT doc_id, 'https://dfn.test/d' || doc_id || '/' AS url FROM documents
    )
    SELECT url, 'term-' || doc_id AS id, url || '#term-' || doc_id AS href,
           'term ' || doc_id AS linking, 'dfn' AS type, '' AS for_csv,
           'public' AS access, 'prose' AS definedIn,
           'sec-' || doc_id AS heading_id, '1' AS heading_number,
           1 AS n_links,
           'The <code>term ' || doc_id || '</code> does <a href="' || url
             || '#sec-' || doc_id || '">things</a>.' AS html_prose
    FROM base
    UNION ALL
    SELECT url, 'iface-' || doc_id, url || '#iface-' || doc_id,
           'Alias' || doc_id || '|A' || doc_id, 'interface',
           'Ctx' || (doc_id % 3), 'public', 'prose',
           'sec-' || doc_id, '1', 0, ''
    FROM base
    UNION ALL
    SELECT url, 'priv-' || doc_id, url || '#priv-' || doc_id,
           'hidden ' || doc_id, 'dfn', '', 'private', 'prose',
           'sec-' || doc_id, '1', 0, ''
    FROM base WHERE doc_id % 4 = 0
"""


# ===========================================================================
# ids (P7) — respec-/dfn-panel- filters + a[name]
# ===========================================================================


def q_extract_ids(spark, sf_dir):
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    html = _cat(
        '<p id="p-', i, '">x</p>',
        '<div id="respec-ui-', i, '">y</div>',
        '<section id="dfn-panel-', i, '">z</section>',
        '<a name="an-', i, '">n</a>',
        '<span id="s-', i, '">w</span>',
    )
    url = _cat("https://ids.test/d", i, "/")
    pages = d.select("doc_id", url.alias("url"), html.alias("html"))
    return V.ids_table(extract_all(pages, ["ids"]))


ORACLE_EXTRACT_IDS = """
    WITH base AS (
      SELECT doc_id, 'https://ids.test/d' || doc_id || '/' AS url FROM documents
    )
    SELECT url, url || '#p-' || doc_id AS id_url FROM base
    UNION ALL SELECT url, url || '#s-' || doc_id FROM base
    UNION ALL SELECT url, url || '#an-' || doc_id FROM base
"""


# ===========================================================================
# refs (heading fallback, dl form)
# ===========================================================================


def q_extract_refs(spark, sf_dir):
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    a = _s(F.col("doc_id") % 10)
    b = _s((F.col("doc_id") + 3) % 10)
    c = _s(F.col("doc_id") % 7)
    html = _cat(
        '<h2 id="nrefs">Normative references</h2><dl>',
        "<dt>[REF", a, "]</dt><dd><a href='https://ref", a, ".test/spec/'>R</a></dd>",
        "<dt>[REF", b, "]</dt><dd><a href='https://ref", b, ".test/spec/'>R</a></dd>",
        '</dl><h2 id="irefs">Informative references</h2><dl>',
        "<dt>[IREF", c, "]</dt><dd><a href='https://iref", c, ".test/spec/'>R</a></dd>",
        "</dl>",
    )
    url = _cat("https://refs.test/d", i, "/")
    pages = d.select("doc_id", url.alias("url"), html.alias("html"))
    extracts = extract_all(pages, ["refs"]).withColumnRenamed("url", "page")
    return V.refs_table(extracts, key="page").select(
        "page", "name", F.col("url").alias("ref_url"), "normative"
    )


ORACLE_EXTRACT_REFS = """
    WITH base AS (
      SELECT doc_id, 'https://refs.test/d' || doc_id || '/' AS page,
             doc_id % 10 AS a, (doc_id + 3) % 10 AS b, doc_id % 7 AS c
      FROM documents
    )
    SELECT page, 'REF' || a AS name, 'https://ref' || a || '.test/spec/' AS ref_url,
           TRUE AS normative FROM base
    UNION ALL
    SELECT page, 'REF' || b, 'https://ref' || b || '.test/spec/', TRUE FROM base
    UNION ALL
    SELECT page, 'IREF' || c, 'https://iref' || c || '.test/spec/', FALSE FROM base
"""


# ===========================================================================
# webidl concat (A3)
# ===========================================================================


def q_extract_idl(spark, sf_dir):
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    html = _cat(
        '<pre class="idl">interface A', i, " {};</pre><p>prose</p>",
        '<pre class="idl">partial interface A', i, " { attribute long y; };</pre>",
    )
    url = _cat("https://idl.test/d", i, "/")
    pages = d.select("doc_id", url.alias("url"), html.alias("html"))
    extracts = extract_all(pages, ["idl"])
    # idl is a JSON-encoded string column; decode JVM-side
    return extracts.select("url", _json_str("idl").alias("idl"))


ORACLE_EXTRACT_IDL = """
    SELECT 'https://idl.test/d' || doc_id || '/' AS url,
           'interface A' || doc_id || ' {};' || chr(10) || chr(10) ||
           'partial interface A' || doc_id || ' { attribute long y; };' AS idl
    FROM documents
"""


# ===========================================================================
# cddl modules + rollup (A2)
# ===========================================================================


def q_extract_cddl(spark, sf_dir):
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    a = _s(F.col("doc_id") % 2)
    b = _s((F.col("doc_id") + 1) % 2)
    html = _cat(
        '<pre class="cddl cddl-m', a, '">rule', i, " = int</pre>",
        '<pre class="cddl cddl-m', b, '">rule2-', i, " = text</pre>",
    )
    url = _cat("https://cddl.test/d", i, "/")
    pages = d.select("doc_id", url.alias("url"), html.alias("html"))
    return V.cddl_table(extract_all(pages, ["cddl"]))


ORACLE_EXTRACT_CDDL = """
    WITH base AS (
      SELECT doc_id, 'https://cddl.test/d' || doc_id || '/' AS url,
             'rule' || doc_id || ' = int' AS blk1,
             'rule2-' || doc_id || ' = text' AS blk2,
             doc_id % 2 AS a, (doc_id + 1) % 2 AS b
      FROM documents
    )
    SELECT url, 'all' AS name, blk1 || chr(10) || chr(10) || blk2 AS cddl FROM base
    UNION ALL SELECT url, 'm' || a, blk1 FROM base
    UNION ALL SELECT url, 'm' || b, blk2 FROM base
"""


# ===========================================================================
# elements (interface mapping)
# ===========================================================================


def q_extract_elements(spark, sf_dir):
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    html = _cat(
        '<h4 id="h-', i, '"><dfn id="el-', i, '">el', i, "</dfn> element</h4>",
        '<dl class="element"><dt>DOM interface:</dt>',
        '<dd><a data-link-type="idl">HTMLElement', _s(F.col("doc_id") % 5),
        "</a></dd></dl>",
    )
    url = _cat("https://el.test/d", i, "/")
    pages = d.select("doc_id", url.alias("url"), html.alias("html"))
    return V.elements_table(extract_all(pages, ["elements"]))


ORACLE_EXTRACT_ELEMENTS = """
    SELECT 'https://el.test/d' || doc_id || '/' AS url,
           'el' || doc_id AS name,
           'https://el.test/d' || doc_id || '/#el-' || doc_id AS href,
           'HTMLElement' || (doc_id % 5) AS interface
    FROM documents
"""


# ===========================================================================
# events summary table (extractor surface)
# ===========================================================================


def q_extract_events(spark, sf_dir):
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    canc = F.when(F.col("doc_id") % 2 == 0, F.lit("Yes")).otherwise(F.lit("No"))
    html = _cat(
        "<table><thead><tr><th>Event</th><th>Interface</th><th>Bubbles</th>",
        "<th>Cancelable</th><th>Targets</th></tr></thead><tbody>",
        '<tr><td><dfn id="event-', i, '">ev', _s(F.col("doc_id") % 20),
        "</dfn></td>",
        "<td><code>IF", _s(F.col("doc_id") % 5), "</code></td><td>Yes</td><td>",
        canc,
        "</td><td>T", _s(F.col("doc_id") % 3), ", U", _s(F.col("doc_id") % 3),
        "</td></tr></tbody></table>",
    )
    url = _cat("https://ev.test/d", i, "/")
    pages = d.select("doc_id", url.alias("url"), html.alias("html"))
    t = V.events_table(extract_all(pages, ["events"]))
    return t.select(
        "url", "type", "interface", "bubbles", "cancelable",
        F.array_join("targets", ",").alias("targets_csv"), "href",
    )


ORACLE_EXTRACT_EVENTS = """
    SELECT 'https://ev.test/d' || doc_id || '/' AS url,
           'ev' || (doc_id % 20) AS type,
           'IF' || (doc_id % 5) AS interface,
           TRUE AS bubbles,
           (doc_id % 2 = 0) AS cancelable,
           'T' || (doc_id % 3) || ',U' || (doc_id % 3) AS targets_csv,
           'https://ev.test/d' || doc_id || '/#event-' || doc_id AS href
    FROM documents
"""


# ===========================================================================
# algorithms (W6 doc order)
# ===========================================================================


def q_extract_algorithms(spark, sf_dir):
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    html = _cat(
        '<div class="algorithm" data-algorithm="alg ', i, '" id="alg-', i, '">',
        "<ol><li>Step one ", i, ".</li><li>Step two.</li></ol></div>",
        '<div class="algorithm" data-algorithm="beta ', i, '">',
        "<ol><li>Only step.</li></ol></div>",
    )
    url = _cat("https://alg.test/d", i, "/")
    pages = d.select("doc_id", url.alias("url"), html.alias("html"))
    t = V.algorithms_table(extract_all(pages, ["algorithms"]))
    return t.select(
        "url", "algo_idx", "name", "href",
        F.size("steps").alias("n_steps"),
        F.col("steps")[0]["html"].alias("first_step"),
    )


ORACLE_EXTRACT_ALGORITHMS = """
    WITH base AS (
      SELECT doc_id, 'https://alg.test/d' || doc_id || '/' AS url FROM documents
    )
    SELECT url, 0 AS algo_idx, 'alg ' || doc_id AS name,
           url || '#alg-' || doc_id AS href, 2 AS n_steps,
           'Step one ' || doc_id || '.' AS first_step
    FROM base
    UNION ALL
    SELECT url, 1, 'beta ' || doc_id, NULL, 1, 'Only step.' FROM base
"""


# ===========================================================================
# spec metadata (title / generator / date)
# ===========================================================================


def q_spec_meta(spark, sf_dir):
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    day = _s(F.col("doc_id") % 28 + 1)
    gen = F.when(
        F.col("doc_id") % 2 == 0,
        F.lit('<meta name="generator" content="Bikeshed 1.0">'),
    ).otherwise(F.lit(""))
    html = _cat(
        "<title>Spec Title ", i, "</title>", gen,
        '<div class="head"><time>', day, " January 2024</time></div><p>body</p>",
    )
    url = _cat("https://meta.test/d", i, "/")
    pages = d.select("doc_id", url.alias("url"), html.alias("html"))
    extracts = extract_all(pages, ["title", "generator", "date"])
    return extracts.select(
        "url",
        _json_str("title").alias("title"),
        _json_str("generator").alias("generator"),
        _json_str("date").alias("date"),
    )


ORACLE_SPEC_META = """
    SELECT 'https://meta.test/d' || doc_id || '/' AS url,
           'Spec Title ' || doc_id AS title,
           CASE WHEN doc_id % 2 = 0 THEN 'bikeshed' END AS generator,
           (doc_id % 28 + 1) || ' January 2024' AS date
    FROM documents
"""


# ===========================================================================
# multipage merge (S6) + per-page absolute URLs (F3)
# ===========================================================================


def q_multipage_ids(spark, sf_dir):
    from reffy_spark.operators.multipage import merge_multipage

    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    spec_url = _cat("https://mp.test/s", i, "/")
    pages = d.select(
        "doc_id",
        spec_url.alias("spec_url"),
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("page_idx"),
    ).select(
        "doc_id",
        "spec_url",
        "page_idx",
        F.when(F.col("page_idx") == 0, F.col("spec_url")).otherwise(
            _cat(F.col("spec_url"), "p", _s(F.col("page_idx")))
        ).alias("url"),
        F.when(
            F.col("page_idx") == 0,
            _cat("<html><body><h2 id='a", i, "'>1. A</h2></body></html>"),
        ).otherwise(
            _cat(
                "<html><body><p id='x", i, "-", _s(F.col("page_idx")),
                "'>t</p></body></html>",
            )
        ).alias("html"),
    )
    merged = merge_multipage(pages)
    extracts = extract_all(
        merged, ["ids"], url_col="spec_url", html_col="html"
    )
    return V.ids_table(extracts, key="spec_url")


ORACLE_MULTIPAGE_IDS = """
    WITH base AS (
      SELECT doc_id, 'https://mp.test/s' || doc_id || '/' AS spec_url FROM documents
    )
    SELECT spec_url, spec_url || '#a' || doc_id AS id_url FROM base
    UNION ALL
    SELECT spec_url, spec_url || 'p1#x' || doc_id || '-1' FROM base
    UNION ALL
    SELECT spec_url, spec_url || 'p2#x' || doc_id || '-2' FROM base
"""


# ===========================================================================
# annotate-links (J8)
# ===========================================================================


def q_annotate_links(spark, sf_dir):
    d = _docs(spark, sf_dir)
    n = d.count()
    i = _s(F.col("doc_id"))
    t = (F.col("doc_id") * 7 + 7) % n
    links = d.select(
        _cat("spec-", i).alias("shortname"),
        _cat(
            "https://site-", _s(t % 20), ".test/spec-", _s(t), "/index.html"
        ).alias("page_url"),
        _cat("frag-", _s(t)).alias("fragment"),
    )
    specs = d.select(
        _cat("https://site-", _s(F.col("doc_id") % 20), ".test/spec-", i, "/").alias("url"),
        _cat("target-", i).alias("shortname"),
    )
    return PP.annotate_links(links, specs).select(
        "shortname", "page_url", "fragment", "specShortname"
    )


ORACLE_ANNOTATE_LINKS = """
    WITH n AS (SELECT COUNT(*) AS n FROM documents),
    l AS (
      SELECT doc_id, (doc_id * 7 + 7) % n.n AS t FROM documents, n
    )
    SELECT 'spec-' || doc_id AS shortname,
           'https://site-' || (t % 20) || '.test/spec-' || t || '/index.html' AS page_url,
           'frag-' || t AS fragment,
           'target-' || t AS specShortname
    FROM l
"""


# ===========================================================================
# J6: events_with_handlers (EventHandler inference via idlparsed)
# ===========================================================================


def _handler_extracts(spark, sf_dir):
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    ev = _s(F.col("doc_id") % 20)
    extra = F.when(
        F.col("doc_id") % 3 == 0,
        _cat("interface K", i, " { attribute EventHandler onev", ev, "; };\n"),
    ).otherwise(F.lit(""))
    idl = _cat(
        "interface J", i, " { attribute EventHandler onev", ev, "; };\n", extra
    )
    url = _cat("https://evh.test/d", i, "/")
    return d.select("doc_id", url.alias("url"), idl.alias("idl"))


def q_events_handlers(spark, sf_dir):
    extracts = _handler_extracts(spark, sf_dir)
    handlers = PP.event_handlers_table(PP.idlparsed(extracts))
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    url = _cat("https://evh.test/d", i, "/")
    events = d.select(
        url.alias("url"),
        _cat("ev", _s(F.col("doc_id") % 20)).alias("type"),
        F.lit(None).cast("string").alias("interface"),
    ).unionByName(
        d.select(
            url.alias("url"),
            _cat("other", i).alias("type"),
            _cat("X", i).alias("interface"),
        )
    )
    return PP.events_with_handlers(events, handlers).select("url", "type", "interface")


ORACLE_EVENTS_HANDLERS = """
    WITH base AS (
      SELECT doc_id, 'https://evh.test/d' || doc_id || '/' AS url FROM documents
    )
    SELECT url, 'ev' || (doc_id % 20) AS type,
           CASE WHEN doc_id % 3 <> 0 THEN 'J' || doc_id END AS interface
    FROM base
    UNION ALL
    SELECT url, 'other' || doc_id, 'X' || doc_id FROM base
"""


# ===========================================================================
# J9: mixin target expansion via includes statements
# ===========================================================================


def q_mixin_expansion(spark, sf_dir):
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    idl = _cat(
        "interface T", i, " { };\ninterface mixin M", _s(F.col("doc_id") % 6),
        " { };\nT", i, " includes M", _s(F.col("doc_id") % 6), ";\n",
    )
    url = _cat("https://mix.test/d", i, "/")
    extracts = d.select("doc_id", url.alias("url"), idl.alias("idl"))
    includes = PP.includes_table(PP.idlparsed(extracts))
    events = d.select(
        url.alias("url"),
        _cat("e", i).alias("type"),
        F.array(
            _cat("M", _s(F.col("doc_id") % 6)), _cat("Solo", i)
        ).alias("targets"),
    )
    out = PP.expand_mixin_targets(events, includes)
    return out.select("url", "type", F.array_join("targets", ",").alias("targets_csv"))


ORACLE_MIXIN_EXPANSION = """
    WITH tg AS (
      SELECT doc_id % 6 AS k,
             list_sort(list('T' || doc_id)) AS ts
      FROM documents GROUP BY doc_id % 6
    )
    SELECT 'https://mix.test/d' || d.doc_id || '/' AS url,
           'e' || d.doc_id AS type,
           array_to_string(list_sort(list_append(tg.ts, 'Solo' || d.doc_id)), ',')
             AS targets_csv
    FROM documents d JOIN tg ON tg.k = d.doc_id % 6
"""


# ===========================================================================
# J10: event-extension resolution
# ===========================================================================


def _extension_events(spark, sf_dir) -> DataFrame:
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    spec_url = _cat("https://h", _s(F.col("doc_id") % 8), ".test/spec-", i, "/")
    origs = d.select(
        _cat("o", i).alias("spec"),
        spec_url.alias("spec_url"),
        _cat("t", _s(F.col("doc_id") % 10)).alias("type"),
        _cat(spec_url, "#e", i).alias("href"),
        _cat("I", _s(F.col("doc_id") % 5)).alias("interface"),
        F.array(_cat("A", _s(F.col("doc_id") % 3))).alias("targets"),
        F.lit(False).alias("is_extension"),
    )
    # i%4==0: exact-href extension; i%4==1: exact href, conflicting
    # interface (stays unresolved); i%4==2: prefix-match extension
    e_href = (
        F.when(F.col("doc_id") % 4 == 2, _cat(spec_url, "#other", i))
        .otherwise(_cat(spec_url, "#e", i))
    )
    e_iface = F.when(
        F.col("doc_id") % 4 == 1, _cat("Z", i)
    ).otherwise(F.lit(None).cast("string"))
    exts = d.filter(F.col("doc_id") % 4 != 3).select(
        _cat("x", i).alias("spec"),
        F.lit("https://x.test/").alias("spec_url"),
        _cat("t", _s(F.col("doc_id") % 10)).alias("type"),
        e_href.alias("href"),
        e_iface.alias("interface"),
        F.array(_cat("E", _s(F.col("doc_id") % 4))).alias("targets"),
        F.lit(True).alias("is_extension"),
    )
    return origs.unionByName(exts)


def q_event_extensions(spark, sf_dir):
    events = _extension_events(spark, sf_dir)
    out = PP.resolve_event_extensions(events)
    return out.select(
        "spec", "type", "href", "interface",
        F.array_join(F.coalesce("targets", F.array().cast("array<string>")), ",").alias(
            "targets_csv"
        ),
        F.array_join("extendedIn", ",").alias("extended_csv"),
        "is_extension",
    )


ORACLE_EVENT_EXTENSIONS = """
    WITH base AS (
      SELECT doc_id,
             'https://h' || (doc_id % 8) || '.test/spec-' || doc_id || '/' AS spec_url
      FROM documents
    )
    -- originals: i%4 in (0,2) get merged targets + extendedIn
    SELECT 'o' || doc_id AS spec, 't' || (doc_id % 10) AS type,
           spec_url || '#e' || doc_id AS href,
           'I' || (doc_id % 5) AS interface,
           CASE
             WHEN doc_id % 4 IN (0, 2) AND 'A' || (doc_id % 3) <> 'E' || (doc_id % 4)
               THEN 'A' || (doc_id % 3) || ',E' || (doc_id % 4)
             ELSE 'A' || (doc_id % 3)
           END AS targets_csv,
           CASE WHEN doc_id % 4 IN (0, 2) THEN 'x' || doc_id ELSE '' END AS extended_csv,
           FALSE AS is_extension
    FROM base
    UNION ALL
    -- i%4==1 extensions stay unresolved (interface conflict)
    SELECT 'x' || doc_id, 't' || (doc_id % 10),
           spec_url || '#e' || doc_id, 'Z' || doc_id,
           'E' || (doc_id % 4), '', TRUE
    FROM base WHERE doc_id % 4 = 1
"""


# ===========================================================================
# idlnames crawl index
# ===========================================================================


def q_idlnames(spark, sf_dir):
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    partial = F.when(
        F.col("doc_id") % 3 == 0,
        _cat("partial interface N", _s((F.col("doc_id") + 1) % 50), " { };\n"),
    ).otherwise(F.lit(""))
    idl = _cat("interface N", _s(F.col("doc_id") % 50), " { };\n", partial)
    url = _cat("https://names.test/d", i, "/")
    extracts = d.select("doc_id", url.alias("url"), idl.alias("idl"))
    out = PP.idlnames(PP.idlparsed(extracts))
    return out.select(
        "name",
        "idl_type",
        F.array_join("defined_in", ",").alias("defined_csv"),
        F.array_join("extended_in", ",").alias("extended_csv"),
    )


ORACLE_IDLNAMES = """
    WITH defs AS (
      SELECT 'N' || (doc_id % 50) AS name,
             'https://names.test/d' || doc_id || '/' AS spec
      FROM documents
    ), exts AS (
      SELECT 'N' || ((doc_id + 1) % 50) AS name,
             'https://names.test/d' || doc_id || '/' AS spec
      FROM documents WHERE doc_id % 3 = 0
    ), agg_d AS (
      SELECT name, array_to_string(list_sort(list(DISTINCT spec)), ',') AS defined_csv
      FROM defs GROUP BY name
    ), agg_e AS (
      SELECT name, array_to_string(list_sort(list(DISTINCT spec)), ',') AS extended_csv
      FROM exts GROUP BY name
    )
    SELECT d.name, 'interface' AS idl_type, d.defined_csv,
           COALESCE(e.extended_csv, '') AS extended_csv
    FROM agg_d d LEFT JOIN agg_e e ON d.name = e.name
"""


# ===========================================================================
# A9 core: cssmerge value union
# ===========================================================================


def q_cssmerge(spark, sf_dir):
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    # even docs carry a base `value` for prop-(i%30) (min url wins as the
    # base definition), odd docs contribute `newValues` extensions
    rows = d.select(
        _cat("prop-", _s(F.col("doc_id") % 30)).alias("name"),
        _cat("https://cssm.test/d", i, "/").alias("url"),
        F.when(F.col("doc_id") % 2 == 0, _cat("base", i)).alias("value"),
        F.when(F.col("doc_id") % 2 == 1, _cat("new", i)).alias("newValues"),
    )
    return PP.cssmerge_properties(rows).select("name", "value")


ORACLE_CSSMERGE = """
    WITH rows_ AS (
      SELECT 'prop-' || (doc_id % 30) AS name,
             'https://cssm.test/d' || doc_id || '/' AS url,
             CASE WHEN doc_id % 2 = 0 THEN 'base' || doc_id END AS value,
             CASE WHEN doc_id % 2 = 1 THEN 'new' || doc_id END AS newValues
      FROM documents
    ), base AS (
      SELECT name, ARG_MIN(value, url) AS base_value
      FROM rows_ WHERE value IS NOT NULL GROUP BY name
    ), exts AS (
      SELECT name,
             array_to_string(
               list_transform(
                 list_sort(list({'u': url, 'n': newValues})), s -> s.n),
               ' | ') AS new_values
      FROM rows_ WHERE newValues IS NOT NULL GROUP BY name
    )
    SELECT COALESCE(b.name, e.name) AS name,
           CASE
             WHEN b.base_value IS NOT NULL AND e.new_values IS NOT NULL
               THEN b.base_value || ' | ' || e.new_values
             ELSE COALESCE(b.base_value, e.new_values)
           END AS value
    FROM base b FULL OUTER JOIN exts e ON b.name = e.name
"""


# ===========================================================================
# css propdef tables (A5 merge strategy surface)
# ===========================================================================


def q_extract_css(spark, sf_dir):
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    html = _cat(
        '<table class="propdef"><tr><th>Name:</th>',
        '<td><dfn id="propdef-p', i, '">p', i, "</dfn></td></tr>",
        "<tr><th>Value:</th><td>none | v", i, "</td></tr>",
        "<tr><th>Initial:</th><td>none</td></tr>",
        "<tr><th>Inherited:</th><td>no</td></tr></table>",
        '<table class="propdef"><tr><th>Name:</th><td>p', i, "</td></tr>",
        "<tr><th>New values:</th><td>extra", i, "</td></tr>",
        "<tr><th>Initial:</th><td>none</td></tr></table>",
    )
    url = _cat("https://css.test/d", i, "/")
    pages = d.select("doc_id", url.alias("url"), html.alias("html"))
    t = V.css_properties_table(extract_all(pages, ["css"]))
    return t.select("url", "name", "href", "value", "initial", "inherited")


ORACLE_EXTRACT_CSS = """
    SELECT 'https://css.test/d' || doc_id || '/' AS url,
           'p' || doc_id AS name,
           'https://css.test/d' || doc_id || '/#propdef-p' || doc_id AS href,
           'none | v' || doc_id || ' | extra' || doc_id AS value,
           'none' AS initial,
           'no' AS inherited
    FROM documents
"""


EXT_QUERIES = {
    "extract_dfns": q_extract_dfns,
    "extract_ids": q_extract_ids,
    "extract_refs": q_extract_refs,
    "extract_idl": q_extract_idl,
    "extract_cddl": q_extract_cddl,
    "extract_elements": q_extract_elements,
    "extract_events": q_extract_events,
    "extract_algorithms": q_extract_algorithms,
    "spec_meta": q_spec_meta,
    "multipage_ids": q_multipage_ids,
    "annotate_links": q_annotate_links,
    "events_handlers": q_events_handlers,
    "mixin_expansion": q_mixin_expansion,
    "event_extensions": q_event_extensions,
    "idlnames": q_idlnames,
    "cssmerge": q_cssmerge,
    "extract_css": q_extract_css,
}

EXT_ORACLES = {
    "extract_dfns": ORACLE_EXTRACT_DFNS,
    "extract_ids": ORACLE_EXTRACT_IDS,
    "extract_refs": ORACLE_EXTRACT_REFS,
    "extract_idl": ORACLE_EXTRACT_IDL,
    "extract_cddl": ORACLE_EXTRACT_CDDL,
    "extract_elements": ORACLE_EXTRACT_ELEMENTS,
    "extract_events": ORACLE_EXTRACT_EVENTS,
    "extract_algorithms": ORACLE_EXTRACT_ALGORITHMS,
    "spec_meta": ORACLE_SPEC_META,
    "multipage_ids": ORACLE_MULTIPAGE_IDS,
    "annotate_links": ORACLE_ANNOTATE_LINKS,
    "events_handlers": ORACLE_EVENTS_HANDLERS,
    "mixin_expansion": ORACLE_MIXIN_EXPANSION,
    "event_extensions": ORACLE_EVENT_EXTENSIONS,
    "idlnames": ORACLE_IDLNAMES,
    "cssmerge": ORACLE_CSSMERGE,
    "extract_css": ORACLE_EXTRACT_CSS,
}


# ===========================================================================
# J5: idlparsed dfn-href attachment
# ===========================================================================


def q_idl_dfn_hrefs(spark, sf_dir):
    """J5 candidate-name priority join: IDL from doc_id arithmetic,
    dfns constructed so each lookup class is exercised — method dfn with
    args form (i%3!=0), ambiguous attribute dfns (i%5==0), construct
    dfn always present."""
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    url = _cat("https://j5.test/d", i, "/")
    overload = F.when(
        F.col("doc_id") % 4 == 0,
        _cat("  undefined m", i, "(DOMString a, long b);\n"),
    ).otherwise(F.lit(""))
    idl = _cat(
        "interface I", i, " {\n",
        "  undefined m", i, "(DOMString a);\n",
        overload,
        "  attribute long attr", i, ";\n};\n",
    )
    extracts = d.select("doc_id", url.alias("url"), idl.alias("idl"))
    parsed = PP.idlparsed(extracts)

    iface_dfn = d.select(
        url.alias("url"), F.lit("interface").alias("type"),
        F.array().cast("array<string>").alias("for"),
        F.array(_cat("I", i)).alias("linkingText"),
        _cat(url, "#iface").alias("href"),
    )
    method_dfn = d.filter(F.col("doc_id") % 3 != 0).select(
        url.alias("url"), F.lit("method").alias("type"),
        F.array(_cat("I", i)).alias("for"),
        F.array(_cat("m", i, "(a)")).alias("linkingText"),
        _cat(url, "#m").alias("href"),
    )
    attr_dfn1 = d.filter(F.col("doc_id") % 5 == 0).select(
        url.alias("url"), F.lit("attribute").alias("type"),
        F.array(_cat("I", i)).alias("for"),
        F.array(_cat("attr", i)).alias("linkingText"),
        _cat(url, "#a1").alias("href"),
    )
    attr_dfn2 = d.filter(F.col("doc_id") % 5 == 0).select(
        url.alias("url"), F.lit("attribute").alias("type"),
        F.array(_cat("I", i)).alias("for"),
        F.array(_cat("attr", i)).alias("linkingText"),
        _cat(url, "#a2").alias("href"),
    )
    dfns = iface_dfn.unionByName(method_dfn).unionByName(attr_dfn1).unionByName(
        attr_dfn2
    )
    out = PP.idl_dfn_hrefs(parsed, dfns)
    return out.select(
        "url", "construct", "member", "member_type", "overload_index", "href"
    )


ORACLE_IDL_DFN_HREFS = """
    WITH base AS (
      SELECT doc_id, 'https://j5.test/d' || doc_id || '/' AS url FROM documents
    )
    -- construct rows always resolve to the interface dfn
    SELECT url, 'I' || doc_id AS construct, NULL AS member,
           NULL AS member_type, 0 AS overload_index, url || '#iface' AS href
    FROM base
    UNION ALL
    -- first overload: dfn "m{i}(a)" matches via the plain-args candidate
    SELECT url, 'I' || doc_id, 'm' || doc_id, 'operation', 0,
           CASE WHEN doc_id % 3 <> 0 THEN url || '#m' END
    FROM base
    UNION ALL
    -- second overload (i%4==0): args "(a, b)" miss the "(a)" dfn, but the
    -- bare "m{i}()" fallback... does NOT match "m{i}(a)" either -> href
    -- only via no candidate -> NULL
    SELECT url, 'I' || doc_id, 'm' || doc_id, 'operation', 1, NULL
    FROM base WHERE doc_id % 4 = 0
    UNION ALL
    -- attributes: two identical dfns (i%5==0) -> ambiguous -> NULL;
    -- otherwise no dfn -> NULL
    SELECT url, 'I' || doc_id, 'attr' || doc_id, 'attribute', 0, NULL
    FROM base
"""


# ===========================================================================
# J14: interface-tree / bubbling-path attachment
# ===========================================================================


def q_interface_tree(spark, sf_dir):
    """Events carrying interfaces that resolve to a known tree directly
    (i%4==0 → Node), via inheritance (i%4==1 → El{i} → Node;
    i%4==2 → Req{i} → IDBRequest), or not at all (i%4==3)."""
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    iface = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("Node"))
        .when(F.col("doc_id") % 4 == 1, _cat("El", i))
        .when(F.col("doc_id") % 4 == 2, _cat("Req", i))
        .otherwise(_cat("Other", i))
    )
    events = d.select(_cat("ev", i).alias("type"), iface.alias("interface"))
    interfaces = d.filter(F.col("doc_id") % 4 == 1).select(
        _cat("El", i).alias("name"), F.lit("Node").alias("inheritance")
    ).unionByName(
        d.filter(F.col("doc_id") % 4 == 2).select(
            _cat("Req", i).alias("name"), F.lit("IDBRequest").alias("inheritance")
        )
    )
    out = PP.attach_interface_tree(events, interfaces)
    return out.select(
        "type", "interface", "tree", "tree_interface", "tree_depth",
        F.array_join("bubblingPath", ",").alias("bubbling_csv"),
    )


ORACLE_INTERFACE_TREE = """
    SELECT 'ev' || doc_id AS type,
           CASE doc_id % 4 WHEN 0 THEN 'Node' WHEN 1 THEN 'El' || doc_id
                WHEN 2 THEN 'Req' || doc_id ELSE 'Other' || doc_id END AS interface,
           CASE WHEN doc_id % 4 IN (0, 1) THEN 'dom'
                WHEN doc_id % 4 = 2 THEN 'IndexedDB' END AS tree,
           CASE WHEN doc_id % 4 IN (0, 1) THEN 'Node'
                WHEN doc_id % 4 = 2 THEN 'IDBRequest' END AS tree_interface,
           CASE WHEN doc_id % 4 IN (0, 1) THEN 3
                WHEN doc_id % 4 = 2 THEN 2 END AS tree_depth,
           CASE WHEN doc_id % 4 IN (0, 1) THEN 'Node,Document,Window'
                WHEN doc_id % 4 = 2 THEN 'IDBTransaction,IDBDatabase'
                ELSE NULL END AS bubbling_csv
    FROM documents
"""


# ===========================================================================
# csscomplete + patch-dfns
# ===========================================================================


def q_csscomplete(spark, sf_dir):
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    url = _cat("https://cc.test/d", i, "/")
    css_props = d.select(
        url.alias("url"),
        _cat("prop-", _s(F.col("doc_id") % 40)).alias("name"),
        _cat(url, "#p").alias("href"),
        F.lit("none").alias("value"),
    ).unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            url.alias("url"), F.lit("property-name").alias("name"),
            _cat(url, "#pn").alias("href"), F.lit(None).cast("string").alias("value"),
        )
    )
    dfns = d.select(
        url.alias("url"),
        F.array(_cat("-webkit-extra-", _s(F.col("doc_id") % 9))).alias("linkingText"),
        F.lit("property").alias("type"),
        (F.col("doc_id") % 2 == 0).alias("informative"),
        _cat(url, "#prose").alias("href"),
    )
    out = PP.csscomplete_properties(css_props, dfns)
    return out.select(
        "url", "name", "href", "value",
        F.array_join("styleDeclaration", ",").alias("style_csv"),
    )


ORACLE_CSSCOMPLETE = """
    WITH base AS (
      SELECT doc_id, 'https://cc.test/d' || doc_id || '/' AS url FROM documents
    )
    -- camelCase of 'prop-13' is 'prop13' (digits have no uppercase)
    SELECT url, 'prop-' || (doc_id % 40) AS name, url || '#p' AS href,
           'none' AS value,
           'prop-' || (doc_id % 40) || ',prop' || (doc_id % 40) AS style_csv
    FROM base
    UNION ALL
    -- prose-defined -webkit- properties from non-informative dfns
    SELECT url, '-webkit-extra-' || (doc_id % 9), url || '#prose', NULL,
           '-webkit-extra-' || (doc_id % 9) ||
           ',WebkitExtra' || (doc_id % 9) ||
           ',webkitExtra' || (doc_id % 9)
    FROM base WHERE doc_id % 2 <> 0
"""


def q_patch_dfns(spark, sf_dir):
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    url = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("https://w3c.github.io/deviceorientation/"))
        .when(F.col("doc_id") % 4 == 1, F.lit("https://www.w3.org/TR/portals/x/"))
        .when(F.col("doc_id") % 4 == 2, F.lit("https://www.w3.org/TR/WebCryptoAPI/"))
        .otherwise(F.lit("https://plain.test/spec/"))
    )
    lt = F.when(
        F.col("doc_id") % 8 == 0, F.array(F.lit("PermissionState"))
    ).when(
        F.col("doc_id") % 8 == 1, F.array(F.lit("MessageEventSource"))
    ).otherwise(F.array(_cat("term-", i)))
    dfns = d.select(
        F.col("doc_id"),
        url.alias("url"),
        lt.alias("linkingText"),
        F.array().cast("array<string>").alias("for"),
        F.lit("public").alias("access"),
    )
    out = PP.patch_dfns(dfns)
    return out.select(
        "doc_id", "url", F.array_join("linkingText", ",").alias("lt_csv"), "access"
    )


ORACLE_PATCH_DFNS = """
    WITH base AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'https://w3c.github.io/deviceorientation/'
               WHEN 1 THEN 'https://www.w3.org/TR/portals/x/'
               WHEN 2 THEN 'https://www.w3.org/TR/WebCryptoAPI/'
               ELSE 'https://plain.test/spec/' END AS url,
             CASE WHEN doc_id % 8 = 0 THEN 'PermissionState'
                  WHEN doc_id % 8 = 1 THEN 'MessageEventSource'
                  ELSE 'term-' || doc_id END AS lt_csv
      FROM documents
    )
    SELECT doc_id, url, lt_csv,
           CASE WHEN doc_id % 4 = 2 THEN 'private' ELSE 'public' END AS access
    FROM base
    WHERE NOT (doc_id % 4 = 0 AND doc_id % 8 = 0)      -- orientation dup drop
      AND NOT (doc_id % 4 = 1 AND doc_id % 8 = 1)      -- portals dup drop
"""


EXT_QUERIES.update(
    {
        "idl_dfn_hrefs": q_idl_dfn_hrefs,
        "interface_tree": q_interface_tree,
        "csscomplete": q_csscomplete,
        "patch_dfns": q_patch_dfns,
    }
)

EXT_ORACLES.update(
    {
        "idl_dfn_hrefs": ORACLE_IDL_DFN_HREFS,
        "interface_tree": ORACLE_INTERFACE_TREE,
        "csscomplete": ORACLE_CSSCOMPLETE,
        "patch_dfns": ORACLE_PATCH_DFNS,
    }
)


# ===========================================================================
# A9 full: crawl-level cssmerge consolidation
# ===========================================================================


def q_cssmerge_full(spark, sf_dir):
    """Latest-level base election + newValues union + extended hrefs over
    arithmetic per-spec property rows (even docs define, odd docs extend
    prop-(doc_id % 20))."""
    from reffy_spark.plans.cssmerge import consolidate_features

    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    name = _cat("prop-", _s(F.col("doc_id") % 20))
    href = _cat("https://cm.test/d", i, "/#p")
    feats = d.select(
        F.lit("properties").alias("category"),
        name.alias("name"),
        F.lit(None).cast("string").alias("for"),
        href.alias("href"),
        F.when(F.col("doc_id") % 2 == 0, _cat("v", i)).alias("value"),
        F.when(F.col("doc_id") % 2 == 1, _cat("n", i)).alias("new_values"),
        F.lit(None).cast("string").alias("legacy_alias_of"),
        _cat("series-", _s(F.col("doc_id") % 20)).alias("series"),
        F.col("doc_id").cast("double").alias("series_version"),
        _cat("https://cm.test/d", i, "/").alias("spec_url"),
    )
    out = consolidate_features(feats)
    return out.select(
        "category", "name", "href", "syntax",
        F.array_join("extended", ",").alias("extended_csv"),
    )


ORACLE_CSSMERGE_FULL = """
    WITH rows_ AS (
      SELECT doc_id, doc_id % 20 AS k,
             'https://cm.test/d' || doc_id || '/#p' AS href
      FROM documents
    ),
    best AS (
      SELECT k, MAX(doc_id) AS bi FROM rows_ WHERE doc_id % 2 = 0 GROUP BY k
    ),
    exts AS (
      SELECT k,
             string_agg('n' || doc_id, ' | ' ORDER BY doc_id) AS ext_values,
             string_agg(href, ',' ORDER BY doc_id) AS ext_hrefs
      FROM rows_ WHERE doc_id % 2 = 1 GROUP BY k
    )
    SELECT 'properties' AS category, 'prop-' || b.k AS name,
           'https://cm.test/d' || b.bi || '/#p' AS href,
           'v' || b.bi || COALESCE(' | ' || e.ext_values, '') AS syntax,
           COALESCE(e.ext_hrefs, '') AS extended_csv
    FROM best b LEFT JOIN exts e ON b.k = e.k
"""


EXT_QUERIES["cssmerge_full"] = q_cssmerge_full
EXT_ORACLES["cssmerge_full"] = ORACLE_CSSMERGE_FULL


# ===========================================================================
# idlnames fragment assembly (idlnames.js:40-391)
# ===========================================================================


def _idlnames_world(spark, sf_dir):
    """Arithmetic IDL corpus: doc i defines N{i%40} (inheriting N{k-1}
    inside each block of 8), every 3rd doc extends the next name with a
    partial, every 5th doc defines a mixin M{i%7} and includes it into
    N{(i+2)%40}."""
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    k = F.col("doc_id") % 40
    inh = F.when(k % 8 != 0, _cat(" : N", _s(k - 1))).otherwise(F.lit(""))
    def_line = _cat("interface N", _s(k), inh, " { attribute long a", i, "; };")
    partial_line = F.when(
        F.col("doc_id") % 3 == 0,
        _cat(
            "\npartial interface N",
            _s((F.col("doc_id") + 1) % 40),
            " { const short c",
            i,
            " = 1; };",
        ),
    ).otherwise(F.lit(""))
    mixin_line = F.when(
        F.col("doc_id") % 5 == 0,
        _cat("\ninterface mixin M", _s(F.col("doc_id") % 7), " { };"),
    ).otherwise(F.lit(""))
    include_line = F.when(
        F.col("doc_id") % 5 == 0,
        _cat(
            "\nN",
            _s((F.col("doc_id") + 2) % 40),
            " includes M",
            _s(F.col("doc_id") % 7),
            ";",
        ),
    ).otherwise(F.lit(""))
    url = _cat("https://idl.test/d", i, "/")
    idl = F.concat(def_line, partial_line, mixin_line, include_line)
    extracts = d.select("doc_id", url.alias("url"), idl.alias("idl"))
    titles = d.select(url.alias("url"), _cat("T", i).alias("title"))
    return extracts, titles


def q_idlnames_fragments(spark, sf_dir):
    extracts, titles = _idlnames_world(spark, sf_dir)
    out = PP.idlnames_fragments(PP.idlparsed(extracts), titles)
    return out.select(
        "name",
        "idl_type",
        "defined_spec",
        "fragment",
        F.array_join("extended_specs", ",").alias("exts_csv"),
        F.array_join("deps", ",").alias("deps_csv"),
    )


ORACLE_IDLNAMES_FRAGMENTS = """
    WITH RECURSIVE docs AS (
      SELECT doc_id,
             doc_id % 40 AS k,
             'https://idl.test/d' || doc_id || '/' AS url,
             'T' || doc_id AS title
      FROM documents
    ),
    -- per-doc source lines (also the per-construct fragments)
    def_rows AS (
      SELECT 'N' || k AS name, url, title,
             'interface N' || k ||
               CASE WHEN k % 8 <> 0 THEN ' : N' || (k - 1) ELSE '' END ||
               ' { attribute long a' || doc_id || '; };' AS fragment
      FROM docs
    ),
    mixin_rows AS (
      SELECT 'M' || (doc_id % 7) AS name, url, title,
             'interface mixin M' || (doc_id % 7) || ' { };' AS fragment
      FROM docs WHERE doc_id % 5 = 0
    ),
    ext_rows AS (
      SELECT 'N' || ((doc_id + 1) % 40) AS name, url, title,
             'partial interface N' || ((doc_id + 1) % 40) ||
               ' { const short c' || doc_id || ' = 1; };' AS fragment
      FROM docs WHERE doc_id % 3 = 0
      UNION ALL
      SELECT 'N' || ((doc_id + 2) % 40), url, title,
             'N' || ((doc_id + 2) % 40) || ' includes M' || (doc_id % 7) || ';'
      FROM docs WHERE doc_id % 5 = 0
    ),
    all_defs AS (
      SELECT * FROM def_rows UNION ALL SELECT * FROM mixin_rows
    ),
    main AS (
      SELECT name,
             MIN(url) AS defined_spec,
             ARG_MIN(title, url) AS title,
             ARG_MIN(fragment, url) AS fragment
      FROM all_defs GROUP BY name
    ),
    exts AS (
      SELECT name,
             string_agg('// Source: ' || title || ' (' || url || ')' ||
                        chr(10) || fragment, chr(10) || chr(10) ORDER BY url)
               AS ext_frag,
             string_agg(url, ',' ORDER BY url) AS exts_csv
      FROM ext_rows GROUP BY name
    ),
    names_idx AS (SELECT DISTINCT name FROM all_defs
                  UNION SELECT DISTINCT name FROM ext_rows),
    edges AS (
      SELECT DISTINCT 'N' || k AS name, 'N' || (k - 1) AS dep
      FROM docs WHERE k % 8 <> 0
        AND ('N' || (k - 1)) IN (SELECT name FROM names_idx)
      UNION
      SELECT DISTINCT 'N' || ((doc_id + 2) % 40), 'M' || (doc_id % 7)
      FROM docs WHERE doc_id % 5 = 0
        AND ('M' || (doc_id % 7)) IN (SELECT name FROM names_idx)
    ),
    closure AS (
      SELECT name, dep FROM edges
      UNION
      SELECT c.name, e.dep FROM closure c JOIN edges e ON c.dep = e.name
    ),
    deps AS (
      SELECT name, array_to_string(list_sort(list(DISTINCT dep)), ',') AS deps_csv
      FROM closure WHERE name <> dep GROUP BY name
    )
    SELECT m.name,
           CASE WHEN m.name LIKE 'M%' THEN 'interface mixin'
                ELSE 'interface' END AS idl_type,
           m.defined_spec,
           '// Source: ' || m.title || ' (' || m.defined_spec || ')' ||
             chr(10) || m.fragment ||
             COALESCE(chr(10) || chr(10) || e.ext_frag, '') AS fragment,
           COALESCE(e.exts_csv, '') AS exts_csv,
           COALESCE(d.deps_csv, '') AS deps_csv
    FROM main m
    LEFT JOIN exts e ON m.name = e.name
    LEFT JOIN deps d ON m.name = d.name
"""


# ===========================================================================
# check-missing-dfns: expected dfns + matchIdlDfn report
# ===========================================================================


def q_missing_dfns(spark, sf_dir):
    """Expected-dfn extraction + matchIdlDfn join: doc i defines
    I{i} { attribute a{i}; undefined f{i}(x); }; the dfns table carries
    the attribute dfn only for even docs and the method dfn only for
    docs divisible by 3 — rows with null href are the missing-dfns
    report (check-missing-dfns.js:398-460)."""
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    url = _cat("https://md.test/d", i, "/")
    idl = _cat(
        "interface I", i, " { attribute long a", i,
        "; undefined f", i, "(long x); };",
    )
    parsed = PP.idlparsed(d.select("doc_id", url.alias("url"), idl.alias("idl")))
    expected = PP.expected_dfns_from_idl(parsed)
    root_dfns = d.select(
        url.alias("url"),
        F.lit("interface").alias("type"),
        F.array().cast("array<string>").alias("for"),
        F.array(_cat("I", i)).alias("linkingText"),
        _cat(url, "#i").alias("href"),
        F.lit(0).alias("dfn_idx"),
    )
    attr_dfns = d.filter(F.col("doc_id") % 2 == 0).select(
        url.alias("url"),
        F.lit("attribute").alias("type"),
        F.array(_cat("I", i)).alias("for"),
        F.array(_cat("a", i)).alias("linkingText"),
        _cat(url, "#a").alias("href"),
        F.lit(1).alias("dfn_idx"),
    )
    method_dfns = d.filter(F.col("doc_id") % 3 == 0).select(
        url.alias("url"),
        F.lit("method").alias("type"),
        F.array(_cat("I", i)).alias("for"),
        F.array(_cat("f", i, "(x)")).alias("linkingText"),
        _cat(url, "#f").alias("href"),
        F.lit(2).alias("dfn_idx"),
    )
    dfns = root_dfns.unionByName(attr_dfns).unionByName(method_dfns)
    out = PP.match_idl_dfns(expected, dfns)
    return out.select(
        "spec",
        "root",
        "member",
        "dfn_type",
        F.array_join("linking", "|").alias("linking_csv"),
        F.coalesce("href", F.lit("MISSING")).alias("href"),
    )


ORACLE_MISSING_DFNS = """
    WITH base AS (
      SELECT doc_id, 'https://md.test/d' || doc_id || '/' AS url
      FROM documents
    )
    SELECT url AS spec, 'I' || doc_id AS root, CAST(NULL AS VARCHAR) AS member,
           'interface' AS dfn_type, 'I' || doc_id AS linking_csv,
           url || '#i' AS href
    FROM base
    UNION ALL
    SELECT url, 'I' || doc_id, 'a' || doc_id, 'attribute', 'a' || doc_id,
           CASE WHEN doc_id % 2 = 0 THEN url || '#a' ELSE 'MISSING' END
    FROM base
    UNION ALL
    SELECT url, 'I' || doc_id, 'f' || doc_id, 'method', 'f' || doc_id || '(x)',
           CASE WHEN doc_id % 3 = 0 THEN url || '#f' ELSE 'MISSING' END
    FROM base
"""


EXT_QUERIES["idlnames_fragments"] = q_idlnames_fragments
EXT_ORACLES["idlnames_fragments"] = ORACLE_IDLNAMES_FRAGMENTS
EXT_QUERIES["missing_dfns"] = q_missing_dfns
EXT_ORACLES["missing_dfns"] = ORACLE_MISSING_DFNS


# ===========================================================================
# seed filters (P1 + P2 + §2.7 versions), cache-info join (J3),
# fetch fallback (J2), trimSpaces (F2)
# ===========================================================================


def q_seed_filters(spark, sf_dir):
    """P1 discontinued filter + P2 crawl-url pick + versions union over an
    arithmetic browser-specs-style seed list."""
    from reffy_spark.sources.seeds import (
        filter_active,
        select_crawl_url,
        with_versions,
    )

    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    url = _cat("https://seed.test/s", i, "/")
    standing = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("discontinued"))
        .when(F.col("doc_id") % 5 == 1, F.lit(None).cast("string"))
        .otherwise(F.lit("good"))
    )
    release = F.when(
        F.col("doc_id") % 3 == 0,
        F.struct(_cat("https://www.w3.org/TR/s", i, "/").alias("url")),
    )
    nightly = F.when(
        F.col("doc_id") % 2 == 0,
        F.struct(_cat("https://n.test/s", i, "/").alias("url")),
    )
    seeds = d.select(
        url.alias("url"),
        standing.alias("standing"),
        release.alias("release"),
        nightly.alias("nightly"),
    )
    out = with_versions(select_crawl_url(filter_active(seeds)))
    return out.select(
        "url",
        "url_to_crawl",
        F.array_join("versions", ",").alias("versions_csv"),
    )


ORACLE_SEED_FILTERS = """
    WITH base AS (
      SELECT doc_id,
             'https://seed.test/s' || doc_id || '/' AS url,
             CASE WHEN doc_id % 3 = 0
                  THEN 'https://www.w3.org/TR/s' || doc_id || '/' END AS rel,
             CASE WHEN doc_id % 2 = 0
                  THEN 'https://n.test/s' || doc_id || '/' END AS night
      FROM documents
      WHERE doc_id % 5 <> 0
    )
    SELECT url,
           COALESCE(night, url) AS url_to_crawl,
           -- DuckDB's list_distinct does not preserve order; the three
           -- candidate URLs are distinct by construction, so plain filter
           array_to_string(
             list_filter([url, rel, night], x -> x IS NOT NULL), ',') AS versions_csv
    FROM base
"""


def q_cache_info(spark, sf_dir):
    """J3 freshest-capture election: 1 row per canonical URL from a table
    of multiple captures (max warc_ts, tie-break max page_url)."""
    from reffy_spark.operators.crawler import freshest_capture

    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    canon = _cat("https://cache.test/p", _s(F.col("doc_id") % 100), "/")
    pages = d.select(
        canon.alias("url_canon"),
        _cat(canon, "v", i).alias("page_url"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(hours=(F.col("doc_id") % 7).cast("int"))
        ).alias("warc_ts"),
        _cat("h", i).cast("binary").alias("html"),
    )
    out = freshest_capture(pages)
    # crawlCacheInfo analog (specs-crawler.js:87-98): etag = content
    # digest, last_modified = the winning capture's timestamp
    return out.select(
        "url_canon",
        "page_url",
        F.col("html").cast("string").alias("html_str"),
        F.md5(F.col("html")).alias("etag"),
        _s(F.col("warc_ts")).alias("last_modified"),
    )


ORACLE_CACHE_INFO = """
    SELECT url_canon, page_url, html_str, md5(html_str) AS etag,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_modified
    FROM (
      SELECT 'https://cache.test/p' || (doc_id % 100) || '/' AS url_canon,
             'https://cache.test/p' || (doc_id % 100) || '/v' || doc_id AS page_url,
             'h' || doc_id AS html_str,
             TIMESTAMP '2024-01-01 00:00:00'
               + (doc_id % 7) * INTERVAL 1 HOUR AS ts,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id % 100
               ORDER BY doc_id % 7 DESC,
                 'https://cache.test/p' || (doc_id % 100) || '/v' || doc_id DESC
             ) AS rn
      FROM documents
    ) WHERE rn = 1
"""


def q_fetch_fallback(spark, sf_dir):
    """J2: fetch join + keys-only anti-join fallback — docs divisible by 4
    are missing from the pages table and come back as notfound rows."""
    from reffy_spark.operators.crawler import fetch_with_fallback

    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    canon = _cat("https://f.test/p", i, "/")
    pages = d.filter(F.col("doc_id") % 4 != 0).select(
        canon.alias("url_canon"),
        canon.alias("page_url"),
        _cat("h", i).cast("binary").alias("html"),
    )
    batch = d.select(
        canon.alias("url_canon"), (F.col("doc_id") % 3).cast("int").alias("depth")
    )
    ok, missed = fetch_with_fallback(pages, batch)
    return ok.select(
        "url_canon", "depth", F.lit("ok").alias("status")
    ).unionByName(missed.select("url_canon", "depth", F.lit("notfound").alias("status")))


ORACLE_FETCH_FALLBACK = """
    SELECT 'https://f.test/p' || doc_id || '/' AS url_canon,
           CAST(doc_id % 3 AS INT) AS depth,
           CASE WHEN doc_id % 4 = 0 THEN 'notfound' ELSE 'ok' END AS status
    FROM documents
"""


def q_trim_spaces(spark, sf_dir):
    """F2 trimSpaces: de-indent code blocks (common leading-space count of
    lines 2+ dropped, lines rstripped, blank lines blanked)."""
    from reffy_spark.functions.text import trim_spaces_udf

    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    block = _cat(
        "function f", i, "() {  \n",
        "    let a = ", i, ";   \n",
        "      let b = a + ", i, ";\n",
        "   \n",
        "    return b;  \n",
        "  }",
    )
    return d.select(
        "doc_id", trim_spaces_udf(block).alias("trimmed")
    )


ORACLE_TRIM_SPACES = """
    -- common indent of lines 2+ is 2 (the closing brace line): each
    -- non-blank line loses 2 leading spaces and its trailing whitespace
    SELECT doc_id,
           'function f' || doc_id || '() {' || chr(10) ||
           '  let a = ' || doc_id || ';' || chr(10) ||
           '    let b = a + ' || doc_id || ';' || chr(10) ||
           chr(10) ||
           '  return b;' || chr(10) ||
           '}' AS trimmed
    FROM documents
"""


EXT_QUERIES.update(
    {
        "seed_filters": q_seed_filters,
        "cache_info": q_cache_info,
        "fetch_fallback": q_fetch_fallback,
        "trim_spaces": q_trim_spaces,
    }
)
EXT_ORACLES.update(
    {
        "seed_filters": ORACLE_SEED_FILTERS,
        "cache_info": ORACLE_CACHE_INFO,
        "fetch_fallback": ORACLE_FETCH_FALLBACK,
        "trim_spaces": ORACLE_TRIM_SPACES,
    }
)


# ===========================================================================
# idlnames per-name dfns with dependency closure (idlnames.js options.dfns)
# ===========================================================================


def q_idlnames_dfns(spark, sf_dir):
    """Per-name related dfns over the idlnames world: root interface dfns
    everywhere, attribute dfns on even docs, partial-const dfns on docs
    divisible by 6, mixin root dfns on docs divisible by 10 — each name's
    set unions its transitive inheritance+includes deps' sets."""
    extracts, _titles = _idlnames_world(spark, sf_dir)
    parsed = PP.idlparsed(extracts)
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    url = _cat("https://idl.test/d", i, "/")
    k = _s(F.col("doc_id") % 40)
    root_dfns = d.select(
        url.alias("url"), F.lit("interface").alias("type"),
        F.array().cast("array<string>").alias("for"),
        F.array(_cat("N", k)).alias("linkingText"),
        _cat(url, "#n").alias("href"), F.lit(0).alias("dfn_idx"),
    )
    attr_dfns = d.filter(F.col("doc_id") % 2 == 0).select(
        url.alias("url"), F.lit("attribute").alias("type"),
        F.array(_cat("N", k)).alias("for"),
        F.array(_cat("a", i)).alias("linkingText"),
        _cat(url, "#a").alias("href"), F.lit(1).alias("dfn_idx"),
    )
    const_dfns = d.filter(F.col("doc_id") % 6 == 0).select(
        url.alias("url"), F.lit("const").alias("type"),
        F.array(_cat("N", _s((F.col("doc_id") + 1) % 40))).alias("for"),
        F.array(_cat("c", i)).alias("linkingText"),
        _cat(url, "#c").alias("href"), F.lit(2).alias("dfn_idx"),
    )
    mixin_dfns = d.filter(F.col("doc_id") % 10 == 0).select(
        url.alias("url"), F.lit("interface").alias("type"),
        F.array().cast("array<string>").alias("for"),
        F.array(_cat("M", _s(F.col("doc_id") % 7))).alias("linkingText"),
        _cat(url, "#m").alias("href"), F.lit(3).alias("dfn_idx"),
    )
    dfns = root_dfns.unionByName(attr_dfns).unionByName(const_dfns).unionByName(
        mixin_dfns
    )
    return PP.idlnames_dfns(parsed, dfns).select("name", "spec", "href")


ORACLE_IDLNAMES_DFNS = """
    WITH RECURSIVE docs AS (
      SELECT doc_id, doc_id % 40 AS k,
             'https://idl.test/d' || doc_id || '/' AS url
      FROM documents
    ),
    -- matched dfn rows per owning construct name
    own AS (
      -- root interface dfns: every doc defines N{k} (non-partial) and has
      -- a root dfn
      SELECT 'N' || k AS dep, url AS spec, url || '#n' AS href FROM docs
      UNION ALL
      -- attribute a{i} on even docs
      SELECT 'N' || k, url, url || '#a' FROM docs WHERE doc_id % 2 = 0
      UNION ALL
      -- const c{i} members come from partials extending N{(i+1)%40}
      -- (every 3rd doc); dfns exist on docs divisible by 6
      SELECT 'N' || ((doc_id + 1) % 40), url, url || '#c'
      FROM docs WHERE doc_id % 6 = 0
      UNION ALL
      -- mixin roots M{i%7} defined on docs divisible by 5; dfns on docs
      -- divisible by 10
      SELECT 'M' || (doc_id % 7), url, url || '#m'
      FROM docs WHERE doc_id % 10 = 0
    ),
    names_idx AS (
      SELECT DISTINCT 'N' || k AS name FROM docs
      UNION SELECT DISTINCT 'M' || (doc_id % 7) FROM docs WHERE doc_id % 5 = 0
    ),
    edges AS (
      SELECT DISTINCT 'N' || k AS name, 'N' || (k - 1) AS dep
      FROM docs WHERE k % 8 <> 0
        AND ('N' || (k - 1)) IN (SELECT name FROM names_idx)
      UNION
      SELECT DISTINCT 'N' || ((doc_id + 2) % 40), 'M' || (doc_id % 7)
      FROM docs WHERE doc_id % 5 = 0
        AND ('M' || (doc_id % 7)) IN (SELECT name FROM names_idx)
    ),
    closure AS (
      SELECT name, dep FROM edges
      UNION
      SELECT c.name, e.dep FROM closure c JOIN edges e ON c.dep = e.name
    ),
    reach AS (
      SELECT name, name AS dep FROM names_idx
      UNION
      SELECT name, dep FROM closure WHERE name <> dep
    )
    SELECT DISTINCT r.name, o.spec, o.href
    FROM reach r JOIN own o ON r.dep = o.dep
"""


EXT_QUERIES["idlnames_dfns"] = q_idlnames_dfns
EXT_ORACLES["idlnames_dfns"] = ORACLE_IDLNAMES_DFNS


# ===========================================================================
# F11 date fallback: warc_ts as the HTTP Last-Modified analog
# ===========================================================================


def q_date_fallback(spark, sf_dir):
    """Pages without date markup report their capture timestamp in the
    reference's document.lastModified '{day} {Month} {year}' shape."""
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    url = _cat("https://dt.test/d", i, "/")
    html = _cat("<title>T", i, "</title><p>no date markup</p>")
    warc = F.to_timestamp(
        F.concat(
            F.lit("2024-"),
            F.lpad(_s(F.col("doc_id") % 12 + 1), 2, "0"),
            F.lit("-"),
            F.lpad(_s(F.col("doc_id") % 28 + 1), 2, "0"),
        )
    )
    pages = d.select("doc_id", url.alias("url"), html.alias("html"), warc.alias("warc_ts"))
    out = extract_all(pages, ["date"], last_modified_col="warc_ts")
    return out.select("url", _json_str("date").alias("date"))


ORACLE_DATE_FALLBACK = """
    SELECT 'https://dt.test/d' || doc_id || '/' AS url,
           (doc_id % 28 + 1) || ' ' ||
           CASE (doc_id % 12 + 1)
             WHEN 1 THEN 'January' WHEN 2 THEN 'February' WHEN 3 THEN 'March'
             WHEN 4 THEN 'April' WHEN 5 THEN 'May' WHEN 6 THEN 'June'
             WHEN 7 THEN 'July' WHEN 8 THEN 'August' WHEN 9 THEN 'September'
             WHEN 10 THEN 'October' WHEN 11 THEN 'November' ELSE 'December'
           END || ' 2024' AS date
    FROM documents
"""


EXT_QUERIES["date_fallback"] = q_date_fallback
EXT_ORACLES["date_fallback"] = ORACLE_DATE_FALLBACK


def q_css_hiccup(spark, sf_dir):
    """CSS-server-hiccup detection (util.js:597-602): a page whose first
    h1 reads "Index of …" is a drafts-server directory listing, not a
    spec — extraction records an error result instead of a bogus
    extract. Every 7th doc is a hiccup page."""
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    url = _cat("https://drafts.test/s", i, "/")
    html = F.when(
        F.col("doc_id") % 7 == 0,
        _cat(
            "<html><body><h1>Index of /s", i,
            "/</h1><pre>../  spec.html</pre></body></html>",
        ),
    ).otherwise(
        _cat(
            "<html><head><title>T", i, "</title></head><body><h1>T", i,
            "</h1></body></html>",
        )
    )
    pages = d.select(url.alias("url"), html.alias("html"))
    out = extract_all(pages, ["title"], error_col="crawl_error")
    return out.select(
        "url",
        F.col("title").alias("title_json"),
        "crawl_error",
        F.when(F.col("crawl_error").isNotNull(), F.lit("error"))
        .otherwise(F.lit("ok"))
        .alias("status"),
    )


ORACLE_CSS_HICCUP = """
    SELECT 'https://drafts.test/s' || doc_id || '/' AS url,
           CASE WHEN doc_id % 7 <> 0 THEN '"T' || doc_id || '"' END AS title_json,
           CASE WHEN doc_id % 7 = 0 THEN 'CSS server issue detected' END
             AS crawl_error,
           CASE WHEN doc_id % 7 = 0 THEN 'error' ELSE 'ok' END AS status
    FROM documents
"""


def q_generator_sniff(spark, sf_dir):
    """F13 generator detection, incl. the static respecConfig sniff
    (get-generator.mjs:13-27; the window.eval live-page check is
    approximated by scanning inline <script> text for a respecConfig
    assignment)."""
    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    url = _cat("https://gen.test/s", i, "/")
    body = _cat("<body><h1>S", i, "</h1></body>")
    html = (
        F.when(
            F.col("doc_id") % 4 == 0,
            _cat(
                "<html><head><script>var respecConfig = {specStatus: \"ED\", n: ",
                i, "};</script></head>", body, "</html>",
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            _cat(
                '<html><head><meta name="generator" content="Bikeshed 1.0">',
                "</head>", body, "</html>",
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            _cat('<html><body id="respecDocument"><h1>S', i, "</h1></body></html>"),
        )
        .otherwise(_cat("<html>", body, "</html>"))
    )
    pages = d.select(url.alias("url"), html.alias("html"))
    out = extract_all(pages, ["generator"])
    return out.select("url", _json_str("generator").alias("generator"))


ORACLE_GENERATOR_SNIFF = """
    SELECT 'https://gen.test/s' || doc_id || '/' AS url,
           CASE WHEN doc_id % 4 = 0 THEN 'respec'
                WHEN doc_id % 4 = 1 THEN 'bikeshed'
                WHEN doc_id % 4 = 2 THEN 'respec'
           END AS generator
    FROM documents
"""


EXT_QUERIES.update(
    {
        "css_hiccup": q_css_hiccup,
        "generator_sniff": q_generator_sniff,
    }
)
EXT_ORACLES.update(
    {
        "css_hiccup": ORACLE_CSS_HICCUP,
        "generator_sniff": ORACLE_GENERATOR_SNIFF,
    }
)


def q_schema_violations(spark, sf_dir):
    """Distributed JSON-Schema validation (the reference's Ajv layer,
    util.js:1065-1140, as a Spark operator): one Arrow pass over the
    extract columns producing a violations table. Docs %4==0 drop the
    required `access` key, %4==1 carry an unexpected extra property;
    everything else conforms and yields no rows."""
    from reffy_spark.validation import validate_extracts

    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    url = _cat("https://v.test/s", i, "/")
    base = _cat(
        '{"id": "t-', i, '", "href": "https://v.test/s', i, '/#t-', i, '", ',
        '"linkingText": ["term ', i, '"], "localLinkingText": [], ',
        '"type": "dfn", "for": [], ',
    )
    tail = _cat(
        '"informative": false, "heading": {"href": "https://v.test/s', i,
        '/", "title": "S', i, '"}, "definedIn": "prose"',
    )
    dfns_json = (
        F.when(F.col("doc_id") % 4 == 0, _cat("[", base, tail, "}]"))
        .when(
            F.col("doc_id") % 4 == 1,
            _cat("[", base, '"access": "public", "novel": 1, ', tail, "}]"),
        )
        .otherwise(_cat("[", base, '"access": "public", ', tail, "}]"))
    )
    pages = d.select(url.alias("url"), dfns_json.alias("dfns"))
    return validate_extracts(pages, modules=["dfns"], url_col="url")


ORACLE_SCHEMA_VIOLATIONS = """
    SELECT 'https://v.test/s' || doc_id || '/' AS url,
           'dfns' AS module,
           CASE WHEN doc_id % 4 = 0
                THEN '$[0]: missing required property ''access'''
                ELSE '$[0]: unexpected additional property ''novel'''
           END AS error
    FROM documents
    WHERE doc_id % 4 IN (0, 1)
"""


EXT_QUERIES.update({"schema_violations": q_schema_violations})
EXT_ORACLES.update({"schema_violations": ORACLE_SCHEMA_VIOLATIONS})


def q_fallback_reuse(spark, sf_dir):
    """Conditional-recrawl reuse, END-TO-END through the crawl engine
    (test/crawl.js:114): docs %3==0 changed since the fallback crawl and
    get re-extracted; everything else matches the fallback etag and
    reuses the prior extract (title = OLD sentinel) without running the
    extraction stage."""
    from reffy_spark.operators.crawler import CrawlEngine

    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    url = _cat("https://fb.test/s", i, "/")
    ver = F.when(F.col("doc_id") % 3 == 0, F.lit("2")).otherwise(F.lit("1"))
    html = _cat(
        "<html><head><title>T", i, " v", ver,
        "</title></head><body></body></html>",
    )
    html_v1 = _cat(
        "<html><head><title>T", i, " v1</title></head><body></body></html>",
    )
    pages = d.select(url.alias("url"), html.cast("binary").alias("html"))
    fallback = d.select(
        url.alias("url_canon"),
        F.md5(html_v1.cast("binary")).alias("etag"),
        _cat('"OLD', i, '"').alias("title"),
    )
    robots = spark.createDataFrame(
        [("fb.test", "/", True, 1)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    eng = CrawlEngine(
        spark, pages, robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False, round_ms=1_000_000_000,
        fallback=fallback,
    )
    res = eng.crawl(pages.select("url"), max_rounds=1)
    return res.results.select("url_canon", "title", "from_fallback", "status")


ORACLE_FALLBACK_REUSE = """
    SELECT 'https://fb.test/s' || doc_id || '/' AS url_canon,
           CASE WHEN doc_id % 3 = 0 THEN '"T' || doc_id || ' v2"'
                ELSE '"OLD' || doc_id || '"' END AS title,
           doc_id % 3 <> 0 AS from_fallback,
           'ok' AS status
    FROM documents
"""


EXT_QUERIES.update({"fallback_reuse": q_fallback_reuse})
EXT_ORACLES.update({"fallback_reuse": ORACLE_FALLBACK_REUSE})


def q_politeness_permits_stream(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-host-group fetch permits, the throttled-queue analog. A single
    AvailableNow pass over a deterministic file source; the keyed-state
    cursor makes fetch_seq a per-group sequence ordered by
    (warc_ts, url_canon)."""
    import shutil
    import tempfile

    from reffy_spark.streaming.politeness import run_permits_batch

    d = _docs(spark, sf_dir)
    i = _s(F.col("doc_id"))
    hg = _cat("h", _s(F.col("doc_id") % 4), ".test")
    rows = d.select(
        _cat("https://", hg, "/p", i, "/").alias("url_canon"),
        hg.alias("host_group"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(mins=(F.col("doc_id") % 9).cast("int"))
        ).alias("warc_ts"),
    )
    work = tempfile.mkdtemp(prefix="permits_q_")
    try:
        src, out, chk = f"{work}/src", f"{work}/out", f"{work}/chk"
        rows.coalesce(1).write.mode("overwrite").parquet(src)
        run_permits_batch(
            spark, src, out, chk, budgets={"h0.test": 7}, default_budget=25
        )
        # the work directory goes with this call: freeze the output into
        # checkpoint blocks before removing the files it was read from
        return (
            spark.read.parquet(out)
            .select("url_canon", "host_group", "fetch_seq", "permitted_round")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


ORACLE_POLITENESS_PERMITS = """
    WITH rows AS (
      SELECT 'https://h' || (doc_id % 4) || '.test/p' || doc_id || '/' AS url_canon,
             'h' || (doc_id % 4) || '.test' AS host_group,
             doc_id % 9 AS ts_min
      FROM documents
    ), seq AS (
      SELECT url_canon, host_group,
             ROW_NUMBER() OVER (
               PARTITION BY host_group ORDER BY ts_min, url_canon
             ) - 1 AS fetch_seq
      FROM rows
    )
    SELECT url_canon, host_group, fetch_seq,
           fetch_seq // (CASE WHEN host_group = 'h0.test' THEN 7 ELSE 25 END)
             AS permitted_round
    FROM seq
"""


EXT_QUERIES.update({"politeness_permits_stream": q_politeness_permits_stream})
EXT_ORACLES.update({"politeness_permits_stream": ORACLE_POLITENESS_PERMITS})


def _chain_pairs(spark, sf_dir):
    # deterministic near-dup graph: docs with doc_id%10 in {0,1,2} edge to
    # doc_id+1 → 4-chains {10k,10k+1,10k+2,10k+3} (diameter 3: the
    # propagation genuinely iterates)
    d = _docs(spark, sf_dir)
    return d.filter(F.col("doc_id") % 10 <= 2).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )


def q_neardup_components(spark, sf_dir):
    """Connected components over a near-dup pair table (the transitive
    closure between candidate pairs and the keep-one-per-cluster drop)."""
    from reffy_spark.operators.dedupe import connected_components

    return connected_components(_chain_pairs(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


ORACLE_NEARDUP_COMPONENTS = """
    SELECT doc_id, doc_id - (doc_id % 10) AS component
    FROM documents WHERE doc_id % 10 <= 3
"""


def q_dedup_canonical(spark, sf_dir):
    """Keep one document per near-dup cluster (smallest doc id), pass
    unclustered docs through."""
    from reffy_spark.operators.dedupe import dedup_near_canonical

    d = _docs(spark, sf_dir)
    out = dedup_near_canonical(d, _chain_pairs(spark, sf_dir))
    return out.select(F.col("doc_id").cast("long").alias("doc_id"))


ORACLE_DEDUP_CANONICAL = """
    SELECT doc_id FROM documents WHERE doc_id % 10 = 0 OR doc_id % 10 > 3
"""


EXT_QUERIES.update(
    {
        "neardup_components": q_neardup_components,
        "dedup_canonical": q_dedup_canonical,
    }
)
EXT_ORACLES.update(
    {
        "neardup_components": ORACLE_NEARDUP_COMPONENTS,
        "dedup_canonical": ORACLE_DEDUP_CANONICAL,
    }
)


# ---------------------------------------------------------------------------
# Corpus-quality family: repetition profile, decontamination, sampling
# (operators/corpus_quality.py — Gopher/C4/GPT-3-style pipeline steps)
# ---------------------------------------------------------------------------

_Q_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"
_Q_LINES = (
    "list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), "
    "l -> l <> '')"
)


def _q_grams(n: int) -> str:
    """Word n-grams WITH multiplicity (DuckDB twin of ngrams_col)."""
    return (
        f"list_transform(range(1, greatest(len({_Q_TOKS}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice({_Q_TOKS}, i, i + {n - 1}), ' '))"
    )


def q_repetition_profile(spark, sf_dir):
    from reffy_spark.operators.corpus_quality import repetition_profile

    return repetition_profile(_load(spark, sf_dir, "documents"))


ORACLE_REPETITION_PROFILE = f"""
    WITH base AS (
      SELECT doc_id,
             {_Q_LINES} AS lines,
             {_q_grams(2)} AS g2,
             {_q_grams(5)} AS g5,
             len({_Q_TOKS}) AS n_tokens,
             (length(text) - length(replace(text, '#', '')))
             + (length(text) - length(replace(text, '…', '')))
             + (length(text) - length(replace(text, '...', ''))) / 3 AS sym_cnt
      FROM documents
    ),
    flags AS (
      SELECT doc_id,
             CASE WHEN len(lines) = 0 THEN 0.0 ELSE ROUND(
               len(list_filter(lines,
                   l -> ends_with(l, '...') OR ends_with(l, '…')))::DOUBLE
               / len(lines), 6) END AS ellipsis_line_frac,
             CASE WHEN len(lines) = 0 THEN 0.0 ELSE ROUND(
               len(list_filter(lines,
                   l -> list_contains(['-', '*', '•'], substr(l, 1, 1))))::DOUBLE
               / len(lines), 6) END AS bullet_line_frac,
             CASE WHEN n_tokens = 0 THEN 0.0
                  ELSE ROUND(sym_cnt::DOUBLE / n_tokens, 6) END AS symbol_word_ratio
      FROM base
    ),
    items AS (
      SELECT doc_id, 'line' AS kind, unnest(lines) AS item FROM base
      UNION ALL SELECT doc_id, 'g2' AS kind, unnest(g2) AS item FROM base
      UNION ALL SELECT doc_id, 'g5' AS kind, unnest(g5) AS item FROM base
    ),
    counted AS (
      SELECT doc_id, kind, item, count(*) AS cnt FROM items GROUP BY 1, 2, 3
    ),
    per_kind AS (
      SELECT doc_id, kind,
             sum(cnt) AS n_items,
             COALESCE(sum(cnt) FILTER (WHERE cnt > 1), 0) AS dup_items,
             sum(cnt * length(item)) AS tot_chars,
             COALESCE(sum(cnt * length(item)) FILTER (WHERE cnt > 1), 0)
               AS dup_chars,
             max(cnt * length(item)) AS top_chars
      FROM counted GROUP BY 1, 2
    ),
    per_doc AS (
      SELECT doc_id,
             COALESCE(max(n_items) FILTER (WHERE kind = 'line'), 0) AS n_lines,
             ROUND(COALESCE(
               max(dup_items) FILTER (WHERE kind = 'line')::DOUBLE
               / NULLIF(max(n_items) FILTER (WHERE kind = 'line'), 0), 0), 6)
               AS dup_line_frac,
             ROUND(COALESCE(
               max(dup_chars) FILTER (WHERE kind = 'line')::DOUBLE
               / NULLIF(max(tot_chars) FILTER (WHERE kind = 'line'), 0), 0), 6)
               AS dup_line_char_frac,
             ROUND(COALESCE(
               max(top_chars) FILTER (WHERE kind = 'g2')::DOUBLE
               / NULLIF(max(tot_chars) FILTER (WHERE kind = 'g2'), 0), 0), 6)
               AS top_2gram_char_frac,
             ROUND(COALESCE(
               max(dup_chars) FILTER (WHERE kind = 'g5')::DOUBLE
               / NULLIF(max(tot_chars) FILTER (WHERE kind = 'g5'), 0), 0), 6)
               AS dup_5gram_char_frac
      FROM per_kind GROUP BY 1
    )
    SELECT f.doc_id,
           COALESCE(p.n_lines, 0)::BIGINT AS n_lines,
           COALESCE(p.dup_line_frac, 0.0) AS dup_line_frac,
           COALESCE(p.dup_line_char_frac, 0.0) AS dup_line_char_frac,
           f.ellipsis_line_frac,
           f.bullet_line_frac,
           COALESCE(p.top_2gram_char_frac, 0.0) AS top_2gram_char_frac,
           COALESCE(p.dup_5gram_char_frac, 0.0) AS dup_5gram_char_frac,
           f.symbol_word_ratio
    FROM flags f LEFT JOIN per_doc p USING (doc_id)
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark = every doc with doc_id % 20 == 7 (a deterministic
    synthetic eval set); flag corpus docs by 5-gram overlap."""
    from reffy_spark.operators.corpus_quality import decontaminate

    d = _load(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 20 == 7)
    return decontaminate(d, bench, n=5, threshold=0.2)


ORACLE_DECONTAMINATE = f"""
    WITH dg AS (
      SELECT doc_id, unnest(list_distinct({_q_grams(5)})) AS gram FROM documents
    ),
    bg AS (
      SELECT DISTINCT unnest(list_distinct({_q_grams(5)})) AS gram
      FROM documents WHERE doc_id % 20 = 7
    ),
    ov AS (
      SELECT doc_id, count(*) AS n_overlap FROM dg JOIN bg USING (gram)
      GROUP BY 1
    ),
    base AS (
      SELECT doc_id, len(list_distinct({_q_grams(5)})) AS n_grams FROM documents
    )
    SELECT b.doc_id,
           b.n_grams::BIGINT AS n_grams,
           COALESCE(o.n_overlap, 0)::BIGINT AS n_overlap,
           ROUND(COALESCE(o.n_overlap::DOUBLE / NULLIF(b.n_grams, 0), 0), 6)
             AS overlap_frac,
           COALESCE(o.n_overlap::DOUBLE / NULLIF(b.n_grams, 0), 0) >= 0.2
             AS contaminated
    FROM base b LEFT JOIN ov o USING (doc_id)
"""


def q_stratified_sample(spark, sf_dir):
    from reffy_spark.operators.corpus_quality import stratified_sample

    return stratified_sample(
        _load(spark, sf_dir, "documents"),
        rates_per_mille={"en": 250, "fr": 500, "de": 750},
        default_rate=1000,
    )


_Q_SW = {
    "en": "['the','a','of','and','to','in','is','that','it','for']",
    "fr": "['le','la','de','et','les','des','un','une','est','que']",
    "de": "['der','die','das','und','ist','ein','eine','zu','den','von']",
}

ORACLE_STRATIFIED_SAMPLE = f"""
    WITH base AS (
      SELECT doc_id,
             len(list_filter({_Q_TOKS}, t -> list_contains({_Q_SW['en']}, t))) AS en,
             len(list_filter({_Q_TOKS}, t -> list_contains({_Q_SW['fr']}, t))) AS fr,
             len(list_filter({_Q_TOKS}, t -> list_contains({_Q_SW['de']}, t))) AS de,
             (('0x' || substr(md5('sample#' || doc_id), 1, 15))::BIGINT) % 1000
               AS sample_bucket
      FROM documents
    ),
    langed AS (
      SELECT doc_id, sample_bucket,
             CASE WHEN en >= fr AND en >= de AND en > 0 THEN 'en'
                  WHEN fr >= de AND fr > 0 THEN 'fr'
                  WHEN de > 0 THEN 'de'
                  ELSE 'und' END AS lang_pred
      FROM base
    )
    SELECT doc_id, lang_pred, sample_bucket::BIGINT AS sample_bucket,
           (CASE lang_pred WHEN 'en' THEN 250 WHEN 'fr' THEN 500
                 WHEN 'de' THEN 750 ELSE 1000 END)::BIGINT AS rate_per_mille
    FROM langed
    WHERE sample_bucket < CASE lang_pred WHEN 'en' THEN 250 WHEN 'fr' THEN 500
                               WHEN 'de' THEN 750 ELSE 1000 END
"""


EXT_QUERIES.update(
    {
        "repetition_profile": q_repetition_profile,
        "decontaminate": q_decontaminate,
        "stratified_sample": q_stratified_sample,
    }
)
EXT_ORACLES.update(
    {
        "repetition_profile": ORACLE_REPETITION_PROFILE,
        "decontaminate": ORACLE_DECONTAMINATE,
        "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    }
)


def q_token_stats(spark, sf_dir):
    from reffy_spark.operators.text_analysis import token_stats

    return token_stats(_load(spark, sf_dir, "documents"))


def _bpe_pat_sql() -> str:
    from reffy_spark.functions.text import BPE_SPLIT_PATTERN

    return BPE_SPLIT_PATTERN.replace("'", "''")


ORACLE_TOKEN_STATS = f"""
    WITH base AS (
      SELECT doc_id,
             len({_Q_TOKS}) AS ws_tokens,
             len(regexp_extract_all(text, '{_bpe_pat_sql()}')) AS bpe_tokens,
             length(text) AS n_chars
      FROM documents
    )
    SELECT doc_id,
           ws_tokens::BIGINT AS ws_tokens,
           bpe_tokens::BIGINT AS bpe_tokens,
           ROUND(CASE WHEN ws_tokens = 0 THEN 0.0
                 ELSE bpe_tokens::DOUBLE / ws_tokens END, 6) AS bpe_per_ws,
           ROUND(CASE WHEN bpe_tokens = 0 THEN 0.0
                 ELSE n_chars::DOUBLE / bpe_tokens END, 6) AS chars_per_bpe
    FROM base
"""

EXT_QUERIES.update({"token_stats": q_token_stats})
EXT_ORACLES.update({"token_stats": ORACLE_TOKEN_STATS})


# ---------------------------------------------------------------------------
# IVF-flat ANN (operators/similarity.py ivf_* family)
# ---------------------------------------------------------------------------

_IVF_K = 8
_IVF_NPROBE = 2


def _cos_sql(a: str, b: str) -> str:
    def ss(x, y):
        return (
            f"list_sum(list_transform(range(1, 65), "
            f"i -> ({x}[i]::DOUBLE) * ({y}[i]::DOUBLE)))"
        )

    return f"{ss(a, b)} / (sqrt({ss(a, a)}) * sqrt({ss(b, b)}))"


_IVF_ASG_CTE = f"""
    cen AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < {_IVF_K}
    ),
    scored AS (
      SELECT e.vec_id, e.embedding, c.cid,
             {_cos_sql('e.embedding', 'c.cvec')} AS cos
      FROM embeddings e CROSS JOIN cen c
    ),
    asg AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT vec_id, embedding, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, cid) AS rn
        FROM scored
      ) WHERE rn = 1
    )
"""


def q_ivf_cells(spark, sf_dir):
    from reffy_spark.operators import similarity as S

    return S.ivf_cells(_load(spark, sf_dir, "embeddings"), n_centroids=_IVF_K)


ORACLE_IVF_CELLS = f"""
    WITH {_IVF_ASG_CTE}
    SELECT cid::BIGINT AS centroid_id, count(*)::BIGINT AS n_vectors
    FROM asg GROUP BY 1
"""


def q_ann_topk_ivf(spark, sf_dir):
    from reffy_spark.operators import similarity as S

    emb = _load(spark, sf_dir, "embeddings")
    q0 = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return S.ann_topk_ivf(
        emb, list(q0), k=10, n_centroids=_IVF_K, nprobe=_IVF_NPROBE
    )


ORACLE_ANN_TOPK_IVF = f"""
    WITH {_IVF_ASG_CTE},
    probes AS (
      SELECT cid FROM scored WHERE vec_id = 0
      ORDER BY cos DESC, cid LIMIT {_IVF_NPROBE}
    )
    SELECT a.vec_id, ROUND({_cos_sql('a.embedding', 'q.embedding')}, 6) AS cosine
    FROM asg a
    JOIN probes p ON a.cid = p.cid
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY cosine DESC, vec_id
    LIMIT 10
"""

EXT_QUERIES.update(
    {"ivf_cells": q_ivf_cells, "ann_topk_ivf": q_ann_topk_ivf}
)
EXT_ORACLES.update(
    {"ivf_cells": ORACLE_IVF_CELLS, "ann_topk_ivf": ORACLE_ANN_TOPK_IVF}
)


# ---------------------------------------------------------------------------
# IVF with a TRAINED quantizer (similarity.ivf_kmeans — VERDICT r5 #8)
# ---------------------------------------------------------------------------
# Frozen model metadata: Lloyd's k-means centroids trained ONCE by
# ``tools/train_ivf.py`` on the sf0.01 embeddings (deterministic first-n
# init, 5 iterations), rounded to 6 decimals and baked into BOTH sides —
# the ``ivf_kmeans`` docstring's oracle strategy. Decimal literals parse
# to identical IEEE doubles in the JVM, Python, and DuckDB, so the
# assignment/probe cosine math both engines replay sees bit-identical
# quantizer inputs. A quantizer is valid for ANY dataset (it only shapes
# cell boundaries), so the same literals serve every sf.
# trained by tools/train_ivf.py on /root/testdata/sf0.01 (n_centroids=8, n_iters=5)
_IVF_TRAINED_CENTROIDS = [
    (0, [-0.002138, 0.00839, 0.043939, -0.085878, 0.006775, -0.016998, -0.021314, 0.007959, 0.047377, -0.016454, -0.017461, 0.01346, -0.024821, -0.020508, -0.030811, -0.000245, 0.060008, 0.043765, 0.025096, 0.034564, -0.058739, 0.027833, -0.015271, -0.019045, -0.000275, 0.06775, 0.087187, -0.005116, -0.012821, 0.063754, -0.039527, 0.054213, 0.000563, -0.031051, 0.010205, -0.050968, -0.015598, 0.030058, 0.024141, 0.001826, 0.013803, -0.004784, 0.010121, 0.012751, 0.015795, 0.042901, 0.0277, -0.03444, -0.00105, -0.035027, 0.000886, 0.032139, 0.004299, -0.050099, 0.019503, 0.024558, -0.004024, 0.002483, -0.085512, -0.01891, -0.018843, 0.042113, 0.042377, -0.030933]),
    (1, [-0.0142, -0.004604, 0.010017, 0.006098, 0.011416, 0.039928, -0.085175, -0.020756, -0.004475, -0.005635, -0.051919, 0.043891, 0.062484, -0.086365, 0.031233, -0.010368, -0.012268, -0.019073, 0.038653, -0.040422, 0.030113, 0.01757, -0.007269, -0.024989, 0.042316, 0.066802, -0.008027, -0.021845, 0.007398, 0.006366, -0.015413, 0.003804, 0.008651, 0.002365, -0.000935, 0.003062, -0.04996, 0.019397, 0.022992, -0.081791, 0.003235, -0.042759, 0.022873, 0.010151, 0.021688, 0.018588, -0.034687, -0.010977, -0.04824, -0.093621, -0.029534, 0.008367, -0.026833, 0.005235, -0.017922, 0.035619, 0.049931, -0.001685, 0.035557, 0.014438, -0.011675, -0.007681, -0.046435, -0.002885]),
    (2, [-0.001208, 0.015567, -0.042484, 0.039319, 0.039493, -0.001694, -0.001202, 0.004572, 0.003481, -0.078538, -0.016499, -0.0301, -0.052524, 0.07214, -0.00868, 0.006602, -0.01962, 0.031016, -0.007151, -0.018026, 0.004999, 0.025604, 0.072086, -0.02795, -0.005301, -0.053047, 0.002632, -0.017676, -0.002281, 0.006587, -0.015085, -0.105396, -0.002043, 0.006631, 0.010525, -0.012335, 0.015106, 0.065563, 0.038431, 0.047097, 0.003248, -0.011187, 0.005181, 0.010505, 0.000288, -0.003446, -0.009772, -0.004121, 0.039235, 0.028965, 0.040607, -0.053514, -0.009066, -0.035681, 0.047881, -0.005443, 0.011621, -0.008379, 0.019302, 0.054157, 0.038304, 0.006138, 0.027852, -0.004562]),
    (3, [-0.024335, -0.000668, -0.023753, -0.023603, -0.033114, 0.012893, 0.032063, 0.01476, -0.006866, -0.003244, 0.006613, 0.04661, 0.019751, 0.083438, 0.031969, 0.00225, -0.034704, -0.054292, 0.00366, 0.021165, 0.010083, -0.005851, -0.011338, 0.021168, -0.007734, 0.031247, -0.020542, -0.00534, -0.062286, -0.027378, -0.021346, 0.004884, 0.072137, -0.013721, 0.025593, -0.012394, 0.02218, -0.042864, -0.050491, -0.032042, -0.01004, -0.039954, -0.088777, -0.03508, 0.009845, 0.001339, -0.020731, -0.041775, 0.055323, -0.041222, 0.029138, -0.015314, 0.017546, 0.025597, -0.041488, -0.025665, -0.007178, -0.010519, 0.038773, -0.048051, 0.034742, 0.021435, -0.007793, -0.061486]),
    (4, [0.02208, 0.000142, 0.073068, -0.016863, -0.036399, -0.075658, 0.037323, -0.014796, -0.007922, 0.045045, 0.020954, -0.071252, 0.019364, -0.02809, 0.023142, -0.017715, 0.046197, 0.02058, 0.020909, 0.033403, -0.012621, 0.011909, -0.021686, 0.016888, -0.031165, 0.008163, 0.011357, 0.00877, 0.025141, -0.048744, 0.039738, -0.032006, 0.013075, 0.015689, 0.036326, -0.063458, 0.015359, -0.090146, -0.028498, 0.019385, 0.017459, 0.011471, -0.003252, 0.0131, -0.029229, -0.015602, -0.030365, 0.038403, -0.022095, -0.001713, -0.00028, -0.001555, 0.026854, 0.005971, 0.08747, -0.028817, 0.000292, -0.002689, 0.026399, 0.002229, -0.065924, -0.022322, 0.007948, -0.00542]),
    (5, [-0.022198, -0.011055, 0.019147, 0.007711, 0.06489, -0.008318, -0.054608, 0.080185, -0.027248, 0.012057, 0.021023, -0.006703, 0.01357, 0.017612, -0.024797, 0.013153, -0.012909, -0.045193, -0.027363, 0.025534, 0.005396, -0.029934, 0.024173, -0.010099, 0.02181, 0.045098, -0.030703, 0.004318, 0.003947, 0.015443, 0.017539, -0.012837, -0.000329, -0.001868, -0.018109, 0.046894, 0.003254, 0.059316, -0.018187, 0.025818, -0.044094, 0.040656, 0.008252, 0.029759, -0.092822, -0.051145, 0.014276, -0.0254, -0.018748, 0.027831, 0.041548, 0.027744, 0.007639, 0.027294, -0.038963, -0.076832, 0.046949, -0.04987, -0.005183, -0.009823, -0.002839, 0.028327, -0.024883, 0.023547]),
    (6, [-0.015308, -0.048798, -0.007323, -0.007092, 0.046797, 0.068395, -0.028482, -0.046096, 0.015062, 0.046045, 0.056222, 0.018715, -0.002911, 0.040073, -0.002856, 0.035834, 0.025086, 0.056853, -0.058993, -0.041688, -0.002271, -0.015095, -0.00323, -0.058188, -0.036171, -0.008786, -0.007072, 0.048071, 0.024306, -0.042594, 0.009443, 0.003869, -0.001973, -0.050228, -0.021408, 0.05182, 0.016847, -0.019193, -0.005519, -0.0031, 0.020805, -0.022934, 0.005059, -0.027195, 0.00244, 0.004736, 0.025667, 0.05341, 0.019919, 0.009087, -0.030323, -0.002667, 0.052273, -0.000887, 0.0222, 0.034321, -0.063476, 0.048989, -0.006831, -0.050731, 0.01899, -0.006085, -0.002441, 0.028298]),
    (7, [0.083857, 0.016303, -0.035444, 0.033475, -0.038105, 0.02609, -0.0105, 0.044053, -0.032536, -0.017107, 0.02033, 0.003674, -0.064757, -0.070713, -0.019459, 0.009543, -0.017718, 0.020692, 0.019142, 0.004161, -0.016503, -0.00075, -0.00603, 0.046839, 1.6e-05, -0.056903, -0.031061, 0.066478, 0.003102, 0.038301, 0.064557, 0.035451, -0.021998, 0.025309, 0.010703, 0.019548, -0.053055, -0.042093, 0.01595, 0.016332, -0.011793, -0.028916, 0.042455, -0.016197, -0.007359, 0.044807, 0.017538, 0.068102, -0.054238, 0.016521, 0.025352, -0.011466, -0.017495, -0.021186, -0.025776, 0.020114, 0.00667, 0.001463, -0.06758, -0.002612, -0.002449, -0.022037, 0.006512, -0.067168]),
]


def _ivf_trained_cen_sql() -> str:
    rows = ",\n      ".join(
        f"({cid}, [{', '.join(repr(x) for x in cvec)}])"
        for cid, cvec in _IVF_TRAINED_CENTROIDS
    )
    return (
        "cen AS (\n      SELECT * FROM (VALUES\n      "
        + rows
        + "\n      ) AS t(cid, cvec)\n    )"
    )


_IVF_TRAINED_ASG_CTE = f"""
    {_ivf_trained_cen_sql()},
    scored AS (
      SELECT e.vec_id, e.embedding, c.cid,
             {_cos_sql('e.embedding', 'c.cvec')} AS cos
      FROM embeddings e CROSS JOIN cen c
    ),
    asg AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT vec_id, embedding, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, cid) AS rn
        FROM scored
      ) WHERE rn = 1
    )
"""


def q_ann_topk_ivf_trained(spark, sf_dir):
    """ann_topk_ivf with the k-means-trained quantizer instead of the
    first-n baseline — exercises ``ivf_kmeans``'s output end-to-end
    through assignment, cell pruning, and ADC-free flat scoring."""
    from reffy_spark.operators import similarity as S

    emb = _load(spark, sf_dir, "embeddings")
    q0 = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return S.ann_topk_ivf(
        emb, list(q0), k=10, nprobe=_IVF_NPROBE,
        centroids=_IVF_TRAINED_CENTROIDS,
    )


ORACLE_ANN_TOPK_IVF_TRAINED = f"""
    WITH {_IVF_TRAINED_ASG_CTE},
    probes AS (
      SELECT cid FROM scored WHERE vec_id = 0
      ORDER BY cos DESC, cid LIMIT {_IVF_NPROBE}
    )
    SELECT a.vec_id, ROUND({_cos_sql('a.embedding', 'q.embedding')}, 6) AS cosine
    FROM asg a
    JOIN probes p ON a.cid = p.cid
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY cosine DESC, vec_id
    LIMIT 10
"""

EXT_QUERIES.update({"ann_topk_ivf_trained": q_ann_topk_ivf_trained})
EXT_ORACLES.update({"ann_topk_ivf_trained": ORACLE_ANN_TOPK_IVF_TRAINED})


# ---------------------------------------------------------------------------
# Product quantization (operators/similarity.py pq_* family)
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces over the 64-dim embeddings (16 dims each)
_PQ_K = 8  # codewords per subspace (first-k deterministic quantizer)
_PQ_DSUB = 16


def _pq_sub_l2_sql(a: str, b: str, j: str) -> str:
    """Σ (a[i]-b[i])^2 over subspace ``j``'s dim range — multiplication,
    not ^, for bit-parity with the Spark fold."""
    return (
        f"list_sum(list_transform(range(1 + ({j})*{_PQ_DSUB}, "
        f"1 + (({j})+1)*{_PQ_DSUB}), "
        f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) "
        f"* ({a}[i]::DOUBLE - {b}[i]::DOUBLE)))"
    )


_PQ_CODES_CTE = f"""
    cen AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < {_PQ_K}
    ),
    subs AS (SELECT unnest(range(0, {_PQ_M})) AS j),
    subdist AS (
      SELECT e.vec_id, s.j, c.cid,
             {_pq_sub_l2_sql('e.embedding', 'c.cvec', 's.j')} AS d
      FROM embeddings e CROSS JOIN subs s CROSS JOIN cen c
    ),
    codes AS (
      SELECT vec_id, j, cid AS code FROM (
        SELECT vec_id, j, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                    ORDER BY d, cid) AS rn
        FROM subdist
      ) WHERE rn = 1
    )
"""


def q_pq_cells(spark, sf_dir):
    """Per-(subspace, code) PQ population — codebook-balance diagnostic
    + full coverage of the subspace argmin assignment math."""
    from reffy_spark.operators import similarity as S

    return S.pq_cells(_load(spark, sf_dir, "embeddings"), m=_PQ_M, k=_PQ_K)


ORACLE_PQ_CELLS = f"""
    WITH {_PQ_CODES_CTE}
    SELECT j::BIGINT AS subspace, code::BIGINT AS code,
           count(*)::BIGINT AS n_vectors
    FROM codes GROUP BY 1, 2
"""


def q_ann_topk_pq(spark, sf_dir):
    """ADC top-k: query-to-codeword tables as literals, per-row distance
    = m element_at lookups summed in subspace order."""
    from reffy_spark.operators import similarity as S

    emb = _load(spark, sf_dir, "embeddings")
    q0 = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return S.ann_topk_pq(emb, list(q0), k=10, m=_PQ_M, n_codes=_PQ_K)


ORACLE_ANN_TOPK_PQ = f"""
    WITH {_PQ_CODES_CTE},
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    terms AS (
      SELECT codes.vec_id, codes.j,
             {_pq_sub_l2_sql('q.qv', 'c.cvec', 'codes.j')} AS t
      FROM codes JOIN cen c ON codes.code = c.cid CROSS JOIN q
    ),
    adc AS (
      -- list(… ORDER BY j) + list_sum = the same ascending-subspace
      -- left fold as the Spark literal sum
      SELECT vec_id, list_sum(list(t ORDER BY j)) AS dist
      FROM terms GROUP BY vec_id
    )
    SELECT vec_id, ROUND(dist, 6) AS pq_dist
    FROM adc ORDER BY pq_dist, vec_id LIMIT 10
"""

def q_ann_topk_ivfadc(spark, sf_dir):
    """IVFADC (FAISS IVFx,PQy shape): IVF prunes WHICH vectors are
    scored (nprobe cells), PQ prunes HOW (ADC lookups) — the production
    composition at 10^10+ vectors."""
    from reffy_spark.operators import similarity as S

    emb = _load(spark, sf_dir, "embeddings")
    q0 = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return S.ann_topk_ivfadc(
        emb, list(q0), k=10, n_centroids=_IVF_K, nprobe=_IVF_NPROBE,
        m=_PQ_M, n_codes=_PQ_K,
    )


ORACLE_ANN_TOPK_IVFADC = f"""
    WITH icen AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < {_IVF_K}
    ),
    iscored AS (
      SELECT e.vec_id, e.embedding, c.cid,
             {_cos_sql('e.embedding', 'c.cvec')} AS cos
      FROM embeddings e CROSS JOIN icen c
    ),
    iasg AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT vec_id, embedding, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, cid) AS rn
        FROM iscored
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT cid FROM iscored WHERE vec_id = 0
      ORDER BY cos DESC, cid LIMIT {_IVF_NPROBE}
    ),
    sel AS (
      SELECT a.vec_id, a.embedding FROM iasg a JOIN probes p ON a.cid = p.cid
    ),
    cen AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < {_PQ_K}
    ),
    subs AS (SELECT unnest(range(0, {_PQ_M})) AS j),
    subdist AS (
      SELECT e.vec_id, s.j, c.cid,
             {_pq_sub_l2_sql('e.embedding', 'c.cvec', 's.j')} AS d
      FROM sel e CROSS JOIN subs s CROSS JOIN cen c
    ),
    codes AS (
      SELECT vec_id, j, cid AS code FROM (
        SELECT vec_id, j, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                    ORDER BY d, cid) AS rn
        FROM subdist
      ) WHERE rn = 1
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    terms AS (
      SELECT codes.vec_id, codes.j,
             {_pq_sub_l2_sql('q.qv', 'c.cvec', 'codes.j')} AS t
      FROM codes JOIN cen c ON codes.code = c.cid CROSS JOIN q
    ),
    adc AS (
      SELECT vec_id, list_sum(list(t ORDER BY j)) AS dist
      FROM terms GROUP BY vec_id
    )
    SELECT vec_id, ROUND(dist, 6) AS pq_dist
    FROM adc ORDER BY pq_dist, vec_id LIMIT 10
"""

EXT_QUERIES.update(
    {
        "pq_cells": q_pq_cells,
        "ann_topk_pq": q_ann_topk_pq,
        "ann_topk_ivfadc": q_ann_topk_ivfadc,
    }
)
EXT_ORACLES.update(
    {
        "pq_cells": ORACLE_PQ_CELLS,
        "ann_topk_pq": ORACLE_ANN_TOPK_PQ,
        "ann_topk_ivfadc": ORACLE_ANN_TOPK_IVFADC,
    }
)


# ---------------------------------------------------------------------------
# TRAINED PQ / IVFADC (pq_train + ivf_kmeans exercised through the gate)
# ---------------------------------------------------------------------------
# Frozen model metadata, the tools/train_ivf.py strategy: Lloyd-trained
# PQ codebooks from tools/train_pq.py (sf0.01, m=4, k=256 — 8-bit
# subquantizers, the FAISS production shape; VERDICT r6 #3), rounded
# to 6 decimals and frozen in plans/pq_trained_books.py (generated). The oracle reuses the first-k SQL verbatim with
# its ``cen`` swapped for VALUES of k CONCATENATED 64-dim "virtual
# centroids" — legal because the subspace math only ever reads slice j
# of codeword c, and concat(book[0][c], ..., book[m-1][c]) reproduces
# every slice. A quantizer is valid for any dataset, so one frozen
# training serves every sf.
from reffy_spark.plans.pq_trained_books import _PQ_TRAINED_BOOKS


def _pq_trained_cen_sql() -> str:
    k = len(_PQ_TRAINED_BOOKS[0])
    rows = []
    for c in range(k):
        concat = [x for book in _PQ_TRAINED_BOOKS for x in book[c]]
        rows.append(f"({c}, [{', '.join(repr(x) for x in concat)}])")
    return (
        "cen AS (\n      SELECT * FROM (VALUES\n      "
        + ",\n      ".join(rows)
        + "\n      ) AS t(cid, cvec)\n    )"
    )


_PQ_TRAINED_CODES_CTE = f"""
    {_pq_trained_cen_sql()},
    subs AS (SELECT unnest(range(0, {_PQ_M})) AS j),
    subdist AS (
      SELECT e.vec_id, s.j, c.cid,
             {_pq_sub_l2_sql('e.embedding', 'c.cvec', 's.j')} AS d
      FROM embeddings e CROSS JOIN subs s CROSS JOIN cen c
    ),
    codes AS (
      SELECT vec_id, j, cid AS code FROM (
        SELECT vec_id, j, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                    ORDER BY d, cid) AS rn
        FROM subdist
      ) WHERE rn = 1
    )
"""


def q_ann_topk_pq_trained(spark, sf_dir):
    """ADC top-k over Lloyd-trained codebooks — pq_train's output
    driven end-to-end through encode + ADC ranking (−31% reconstruction
    error and +28% recall@10 vs the first-k books, BENCH round-6 ANN
    table)."""
    from reffy_spark.operators import similarity as S

    emb = _load(spark, sf_dir, "embeddings")
    q0 = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return S.ann_topk_pq(emb, list(q0), k=10, books=_PQ_TRAINED_BOOKS)


ORACLE_ANN_TOPK_PQ_TRAINED = f"""
    WITH {_PQ_TRAINED_CODES_CTE},
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    terms AS (
      SELECT codes.vec_id, codes.j,
             {_pq_sub_l2_sql('q.qv', 'c.cvec', 'codes.j')} AS t
      FROM codes JOIN cen c ON codes.code = c.cid CROSS JOIN q
    ),
    adc AS (
      SELECT vec_id, list_sum(list(t ORDER BY j)) AS dist
      FROM terms GROUP BY vec_id
    )
    SELECT vec_id, ROUND(dist, 6) AS pq_dist
    FROM adc ORDER BY pq_dist, vec_id LIMIT 10
"""


def q_ann_topk_ivfadc_trained(spark, sf_dir):
    """The fully-trained FAISS IVFx,PQy shape: k-means IVF centroids
    (tools/train_ivf.py) prune the cells, Lloyd-trained PQ codebooks
    (tools/train_pq.py) score the survivors."""
    from reffy_spark.operators import similarity as S

    emb = _load(spark, sf_dir, "embeddings")
    q0 = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return S.ann_topk_ivfadc(
        emb, list(q0), k=10, nprobe=_IVF_NPROBE,
        centroids=_IVF_TRAINED_CENTROIDS, books=_PQ_TRAINED_BOOKS,
    )


def _ivf_trained_icen_sql() -> str:
    rows = ",\n      ".join(
        f"({cid}, [{', '.join(repr(x) for x in cvec)}])"
        for cid, cvec in _IVF_TRAINED_CENTROIDS
    )
    return (
        "icen AS (\n      SELECT * FROM (VALUES\n      "
        + rows
        + "\n      ) AS t(cid, cvec)\n    )"
    )


ORACLE_ANN_TOPK_IVFADC_TRAINED = f"""
    WITH {_ivf_trained_icen_sql()},
    iscored AS (
      SELECT e.vec_id, e.embedding, c.cid,
             {_cos_sql('e.embedding', 'c.cvec')} AS cos
      FROM embeddings e CROSS JOIN icen c
    ),
    iasg AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT vec_id, embedding, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, cid) AS rn
        FROM iscored
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT cid FROM iscored WHERE vec_id = 0
      ORDER BY cos DESC, cid LIMIT {_IVF_NPROBE}
    ),
    sel AS (
      SELECT a.vec_id, a.embedding FROM iasg a JOIN probes p ON a.cid = p.cid
    ),
    {_pq_trained_cen_sql()},
    subs AS (SELECT unnest(range(0, {_PQ_M})) AS j),
    subdist AS (
      SELECT e.vec_id, s.j, c.cid,
             {_pq_sub_l2_sql('e.embedding', 'c.cvec', 's.j')} AS d
      FROM sel e CROSS JOIN subs s CROSS JOIN cen c
    ),
    codes AS (
      SELECT vec_id, j, cid AS code FROM (
        SELECT vec_id, j, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                    ORDER BY d, cid) AS rn
        FROM subdist
      ) WHERE rn = 1
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    terms AS (
      SELECT codes.vec_id, codes.j,
             {_pq_sub_l2_sql('q.qv', 'c.cvec', 'codes.j')} AS t
      FROM codes JOIN cen c ON codes.code = c.cid CROSS JOIN q
    ),
    adc AS (
      SELECT vec_id, list_sum(list(t ORDER BY j)) AS dist
      FROM terms GROUP BY vec_id
    )
    SELECT vec_id, ROUND(dist, 6) AS pq_dist
    FROM adc ORDER BY pq_dist, vec_id LIMIT 10
"""

EXT_QUERIES.update(
    {
        "ann_topk_pq_trained": q_ann_topk_pq_trained,
        "ann_topk_ivfadc_trained": q_ann_topk_ivfadc_trained,
    }
)
EXT_ORACLES.update(
    {
        "ann_topk_pq_trained": ORACLE_ANN_TOPK_PQ_TRAINED,
        "ann_topk_ivfadc_trained": ORACLE_ANN_TOPK_IVFADC_TRAINED,
    }
)


def q_domain_cap(spark, sf_dir):
    from reffy_spark.operators.corpus_quality import domain_cap

    return domain_cap(_load(spark, sf_dir, "documents"), cap=10)


ORACLE_DOMAIN_CAP = f"""
    WITH p AS (
      SELECT doc_id, source,
             len({_Q_TOKS}) AS n_tokens,
             length(text) AS n_chars,
             len(list_filter({_Q_TOKS}, t -> list_contains({_Q_SW['en']}, t)))
               AS sw_en
      FROM documents
    ),
    scored AS (
      SELECT doc_id, source,
             ROUND(((CASE WHEN n_tokens BETWEEN 10 AND 100000
                          THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN n_tokens > 0 AND n_chars::DOUBLE / n_tokens
                          BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN n_tokens > 0
                          AND sw_en::DOUBLE / n_tokens >= 0.01
                          THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
      FROM p
    )
    SELECT doc_id, source AS domain, quality, rank FROM (
      SELECT doc_id, source, quality,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY quality DESC, doc_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 10
"""

EXT_QUERIES.update({"domain_cap": q_domain_cap})
EXT_ORACLES.update({"domain_cap": ORACLE_DOMAIN_CAP})


# ---------------------------------------------------------------------------
# idlparsed full webidl2-shaped AST (closes the disclosed simplified-AST
# divergence: structured idlType records, extended-attribute objects,
# argument records — src/postprocessing/idlparsed.js stores the full
# webidl2.js parse; see functions/webidl.py)
# ---------------------------------------------------------------------------


def q_idlparsed_ast(spark, sf_dir):
    """Full idlparsed report in the reference's exact payload shape over
    the same synthetic IDL as idl_members; one canonical-JSON report per
    url. The oracle is a hand-embedded webidl2.js-shape template — NOT
    generated from the parser — so it independently pins the AST
    contract."""
    d = _load(spark, sf_dir, "documents").select("doc_id")
    i = _s(F.col("doc_id"))
    overload = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.lit("  undefined m"), i, F.lit("(DOMString a);\n")),
    ).otherwise(F.lit(""))
    idl = F.concat(
        F.lit("[Exposed=Window]\ninterface I"), i, F.lit(" {\n"),
        F.lit("  attribute DOMString attr"), i, F.lit(";\n"),
        F.lit("  undefined m"), i, F.lit("();\n"),
        overload,
        F.lit("};\n"),
    )
    extracts = d.select(
        F.concat(F.lit("https://idl.test/d"), i, F.lit("/")).alias("url"),
        idl.alias("idl"),
    )
    return PP.idlparsed(extracts, ast=True)


def _ast_oracle_template(overload: bool) -> str:
    """The expected canonical-JSON report with `{I}` where doc_id goes.
    Transcribed from the webidl2.js AST shape (its public README "Data
    types"); \\n stays a literal two-char escape, as in the JSON."""
    frag_ov = r"\n  undefined m{I}(DOMString a);" if overload else ""
    member_ov = (
        ', {"arguments": [{"default": null, "extAttrs": [], "idlType": '
        '{"extAttrs": [], "generic": "", "idlType": "DOMString", '
        '"nullable": false, "type": "argument-type", "union": false}, '
        '"name": "a", "optional": false, "type": "argument", '
        '"variadic": false}], "extAttrs": [], "idlType": {"extAttrs": [], '
        '"generic": "", "idlType": "undefined", "nullable": false, '
        '"type": "return-type", "union": false}, "name": "m{I}", '
        '"special": "", "type": "operation"}'
    ) if overload else ""
    return (
        '{"dependencies": {"I{I}": []}, "exposed": {"Window": ["I{I}"]}, '
        '"externalDependencies": [], "globals": {}, '
        '"hasObsoleteIdl": false, "idlExtendedNames": {}, '
        '"idlNames": {"I{I}": {"extAttrs": [{"arguments": [], '
        '"name": "Exposed", "rhs": {"type": "identifier", '
        '"value": "Window"}, "type": "extended-attribute"}], '
        r'"fragment": "[Exposed=Window]\ninterface I{I} {\n'
        r"  attribute DOMString attr{I};\n  undefined m{I}();"
        + frag_ov +
        r'\n};", "inheritance": null, "members": '
        '[{"extAttrs": [], "idlType": {"extAttrs": [], "generic": "", '
        '"idlType": "DOMString", "nullable": false, '
        '"type": "attribute-type", "union": false}, "name": "attr{I}", '
        '"readonly": false, "special": "", "type": "attribute"}, '
        '{"arguments": [], "extAttrs": [], "idlType": {"extAttrs": [], '
        '"generic": "", "idlType": "undefined", "nullable": false, '
        '"type": "return-type", "union": false}, "name": "m{I}", '
        '"special": "", "type": "operation"}'
        + member_ov +
        '], "name": "I{I}", "partial": false, "type": "interface"}}, '
        '"jsNames": {"constructors": {}, "functions": {"Window": '
        '["I{I}"]}}}'
    )


def _ast_template_sql(overload: bool) -> str:
    """SQL expression rebuilding the template with doc_id spliced in."""
    parts = _ast_oracle_template(overload).split("{I}")
    quoted = [
        "'" + p.replace("'", "''") + "'" for p in parts
    ]
    return " || doc_id || ".join(quoted)


ORACLE_IDLPARSED_AST = f"""
    SELECT 'https://idl.test/d' || doc_id || '/' AS url,
           CASE WHEN doc_id % 4 = 0
                THEN {_ast_template_sql(True)}
                ELSE {_ast_template_sql(False)}
           END AS idlparsed
    FROM documents
"""

EXT_QUERIES["idlparsed_ast"] = q_idlparsed_ast
EXT_ORACLES["idlparsed_ast"] = ORACLE_IDLPARSED_AST


# ---------------------------------------------------------------------------
# cross-document line dedup (C4-style corpus-wide pass)
# ---------------------------------------------------------------------------


def q_line_dedup(spark, sf_dir):
    """Global first-occurrence-wins line dedup over synthetic multi-line
    docs: line 2 of every doc is one of 3 shared boilerplate strings
    (dropped everywhere except its first carrier), other lines unique."""
    from reffy_spark.operators.corpus_quality import line_dedup

    d = _load(spark, sf_dir, "documents").select("doc_id")
    i = _s(F.col("doc_id"))
    lines = [
        F.when(
            F.lit(j) == 2,
            F.concat(F.lit("shared-boilerplate-"), _s(F.col("doc_id") % 3)),
        ).otherwise(
            F.concat(F.lit("content-"), i, F.lit("-"), F.lit(str(j)))
        )
        for j in range(5)
    ]
    docs = d.select("doc_id", F.concat_ws("\n", *lines).alias("text"))
    return line_dedup(docs)


ORACLE_LINE_DEDUP = """
    WITH src AS (
      SELECT doc_id, j,
             CASE WHEN j = 2 THEN 'shared-boilerplate-' || (doc_id % 3)
                  ELSE 'content-' || doc_id || '-' || j END AS line
      FROM documents, range(0, 5) t(j)
    ),
    ranked AS (
      SELECT doc_id, j, line,
             ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, j) AS rn
      FROM src
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
                               ORDER BY j), '') AS text,
           count(*) AS n_lines,
           count(CASE WHEN rn = 1 THEN 1 END) AS n_kept
    FROM ranked GROUP BY doc_id
"""

EXT_QUERIES["line_dedup"] = q_line_dedup
EXT_ORACLES["line_dedup"] = ORACLE_LINE_DEDUP


# ---------------------------------------------------------------------------
# token-stream sequence packing (GPT-style pretraining batch layout)
# ---------------------------------------------------------------------------


def q_pack_sequences(spark, sf_dir):
    from reffy_spark.operators.corpus_quality import pack_sequences

    return pack_sequences(_load(spark, sf_dir, "documents"), window=256)


ORACLE_PACK_SEQUENCES = f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_Q_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start_offset
      FROM t
    )
    SELECT doc_id, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
           CAST(start_offset // 256 AS BIGINT) AS first_bin,
           CAST((start_offset + greatest(n_tokens - 1, 0)) // 256 AS BIGINT)
             AS last_bin
    FROM c
"""

EXT_QUERIES["pack_sequences"] = q_pack_sequences
EXT_ORACLES["pack_sequences"] = ORACLE_PACK_SEQUENCES


# ---------------------------------------------------------------------------
# curation family: PII scrub, URL filtering, hashed-linear quality classifier
# ---------------------------------------------------------------------------


def q_pii_scan(spark, sf_dir):
    """PII scrub over documents augmented with deterministic synthetic
    PII (the raw synthetic corpus is word salad with no PII; the
    md5-bucketed augmentation gives every family hits AND misses, and
    the DuckDB oracle replays the identical augmentation)."""
    from reffy_spark.operators.curation import pii_scan
    from reffy_spark.operators.dedupe import h60

    d = _load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    em = F.when(
        h60(F.concat(F.lit("pii-e#"), _s(i))) % 3 == 0,
        F.concat(F.lit(" reach user"), _s(i), F.lit("@example.com now")),
    ).otherwise(F.lit(""))
    ip = F.when(
        h60(F.concat(F.lit("pii-i#"), _s(i))) % 5 < 2,
        F.concat(F.lit(" host 10."), _s(i % 256), F.lit(".0.42 up")),
    ).otherwise(F.lit(""))
    ph = F.when(
        h60(F.concat(F.lit("pii-p#"), _s(i))) % 7 < 3,
        F.concat(
            F.lit(" call +1 555-"), F.lpad(_s(i % 10000), 4, "0"), F.lit(" soon")
        ),
    ).otherwise(F.lit(""))
    aug = d.select(
        "doc_id", F.concat(F.col("text"), em, ip, ph).alias("text")
    )
    out = pii_scan(aug)
    return out.select(
        "doc_id",
        *[
            F.col(c).cast("long").alias(c)
            for c in ("n_email", "n_ipv4", "n_phone", "n_pii")
        ],
        "redacted",
    )


_ORACLE_PII_TMPL = """
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN (('0x'||substr(md5('pii-e#'||doc_id),1,15))::BIGINT) % 3 = 0
                     THEN ' reach user' || doc_id || '@example.com now' ELSE '' END
             || CASE WHEN (('0x'||substr(md5('pii-i#'||doc_id),1,15))::BIGINT) % 5 < 2
                     THEN ' host 10.' || (doc_id % 256) || '.0.42 up' ELSE '' END
             || CASE WHEN (('0x'||substr(md5('pii-p#'||doc_id),1,15))::BIGINT) % 7 < 3
                     THEN ' call +1 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' soon' ELSE '' END
               AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '__EMAIL__'))::BIGINT AS n_email,
           len(regexp_extract_all(text, '__IPV4__'))::BIGINT AS n_ipv4,
           len(regexp_extract_all(text, '__PHONE__'))::BIGINT AS n_phone,
           (len(regexp_extract_all(text, '__EMAIL__'))
            + len(regexp_extract_all(text, '__IPV4__'))
            + len(regexp_extract_all(text, '__PHONE__')))::BIGINT AS n_pii,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '__EMAIL__', '<EMAIL>', 'g'),
               '__IPV4__', '<IP>', 'g'),
             '__PHONE__', '<PHONE>', 'g') AS redacted
    FROM aug
"""


def _oracle_pii_scan() -> str:
    from reffy_spark.operators.curation import RE_EMAIL, RE_IPV4, RE_PHONE

    return (
        _ORACLE_PII_TMPL.replace("__EMAIL__", RE_EMAIL)
        .replace("__IPV4__", RE_IPV4)
        .replace("__PHONE__", RE_PHONE)
    )


EXT_QUERIES["pii_scan"] = q_pii_scan
EXT_ORACLES["pii_scan"] = _oracle_pii_scan()


def q_url_filter(spark, sf_dir):
    """URL curation verdicts over deterministically synthesized URLs
    (host varies by source/tld buckets; 1-in-5 gets an 'ads.' prefix,
    1-in-4 a tracking param)."""
    from reffy_spark.operators.curation import url_filter

    d = _load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("net"), F.lit("org")),
        ((i % 3) + 1).cast("int"),
    )
    url = F.concat(
        F.lit("https://"),
        F.when(i % 5 == 0, F.lit("ads.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example."),
        tld,
        F.lit("/"),
        F.col("lang"),
        F.lit("/doc-"),
        _s(i),
        F.when(i % 4 == 0, F.lit("?utm_source=x")).otherwise(F.lit("")),
    )
    u = d.select("doc_id", url.alias("url"))
    out = url_filter(
        u,
        blocked_domains=["src1.example.net", "src2.example.org"],
        blocked_host_patterns=[r"^ads\."],
    )
    return out.select(
        "doc_id", "url", "host", "blocked", "block_reason", "has_tracking"
    )


ORACLE_URL_FILTER = r"""
    WITH u AS (
      SELECT doc_id,
             'https://'
             || CASE WHEN doc_id % 5 = 0 THEN 'ads.' ELSE '' END
             || source || '.example.'
             || CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'net' ELSE 'org' END
             || '/' || lang || '/doc-' || doc_id
             || CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x' ELSE '' END AS url
      FROM documents
    ),
    h AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)) AS host
      FROM u
    ),
    v AS (
      SELECT doc_id, url, host,
             (host = 'src1.example.net' OR ends_with(host, '.src1.example.net')
              OR host = 'src2.example.org' OR ends_with(host, '.src2.example.org'))
               AS dom_b,
             regexp_matches(host, '^ads\.') AS pat_b
      FROM h
    )
    SELECT doc_id, url, host,
           (dom_b OR pat_b) AS blocked,
           CASE WHEN dom_b THEN 'domain'
                WHEN pat_b THEN 'host_pattern' END AS block_reason,
           regexp_matches(url, '[?&](utm_[a-z]+|session)=') AS has_tracking
    FROM v
"""

EXT_QUERIES["url_filter"] = q_url_filter
EXT_ORACLES["url_filter"] = ORACLE_URL_FILTER


def q_classifier_score(spark, sf_dir):
    from reffy_spark.operators.curation import classifier_score

    return classifier_score(_load(spark, sf_dir, "documents"))


ORACLE_CLASSIFIER_SCORE = f"""
    WITH t AS (
      SELECT doc_id, {_Q_TOKS} AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, len(toks)::BIGINT AS n_tokens,
             coalesce(list_sum(list_transform(toks,
               x -> (('0x'||substr(md5('clf#'||x),1,15))::BIGINT) % 2000001)), 0)
               AS tot
      FROM t
    )
    SELECT doc_id, n_tokens,
           (CASE WHEN n_tokens > 0
                 THEN (tot - n_tokens*1000000)::DOUBLE
                      / (n_tokens*1000000)::DOUBLE
                 ELSE 0.0 END) AS clf_score,
           (CASE WHEN n_tokens > 0
                 THEN (tot - n_tokens*1000000)::DOUBLE
                      / (n_tokens*1000000)::DOUBLE
                 ELSE 0.0 END) >= 0.0 AS keep
    FROM s
"""

EXT_QUERIES["classifier_score"] = q_classifier_score
EXT_ORACLES["classifier_score"] = ORACLE_CLASSIFIER_SCORE


# ---------------------------------------------------------------------------
# exact-substring (span-level) dedup profile — Lee et al. 2022 ExactSubstr
# ---------------------------------------------------------------------------


def q_duplicate_spans(spark, sf_dir):
    """Span-level dedup over the raw documents (the small shared
    vocabulary makes identical 8-token windows recur naturally across
    docs — real duplicated-span structure without synthetic planting)."""
    from reffy_spark.operators.dedupe import duplicate_spans

    return duplicate_spans(_load(spark, sf_dir, "documents"), window=8)


ORACLE_DUPLICATE_SPANS = f"""
    WITH t AS (
      SELECT doc_id, {_Q_TOKS} AS toks FROM documents
    ),
    fp AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(toks) - 8 + 1, 0) + 1),
               i -> struct_pack(
                 pos := i - 1,
                 whash := ('0x' || substr(md5(array_to_string(
                            list_slice(toks, i, i + 7), chr(31))), 1, 15))::BIGINT
               ))) AS u
      FROM t
    ),
    f AS (
      SELECT doc_id, u.pos AS pos, u.whash AS whash FROM fp
    ),
    ranked AS (
      SELECT doc_id, pos, whash,
             row_number() OVER (PARTITION BY whash ORDER BY doc_id, pos) AS rn
      FROM f
    ),
    dup AS (
      SELECT doc_id, pos FROM ranked WHERE rn > 1
    ),
    dup_w AS (
      SELECT doc_id, count(*) AS n_dup_windows FROM dup GROUP BY doc_id
    ),
    cov AS (
      SELECT doc_id, count(*) AS dup_tokens FROM (
        SELECT DISTINCT d.doc_id, d.pos + j.j AS tkn
        FROM dup d, range(0, 8) j(j)
      ) GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id,
             CAST(len({_Q_TOKS}) AS BIGINT) AS n_tokens,
             CAST(greatest(len({_Q_TOKS}) - 8 + 1, 0) AS BIGINT) AS n_windows
      FROM documents
    )
    SELECT b.doc_id, b.n_tokens, b.n_windows,
           coalesce(w.n_dup_windows, 0)::BIGINT AS n_dup_windows,
           coalesce(c.dup_tokens, 0)::BIGINT AS dup_tokens,
           CASE WHEN b.n_tokens > 0
                THEN coalesce(c.dup_tokens, 0)::DOUBLE / b.n_tokens::DOUBLE
                ELSE 0.0 END AS dup_token_frac
    FROM base b
    LEFT JOIN dup_w w USING (doc_id)
    LEFT JOIN cov c USING (doc_id)
"""

EXT_QUERIES["duplicate_spans"] = q_duplicate_spans
EXT_ORACLES["duplicate_spans"] = ORACLE_DUPLICATE_SPANS


# ---------------------------------------------------------------------------
# bigram-novelty profile — integer-exact CCNet LM-filter analog
# ---------------------------------------------------------------------------


def q_bigram_novelty(spark, sf_dir):
    """Corpus-trained bigram rarity per document (the small shared
    vocabulary yields a dense bigram table with real singleton tail)."""
    from reffy_spark.operators.text_analysis import bigram_novelty

    return bigram_novelty(_load(spark, sf_dir, "documents"))


ORACLE_BIGRAM_NOVELTY = f"""
    WITH t AS (
      SELECT doc_id, {_Q_TOKS} AS toks FROM documents
    ),
    fp AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(toks) - 1, 0) + 1),
               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS u
      FROM t
    ),
    b AS (
      SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM fp
    ),
    c AS (
      SELECT w1, w2, count(*) AS cnt FROM b GROUP BY w1, w2
    ),
    prof AS (
      SELECT doc_id,
             count(*) AS n_bigrams,
             sum(cnt) AS sum_count,
             sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS n_singleton_bigrams
      FROM b JOIN c USING (w1, w2)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_bigrams, 0)::BIGINT AS n_bigrams,
           coalesce(p.sum_count, 0)::BIGINT AS sum_count,
           coalesce(p.n_singleton_bigrams, 0)::BIGINT AS n_singleton_bigrams,
           CASE WHEN coalesce(p.n_bigrams, 0) > 0
                THEN p.sum_count::DOUBLE / p.n_bigrams::DOUBLE
                ELSE 0.0 END AS mean_bigram_count,
           CASE WHEN coalesce(p.n_bigrams, 0) > 0
                THEN p.n_singleton_bigrams::DOUBLE / p.n_bigrams::DOUBLE
                ELSE 0.0 END AS novelty_frac
    FROM documents d
    LEFT JOIN prof p USING (doc_id)
"""

EXT_QUERIES["bigram_novelty"] = q_bigram_novelty
EXT_ORACLES["bigram_novelty"] = ORACLE_BIGRAM_NOVELTY


# ---------------------------------------------------------------------------
# link-graph PageRank — crawl-frontier prioritization (integer fixed-point)
# ---------------------------------------------------------------------------


def q_pagerank(spark, sf_dir):
    """PageRank over the crawl-world link graph, edges produced by the
    REAL extraction path (Arrow mapInPandas links module → links_long);
    the oracle reconstructs the same edges arithmetically from the
    deterministic crawl-world formula (the `extract_links` precedent)."""
    from reffy_spark.operators.linkgraph import edges_from_links, pagerank
    from reffy_spark.plans.entry_queries import build_crawl_world

    pages, _seeds, _robots = build_crawl_world(spark, sf_dir)
    from reffy_spark.extractors.base import extract_all
    from reffy_spark.operators.crawler import links_long

    ext = extract_all(pages, ["links"]).withColumnRenamed("url", "url_canon")
    return pagerank(edges_from_links(links_long(ext)), n_iter=3)


ORACLE_PAGERANK = """
    WITH nn AS (SELECT count(*) AS n FROM documents),
    t0 AS (
      SELECT d.doc_id AS i, (d.doc_id * m.m + m.m) % nn.n AS t
      FROM documents d, nn, (VALUES (7), (13), (29), (41)) m(m)
    ),
    edges AS (
      SELECT DISTINCT
        'https://h' || (i % 8) || '.test/spec-' || i || '/' AS src,
        'https://h' || (t % 8) || '.test/spec-' || t || '/' AS dst
      FROM t0
    ),
    nodes AS (
      SELECT DISTINCT url FROM (
        SELECT src AS url FROM edges UNION SELECT dst FROM edges
      )
    ),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    ed AS (SELECT e.src, e.dst, deg.d AS d FROM edges e JOIN deg USING (src)),
    r0 AS (SELECT url, 1000000::BIGINT AS r FROM nodes),
    c1 AS (SELECT ed.dst, sum((r.r * 85) // (100 * ed.d)) AS s
           FROM ed JOIN r0 r ON ed.src = r.url GROUP BY ed.dst),
    r1 AS (SELECT n.url, (150000 + coalesce(c.s, 0))::BIGINT AS r
           FROM nodes n LEFT JOIN c1 c ON n.url = c.dst),
    c2 AS (SELECT ed.dst, sum((r.r * 85) // (100 * ed.d)) AS s
           FROM ed JOIN r1 r ON ed.src = r.url GROUP BY ed.dst),
    r2 AS (SELECT n.url, (150000 + coalesce(c.s, 0))::BIGINT AS r
           FROM nodes n LEFT JOIN c2 c ON n.url = c.dst),
    c3 AS (SELECT ed.dst, sum((r.r * 85) // (100 * ed.d)) AS s
           FROM ed JOIN r2 r ON ed.src = r.url GROUP BY ed.dst),
    r3 AS (SELECT n.url, (150000 + coalesce(c.s, 0))::BIGINT AS r
           FROM nodes n LEFT JOIN c3 c ON n.url = c.dst),
    indeg AS (SELECT dst, count(*) AS ind FROM edges GROUP BY dst)
    SELECT n.url,
           coalesce(deg.d, 0)::BIGINT AS out_degree,
           coalesce(indeg.ind, 0)::BIGINT AS in_degree,
           r3.r AS rank_fp
    FROM nodes n
    LEFT JOIN deg ON n.url = deg.src
    LEFT JOIN indeg ON n.url = indeg.dst
    JOIN r3 ON n.url = r3.url
"""

EXT_QUERIES["pagerank"] = q_pagerank
EXT_ORACLES["pagerank"] = ORACLE_PAGERANK


def q_host_authority(spark, sf_dir):
    """Host-level PageRank (domain authority) over the crawl-world link
    graph — politeness-budget allocation across domains."""
    from reffy_spark.extractors.base import extract_all
    from reffy_spark.operators.crawler import links_long
    from reffy_spark.operators.linkgraph import (
        edges_from_links,
        edges_to_host_graph,
        pagerank,
    )
    from reffy_spark.plans.entry_queries import build_crawl_world

    pages, _seeds, _robots = build_crawl_world(spark, sf_dir)
    ext = extract_all(pages, ["links"]).withColumnRenamed("url", "url_canon")
    host_edges = edges_to_host_graph(edges_from_links(links_long(ext)))
    return pagerank(host_edges, n_iter=3).withColumnRenamed("url", "host")


ORACLE_HOST_AUTHORITY = """
    WITH nn AS (SELECT count(*) AS n FROM documents),
    t0 AS (
      SELECT d.doc_id AS i, (d.doc_id * m.m + m.m) % nn.n AS t
      FROM documents d, nn, (VALUES (7), (13), (29), (41)) m(m)
    ),
    edges AS (
      SELECT DISTINCT
        'h' || (i % 8) || '.test' AS src,
        'h' || (t % 8) || '.test' AS dst
      FROM t0
    ),
    nodes AS (
      SELECT DISTINCT url FROM (
        SELECT src AS url FROM edges UNION SELECT dst FROM edges
      )
    ),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    ed AS (SELECT e.src, e.dst, deg.d AS d FROM edges e JOIN deg USING (src)),
    r0 AS (SELECT url, 1000000::BIGINT AS r FROM nodes),
    c1 AS (SELECT ed.dst, sum((r.r * 85) // (100 * ed.d)) AS s
           FROM ed JOIN r0 r ON ed.src = r.url GROUP BY ed.dst),
    r1 AS (SELECT n.url, (150000 + coalesce(c.s, 0))::BIGINT AS r
           FROM nodes n LEFT JOIN c1 c ON n.url = c.dst),
    c2 AS (SELECT ed.dst, sum((r.r * 85) // (100 * ed.d)) AS s
           FROM ed JOIN r1 r ON ed.src = r.url GROUP BY ed.dst),
    r2 AS (SELECT n.url, (150000 + coalesce(c.s, 0))::BIGINT AS r
           FROM nodes n LEFT JOIN c2 c ON n.url = c.dst),
    c3 AS (SELECT ed.dst, sum((r.r * 85) // (100 * ed.d)) AS s
           FROM ed JOIN r2 r ON ed.src = r.url GROUP BY ed.dst),
    r3 AS (SELECT n.url, (150000 + coalesce(c.s, 0))::BIGINT AS r
           FROM nodes n LEFT JOIN c3 c ON n.url = c.dst),
    indeg AS (SELECT dst, count(*) AS ind FROM edges GROUP BY dst)
    SELECT n.url AS host,
           coalesce(deg.d, 0)::BIGINT AS out_degree,
           coalesce(indeg.ind, 0)::BIGINT AS in_degree,
           r3.r AS rank_fp
    FROM nodes n
    LEFT JOIN deg ON n.url = deg.src
    LEFT JOIN indeg ON n.url = indeg.dst
    JOIN r3 ON n.url = r3.url
"""

EXT_QUERIES["host_authority"] = q_host_authority
EXT_ORACLES["host_authority"] = ORACLE_HOST_AUTHORITY


# ---------------------------------------------------------------------------
# temporal operators: as-of join + gap sessionization (events table)
# ---------------------------------------------------------------------------


def q_asof_prior_signup(spark, sf_dir):
    """For each purchase, the latest signup at-or-before it per user —
    kdb aj / DuckDB ASOF JOIN semantics via union + running last."""
    from reffy_spark.operators.temporal import asof_join

    ev = _load(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "value"
    )
    return asof_join(left, right)


ORACLE_ASOF_PRIOR_SIGNUP = """
    WITH l AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    r0 AS (
      SELECT user_id, ts, max(value) AS value FROM events
      WHERE event_type = 'signup' GROUP BY user_id, ts
    )
    SELECT l.event_id, l.user_id, l.ts, l.value,
           r0.ts AS asof_ts, r0.value AS asof_value
    FROM l ASOF LEFT JOIN r0
      ON l.user_id = r0.user_id AND l.ts >= r0.ts
"""


def q_asof_skewsafe(spark, sf_dir):
    """Same as-of semantics through the two-phase skew-safe plan
    (range repartition + slice-local running last + broadcast boundary
    carry) — bit-identical to ``asof_prior_signup``, so it shares that
    oracle. Proves the hot-key-safe path against DuckDB's native ASOF."""
    from reffy_spark.operators.temporal import asof_join_skewsafe

    ev = _load(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "value"
    )
    return asof_join_skewsafe(left, right)


def q_sessionize_events(spark, sf_dir):
    """Gap-based sessionization (30-min gap) of the event stream."""
    from reffy_spark.operators.temporal import sessionize

    ev = _load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    return sessionize(ev)


ORACLE_SESSIONIZE_EVENTS = """
    WITH s AS (
      SELECT event_id, user_id, ts, event_type,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts) > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM events
    )
    SELECT event_id, user_id, ts, event_type,
           sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        )::BIGINT AS session_idx
    FROM s
"""


def q_sessionize_skewsafe(spark, sf_dir):
    """Gap sessionization through the two-phase skew-safe plan —
    bit-identical to ``sessionize_events``, shares its oracle. Proves
    the hot-key-safe path against the direct-window DuckDB SQL."""
    from reffy_spark.operators.temporal import sessionize_skewsafe

    ev = _load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    return sessionize_skewsafe(ev)


def q_session_stats(spark, sf_dir):
    """Per-session rollup: counts + min/max only (no cross-row float
    sums) — bit-exact vs the oracle."""
    from reffy_spark.operators.temporal import session_stats

    ev = _load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return session_stats(ev)


ORACLE_SESSION_STATS = """
    WITH s AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts) > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM events
    ),
    g AS (
      SELECT user_id, ts,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                          )::BIGINT AS session_idx
      FROM s
    )
    SELECT user_id, session_idx,
           count(*)::BIGINT AS n_events,
           min(ts) AS start_ts,
           max(ts) AS end_ts,
           (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT AS duration_us
    FROM g GROUP BY user_id, session_idx
"""

EXT_QUERIES["asof_prior_signup"] = q_asof_prior_signup
EXT_ORACLES["asof_prior_signup"] = ORACLE_ASOF_PRIOR_SIGNUP
EXT_QUERIES["asof_skewsafe"] = q_asof_skewsafe
EXT_ORACLES["asof_skewsafe"] = ORACLE_ASOF_PRIOR_SIGNUP
EXT_QUERIES["sessionize_events"] = q_sessionize_events
EXT_ORACLES["sessionize_events"] = ORACLE_SESSIONIZE_EVENTS
EXT_QUERIES["sessionize_skewsafe"] = q_sessionize_skewsafe
EXT_ORACLES["sessionize_skewsafe"] = ORACLE_SESSIONIZE_EVENTS
EXT_QUERIES["session_stats"] = q_session_stats
EXT_ORACLES["session_stats"] = ORACLE_SESSION_STATS


def q_doc_keywords(spark, sf_dir):
    """Per-doc top-5 keywords by tf with corpus df — integer-exact
    tf-idf keyword extraction (df is monotone in idf)."""
    from reffy_spark.operators.text_analysis import doc_keywords

    return doc_keywords(_load(spark, sf_dir, "documents"))


ORACLE_DOC_KEYWORDS = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_Q_TOKS}) AS token FROM documents
    ),
    filt AS (
      SELECT doc_id, token FROM tok
      WHERE token NOT IN ('the','a','of','and','to','in','is','that','it','for')
    ),
    tf AS (
      SELECT doc_id, token, count(*) AS tf FROM filt GROUP BY doc_id, token
    ),
    dfreq AS (
      SELECT token, count(*) AS df FROM tf GROUP BY token
    ),
    ranked AS (
      SELECT doc_id, token, tf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tf DESC, token ASC) AS rank
      FROM tf
    )
    SELECT r.doc_id, r.token,
           r.tf::BIGINT AS tf, d.df::BIGINT AS df, r.rank::BIGINT AS rank
    FROM ranked r JOIN dfreq d USING (token)
    WHERE r.rank <= 5
"""

EXT_QUERIES["doc_keywords"] = q_doc_keywords
EXT_ORACLES["doc_keywords"] = ORACLE_DOC_KEYWORDS


def q_budget_apportion(spark, sf_dir):
    """Global crawl budget (100k fetch slots) apportioned across hosts
    by authority rank — Hamilton largest-remainder, all-integer."""
    from reffy_spark.operators.linkgraph import apportion_budget

    ha = q_host_authority(spark, sf_dir)
    return apportion_budget(ha, total_budget=100_000)


ORACLE_BUDGET_APPORTION = (
    "    WITH ha AS (" + ORACLE_HOST_AUTHORITY + """
    ),
    tot AS (SELECT sum(rank_fp) AS S FROM ha),
    j AS (
      SELECT host, rank_fp,
             (100000 * rank_fp) // S AS base,
             (100000 * rank_fp) % S AS rem
      FROM ha, tot
    ),
    d AS (SELECT 100000 - sum(base) AS defi FROM j),
    r AS (
      SELECT host, rank_fp, base, rem,
             row_number() OVER (ORDER BY rem DESC, host ASC) AS rn
      FROM j
    )
    SELECT r.host, r.rank_fp,
           (r.base + CASE WHEN r.rn <= d.defi THEN 1 ELSE 0 END)::BIGINT
             AS budget
    FROM r, d
""")

EXT_QUERIES["budget_apportion"] = q_budget_apportion
EXT_ORACLES["budget_apportion"] = ORACLE_BUDGET_APPORTION
