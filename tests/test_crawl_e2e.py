"""End-to-end seed-replay parity: distributed engine vs reference simulator.

Mirrors the reference's e2e crawl test (test/crawl.js:51-68 asserting
against crawl-test.json): same seed list + politeness budget must yield
the same per-host fetch sequence, round-by-round frontier, and final
URL-seen set (SURVEY.md §7.3 invariant 3; FIXTURES.md §7 tier 2/3).
"""

import datetime
import hashlib
import json

import pytest
from pyspark.sql import functions as F

from reffy_spark.operators.crawler import CrawlEngine
from reffy_spark.sources import synthetic as syn
from reffy_spark.testing.fixtures import gen_robots, gen_seeds
from reffy_spark.testing.simulator import simulate_crawl

N_PAGES = 60
N_SEEDS = 6
MAX_ROUNDS = 4


@pytest.fixture(scope="module")
def corpus(spark):
    pages = syn.gen_pages(spark, N_PAGES, partitions=8).cache()
    seeds = gen_seeds(spark, N_PAGES, N_SEEDS).cache()
    robots = gen_robots(spark).cache()
    return pages, seeds, robots


@pytest.fixture(scope="module")
def sim(corpus):
    pages, seeds, robots = corpus
    pages_rows = [
        {"url": r["url"], "warc_ts": r["warc_ts"], "html": bytes(r["html"])}
        for r in pages.collect()
    ]
    seed_urls = [r["url"] for r in seeds.orderBy("seed_idx").collect()]
    robots_rows = [r.asDict() for r in robots.collect()]
    return simulate_crawl(seed_urls, pages_rows, robots_rows, max_rounds=MAX_ROUNDS)


@pytest.fixture(scope="module")
def engine_result(spark, corpus, tmp_path_factory):
    pages, seeds, robots = corpus
    chk = str(tmp_path_factory.mktemp("chk"))
    eng = CrawlEngine(spark, pages, robots, checkpoint_dir=chk, modules=["links"])
    res = eng.crawl(seeds, max_rounds=MAX_ROUNDS)
    return res


def _engine_fetches(res):
    rows = res.results.select(
        "url_canon", "round", "host_group", "host_fetch_rank", "status", "depth"
    ).collect()
    return sorted((r[0], r[1], r[2], r[3], r[4], r[5]) for r in rows)


def test_fetch_sequence_parity(engine_result, sim):
    got = _engine_fetches(engine_result)
    expected = sorted(sim.fetches)
    assert got == expected


def test_url_seen_parity(engine_result, sim):
    got = {
        r["url_canon"]: r["first_round"] for r in engine_result.url_seen.collect()
    }
    assert got == sim.url_seen


def test_crawl_order_is_seed_order(engine_result, corpus):
    _, seeds, _ = corpus
    seed_rows = engine_result.results.filter(F.col("seed_idx").isNotNull())
    ordered = seed_rows.orderBy("seed_idx").select("url_canon").collect()
    # seed output order == seed input order (W3)
    from reffy_spark.functions.urls import url_canon_py

    expected = [url_canon_py(r["url"]) for r in seeds.orderBy("seed_idx").collect()]
    got = [r["url_canon"] for r in ordered]
    assert got == [u for u in expected if u in set(got)]
    assert len(got) == len(set(got))


def test_links_table_matches_generator(engine_result, spark):
    # outgoing links of every fetched page == deterministic page_link_targets()
    links = engine_result.links.select("url_canon", "page_url").distinct().collect()
    by_src = {}
    for r in links:
        by_src.setdefault(r["url_canon"], set()).add(r["page_url"])
    import re

    checked = 0
    for src, targets in by_src.items():
        m = re.search(r"spec-(\d+)/$", src)
        if not m:
            continue  # collapsed canonical (whatwg root): content id ambiguous
        i = int(m.group(1))
        expect = {syn.url_of_page(t) for t in syn.page_link_targets(i, N_PAGES)}
        # the .head repo link must have been EXCLUDED by the extractor
        assert f"https://github.example/repo-{i}" not in targets
        assert targets == expect, src
        checked += 1
    assert checked > 5


def test_bloom_and_exact_paths_agree(spark, corpus):
    # both URL-seen membership paths (exact anti-join, bloom split) must
    # produce identical crawls
    pages, seeds, robots = corpus
    res_b = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=True, collect_metrics=False
    ).crawl(seeds, max_rounds=2)
    res_e = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=False, collect_metrics=False
    ).crawl(seeds, max_rounds=2)
    assert _engine_fetches(res_b) == _engine_fetches(res_e)
    seen_e = sorted(r["url_canon"] for r in res_e.url_seen.collect())
    assert sorted(r["url_canon"] for r in res_b.url_seen.collect()) == seen_e


def test_use_bloom_rejects_non_bool(spark, corpus):
    pages, _seeds, robots = corpus
    with pytest.raises(ValueError, match="filter_unseen_cuckoo"):
        CrawlEngine(spark, pages, robots, use_bloom="cuckoo")


def test_resume_equals_uninterrupted(spark, corpus, tmp_path_factory, engine_result):
    pages, seeds, robots = corpus
    chk = str(tmp_path_factory.mktemp("chk_resume"))
    eng = CrawlEngine(spark, pages, robots, checkpoint_dir=chk, modules=["links"])
    eng.crawl(seeds, max_rounds=2)
    resumed = CrawlEngine(
        spark, pages, robots, checkpoint_dir=chk, modules=["links"]
    ).resume(max_rounds=MAX_ROUNDS)
    assert _engine_fetches(resumed) == _engine_fetches(engine_result)
    got = {r["url_canon"]: r["first_round"] for r in resumed.url_seen.collect()}
    want = {
        r["url_canon"]: r["first_round"] for r in engine_result.url_seen.collect()
    }
    assert got == want


def test_round_metrics_lineage(engine_result):
    ms = engine_result.metrics
    assert len(ms) >= 2
    for m in ms:
        assert m.selected == m.fetched + m.errors
        assert sum(m.per_host_group.values()) == m.selected


def test_css_hiccup_page_yields_error_result(spark):
    # util.js:597-602 / test/crawl.js:178: a drafts-server directory
    # listing ("Index of …" h1) must produce an error result, not a
    # bogus extract
    hiccup_html = (
        b"<html><body><h1>Index of /css-sizing/</h1>"
        b"<pre>../  Overview.html</pre></body></html>"
    )
    ok_html = (
        b'<html><head><title>Good Spec</title></head>'
        b'<body><h1>Good Spec</h1><p><a href="https://w.test/x/">x</a></p>'
        b"</body></html>"
    )
    pages = spark.createDataFrame(
        [
            ("https://drafts.test/hiccup/", hiccup_html),
            ("https://drafts.test/good/", ok_html),
        ],
        "url string, html binary",
    )
    robots = spark.createDataFrame(
        [("drafts.test", "/", True, 10)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    eng = CrawlEngine(
        spark, pages, robots, modules=["links", "title"],
        use_bloom=False, collect_metrics=True, discover=False,
    )
    res = eng.crawl(pages.select("url"), max_rounds=1)
    rows = {r["url_canon"]: r for r in res.results.collect()}
    bad = rows["https://drafts.test/hiccup/"]
    good = rows["https://drafts.test/good/"]
    assert bad["status"] == "error"
    assert bad["crawl_error"] == "CSS server issue detected"
    assert bad["title"] is None and bad["links"] is None
    assert good["status"] == "ok"
    assert good["crawl_error"] is None
    assert "Good Spec" in good["title"]
    # hiccups count as errors in the round metrics
    assert res.metrics[0].errors == 1 and res.metrics[0].fetched == 1


def test_page_that_raises_yields_one_error_row(spark, corpus):
    """A page whose parse raises (a NULL ``html`` cell) gets status
    ``error`` and NULL module columns; the crawl completes and every
    other row equals the same crawl over the intact pages."""
    pages, _seeds, robots = corpus
    seeds = pages.select("url").orderBy("url").limit(12)
    bad_url = seeds.orderBy("url").first()["url"]
    broken = pages.withColumn(
        "html",
        F.when(F.col("url") == bad_url, F.lit(None).cast("binary")).otherwise(
            F.col("html")
        ),
    )
    modules = ["links", "title"]

    def crawl(pages_df, seed_df):
        eng = CrawlEngine(
            spark, pages_df, robots, modules=modules, use_bloom=False,
            discover=False,
        )
        res = eng.crawl(seed_df, max_rounds=1)
        cols = ["url_canon", "status", "crawl_error", *modules]
        return {r["url_canon"]: r for r in res.results.select(*cols).collect()}

    rows = crawl(broken, seeds)
    errors = [r for r in rows.values() if r["status"] == "error"]
    assert len(errors) == 1
    bad = errors[0]
    assert bad["crawl_error"].startswith("parse raised TypeError: ")
    assert bad["links"] is None and bad["title"] is None
    clean = crawl(pages, seeds)
    assert clean[bad["url_canon"]]["status"] == "ok"
    del clean[bad["url_canon"]]
    assert {u: r for u, r in rows.items() if r is not bad} == clean


def test_unknown_module_fails_before_any_job(spark, corpus):
    from reffy_spark.extractors.base import extract_all

    pages, _seeds, robots = corpus
    with pytest.raises(ValueError, match=r"nope.*known modules: title"):
        CrawlEngine(spark, pages, robots, modules=["links", "nope"])
    with pytest.raises(ValueError, match=r"nope.*known modules: title"):
        extract_all(pages, ["nope"])


def test_results_carry_crawl_cache_info(engine_result, corpus):
    # crawlCacheInfo analog (specs-crawler.js:87-98): every ok result
    # carries etag (content digest) + last_modified (capture timestamp)
    import hashlib

    pages, _, _ = corpus
    by_canon = {}
    from reffy_spark.functions.urls import url_canon_py

    for r in pages.collect():
        c = url_canon_py(r["url"])
        prev = by_canon.get(c)
        if prev is None or (r["warc_ts"], r["url"]) > (prev[0], prev[2]):
            by_canon[c] = (r["warc_ts"], bytes(r["html"]), r["url"])
    ok = engine_result.results.filter(F.col("status") == "ok").select(
        "url_canon", "etag", "last_modified"
    )
    n = 0
    for r in ok.collect():
        ts, html, _u = by_canon[r["url_canon"]]
        assert r["etag"] == hashlib.md5(html).hexdigest()
        assert r["last_modified"] == ts
        n += 1
    assert n > 5


def test_resume_keeps_prior_cache_info(spark, corpus, tmp_path_factory):
    # a resumed crawl re-reads prior rounds' results from checkpoints:
    # pages fetched before the interruption keep their original cache
    # info (the reference reuses fallback.crawlCacheInfo when the
    # crawler version matches, specs-crawler.js:87-98)
    pages, seeds, robots = corpus
    chk = str(tmp_path_factory.mktemp("chk_cache"))
    eng = CrawlEngine(spark, pages, robots, checkpoint_dir=chk, modules=["links"])
    first = eng.crawl(seeds, max_rounds=2)
    prior = {
        r["url_canon"]: (r["etag"], r["last_modified"])
        for r in first.results.filter(F.col("status") == "ok")
        .select("url_canon", "etag", "last_modified")
        .collect()
    }
    resumed = CrawlEngine(
        spark, pages, robots, checkpoint_dir=chk, modules=["links"]
    ).resume(max_rounds=MAX_ROUNDS)
    after = {
        r["url_canon"]: (r["etag"], r["last_modified"])
        for r in resumed.results.filter(F.col("status") == "ok")
        .select("url_canon", "etag", "last_modified")
        .collect()
    }
    assert prior  # sanity: the interrupted crawl fetched something
    for canon, info in prior.items():
        assert after[canon] == info


def test_fallback_reuse_skips_unchanged_pages(spark):
    # test/crawl.js:114 "skips processing and reuse fallback data when
    # spec cache info indicates it has not changed" + :146 "reports
    # errors and returns fallback data when possible"
    def page(i, v=1):
        return (
            f"https://fb.test/s{i}/",
            f"<html><head><title>S{i} v{v}</title></head>"
            f"<body><h1>S{i}</h1></body></html>".encode(),
        )

    robots = spark.createDataFrame(
        [("fb.test", "/", True, 10)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    pages_v1 = spark.createDataFrame(
        [page(i) for i in range(6)], "url string, html binary"
    )
    first = CrawlEngine(
        spark, pages_v1, robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False,
    ).crawl(pages_v1.select("url"), max_rounds=1)
    fallback = first.results
    # tamper one unchanged page's stored title: the recrawl must carry
    # the SENTINEL through (proof extraction was skipped, not re-run)
    fallback = fallback.withColumn(
        "title",
        F.when(
            F.col("url_canon") == "https://fb.test/s1/", F.lit('"SENTINEL"')
        ).otherwise(F.col("title")),
    )

    # v2: page 0 changed, page 5 gone, others identical
    pages_v2 = spark.createDataFrame(
        [page(0, v=2)] + [page(i) for i in range(1, 5)],
        "url string, html binary",
    )
    second = CrawlEngine(
        spark, pages_v2, robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False, fallback=fallback,
    ).crawl(pages_v1.select("url"), max_rounds=1)
    rows = {r["url_canon"]: r for r in second.results.collect()}

    changed = rows["https://fb.test/s0/"]
    assert changed["status"] == "ok" and not changed["from_fallback"]
    assert "v2" in changed["title"]
    sentinel = rows["https://fb.test/s1/"]
    assert sentinel["from_fallback"] and sentinel["title"] == '"SENTINEL"'
    for i in (2, 3, 4):
        r = rows[f"https://fb.test/s{i}/"]
        assert r["from_fallback"] and r["status"] == "ok"
        assert f"S{i} v1" in r["title"]
    gone = rows["https://fb.test/s5/"]
    assert gone["status"] == "notfound" and gone["from_fallback"]
    assert f"S5 v1" in gone["title"]  # fallback data returned with the error


def test_redirect_drops_cache_info_and_records_final_url(spark):
    # test/crawl.js:128-135 "does not return cache info when a
    # redirection took place" + specs-crawler.js:140-152: the result's
    # `crawled` is the post-redirect URL, cache info is dropped (it
    # belongs to the initial URL), and the page content IS extracted.
    def page(i, final=None, title=None):
        return (
            f"https://rd.test/s{i}/",
            f"<html><head><title>{title or f'S{i}'}</title></head>"
            f"<body><h1>x</h1></body></html>".encode(),
            final,
        )

    robots = spark.createDataFrame(
        [("rd.test", "/", True, 10)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    pages = spark.createDataFrame(
        [
            page(0),  # plain page: final_url NULL
            page(1, final="https://moved.test/new-home/",
                 title="Recently updated"),  # redirected
            page(2, final="https://rd.test/s2/"),  # final == request: no redirect
        ],
        "url string, html binary, final_url string",
    )
    res = CrawlEngine(
        spark, pages, robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False,
    ).crawl(pages.select("url"), max_rounds=1)
    rows = {r["url_canon"]: r for r in res.results.collect()}

    plain = rows["https://rd.test/s0/"]
    assert plain["crawled"] == "https://rd.test/s0/"
    assert plain["etag"] is not None and plain["status"] == "ok"

    moved = rows["https://rd.test/s1/"]
    assert moved["crawled"] == "https://moved.test/new-home/"
    assert moved["status"] == "ok"
    assert "Recently updated" in moved["title"]  # content still extracted
    assert moved["etag"] is None and moved["last_modified"] is None

    same = rows["https://rd.test/s2/"]  # explicit final equal to request
    assert same["crawled"] == "https://rd.test/s2/"
    assert same["etag"] is not None


def test_redirect_disables_fallback_reuse(spark):
    # A redirected page must be re-extracted even when its content digest
    # matches the fallback crawl's etag — the cache info is untrusted.
    def mk_pages(final):
        return spark.createDataFrame(
            [("https://rd.test/s0/",
              b"<html><head><title>Same bytes</title></head></html>",
              final)],
            "url string, html binary, final_url string",
        )

    robots = spark.createDataFrame(
        [("rd.test", "/", True, 10)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    first = CrawlEngine(
        spark, mk_pages(None), robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False,
    ).crawl(mk_pages(None).select("url"), max_rounds=1)
    fallback = first.results.withColumn("title", F.lit('"SENTINEL"'))

    second = CrawlEngine(
        spark, mk_pages("https://moved.test/"), robots, modules=["title"],
        use_bloom=False, collect_metrics=False, discover=False,
        fallback=fallback,
    ).crawl(mk_pages(None).select("url"), max_rounds=1)
    row = second.results.collect()[0]
    # same bytes, but redirected → no reuse: fresh extraction, no sentinel
    assert not row["from_fallback"]
    assert "Same bytes" in row["title"]
    assert row["crawled"] == "https://moved.test/"
    assert row["etag"] is None


def test_redirect_not_confused_by_canonicalization(spark):
    # specs-crawler.js:144-146 compares result.crawled against the RAW
    # request URL, not its canonicalization: a page whose URL changes
    # only under canonicalization (http→https, index.html strip) but
    # lands exactly where requested is NOT a redirect — cache info must
    # be kept (the r5 comparison against url_canon misclassified these,
    # permanently disabling etag reuse for them).
    raw = "http://rd.test/s3/index.html"  # canon → https://rd.test/s3/
    pages = spark.createDataFrame(
        [(raw, b"<html><head><title>Stable</title></head></html>", raw)],
        "url string, html binary, final_url string",
    )
    robots = spark.createDataFrame(
        [("rd.test", "/", True, 10)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    res = CrawlEngine(
        spark, pages, robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False,
    ).crawl(pages.select("url"), max_rounds=1)
    row = res.results.collect()[0]
    assert row["url_canon"] == "https://rd.test/s3/"
    assert row["crawled"] == raw          # the landed (raw) URL
    assert row["etag"] is not None        # NOT misclassified as redirect
    assert row["status"] == "ok"


def test_redirect_preserves_fallback_reuse_for_canon_rewrites(spark):
    # follow-on: an unchanged page behind a canonicalizing URL must still
    # hit the etag-reuse short-circuit on recrawl
    raw = "http://rd.test/s4/index.html"

    def mk():
        return spark.createDataFrame(
            [(raw, b"<html><head><title>Same</title></head></html>", raw)],
            "url string, html binary, final_url string",
        )

    robots = spark.createDataFrame(
        [("rd.test", "/", True, 10)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    first = CrawlEngine(
        spark, mk(), robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False,
    ).crawl(mk().select("url"), max_rounds=1)
    fallback = first.results.withColumn("title", F.lit('"SENTINEL"'))
    second = CrawlEngine(
        spark, mk(), robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False, fallback=fallback,
    ).crawl(mk().select("url"), max_rounds=1)
    row = second.results.collect()[0]
    assert row["from_fallback"] and row["title"] == '"SENTINEL"'


def test_commit_failure_surfaces_and_engine_recovers(spark, corpus):
    # Crash inside a round-state commit: the error must surface and the
    # engine must stay reusable — a rerun equals the uninterrupted crawl
    # (ephemeral crawls have no checkpoint, so "resume" == rerun-from-seeds).
    pages, seeds, robots = corpus
    baseline = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=False,
        collect_metrics=False,
    ).crawl(seeds, max_rounds=3)
    want = _engine_fetches(baseline)

    eng = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=False,
        collect_metrics=False,
    )
    orig = eng._materialize

    def boom(df, name, rnd, durable=True):
        if name == "frontier" and rnd == 1:
            raise RuntimeError("injected mid-commit crash")
        return orig(df, name, rnd, durable)

    eng._materialize = boom
    with pytest.raises(RuntimeError, match="injected mid-commit crash"):
        eng.crawl(seeds, max_rounds=3)

    eng._materialize = orig
    rerun = eng.crawl(seeds, max_rounds=3)
    assert _engine_fetches(rerun) == want


def _commit_log(eng):
    """Wrap ``eng._materialize``; return the list it appends (name, rnd)
    to for every round-state commit of round 1 or later."""
    log = []
    orig = eng._materialize

    def logged(df, name, rnd, durable=True):
        if rnd >= 1:
            log.append((name, rnd))
        return orig(df, name, rnd, durable)

    eng._materialize = logged
    return log


def test_final_round_skips_state_commit(spark, corpus):
    # an ephemeral crawl commits frontier and seen after every round but
    # the last: the final round's state has no consumer
    pages, seeds, robots = corpus
    eng = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=False,
        collect_metrics=False,
    )
    log = _commit_log(eng)
    eng.crawl(seeds, max_rounds=3).results.count()
    assert ("batch", 3) in log  # round 3 ran
    for rnd in (1, 2):
        assert ("frontier", rnd) in log and ("seen", rnd) in log
    assert ("frontier", 3) not in log and ("seen", 3) not in log

    # a one-round seed-list replay commits no round state at all
    replay = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=False,
        collect_metrics=False, discover=False,
    )
    log = _commit_log(replay)
    replay.crawl(seeds, max_rounds=1).results.count()
    assert ("batch", 1) in log
    assert ("frontier", 1) not in log and ("seen", 1) not in log


def test_resume_rejects_empty_checkpoint(spark, corpus, tmp_path):
    pages, _seeds, robots = corpus
    missing = str(tmp_path / "missing")
    empty = tmp_path / "empty"
    (empty / "round=0").mkdir(parents=True)  # no seen table: not committed
    for chk in (missing, str(empty)):
        eng = CrawlEngine(spark, pages, robots, checkpoint_dir=chk)
        with pytest.raises(ValueError, match="holds no committed round") as e:
            eng.resume(max_rounds=2)
        assert chk in str(e.value)


def test_crawl_rejects_used_checkpoint(spark, corpus, tmp_path):
    # a second crawl() would leave the first crawl's higher rounds for a
    # later resume() to continue from
    pages, seeds, robots = corpus
    chk = str(tmp_path / "chk")
    eng = CrawlEngine(spark, pages, robots, checkpoint_dir=chk, modules=["links"])
    eng.crawl(seeds, max_rounds=2)
    with pytest.raises(ValueError, match="already holds committed rounds"):
        eng.crawl(seeds, max_rounds=2)


def test_crawl_rejects_negative_max_rounds(spark, corpus, tmp_path):
    # max_rounds=0 stays legal: it commits only the round-0 checkpoint
    pages, seeds, robots = corpus
    chk = tmp_path / "chk"
    eng = CrawlEngine(spark, pages, robots, checkpoint_dir=str(chk))
    with pytest.raises(ValueError, match="max_rounds must be at least 0, got -1"):
        eng.crawl(seeds, max_rounds=-1)
    assert not chk.exists()  # raised before round 0 was committed


def test_resume_rejects_max_rounds_below_one(spark, corpus, tmp_path):
    pages, _seeds, robots = corpus
    eng = CrawlEngine(spark, pages, robots, checkpoint_dir=str(tmp_path))
    with pytest.raises(ValueError, match="max_rounds must be at least 1, got 0"):
        eng.resume(max_rounds=0)


@pytest.mark.parametrize("ts", [False, True], ids=["no_ts", "warc_ts"])
@pytest.mark.parametrize("final", [False, True], ids=["no_final", "final_url"])
@pytest.mark.parametrize("fb", [False, True], ids=["no_fb", "fallback"])
def test_results_column_order_is_one_shape(spark, ts, final, fb):
    # extracted, reused and missed rows are assembled by one union and one
    # select: every pages/fallback shape yields the same column order
    html = {i: f"<html><head><title>S{i}</title></head></html>".encode() for i in (0, 1)}
    ddl = "url string, html binary"
    rows = [[f"https://co.test/s{i}/", html[i]] for i in (0, 1)]
    if ts:
        ddl += ", warc_ts timestamp"
        for r in rows:
            r.append(datetime.datetime(2024, 1, 2))
    if final:
        ddl += ", final_url string"
        for r in rows:
            r.append(None)
    pages = spark.createDataFrame([tuple(r) for r in rows], ddl)
    robots = spark.createDataFrame(
        [("co.test", "/", True, 10)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    fallback = None
    if fb:
        # s1 is unchanged (reused), s2 is gone from pages (missed)
        fallback = spark.createDataFrame(
            [
                ("https://co.test/s1/", hashlib.md5(html[1]).hexdigest(), '"S1"'),
                ("https://co.test/s2/", "gone", '"S2"'),
            ],
            "url_canon string, etag string, title string",
        )
    seeds = spark.createDataFrame(
        [(f"https://co.test/s{i}/",) for i in (0, 1, 2)], "url string"
    )
    res = CrawlEngine(
        spark, pages, robots, modules=["title"], use_bloom=False,
        collect_metrics=False, discover=False, fallback=fallback,
    ).crawl(seeds, max_rounds=1)
    assert res.results.columns == [
        "url_canon", "seed_idx", "depth", "priority", "round_discovered",
        "host_fetch_rank", "etag", "last_modified", "title", "crawl_error",
        "host", "host_group", "status", *(["crawled"] if final else []),
        "from_fallback", "round",
    ]
    got = {
        r["url_canon"][-3:-1]: (r["status"], r["from_fallback"], r["host"])
        for r in res.results.collect()
    }
    assert got == {
        "s0": ("ok", False, "co.test"),
        "s1": ("ok", fb, "co.test"),
        "s2": ("notfound", fb, "co.test"),
    }


def test_pending_operator_results_survive_later_calls(spark, corpus):
    # Every operator that slices or loops over its input freezes that
    # working set inside the call (eager localCheckpoint), so a returned,
    # not yet evaluated result reads its own blocks: later calls of the
    # same operators and a crawl cannot evict them. With exchange reuse
    # off, a re-run range exchange would slice the rows afresh.
    import re

    from reffy_spark.operators import frontier as FR
    from reffy_spark.operators.corpus_quality import pack_sequences
    from reffy_spark.operators.linkgraph import apportion_budget, pagerank
    from reffy_spark.plans import postprocess as PP

    def rank_input(n):
        pending = FR.to_frontier(
            spark.range(0, n).selectExpr(
                "concat('https://h', id % 3, '.test/p', id) AS url",
                "cast(id % 5 as double) AS p",
                "cast(id % 4 as int) AS d",
            ),
            depth_col=F.col("d"),
        ).withColumn("priority", F.col("p"))
        robots = spark.createDataFrame(
            [(f"h{k}.test", "/", True, 1) for k in range(3)],
            "host string, path_prefix string, allow boolean, crawl_delay_ms int",
        )
        return pending, robots

    def idl(names):
        text = "\n".join(
            f"interface {a} : {b} {{ }};" for a, b in zip(names, names[1:])
        )
        return PP.idlparsed(
            spark.createDataFrame([("https://i.test/", text)], "url string, idl string")
        )

    def edges(n):
        return spark.createDataFrame(
            [(f"u{i}", f"u{(i * 7 + 1) % n}") for i in range(n)]
            + [(f"u{i}", "u0") for i in range(1, n, 3)],
            "src string, dst string",
        )

    calls = {
        "politeness_rank": lambda n: FR.politeness_rank(
            *rank_input(n), round_ms=1_000_000_000, max_crawl_delay_ms=1
        ),
        "pack_sequences": lambda n: pack_sequences(
            spark.range(0, n).select(
                F.col("id").alias("doc_id"),
                F.repeat(F.lit("w "), F.pmod("id", 17) + 1).alias("text"),
            ),
            window=32,
        ),
        "apportion_budget": lambda n: apportion_budget(
            spark.createDataFrame(
                [(f"h{i:03d}", (i * 37) % 101) for i in range(n)],
                "host string, rank_fp long",
            ),
            10 * n + 3,
        ),
        "pagerank": lambda n: pagerank(edges(n)),
        "idlnames_fragments": lambda n: PP.idlnames_fragments(
            idl([f"I{i}" for i in range(n // 100 + 3)])
        ),
    }
    # a column only the operator's frozen working set carries
    marker = {
        "politeness_rank": "_pid",
        "pack_sequences": "_pid",
        "apportion_budget": "_pid",
        "pagerank": "out_degree",
        "idlnames_fragments": "dep",
    }
    solo = {name: sorted(map(tuple, call(300).collect())) for name, call in calls.items()}

    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        pending = {name: call(300) for name, call in calls.items()}
        for call in calls.values():
            call(500).collect()
        pages, seeds, robots = corpus
        eng = CrawlEngine(
            spark, pages, robots, modules=["links"], use_bloom=False,
            collect_metrics=False, discover=False, round_ms=1_000_000_000,
        )
        assert eng.crawl(seeds, max_rounds=1).results.count() > 0
        eng.release()
        unfrozen, differ = [], []
        for name, df in pending.items():
            # the frozen working set is a checkpoint scan that carries
            # the operator's own column; no cached relation is left
            plan = df._jdf.queryExecution().executedPlan().toString()
            frozen = rf"Scan ExistingRDD\[[^\]]*\b{marker[name]}#"
            if not re.search(frozen, plan) or "InMemory" in plan:
                unfrozen.append(name)
            if sorted(map(tuple, df.collect())) != solo[name]:
                differ.append(name)
        assert (unfrozen, differ) == ([], [])
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)


def test_empty_robots_runs_no_per_round_aggregate(spark, corpus):
    # a robots table with no delays gives max_crawl_delay_ms = None once
    # at engine init; the rounds must not aggregate the table again
    pages, seeds, robots = corpus
    empty = spark.createDataFrame([], robots.schema)
    eng = CrawlEngine(
        spark, pages, empty, modules=["links"], use_bloom=False,
        collect_metrics=False,
    )

    def no_agg(*args, **kwargs):
        raise AssertionError("robots table aggregated during the crawl")

    empty.agg = no_agg
    res = eng.crawl(seeds, max_rounds=2)
    assert res.results.count() > 0
    assert {r["round"] for r in res.results.select("round").collect()} == {1, 2}
    eng.release()


def test_seed_index_two_phase_on_unknown_size(spark, corpus):
    # a seed list with no size estimate takes range_prefix_sum: dense
    # distinct indices in url order, with exchange reuse off; the range
    # slice is frozen inside the call, not left in the working sets
    from pyspark.sql import Window

    from reffy_spark.plan_stats import estimated_bytes

    pages, _seeds, robots = corpus
    eng = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=False,
        collect_metrics=False,
    )

    def rdd_seeds(n, mod):
        base = spark.range(0, n).select(
            F.concat(
                F.lit("https://s.test/"),
                F.lpad(F.pmod("id", mod).cast("string"), 4, "0"),
            ).alias("url")
        )
        # RDD round-trip: LogicalRDD reports the unknown-size sentinel
        return spark.createDataFrame(base.rdd, base.schema)

    dup = rdd_seeds(600, 400)  # 200 duplicate urls
    uniq = rdd_seeds(400, 400)
    assert estimated_bytes(dup) is None and estimated_bytes(uniq) is None
    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        got_dup = [(r["seed_idx"], r["url"]) for r in eng._seed_index(dup).collect()]
        got_uniq = {r["url"]: r["seed_idx"] for r in eng._seed_index(uniq).collect()}
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)

    got_dup.sort()
    assert [i for i, _ in got_dup] == list(range(600))
    urls = [u for _, u in got_dup]
    assert urls == sorted(urls)
    w = Window.orderBy("url")
    want = {
        r["url"]: r["i"]
        for r in uniq.select("url", (F.row_number().over(w) - 1).alias("i")).collect()
    }
    assert got_uniq == want
    assert eng._working_sets == []
    eng.release()


def test_release_removes_round_state_dir(spark, corpus):
    # multi-executor ephemeral crawls commit round state to a temporary
    # directory; release() must remove it and leave the engine reusable
    import os

    pages, seeds, robots = corpus
    eng = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=False,
        collect_metrics=False,
    )
    eng.reliable_state = True  # the multi-executor commit path
    first = _engine_fetches(eng.crawl(seeds, max_rounds=2))
    state_dir = eng._state_dir
    assert state_dir is not None and os.path.isdir(state_dir)
    eng.release()
    assert not os.path.exists(state_dir)
    assert eng._state_dir is None
    assert _engine_fetches(eng.crawl(seeds, max_rounds=2)) == first
    eng.release()


def test_checkpointed_crawl_leaves_no_working_set_cached(spark, corpus, tmp_path):
    # every consumer of a checkpointed round's working sets (batch,
    # candidates, new_urls) has run once the round's commits and metrics
    # are done, so none of them is still cached when the crawl returns
    from pyspark.storagelevel import StorageLevel

    pages, seeds, robots = corpus
    eng = CrawlEngine(
        spark, pages, robots, checkpoint_dir=str(tmp_path / "chk"),
        modules=["links"],
    )
    made = []
    orig = eng._materialize

    def spy(df, name, rnd, durable=True):
        out = orig(df, name, rnd, durable)
        if not durable:
            made.append((name, rnd, out))
        return out

    eng._materialize = spy
    eng.crawl(seeds, max_rounds=2)
    assert {name for name, _, _ in made} == {"batch", "candidates", "new_urls"}
    assert [
        (name, rnd) for name, rnd, df in made if df.storageLevel != StorageLevel.NONE
    ] == []
    eng.release()


def test_resume_after_torn_round_commit(
    spark, corpus, tmp_path_factory, engine_result
):
    # Crash INSIDE a round's commit sequence: round=2's results were
    # written but the crash hit before its seen/frontier state landed.
    # resume() must treat round 2 as never-happened (its seen marker is
    # the commit point), redo it, and end up equal to the uninterrupted
    # crawl — no lost and no duplicated round.
    import os
    import shutil

    pages, seeds, robots = corpus
    chk = str(tmp_path_factory.mktemp("chk_torn"))
    CrawlEngine(
        spark, pages, robots, checkpoint_dir=chk, modules=["links"]
    ).crawl(seeds, max_rounds=MAX_ROUNDS)
    # tear round 2's commit: state tables gone, results (written earlier
    # in the round) remain; later rounds never happened
    for r in range(2, MAX_ROUNDS + 1):
        for name in ("seen", "frontier") + (("results",) if r > 2 else ()):
            p = os.path.join(chk, f"round={r}", name)
            if os.path.exists(p):
                shutil.rmtree(p)
    resumed = CrawlEngine(
        spark, pages, robots, checkpoint_dir=chk, modules=["links"]
    ).resume(max_rounds=MAX_ROUNDS)
    assert _engine_fetches(resumed) == _engine_fetches(engine_result)
    got = {r["url_canon"]: r["first_round"] for r in resumed.url_seen.collect()}
    want = {
        r["url_canon"]: r["first_round"]
        for r in engine_result.url_seen.collect()
    }
    assert got == want


@pytest.fixture(scope="module")
def exact_three_rounds(spark, corpus):
    pages, seeds, robots = corpus
    res = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=False,
        collect_metrics=False,
    ).crawl(seeds, max_rounds=3)
    seen = {r["url_canon"]: r["first_round"] for r in res.url_seen.collect()}
    return _engine_fetches(res), seen


@pytest.mark.parametrize("max_items", [None, 1], ids=["default", "over_limit"])
def test_bloom_rebuilt_per_round_from_seen(
    spark, corpus, exact_three_rounds, monkeypatch, max_items
):
    """The bloom is round-local: every discovery round builds it from
    that round's seen set (here growing more than 2x across the crawl),
    and ``fold_bloom`` runs only inside ``build_bloom``. With
    ``BLOOM_MAX_ITEMS`` below the seen size no bitmap is built and every
    round takes the exact filter. Either way the crawl equals the exact
    crawl."""
    pages, seeds, robots = corpus
    from reffy_spark.operators import frontier as FR

    if max_items is not None:
        monkeypatch.setattr(FR, "BLOOM_MAX_ITEMS", max_items)
    seen_sizes, blooms, stray_folds = [], [], []
    real_bb, real_fb = FR.build_bloom, FR.fold_bloom
    building = False

    def bb(seen, *a, **k):
        nonlocal building
        seen_sizes.append(seen.count())
        building = True
        try:
            bloom = real_bb(seen, *a, **k)
        finally:
            building = False
        blooms.append(bloom)
        return bloom

    def fb(*a, **k):
        if not building:
            stray_folds.append(a)
        return real_fb(*a, **k)

    monkeypatch.setattr(FR, "build_bloom", bb)
    monkeypatch.setattr(FR, "fold_bloom", fb)

    res = CrawlEngine(
        spark, pages, robots, modules=["links"], use_bloom=True,
        collect_metrics=False,
    ).crawl(seeds, max_rounds=3)
    fetches, seen = exact_three_rounds
    assert _engine_fetches(res) == fetches
    assert {r["url_canon"]: r["first_round"] for r in res.url_seen.collect()} == seen

    assert len(seen_sizes) == 3, seen_sizes  # one build per discovery round
    assert seen_sizes[-1] > 2 * seen_sizes[0], seen_sizes
    assert not stray_folds
    if max_items is None:
        assert all(b is not None for b in blooms)
    else:
        assert blooms == [None, None, None]


def test_round_manifest_keys(spark, corpus, tmp_path):
    pages, seeds, robots = corpus
    res = CrawlEngine(
        spark, pages, robots, checkpoint_dir=str(tmp_path), modules=["links"]
    ).crawl(seeds, max_rounds=1)
    with open(tmp_path / "round=1" / "manifest.json") as f:
        manifest = json.load(f)
    assert list(manifest) == [
        "round", "selected", "fetched", "errors", "discovered", "new_urls",
        "per_host_group", "wall_sec", "modules",
    ]
    m = res.metrics[0]
    assert manifest["round"] == 1
    assert manifest["new_urls"] == m.new_urls
    assert manifest["per_host_group"] == m.per_host_group
    assert manifest["modules"] == ["links"]
