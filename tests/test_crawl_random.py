"""Randomized crawl-vs-simulator parity over a packed random web.

One seeded web of several hundred pages (``testing.webgen.random_web``)
is crawled ephemeral (bloom URL-seen) and with a checkpoint (exact
URL-seen); the checkpointed crawl is then resumed from every committed
round k < MAX_ROUNDS. Every crawl must equal ``simulate_crawl`` on the
fetch sequence (notfound rows included) and on the URL-seen set. A
mismatch names the generator seed and the first differing fetch.
"""

import json
import shutil
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from reffy_spark.extractors.base import extract_all
from reffy_spark.operators.crawler import CrawlEngine
from reffy_spark.testing.simulator import simulate_crawl
from reffy_spark.testing.webgen import random_web

SEED = 2
MAX_ROUNDS = 2


def _fetch_key(f):
    # (url_canon, round, host_group, host_fetch_rank, status, depth) in
    # fetch order: round, then host group, then the host's queue
    return (f[1], f[2], f[3], f[0])


def _assert_same_crawl(label, res, sim):
    got = sorted(
        (
            (r[0], r[1], r[2], r[3], r[4], r[5])
            for r in res.results.select(
                "url_canon", "round", "host_group", "host_fetch_rank", "status", "depth"
            ).collect()
        ),
        key=_fetch_key,
    )
    want = sorted(sim.fetches, key=_fetch_key)
    if got != want:
        i = next(
            (i for i, (g, w) in enumerate(zip(got, want)) if g != w),
            min(len(got), len(want)),
        )
        pytest.fail(
            f"{label}, seed {SEED}: fetch {i} differs: engine "
            f"{got[i] if i < len(got) else None} vs simulator "
            f"{want[i] if i < len(want) else None} "
            f"({len(got)} vs {len(want)} fetches)"
        )
    seen = {r["url_canon"]: r["first_round"] for r in res.url_seen.collect()}
    if seen != sim.url_seen:
        diff = sorted(set(seen.items()) ^ set(sim.url_seen.items()))
        pytest.fail(f"{label}, seed {SEED}: URL-seen differs, first: {diff[:3]}")


def _frames(spark, web):
    """(pages, robots, seeds) DataFrames of a random web."""
    pages = spark.createDataFrame(
        [(p["url"], p["html"], p["warc_ts"]) for p in web.pages],
        "url string, html binary, warc_ts timestamp",
    )
    robots = spark.createDataFrame(
        [(r["host"], r["path_prefix"], r["allow"], r["crawl_delay_ms"]) for r in web.robots],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    seeds = spark.createDataFrame([(u,) for u in web.seed_urls], "url string")
    return pages, robots, seeds


def test_random_web_crawl_matches_simulator(spark, tmp_path):
    web = random_web(SEED)
    assert len(web.pages) >= 300
    sim = simulate_crawl(
        web.seed_urls, web.pages, web.robots,
        round_ms=web.round_ms, max_rounds=MAX_ROUNDS,
    )
    pages, robots, seeds = _frames(spark, web)

    def engine(checkpoint_dir=None, use_bloom=False):
        return CrawlEngine(
            spark, pages, robots, checkpoint_dir=checkpoint_dir,
            round_ms=web.round_ms, use_bloom=use_bloom, collect_metrics=False,
        )

    _assert_same_crawl(
        "ephemeral", engine(use_bloom=True).crawl(seeds, MAX_ROUNDS), sim
    )
    chk = tmp_path / "chk"
    _assert_same_crawl(
        "checkpointed", engine(str(chk)).crawl(seeds, MAX_ROUNDS), sim
    )
    for k in range(MAX_ROUNDS):
        # the checkpoint as it stood after round k was committed
        part = tmp_path / f"upto{k}"
        for r in range(k + 1):
            shutil.copytree(chk / f"round={r}", part / f"round={r}")
        _assert_same_crawl(
            f"resumed after round {k}", engine(str(part)).resume(MAX_ROUNDS), sim
        )


def test_two_engines_interleaved_match_solo(spark):
    # Two engines on different webs share one session: A crawls, B
    # crawls, then A's lazy results are consumed. Pure replay keeps the
    # working sets alive until that action, and the unbounded round_ms
    # sends the rank through its range slices. The multi-executor commit
    # path is forced so the batch stays a lazy persisted working set
    # that reads those slices. Exchange reuse is off, so a slice that B
    # evicted would be re-sliced, not reused.
    def crawl(web):
        pages, robots, seeds = _frames(spark, web)
        eng = CrawlEngine(
            spark, pages, robots, round_ms=1_000_000_000, use_bloom=False,
            collect_metrics=False, discover=False,
        )
        eng.reliable_state = True
        return eng, eng.crawl(seeds, max_rounds=1).results

    def rows(results):
        return sorted(map(tuple, results.collect()), key=repr)

    webs = [random_web(SEED), random_web(SEED + 1)]
    solo = []
    for web in webs:
        eng, results = crawl(web)
        solo.append(rows(results))
        eng.release()
    assert solo[0] != solo[1]

    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    crawls = []
    try:
        for web in webs:
            crawls.append(crawl(web))
        assert [rows(results) for _, results in crawls] == solo
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)
        for eng, _ in crawls:
            eng.release()


# Spark jobs of one discovery round of the checkpointed random-web crawl
# below: rank, fetch + extract + results write, candidates, unseen
# filter, seen/frontier commits and the round metrics.
ROUND_JOBS_MAX = {1: 32, 2: 30}


def _settled(spark):
    # job and SQL stores are fed by the listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _group_jobs(spark, group):
    _settled(spark)
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _sql_jobs(spark):
    """Ids of every job that ran under a SQL execution id."""
    _settled(spark)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = set()
    for i in range(execs.size()):
        ids = execs.apply(i).jobs().keys().mkString(",")
        out.update(int(j) for j in ids.split(",") if j)
    return out


def test_discovery_round_jobs(spark, tmp_path, monkeypatch):
    # A 2-round checkpointed discovery crawl, bloom URL-seen and round
    # metrics on (the discover benchmark's engine). Job groups split each
    # round at its commits: rank (the batch), fetch (after the batch
    # through the results write), discover (the rest of the round).
    web = random_web(SEED)
    sim = simulate_crawl(
        web.seed_urls, web.pages, web.robots,
        round_ms=web.round_ms, max_rounds=MAX_ROUNDS,
    )
    pages, robots, seeds = _frames(spark, web)
    chk = tmp_path / "chk"
    eng = CrawlEngine(spark, pages, robots, checkpoint_dir=str(chk), round_ms=web.round_ms)
    sc = spark.sparkContext
    tag = f"round-jobs-{uuid.uuid4().hex}"
    materialize = eng._materialize

    def phased(df, name, rnd, durable=True):
        if name == "batch":
            sc.setJobGroup(f"{tag}-{rnd}-rank", "rank")
        out = materialize(df, name, rnd, durable)
        if name == "batch":
            sc.setJobGroup(f"{tag}-{rnd}-fetch", "fetch, extract, results")
        elif name == "results":
            sc.setJobGroup(f"{tag}-{rnd}-discover", "discover, commit, metrics")
        return out

    monkeypatch.setattr(eng, "_materialize", phased)
    try:
        res = eng.crawl(seeds, max_rounds=MAX_ROUNDS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    _assert_same_crawl("job-grouped", res, sim)

    sql_jobs = _sql_jobs(spark)
    per_round = {}
    for rnd in range(1, MAX_ROUNDS + 1):
        fetch = _group_jobs(spark, f"{tag}-{rnd}-fetch")
        # planning the round's fetch and extraction runs nothing of its
        # own: every job there belongs to a SQL execution
        assert fetch and fetch <= sql_jobs, (rnd, sorted(fetch - sql_jobs))
        per_round[rnd] = len(
            fetch
            | _group_jobs(spark, f"{tag}-{rnd}-rank")
            | _group_jobs(spark, f"{tag}-{rnd}-discover")
        )
    assert all(per_round[r] <= ROUND_JOBS_MAX[r] for r in per_round), per_round

    # the one metrics aggregation still reports the simulator's rounds
    for rnd in range(1, MAX_ROUNDS + 1):
        with open(chk / f"round={rnd}" / "manifest.json") as f:
            m = json.load(f)
        fetches = [f for f in sim.fetches if f[1] == rnd]
        ok = sum(f[4] == "ok" for f in fetches)
        assert m["per_host_group"] == dict(Counter(f[2] for f in fetches))
        assert (m["selected"], m["fetched"], m["errors"]) == (len(fetches), ok, len(fetches) - ok)
        assert m["new_urls"] == sum(r == rnd for r in sim.url_seen.values())


def test_extract_plan_over_broadcast_join_runs_no_job(spark, tmp_path):
    # extract_all decides its input spread from the plan: building it over
    # a broadcast fetch join must not execute the broadcast
    web = random_web(SEED)
    pages_path, keys_path = str(tmp_path / "pages"), str(tmp_path / "keys")
    spark.createDataFrame(
        [(p["url"], p["html"]) for p in web.pages], "url string, html binary"
    ).coalesce(1).write.parquet(pages_path)
    spark.createDataFrame(
        [(p["url"],) for p in web.pages[:50]], "url string"
    ).write.parquet(keys_path)
    fetched = spark.read.parquet(pages_path).join(
        F.broadcast(spark.read.parquet(keys_path)), "url"
    )
    sc = spark.sparkContext
    group = f"extract-plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build the extraction plan")
    try:
        out = extract_all(fetched, ["title"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _group_jobs(spark, group) == set()
    # one spread input split: the plan still round-robins it
    assert "RoundRobinPartitioning" in out._jdf.queryExecution().executedPlan().toString()
    assert out.count() == fetched.count() > 0
