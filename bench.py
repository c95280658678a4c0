#!/usr/bin/env python
"""Benchmark harness: headline queries + crawl-replay throughput.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "urls_per_sec": ...,
   "scaling": {...}}

Env knobs:
  SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     cores for the main run (default 32)
  SPARK_GRAFT_SCALING  "1" → also run the crawl job at local[8] vs
                       local[32] on identical input and report scaling
                       efficiency (BASELINE.md protocol). Default off in
                       the per-round driver run (adds ~2 full crawls).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_revenue_by_nation",
    "url_canon",
    "urlseen_antijoin",
    "politeness_rank",
    "backrefs",
    # ngram_jaccard is oracle-checked but not benched: exact all-pairs
    # Jaccard over a uniform-length corpus is inherently quadratic in
    # candidate pairs (the plan is a bucket equi-join; the *output* is the
    # cost) — minhash_pairs is the scale path for that workload.
    "dedup_exact",
    "minhash_pairs",
    "minhash_pairs_fast",
    "simhash",
    "text_profile",
    # explode-heavy repetition stats: the dominant-cost LLM-pipeline
    # profiling pass (lines + 2-grams + 5-grams per doc, one tagged
    # explode, partial agg keyed (doc_id, kind, item))
    "repetition_profile",
    "knn_brute",
    "ann_topk_multiprobe",
    "extract_headings",
    "events_rollup",
    # crawl-frontier prioritization: real links extraction feeding 3
    # integer fixed-point PageRank iterations (join + hash-sum each)
    "pagerank",
    # full-engine single-round crawl with conditional-recrawl reuse:
    # 2/3 of pages match the fallback etag and skip extraction
    "fallback_reuse",
]


def _count_rows(df) -> int:
    """Force FULL execution without collecting to the driver.

    df.count() is NOT that: Catalyst prunes columns nobody consumes, so
    a projection-only query (simhash, text_profile, url_canon) would be
    timed as little more than a parquet row count — rounds ≤ 3 reported
    such numbers (measurement bug, corrected in round 4; see
    BENCH/BASELINE.md). The noop datasource computes every output column
    and discards the rows executor-side."""
    df.write.format("noop").mode("overwrite").save()
    return -1


MP_CANARY_MODS = ["links", "headings", "ids", "dfns", "title"]


def _mp_work(args):
    urls, htmls = args
    from reffy_spark.extractors.base import extract_page

    for u, h in zip(urls, htmls):
        extract_page(h, u, MP_CANARY_MODS)
    return len(urls)


def raw_mp_canary(n_pages: int = 4000, workers: int = 8) -> float:
    """Raw-Python extraction throughput (pages/s) on this host RIGHT NOW:
    the same 5-module extraction as the scaling job, through a plain
    multiprocessing pool — no Spark. Host throughput drifts ±25% between
    hours on this sandbox; this canary (plus the pure-JVM q1 canary)
    makes round-over-round bench deltas attributable to code, not drift.
    """
    import multiprocessing as mp

    from reffy_spark.sources.synthetic import page_html, url_of_page

    pairs = [(url_of_page(i), page_html(i, n_pages)) for i in range(n_pages)]
    step = 500
    chunks = [
        ([u for u, _ in pairs[i : i + step]], [h for _, h in pairs[i : i + step]])
        for i in range(0, n_pages, step)
    ]
    t0 = time.monotonic()
    with mp.Pool(workers) as pool:
        total = sum(pool.map(_mp_work, chunks, chunksize=1))
    return round(total / (time.monotonic() - t0), 1)


def run_suite() -> dict:
    from reffy_spark.plans import entry_queries as EQ
    from reffy_spark.session import get_spark

    spark = get_spark("reffy_spark_bench", cores=CPUS, shuffle_partitions=CPUS)
    # warm up the JVM/Arrow path once (not timed): q1 exercises codegen,
    # a tiny extraction pass spawns the Arrow python workers so the first
    # measured UDF query is not charged the pool cold-start
    EQ.q1_pricing_summary(spark, SF_DIR).count()
    from reffy_spark.extractors.base import extract_all
    from reffy_spark.sources.synthetic import gen_pages

    extract_all(gen_pages(spark, 2000, partitions=CPUS), ["links", "title"]).count()

    timings: dict[str, float] = {}
    for name in HEADLINE:
        # BENCH_ONLY holds perf twins (engine-specific hash families)
        # that have no DuckDB oracle and therefore no queries() slot
        fn = EQ.QUERIES.get(name) or EQ.BENCH_ONLY[name]
        t0 = time.monotonic()
        _count_rows(fn(spark, SF_DIR))
        timings[name] = round(time.monotonic() - t0, 3)

    # crawl replay throughput: URLs fetched+extracted per second
    t0 = time.monotonic()
    res = EQ.q_crawl_replay(spark, SF_DIR)
    n_urls = res.count()
    crawl_sec = time.monotonic() - t0
    timings["crawl_replay"] = round(crawl_sec, 3)
    urls_per_sec = round(n_urls / crawl_sec, 2) if crawl_sec > 0 else None

    spark.stop()
    return {
        "timings": timings,
        "n_urls": n_urls,
        "crawl_sec": crawl_sec,
        "urls_per_sec": urls_per_sec,
    }


SCALE_PAGES = int(os.environ.get("SPARK_GRAFT_SCALE_PAGES", "1200000"))
# 128 (not 32): one file per bucket is required for the sort-free join,
# so bucket count IS the extraction-stage task count — 32 buckets
# starved a 32-core cluster of scheduling granularity (the measured 15%
# round-3 regression vs broadcast); 128 gives 4 waves per core at
# ~3 MB/bucket while staying far under the small-files regime.
BUCKETS = int(os.environ.get("SPARK_GRAFT_SCALE_BUCKETS", "128"))
# corpus dir encodes the bucket count: a cached 32-bucket table must not
# satisfy a 128-bucket run (the DDL would lie about the file layout)
SCALE_CORPUS = os.environ.get(
    "SPARK_GRAFT_SCALE_CORPUS",
    f"/tmp/reffy_scaling_corpus_{SCALE_PAGES}_b{BUCKETS}",
)


def build_scaling_corpus() -> None:
    """Materialize the scaling corpus ONCE (both runs read the same
    parquet — the 'same input' requirement of the protocol)."""
    if os.path.exists(os.path.join(SCALE_CORPUS, "pages_bucketed", "_SUCCESS")):
        return
    from pyspark.sql import functions as F

    from reffy_spark.session import get_spark
    from reffy_spark.sources import synthetic as syn

    spark = get_spark("scale_gen", cores=CPUS, shuffle_partitions=CPUS)
    pages = syn.gen_pages(spark, SCALE_PAGES, partitions=CPUS * 4)
    # pre-dedupe to one row per canonical URL — the production input
    # shape (an Iceberg pages table MERGEd on url_canon)
    from reffy_spark.functions.urls import with_url_canon

    pc = with_url_canon(pages)
    pages_unique = (
        pc.groupBy("url_canon")
        .agg(F.max_by(F.struct(*pc.columns), F.struct("warc_ts", "url")).alias("b"))
        .select("b.*")
    )
    pages_unique.write.mode("overwrite").parquet(f"{SCALE_CORPUS}/pages.parquet")
    # The production pages-table shape made real: BUCKETED by url_canon
    # (+ sorted within buckets) so the per-round fetch join runs with
    # ZERO exchange and ZERO sort on the pages side — the sandbox stand-in
    # for the Iceberg table bucketed on url_canon that SURVEY/BENCH
    # documented as the 10^10-scale design. The table files carry bucket
    # ids in their names; each scale-run subprocess re-registers the
    # external-table DDL over this location.
    pages_r0 = spark.read.parquet(f"{SCALE_CORPUS}/pages.parquet")
    from pyspark.sql import functions as _F

    (
        pages_r0.select("url", "url_canon", "warc_ts", "html")
        # writer-side alignment: repartition by the bucket column first so
        # each task holds exactly one bucket → ONE file per bucket. Spark
        # honors the SORTED BY spec (skips the join-side sort) only when a
        # bucket has a single file; a misaligned write silently produces
        # ~tasks×buckets files and every join re-sorts the html payload.
        .repartition(BUCKETS, _F.col("url_canon"))
        .write.mode("overwrite")
        .bucketBy(BUCKETS, "url_canon")
        .sortBy("url_canon")
        .option("path", f"{SCALE_CORPUS}/pages_bucketed")
        .format("parquet")
        .saveAsTable("reffy_pages_bucketed")
    )
    # seed-list replay = every page is a seed (the reference crawls a
    # fixed seed list once, src/lib/specs-crawler.js:473-479)
    pages_r = spark.read.parquet(f"{SCALE_CORPUS}/pages.parquet")
    pages_r.select(
        F.col("page_id").cast("int").alias("seed_idx"), "url"
    ).write.mode("overwrite").parquet(f"{SCALE_CORPUS}/seeds.parquet")
    robots = [(h, "/", True, 1) for h, _w, _d in syn.HOSTS]
    spark.createDataFrame(
        robots, "host string, path_prefix string, allow boolean, crawl_delay_ms int"
    ).write.mode("overwrite").parquet(f"{SCALE_CORPUS}/robots.parquet")
    spark.stop()


_SCALE_JOB = """
import json, sys, time
sys.path.insert(0, {repo!r})
import os
os.environ["SPARK_GRAFT_DRIVER_MEM"] = "8g"
from reffy_spark.session import get_spark
from reffy_spark.operators.crawler import CrawlEngine
# N vs 4N EXECUTORS: local-cluster spawns separate executor JVMs (own
# memory, own Arrow/python workers) — the truthful multi-executor
# emulation this sandbox allows. Extraction is CPU-bound at ~3ms/row over
# ~300-byte rows: input splits must be sized for cores, not for scan
# efficiency (4MB splits; a real cluster reading 100TB has no such issue)
spark = get_spark("scale", cores={cores}, shuffle_partitions={cores},
                  master="local-cluster[{nexec},8,10240]",
                  extra_conf={{
                      "spark.executor.memory": "9g",
                      "spark.sql.files.maxPartitionBytes": str(4*1024*1024),
                      # the Arrow extraction stage saturates every core with
                      # python workers; JVM heartbeat threads starve and the
                      # driver SIGTERMs "lost" executors mid-run (exit 143),
                      # the round-1/round-2 variance cause. Relax liveness
                      # deadlines -- this sandbox has no real node failures.
                      "spark.executor.heartbeatInterval": "60s",
                      "spark.network.timeout": "600s",
                      "spark.worker.timeout": "600",
                  }})
# Two pages layouts; the fetch join always broadcasts the budget-bounded
# batch (pages side never shuffles):
#   default     — plain parquet pages.
#   BUCKETED=1  — pages table bucketed+sorted on url_canon (one file per
#                 bucket).
import os as _os
if _os.environ.get("SPARK_GRAFT_SCALE_BUCKETED") == "1":
    spark.sql("DROP TABLE IF EXISTS reffy_pages_bucketed")
    spark.sql(
        "CREATE TABLE reffy_pages_bucketed "
        "(url string, url_canon string, warc_ts timestamp, html binary) "
        "USING parquet CLUSTERED BY (url_canon) SORTED BY (url_canon) "
        "INTO {buckets} BUCKETS LOCATION '{corpus}/pages_bucketed'"
    )
    pages = spark.table("reffy_pages_bucketed")
else:
    pages = spark.read.parquet({corpus!r} + "/pages.parquet").drop("page_id")
seeds = spark.read.parquet({corpus!r} + "/seeds.parquet")
robots = spark.read.parquet({corpus!r} + "/robots.parquet")
MODS = ["links", "headings", "ids", "dfns", "title"]
# Untimed warm-up: a tiny throwaway replay through a SEPARATE engine
# instance. Phase attribution (tools/replay_phase_diag.py, r5) showed the
# frontier/rank/fetch phases are dominated by per-plan CONSTANTS — JIT of
# the codegen'd canon/rank/join classes in EVERY executor JVM, python
# worker spawn, broadcast machinery — not by data work (the two-phase
# rank over the warm 1.2M-row frontier is 0.2 s; its first cold run is
# ~5 s in one JVM and ~20 s across 4). Only JVM-level state (JIT code
# cache, worker pools) survives into the timed run: the warm engine is
# discarded and the timed engine builds all its own data caches.
from reffy_spark.extractors.base import extract_all
extract_all(pages.limit(2000), MODS, url_col="url_canon", html_col="html").count()
warm = CrawlEngine(spark, pages, robots,
                   modules=MODS,
                   round_ms=1_000_000_000, use_bloom=False,
                   collect_metrics=False, discover=False,
                   assume_canonical_unique=True,
                   assume_seeds_unique=True)
warm.crawl(seeds.limit(20000), max_rounds=1).results.filter(
    "status = 'ok'").count()
eng = CrawlEngine(spark, pages, robots,
                  modules=MODS,
                  round_ms=1_000_000_000, use_bloom=False, collect_metrics=False,
                  discover=False, assume_canonical_unique=True,
                  assume_seeds_unique=True)
t0 = time.monotonic()
res = eng.crawl(seeds, max_rounds=1)
n = res.results.filter(res.results.status == "ok").count()
dt = time.monotonic() - t0
print(json.dumps({{"cores": {cores}, "urls": n, "sec": dt}}))
"""


def _crawl_throughput_subprocess(n_executors: int) -> dict:
    """Run the seed-list-replay crawl on a fresh local-cluster with
    ``n_executors`` × 8-core executor JVMs."""
    cores = n_executors * 8
    code = _SCALE_JOB.format(
        repo=REPO, cores=cores, nexec=n_executors, corpus=SCALE_CORPUS,
        buckets=BUCKETS,
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def run_scaling() -> dict:
    """BASELINE.md protocol: same job, same input, N vs 4N executors
    (1 × 8-core executor JVM vs 4 × 8-core executor JVMs via
    local-cluster — separate JVM heaps and python-worker pools).

    The job is the reference's own workload shape — full seed-list replay
    (fetch join + 5-module Arrow extraction + politeness rank + frontier
    update) — sized so extraction dominates fixed round overhead.
    """
    build_scaling_corpus()
    lo = _crawl_throughput_subprocess(1)
    hi = _crawl_throughput_subprocess(4)
    r_lo = lo["urls"] / lo["sec"]
    r_hi = hi["urls"] / hi["sec"]
    eff = (r_hi / r_lo) / 4
    return {
        "n_pages": SCALE_PAGES,
        "executors_1x8": {"urls_per_sec": round(r_lo, 2), "sec": round(lo["sec"], 2)},
        "executors_4x8": {"urls_per_sec": round(r_hi, 2), "sec": round(hi["sec"], 2)},
        "efficiency": round(eff, 3),
    }


def _previous_bench() -> "tuple[str, dict] | None":
    """Latest driver-recorded BENCH_r*.json (the driver wraps bench
    output under 'parsed') — the reference point for the drift verdict."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    files = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    for f in reversed(files):
        try:
            with open(f) as fh:
                d = json.load(fh)
            p = d.get("parsed") or d
            if p.get("canary_sec") or p.get("raw_mp_pages_per_sec"):
                return os.path.basename(f), p
        except Exception:
            continue
    return None


def main() -> None:
    mp_pps = raw_mp_canary()
    suite = run_suite()
    # drift normalization: q1 is a fixed pure-JVM plan (codegen agg over
    # parquet, zero Python) — its round-over-round movement measures the
    # HOST, not the code. A query whose sec/canary ratio is flat across
    # rounds did not regress even if its raw seconds moved.
    canary = suite["timings"].get("q1_pricing_summary") or None
    normalized = (
        {k: round(v / canary, 2) for k, v in suite["timings"].items()}
        if canary
        else None
    )
    # second normalization (VERDICT r6 next-round #5): Python-side host
    # drift. sec × mp_pps is host-independent for Arrow/Python-bound
    # queries the way sec ÷ canary is for JVM-bound ones; scaled to
    # "seconds at a 1000 pages/s python host" so values stay sec-sized.
    normalized_py = (
        {k: round(v * mp_pps / 1000.0, 2) for k, v in suite["timings"].items()}
        if mp_pps
        else None
    )
    # one-line drift verdict vs the previous driver round, so a raw
    # wall-clock move self-attributes to JVM vs Python host drift
    # before anyone reads it as a code regression (BENCH_r06's 1.48x
    # scare was 0.55x python-host drift, zero code)
    drift = None
    prev = _previous_bench()
    if prev is not None:
        pname, p = prev
        jvm = (
            round(canary / p["canary_sec"], 2)
            if canary and p.get("canary_sec")
            else None
        )
        py = (
            round(p["raw_mp_pages_per_sec"] / mp_pps, 2)
            if mp_pps and p.get("raw_mp_pages_per_sec")
            else None
        )
        drift = {
            "vs": pname,
            "jvm_x": jvm,
            "python_x": py,
            "verdict": (
                f"host vs {pname}: JVM {jvm}x, Python {py}x — divide a "
                "query's raw seconds by its side's factor before calling "
                "it a regression; 'normalized'/'normalized_py' already do"
            ),
        }
    result = {
        "metric": "reffy_spark headline suite + crawl replay (URLs fetched+extracted)",
        "value": round(sum(suite["timings"].values()), 3),
        "unit": "sec",
        "queries": suite["timings"],
        "sf": SF_DIR,
        "urls_per_sec": suite["urls_per_sec"],
        "n_urls": suite["n_urls"],
        "canary_sec": canary,
        "normalized": normalized,
        "normalized_py": normalized_py,
        "raw_mp_pages_per_sec": mp_pps,
        "drift": drift,
    }
    if os.environ.get("SPARK_GRAFT_SCALING") == "1":
        result["scaling"] = run_scaling()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
