#!/usr/bin/env python
"""Skewed-corpus end-to-end replay bench (VERDICT r5 "Next round" #4).

Two worlds, identical page count and content, differing ONLY in the host
distribution of the URLs (SURVEY §7.3 risk #4 — the reference's
ThrottledQueue collapses per-origin, so one hot origin serializes its
whole crawl, /root/reference/src/lib/throttled-queue.js:18-37):

* balanced — 16 hosts, 1/16 of pages each
* skewed   — ONE host owns 50% of all pages (the github.io analog),
             15 cold hosts share the rest

Each world runs the flagship seed-list replay (fetch join + 5-module
Arrow extraction + salted politeness rank + frontier update) on a
4 × 8-core local-cluster — the bench's multi-executor emulation — with
the same untimed warm-up protocol as bench.py's scaling job. The claim
under test: the engine's skew defenses (salted two-phase politeness
rank, url-hash fetch-join output partitioning) keep the skewed world
within <1.3× of the balanced wall time.

Also reports the extraction-stage input distribution (rows per
partition of the fetch-join output) for the skewed world: the hot
host's pages must NOT concentrate in few tasks.

Usage: python tools/skew_bench.py [n_pages]
Prints one JSON line per leg and a final summary JSON line.
"""

import json
import os
import subprocess
import sys

sys.path.insert(0, ".")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_PAGES = int(sys.argv[1]) if len(sys.argv) > 1 else int(
    os.environ.get("SPARK_GRAFT_SKEW_PAGES", "800000")
)
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BASE = f"/tmp/reffy_skew_corpus_{N_PAGES}"


def build_world(mode: str) -> str:
    """Materialize one world's pages/seeds/robots parquet."""
    outdir = f"{BASE}_{mode}"
    if os.path.exists(f"{outdir}/robots.parquet/_SUCCESS"):
        return outdir
    from pyspark.sql import functions as F

    from reffy_spark.session import get_spark
    from reffy_spark.sources import synthetic as syn

    spark = get_spark(f"skew_gen_{mode}", cores=CPUS, shuffle_partitions=CPUS)
    pages = syn.gen_pages(spark, N_PAGES, partitions=CPUS * 4)
    path = F.regexp_extract("url", r"^https?://[^/]+(/.*)$", 1)
    if mode == "skewed":
        host = F.when(
            F.col("page_id") % 2 == 0, F.lit("hot-half.test")
        ).otherwise(
            F.concat(F.lit("cold"), (F.col("page_id") % 15).cast("string"),
                     F.lit(".test"))
        )
        hosts = ["hot-half.test"] + [f"cold{i}.test" for i in range(15)]
    else:
        host = F.concat(
            F.lit("host"), (F.col("page_id") % 16).cast("string"),
            F.lit(".test"),
        )
        hosts = [f"host{i}.test" for i in range(16)]
    pages = pages.withColumn(
        "url", F.concat(F.lit("https://"), host, path)
    )
    pages.select("page_id", "url", "warc_ts", "html").write.mode(
        "overwrite"
    ).parquet(f"{outdir}/pages.parquet")
    rd = spark.read.parquet(f"{outdir}/pages.parquet")
    rd.select(F.col("page_id").cast("int").alias("seed_idx"), "url").write.mode(
        "overwrite"
    ).parquet(f"{outdir}/seeds.parquet")
    spark.createDataFrame(
        [(h, "/", True, 1) for h in hosts],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    ).write.mode("overwrite").parquet(f"{outdir}/robots.parquet")
    spark.stop()
    return outdir


_JOB = """
import json, sys, time
sys.path.insert(0, {repo!r})
import os
os.environ["SPARK_GRAFT_DRIVER_MEM"] = "8g"
from pyspark.sql import functions as F
from reffy_spark.session import get_spark
from reffy_spark.operators.crawler import CrawlEngine
spark = get_spark("skew", cores=32, shuffle_partitions=32,
                  master="local-cluster[4,8,10240]",
                  extra_conf={{
                      "spark.executor.memory": "9g",
                      "spark.sql.files.maxPartitionBytes": str(4*1024*1024),
                      "spark.executor.heartbeatInterval": "60s",
                      "spark.network.timeout": "600s",
                      "spark.worker.timeout": "600",
                  }})
corpus = {corpus!r}
pages = spark.read.parquet(corpus + "/pages.parquet").drop("page_id")
seeds = spark.read.parquet(corpus + "/seeds.parquet")
robots = spark.read.parquet(corpus + "/robots.parquet")
MODS = ["links", "headings", "ids", "dfns", "title"]
# untimed warm-up (bench.py scaling protocol: fixed seconds are cold-JIT/
# broadcast constants per executor JVM, not data work)
from reffy_spark.extractors.base import extract_all
extract_all(pages.limit(2000), MODS, url_col="url", html_col="html").count()
warm = CrawlEngine(spark, pages, robots, modules=MODS,
                   round_ms=1_000_000_000, use_bloom=False,
                   collect_metrics=False, discover=False,
                   assume_canonical_unique=False,
                   assume_seeds_unique=True)
warm.crawl(seeds.limit(20000), max_rounds=1).results.filter(
    "status = 'ok'").count()
eng = CrawlEngine(spark, pages, robots, modules=MODS,
                  round_ms=1_000_000_000, use_bloom=False,
                  collect_metrics=False, discover=False,
                  assume_canonical_unique=False,
                  assume_seeds_unique=True)
t0 = time.monotonic()
res = eng.crawl(seeds, max_rounds=1)
n = res.results.filter(res.results.status == "ok").count()
dt = time.monotonic() - t0
# untimed diagnostics: host distribution + extraction-input partition
# histogram (rows per partition of the fetch-join output — the stage a
# hot host would have to concentrate to hurt)
by_host = {{r["host_group"]: r["n"] for r in
           res.results.groupBy("host_group").agg(
               F.count("*").alias("n")).collect()}}
from reffy_spark.functions.urls import with_url_canon
from reffy_spark.operators.crawler import fetch_with_fallback, freshest_capture
# AQE's post-shuffle coalesce merges this toy-sized stage into very few
# partitions purely by SIZE (same in both worlds) and would mask the
# distribution under test — the url-hash spread of a hot host's pages
spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
pc = freshest_capture(with_url_canon(pages).withColumnRenamed("url", "page_url"))
batch = with_url_canon(seeds).select("url_canon")
fo, _miss = fetch_with_fallback(pc, batch)
hist = (fo.select(F.spark_partition_id().alias("p"))
          .groupBy("p").count()
          .agg(F.max("count").alias("mx"), F.avg("count").alias("avg"),
               F.count("*").alias("parts")).first())
print(json.dumps({{"mode": {mode!r}, "urls": n, "sec": round(dt, 2),
                  "urls_per_sec": round(n / dt, 1),
                  "top_host_share": round(max(by_host.values()) / n, 3),
                  "extract_input_parts": hist["parts"],
                  "extract_rows_max": hist["mx"],
                  "extract_rows_avg": round(hist["avg"], 1)}}))
"""


def run_leg(mode: str, corpus: str) -> dict:
    code = _JOB.format(repo=REPO, corpus=corpus, mode=mode)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    row = json.loads(out.stdout.strip().splitlines()[-1])
    print(json.dumps(row), flush=True)
    return row


def main() -> None:
    worlds = {m: build_world(m) for m in ("balanced", "skewed")}
    legs = {m: run_leg(m, c) for m, c in worlds.items()}
    ratio = legs["skewed"]["sec"] / legs["balanced"]["sec"]
    print(json.dumps({
        "n_pages": N_PAGES,
        "balanced_sec": legs["balanced"]["sec"],
        "skewed_sec": legs["skewed"]["sec"],
        "degradation": round(ratio, 3),
        "pass_lt_1.3": ratio < 1.3,
        "skew_top_host_share": legs["skewed"]["top_host_share"],
        "skew_extract_max_over_avg": round(
            legs["skewed"]["extract_rows_max"]
            / legs["skewed"]["extract_rows_avg"], 2),
    }))


if __name__ == "__main__":
    main()
