"""Phase attribution for the scaling-replay job (BENCH/BASELINE.md).

Mirrors the stages of the single-round seed-list replay (the scaling
protocol job in bench.py) but forces each phase separately so its wall
time is attributable: frontier build+cache, politeness rank, batch
broadcast + fetch join, Arrow extraction, notfound anti-join. Used to
find which of the non-extraction seconds shrink 1x8 -> 4x8 and which
are fixed (VERDICT r4 next-round #1).

Usage: python tools/replay_phase_diag.py <n_executors>
Reads the bench.py scaling corpus (builds it if absent).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    nexec = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    cores = nexec * 8
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

    import bench

    bench.build_scaling_corpus()
    corpus = bench.SCALE_CORPUS

    from pyspark.sql import functions as F

    from reffy_spark.extractors.base import extract_all
    from reffy_spark.operators import frontier as FR
    from reffy_spark.operators.crawler import fetch_with_fallback
    from reffy_spark.session import get_spark

    spark = get_spark(
        "replay-diag", cores=cores, shuffle_partitions=cores,
        master=f"local-cluster[{nexec},8,10240]",
        extra_conf={
            "spark.executor.memory": "9g",
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            "spark.executor.heartbeatInterval": "60s",
            "spark.network.timeout": "600s",
            "spark.worker.timeout": "600",
        },
    )
    pages = spark.read.parquet(f"{corpus}/pages.parquet").drop("page_id")
    seeds = spark.read.parquet(f"{corpus}/seeds.parquet")
    robots = spark.read.parquet(f"{corpus}/robots.parquet")
    MODS = ["links", "headings", "ids", "dfns", "title"]
    # same untimed warm-up as the protocol job
    extract_all(pages.limit(2000), MODS, url_col="url_canon", html_col="html").count()

    from pyspark.storagelevel import StorageLevel

    times: dict[str, float] = {}

    def clock(name: str, fn):
        t0 = time.monotonic()
        out = fn()
        times[name] = round(time.monotonic() - t0, 2)
        return out

    # ---- phase 1: frontier build + cache (engine round-0 materialize)
    fr = FR.to_frontier(
        seeds.select("url", F.col("seed_idx").cast("int")),
        round_no=0,
        assume_canonical_unique=True,
    )
    fr = FR.apply_robots(fr, robots).drop("url")
    fr = fr.persist(StorageLevel.MEMORY_AND_DISK)
    clock("frontier_cache", lambda: fr.count())

    # ---- phase 2: two-phase politeness rank + batch cache
    batch = FR.politeness_rank(fr, robots, 1_000_000_000, max_crawl_delay_ms=1)
    batch = batch.persist(StorageLevel.MEMORY_AND_DISK)
    clock("rank_cache", lambda: batch.count())

    meta = [c for c in (
        "seed_idx", "depth", "priority", "round_discovered", "host_fetch_rank"
    ) if c in batch.columns]
    batch_slim = batch.select("url_canon", *meta)
    fetched_ok, missed = fetch_with_fallback(pages, batch_slim)

    # ---- phase 3: batch broadcast + fetch join (keys only, no Arrow)
    clock("fetch_join", lambda: fetched_ok.select("url_canon").write
          .format("noop").mode("overwrite").save())

    # ---- phase 4: the full extraction on top (includes a 2nd fetch join
    # pass; extract ≈ this minus fetch_join)
    ext = extract_all(
        fetched_ok, MODS, url_col="url_canon", html_col="html",
        passthrough=meta, error_col="crawl_error",
    )
    clock("fetch_plus_extract", lambda: ext.select("url_canon").write
          .format("noop").mode("overwrite").save())

    # ---- phase 5: notfound (fused broadcast-matched anti-join)
    clock("notfound", lambda: missed.select("url_canon").write
          .format("noop").mode("overwrite").save())

    times["extract_only_est"] = round(
        times["fetch_plus_extract"] - times["fetch_join"], 2
    )
    print(json.dumps({"nexec": nexec, "cores": cores, **times}))


if __name__ == "__main__":
    main()
