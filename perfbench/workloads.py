"""The three crawl workloads on Spark.

Each workload has an untimed ``prepare`` (load the generated tables), a small
``warmup`` crawl, the timed ``crawl``, a ``check`` of the written outputs
against the oracles, and ``probe_layers``: the traced run's calls into each
layer's public functions, each forced separately on the workload's own
round-1 state.
"""

from __future__ import annotations

import itertools
import os
import shutil
import time
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gates
from perfbench import inputs as I
from perfbench import measure as M
from reffy_spark.extractors.base import MODULES as EXTRACTORS
from reffy_spark.extractors.base import ExtractContext, extract_all
from reffy_spark.functions.urls import with_url_canon
from reffy_spark.html.dom import parse_html
from reffy_spark.operators import crawler as CR
from reffy_spark.operators import frontier as FR

WARMUP_SEEDS = 100  # the warm-up crawls the seeds with seed_idx below this
# output directories are numbered per process, across set-ups
_DIR_NO = itertools.count(1)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rows(path: str, columns: list[str]) -> list[dict]:
    return pq.read_table(path, columns=columns).to_pylist()


class Workload:
    name = ""
    modules = I.MODULES
    round_ms = I.REPLAY_ROUND_MS
    kind = "corpus"
    seeds_unique = True  # the corpus is canonical-unique, every page a seed
    fallback = None  # prior crawl's results (recrawl)
    # probe spans of the layers this workload's crawl calls: a seed-list
    # replay never consults URL-seen, so those probes stay out of its shares
    crawl_layers = (
        "urls.canon", "frontier.build", "frontier.rank", "crawler.fetch",
        "extractors.stage", "crawler.results_write",
    )

    def __init__(self, spark, cache_dir: str, work_dir: str, seed: int, sizes: I.Sizes):
        self.spark = spark
        self.cache_dir = cache_dir
        self.work = work_dir
        self.seed = seed
        self.sizes = sizes
        self.inputs = I.cached(cache_dir, self.kind, seed, sizes)
        self.oracle_fetches = I.read_json(f"{self.inputs}/oracle_fetches.json")

    def prepare(self) -> None:
        read = self.spark.read.parquet
        self.pages = read(f"{self.inputs}/pages.parquet")
        self.seeds = read(f"{self.inputs}/seeds.parquet")
        self.robots = read(f"{self.inputs}/robots.parquet")
        self.max_delay = max(r["crawl_delay_ms"] for r in I.syn.robots_rows())

    def attempted(self) -> list[str]:
        return [f[0] for f in self.oracle_fetches]

    def _dir(self, tag: str) -> str:
        return os.path.join(self.work, f"{tag}-{next(_DIR_NO)}")

    # -- crawl ----------------------------------------------------------
    def engine(self) -> CR.CrawlEngine:
        return CR.CrawlEngine(
            self.spark, self.pages, self.robots,
            modules=self.modules, round_ms=self.round_ms, use_bloom=False,
            collect_metrics=False, discover=False,
            assume_canonical_unique=True, assume_seeds_unique=True,
            fallback=self.fallback,
        )

    def _run(self, seeds, out: str, tracer: M.Tracer | None):
        with _maybe(tracer, "crawler.engine_init"):
            eng = self.engine()
        with _maybe(tracer, "crawler.crawl"):
            res = eng.crawl(seeds, max_rounds=1)
        with _maybe(tracer, "crawler.results_commit"):
            res.results.write.parquet(out)

    def crawl(self, tracer: M.Tracer | None = None) -> dict:
        """The timed phase: engine construction through the results commit."""
        out = self._dir("results")
        t_wall, t0 = time.time(), time.monotonic()
        self._run(self.seeds, out, tracer)
        wall = time.monotonic() - t0
        commit = os.stat(os.path.join(out, "_SUCCESS")).st_mtime
        return {"out": out, "wall": wall, "rounds": [commit - t_wall]}

    def warmup(self) -> None:
        self._run(
            self.seeds.filter(F.col("seed_idx") < WARMUP_SEEDS), self._dir("warm"), None
        )

    # -- outputs --------------------------------------------------------
    def result_rows(self, run: dict) -> list[dict]:
        return _rows(
            run["out"],
            ["url_canon", "round", "host_group", "host_fetch_rank", "status",
             "from_fallback", *self.modules],
        )

    def check(self, run: dict, rows: list[dict]) -> list[str]:
        return gates.check_replay(
            rows,
            self.oracle_fetches,
            I.read_json(f"{self.inputs}/oracle_extracts.json"),
        )

    def durable_bytes(self, run: dict) -> int:
        return M.dir_bytes(run["out"])

    # -- traced layer probes -------------------------------------------
    def probe_seen(self, frontier):
        return frontier.select("url_canon", F.lit(0).alias("first_round"))

    def probe_extract_input(self, fetched):
        return fetched

    def probe_layers(self, tr: M.Tracer) -> dict:
        """Each layer's public function forced separately (noop sink or an
        eager action) on this workload's round-1 state. Untimed glue
        between them runs under ``probe.prep`` spans."""
        out: dict = {}
        seeds = self.seeds.select("url", F.col("seed_idx").cast("long"))
        with tr.span("urls.canon"):
            noop(with_url_canon(seeds))
        with tr.span("frontier.build"):
            frontier = FR.apply_robots(
                FR.to_frontier(
                    seeds, round_no=0, assume_canonical_unique=self.seeds_unique
                ),
                self.robots,
            )
            noop(frontier)
        with tr.span("probe.prep"):
            frontier = frontier.localCheckpoint(eager=True)
        with tr.span("frontier.rank"):
            batch = FR.politeness_rank(
                frontier, self.robots, self.round_ms, max_crawl_delay_ms=self.max_delay
            )
            noop(batch)
        with tr.span("probe.prep"):
            batch = batch.localCheckpoint(eager=True)
            n_batch = batch.count()
            pages = self.engine().pages
            slim = batch.select("url_canon", "seed_idx", "depth", "host_fetch_rank")
        with tr.span("crawler.fetch"):
            fetched, notfound = CR.fetch_with_fallback(pages, slim)
            noop(fetched.select("url_canon").unionByName(notfound.select("url_canon")))
        with tr.span("probe.prep"):
            n_fetched = fetched.count()
            fetched = self.probe_extract_input(fetched).localCheckpoint(eager=True)
            n_extract = fetched.count()
        with tr.span("extractors.stage"):
            extracts = extract_all(
                fetched, self.modules, url_col="url_canon", html_col="html",
                passthrough=["depth"], error_col="crawl_error",
            ).localCheckpoint(eager=True)
        with tr.span("probe.prep"):
            cand = FR.apply_robots(
                FR.to_frontier(
                    CR.link_targets(extracts).withColumn(
                        "seed_idx", F.lit(None).cast("long")
                    ),
                    depth_col=F.lit(1),
                    round_no=1,
                ),
                self.robots,
            ).localCheckpoint(eager=True)
            n_cand = cand.count()
            seen = self.probe_seen(frontier).localCheckpoint(eager=True)
            n_seen = seen.count()
        with tr.span("frontier.bloom_build"):
            bloom = FR.build_bloom(seen, n_items=2 * n_seen)
        with tr.span("probe.prep"):
            hashes = np.array(
                [r[0] for r in cand.select(F.xxhash64("url_canon")).collect()],
                dtype=np.int64,
            )
            maybe = int(bloom.might_contain(hashes).sum()) if len(hashes) else 0
            truly = cand.join(seen.select("url_canon"), "url_canon", "left_semi").count()
        with tr.span("frontier.unseen"):
            new_urls = FR.filter_unseen(
                cand, seen, bloom=bloom, candidates_unique=True
            ).localCheckpoint(eager=True)
        with tr.span("probe.prep"):
            n_new = new_urls.count()
        with tr.span("frontier.bloom_fold"):
            # the engine folds each round's new URLs; a round that finds
            # none (replay's corpus is closed) folds its candidates instead
            FR.fold_bloom(bloom, new_urls if n_new else cand)
        with tr.span("crawler.round_commit"):
            # what a checkpointed round writes durably: seen set and frontier
            seen.write.parquet(self._dir("commit-seen"))
            frontier.write.parquet(self._dir("commit-frontier"))

        out["frontier.candidates"] = n_cand
        out["frontier.maybe_seen"] = maybe
        out["frontier.new_urls"] = n_new
        out["frontier.new_ratio"] = n_new / n_cand if n_cand else 0.0
        out["frontier.bloom_fp_ratio"] = (maybe - truly) / maybe if maybe else 0.0
        out["crawler.fetch_hit_ratio"] = n_fetched / n_batch if n_batch else 0.0
        out["extractors.rows"] = n_extract
        return out

    def sample_pages(self) -> list[tuple[str, bytes]]:
        t = pq.read_table(f"{self.inputs}/pages.parquet", columns=["url", "html"])
        n = min(self.sizes.sample, t.num_rows)
        return list(zip(t.column("url").to_pylist()[:n], t.column("html").to_pylist()[:n]))


class Replay(Workload):
    name = "replay"


class Recrawl(Workload):
    name = "recrawl"

    def prepare(self) -> None:
        super().prepare()
        self.fallback = self.spark.read.parquet(f"{self.inputs}/fallback.parquet")
        self.changed = I.read_json(f"{self.inputs}/changed.json")

    def check(self, run: dict, rows: list[dict]) -> list[str]:
        return gates.check_recrawl(
            rows,
            self.oracle_fetches,
            self.changed,
            I.read_json(f"{self.inputs}/oracle_changed_extracts.json"),
        )

    def probe_extract_input(self, fetched):
        # the recrawl extracts only pages whose digest changed
        changed = self.spark.createDataFrame([(c,) for c in self.changed], "url_canon string")
        return fetched.join(F.broadcast(changed), "url_canon", "left_semi")


class Discover(Workload):
    name = "discover"
    modules = ["links"]
    round_ms = I.DISCOVER_ROUND_MS
    kind = "web"
    seeds_unique = False
    crawl_layers = Workload.crawl_layers + (
        "frontier.bloom_build", "frontier.unseen", "frontier.bloom_fold",
        "crawler.round_commit",
    )

    def prepare(self) -> None:
        super().prepare()
        self.ckpt0 = os.path.join(self.inputs, "ckpt0")

    def engine(self, checkpoint_dir=None) -> CR.CrawlEngine:
        return CR.CrawlEngine(
            self.spark, self.pages, self.robots, checkpoint_dir=checkpoint_dir,
            modules=self.modules, round_ms=self.round_ms, use_bloom=True,
        )

    def warmup(self) -> None:
        # a seed-list round on the same tables: a discovery round costs
        # about 10 s whatever its size, too much to pay in every set-up
        eng = CR.CrawlEngine(
            self.spark, self.pages, self.robots,
            modules=self.modules, round_ms=self.round_ms, use_bloom=False, discover=False,
        )
        seeds = self.seeds.filter(F.col("seed_idx") < WARMUP_SEEDS)
        eng.crawl(seeds, max_rounds=1).results.write.parquet(self._dir("warm"))

    def _fresh_checkpoint(self, tag: str) -> str:
        ckpt = self._dir(tag)
        shutil.copytree(self.ckpt0, ckpt)
        return ckpt

    def _resume(self, ckpt: str, rounds: int, out: str, tracer) -> None:
        with _maybe(tracer, "crawler.engine_init"):
            eng = self.engine(ckpt)
        with _maybe(tracer, "crawler.crawl"):
            res = eng.resume(max_rounds=rounds)
        with _maybe(tracer, "crawler.results_commit"):
            res.results.write.parquet(out)

    def crawl(self, tracer: M.Tracer | None = None) -> dict:
        ckpt = self._fresh_checkpoint("ckpt")
        out = self._dir("results")
        t0 = time.monotonic()
        self._resume(ckpt, self.sizes.rounds, out, tracer)
        wall = time.monotonic() - t0
        rounds = M.commit_intervals(M.round_commit_times(ckpt))
        return {"out": out, "ckpt": ckpt, "wall": wall, "rounds": rounds}

    def result_rows(self, run: dict) -> list[dict]:
        return _rows(
            run["out"],
            ["url_canon", "round", "host_group", "host_fetch_rank", "status",
             "from_fallback", "depth"],
        )

    def check(self, run: dict, rows: list[dict]) -> list[str]:
        seen = pq.read_table(
            os.path.join(run["ckpt"], f"round={self.sizes.rounds}", "seen")
        )
        return gates.check_discover(
            rows,
            dict(zip(seen.column("url_canon").to_pylist(),
                     seen.column("first_round").to_pylist())),
            self.oracle_fetches,
            I.read_json(f"{self.inputs}/oracle_seen.json"),
            I.preseed_urls(self.sizes.preseed),
        )

    def durable_bytes(self, run: dict) -> int:
        return M.dir_bytes(run["ckpt"])

    def probe_seen(self, frontier):
        return self.spark.read.parquet(f"{self.ckpt0}/round=0/seen")


WORKLOADS = {w.name: w for w in (Replay, Discover, Recrawl)}


def _maybe(tracer: M.Tracer | None, name: str):
    """A tracer span when tracing, else nothing."""
    return tracer.span(name) if tracer is not None else nullcontext()


def inprocess_extraction(pages: list[tuple[str, bytes]]) -> dict:
    """Per-page microseconds of ``parse_html`` and of each benchmark module
    run alone on a fresh parse (so each pays its own shared sub-stages)."""
    parse_us: list[float] = []
    mod_us: dict[str, list[float]] = {m: [] for m in I.MODULES}
    for url, html in pages:
        t = time.perf_counter()
        parse_html(html)
        parse_us.append((time.perf_counter() - t) * 1e6)
        for m in I.MODULES:
            ctx = ExtractContext(parse_html(html), url)
            t = time.perf_counter()
            EXTRACTORS[m][1](ctx)
            mod_us[m].append((time.perf_counter() - t) * 1e6)
    out = {"dom.parse_us": M.percentile_report(parse_us)}
    out.update({f"extractors.{m}_us": M.percentile_report(v) for m, v in mod_us.items()})
    return out
