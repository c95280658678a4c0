"""BSP crawl engine: round-based frontier loop with checkpointed lineage.

The Spark re-expression of the reference crawl lifecycle
(/root/reference/src/lib/specs-crawler.js:409-506): instead of a mutable
in-process ThrottledQueue, the crawl proceeds in synchronous rounds —
each round selects ≤budget URLs per host group (politeness), "fetches"
them (join against the pages table; at production scale an Iceberg scan
with data-skipping on url_canon), runs the extraction UDF, appends
results, merges newly-discovered links into the frontier, and commits a
checkpoint. State lives in tables between rounds, never in memory
(SURVEY.md §2.9).

Checkpoints are parquet snapshot directories plus a JSON manifest with
per-partition lineage and fetch/extract metrics — the open-format stand-in
for Iceberg snapshot metadata (this sandbox has no Iceberg runtime jar;
the write path is isolated in ``_materialize`` so swapping in
``writeTo(...).createOrReplace()`` is a one-function change).

Determinism contract (tests assert these — SURVEY.md §7.3 invariant 3):
* per-host fetch sequence: (round, host_fetch_rank) ordering
* round-by-round frontier contents
* final URL-seen set
* output order = seed order for seed rows (W3: carry seed_idx, orderBy it)
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict, dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reffy_spark.extractors.base import check_modules, extract_all
from reffy_spark.functions.urls import host_col, host_group_col, with_url_canon
from reffy_spark.operators import frontier as FR


@dataclass
class RoundMetrics:
    round: int
    selected: int
    fetched: int
    errors: int
    discovered: int
    new_urls: int
    per_host_group: dict[str, int]
    wall_sec: float


@dataclass
class CrawlResult:
    # one row per fetched URL, every round and input shape in one column
    # order: url_canon, seed_idx, depth, priority, round_discovered,
    # host_fetch_rank, etag, last_modified, <modules>, crawl_error, host,
    # host_group, status, [crawled (pages with final_url)], from_fallback,
    # round. The original url stays on the frontier/batch checkpoints.
    results: DataFrame
    url_seen: DataFrame  # url_canon, first_round
    links: DataFrame | None  # url_canon, page_url, fragment, is_autolink
    metrics: list[RoundMetrics] = field(default_factory=list)


def freshest_capture(pages_canon: DataFrame) -> DataFrame:
    """J3 cache-info join: collapse multiple captures of one canonical URL
    to the freshest (max warc_ts, tie-break max page_url) — the
    crawl-cache semantics of the reference's conditional refetch
    (src/lib/util.js:461-488).

    max_by keeps the aggregation partial (map-side combine) — a
    row_number window would force a full sort of the pages table. A
    production crawl writes this once as an Iceberg table bucketed by
    url_canon; recomputing the expression chain per round is cheap
    (measured: persist() cost 4× the recompute locally).
    """
    order_cols = [
        c for c in ("warc_ts", "page_url") if c in pages_canon.columns
    ]
    keep = ["page_url", "html"] + [
        c for c in ("warc_ts", "final_url") if c in pages_canon.columns
    ]
    return (
        pages_canon.groupBy("url_canon")
        .agg(F.max_by(F.struct(*keep), F.struct(*order_cols)).alias("_best"))
        .select("url_canon", *[F.col(f"_best.{c}").alias(c) for c in keep])
    )


def fetch_with_fallback(
    pages: DataFrame, batch_slim: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """J2 fetch + fallback: inner-join the round's batch to the pages
    table, and a keys-only anti-join for the misses (the reference's
    fallback/--use-crawl path records an error result instead of
    dropping the spec, specs-crawler.js:54-65).

    Returns (fetched_ok, missed): ``fetched_ok`` is each matched batch
    row with its page columns (``html``, plus ``warc_ts``/``final_url``
    when pages carry them, and ``page_url`` for redirect detection
    whenever ``final_url`` is there);
    ``missed`` is keys only — the batch rows (``url_canon`` + batch
    metadata) with no page. The caller gives misses their ``notfound``
    status and any fallback data.

    The round's batch is broadcast into the fetch join: it is bounded by
    the sum of politeness budgets, so it is small relative to the pages
    table. Misses, fused into the fetch join's pass (no second
    pages-sized shuffle): the matched key set is ``pages ⨝ batch`` keys
    — AT MOST ``|batch|`` rows, so it is broadcastable by the exact
    argument that made the batch broadcastable — and the misses are
    ``batch ⟕̸ broadcast(matched)``. The matched-keys probe reads ONE
    pruned column of pages; the 10^10-row pages key set is never
    shuffled.
    """
    fetch_cols = ["url_canon", "html"] + [
        c for c in ("warc_ts", "final_url") if c in pages.columns
    ]
    if "final_url" in pages.columns:
        # redirect detection compares the landed URL against the RAW
        # request URL (specs-crawler.js:144-146) — page_url rides the
        # fetch join only when the crawl opted into final_url
        fetch_cols.append("page_url")
    fetched_ok = pages.select(*fetch_cols).join(
        F.broadcast(batch_slim), on="url_canon", how="inner"
    )
    # the matched key set IS the fetch join's own key output — at most
    # |batch| rows by the broadcast argument; deriving it from fetched_ok
    # (instead of a second pages⨝batch) keeps one plan for both outputs
    # and holds even when pages.url_canon is not unique
    matched = fetched_ok.select("url_canon")
    missed = batch_slim.join(F.broadcast(matched), on="url_canon", how="left_anti")
    return fetched_ok, missed


class CrawlEngine:
    """Round-based crawl over a pages table (see the module docstring).

    An engine holds cached round state (the canonical pages table,
    within-round working sets) and, on a multi-executor master, a
    temporary round-state directory. Crawl results are lazy and read
    that state, so it outlives ``crawl()`` / ``resume()``. Use the
    engine as a context manager, or call ``release()`` once the results
    are consumed. The engine can crawl again after ``release()``. A
    checkpointed crawl keeps no working set past its round: its results
    are the round commits.

    The pages cache is Spark's, keyed by plan: engines built over the
    same pages plan share one cache entry (Spark warns "Asked to cache
    already cached data" for the second), and ``release()`` on any of
    them drops that entry for all, so the others' next rounds recompute
    the freshest-capture aggregation.
    """

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame,
        checkpoint_dir: str | None = None,
        round_ms: int = 2000,
        modules: list[str] | None = None,
        use_bloom: bool = True,  # True=bloom-pruned, False=exact anti-join
        collect_metrics: bool = True,
        discover: bool = True,
        assume_canonical_unique: bool = False,
        assume_seeds_unique: bool = False,
        fallback: DataFrame | None = None,
    ):
        if not isinstance(use_bloom, bool):
            raise ValueError(
                f"use_bloom must be True or False, got {use_bloom!r}; for a "
                "static cuckoo-filter URL-seen set use "
                "operators.cuckoo.filter_unseen_cuckoo"
            )
        # discover=False is pure seed-list replay — the reference's own
        # semantics (crawlList maps over the fixed list exactly once and
        # never enqueues, specs-crawler.js:473-479). discover=True is the
        # general-frontier extension.
        #
        # assume_canonical_unique=True skips the freshest-capture dedup
        # when the input pages table is already keyed by url_canon (the
        # production shape: an Iceberg table MERGEd on url_canon) — the
        # fetch join then needs no shuffle of the pages side at all.
        self.spark = spark
        self.robots = robots
        self.checkpoint_dir = checkpoint_dir
        self.round_ms = round_ms
        self.modules = list(modules or ["links"])
        check_modules(self.modules)
        if discover and "links" not in self.modules:
            # discovery is driven by extracted links; without the module
            # the round loop would have no outgoing edges to enqueue
            self.modules.append("links")
        self.use_bloom = use_bloom
        self.collect_metrics = collect_metrics
        self.discover = discover
        # seed list guaranteed one row per canonical URL → frontier
        # construction skips its dedup aggregation (zero-shuffle seed
        # frontier; the replay corpus derives seeds 1:1 from a pages
        # table already unique on url_canon)
        self.assume_seeds_unique = assume_seeds_unique
        # Canonicalize the pages table once. Canonical keys must be unique
        # for the fetch join: distinct raw URLs can collapse to one
        # canonical URL (e.g. whatwg multipage → root); keep the freshest
        # capture (max warc_ts, tie-break max url) — the crawl-cache
        # semantic of the reference's conditional refetch
        # (src/lib/util.js:461-488). At 10^10 scale this is the Iceberg
        # pages table bucketed by url_canon so the per-round fetch join is
        # shuffle-free on the pages side.
        # A pages table that already carries url_canon is trusted as-is
        # (the production shape: an Iceberg table MERGEd on url_canon and
        # BUCKETED by it — recomputing the column would discard the
        # bucketed-scan output partitioning and reintroduce a shuffle
        # into every fetch join).
        if "url_canon" in pages.columns:
            pc = pages.withColumnRenamed("url", "page_url")
        else:
            pc = with_url_canon(pages).withColumnRenamed("url", "page_url")
        page_cols = ["url_canon", "page_url", "html"] + [
            c for c in ("warc_ts", "final_url") if c in pc.columns
        ]
        self.assume_canonical_unique = assume_canonical_unique
        if assume_canonical_unique:
            self.pages = pc.select(*page_cols)
        else:
            # Persist the canonicalized+deduped pages table ONCE per
            # engine (r8): every round's fetch evaluates it twice (the
            # fetch join and the matched-keys broadcast build), so an
            # unmaterialized freshest_capture re-ran its full-corpus
            # groupBy shuffle 2×rounds times per crawl. MEMORY_AND_DISK
            # is the sandbox stand-in for the production shape (an
            # Iceberg pages table MERGEd on url_canon, written once);
            # released in release().
            from pyspark.storagelevel import StorageLevel

            self.pages = freshest_capture(pc).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        # Round-state durability: ``localCheckpoint`` blocks are NOT
        # fault-tolerant — on a multi-executor cluster one lost executor
        # destroys its blocks and the round state cannot be recomputed
        # (lineage was truncated), failing or wildly re-running the job
        # (the round-1 variance band of 66-193 s had exactly this cause).
        # Reliable parquet round commits whenever the master runs more
        # than one executor JVM; single-JVM local[...] keeps the cheaper
        # in-memory checkpoint.
        master = spark.sparkContext.master or ""
        self.reliable_state = not (
            master.startswith("local[") or master == "local"
        )
        self._state_dir: str | None = None
        # persisted within-round working sets awaiting release (ephemeral
        # multi-executor mode; see _materialize durable=False)
        self._working_sets: list[DataFrame] = []
        # Conditional-recrawl reuse (specs-crawler.js:87-98,128-133 +
        # test/crawl.js "skips processing and reuse fallback data when
        # spec cache info indicates it has not changed"): a prior crawl's
        # results table (url_canon, etag, last_modified, module columns).
        # Fetched pages whose content digest matches the fallback etag
        # SKIP the extraction stage and reuse the prior extracts — a
        # recrawl's Python compute is then proportional to CHANGED pages
        # only. Misses (notfound) also pull fallback extracts when
        # available, keeping the error status ("reports errors and
        # returns fallback data when possible", test/crawl.js:146).
        # Error'd fallback rows are never reused (the reference skips
        # them: "we don't really know whether these results come from
        # that previous crawl").
        if fallback is not None and "crawl_error" in fallback.columns:
            fallback = fallback.filter(F.col("crawl_error").isNull())
        if fallback is not None and "status" in fallback.columns:
            fallback = fallback.filter(F.col("status") == "ok")
        self.fallback = fallback
        # Derive the robots table's max crawl delay ONCE (tiny config
        # aggregate) so politeness_rank never runs a per-round driver
        # action to decide its prune-vs-two-phase-rank gate.
        row = robots.agg(F.max("crawl_delay_ms")).first()
        self._max_crawl_delay_ms = row[0] if row is not None else None

    def _seed_index(self, seeds: DataFrame) -> DataFrame:
        """``seed_idx`` = url-ordered row number for a seed list that
        arrives without one — WITHOUT a global unpartitioned window (a
        1M-URL webtext seed list must not funnel into one sorting task).

        The scale shape is ``frontier.range_prefix_sum``'s global row
        number minus one; its only unpartitioned window runs over the
        ≤ num_parts-row offset table — bounded by config, not by data.
        Assignment matches ``row_number().over(Window.orderBy("url")) - 1``
        (duplicate urls, if any, get arbitrary-but-distinct indices in
        both forms; the frontier dedups them immediately after).

        Size routing (r8, same precedent as ``frontier.anti_join_scan``):
        a seed list Catalyst can ESTIMATE as small takes the direct global
        window — bit-identical, one exchange instead of the two-phase
        machinery's four stages; unknown or large estimates keep the
        scale shape (an unknown seed list may be the 1M-URL case)."""
        from reffy_spark.plan_stats import estimated_bytes

        est = estimated_bytes(seeds)
        if est is not None and est < 64 * 1024 * 1024:
            w = Window.orderBy("url")
            return seeds.withColumn(
                "seed_idx", (F.row_number().over(w) - 1).cast("long")
            )
        numbered = FR.range_prefix_sum(seeds, [F.col("url")], out="seed_idx")
        # long: webtext-scale seed lists pass 2^31-1 rows (matches
        # sources.seeds.with_input_order_index)
        return numbered.withColumn("seed_idx", F.col("seed_idx") - 1)

    def _ensure_state_dir(self) -> str:
        if self._state_dir is None:
            import tempfile

            self._state_dir = tempfile.mkdtemp(prefix="reffy_crawl_state_")
        return self._state_dir

    # ------------------------------------------------------------------
    def crawl(self, seeds: DataFrame, max_rounds: int = 10) -> CrawlResult:
        """Run the BSP loop from a seed list (url [, seed_idx]).
        ``max_rounds=0`` commits only the round-0 checkpoint (the seed
        frontier and seen set) and returns empty results."""
        if max_rounds < 0:
            raise ValueError(f"max_rounds must be at least 0, got {max_rounds!r}")
        if self.checkpoint_dir and self._checkpointed_rounds():
            # a stale higher round would outlive this crawl and be
            # continued by a later resume()
            raise ValueError(
                f"checkpoint_dir {self.checkpoint_dir!r} already holds "
                "committed rounds; resume() them or crawl into a new directory"
            )
        self._ensure_pages_cached()
        if "seed_idx" not in seeds.columns:
            seeds = self._seed_index(seeds)
        frontier = FR.to_frontier(
            seeds.select("url", F.col("seed_idx").cast("long")),
            round_no=0,
            assume_canonical_unique=self.assume_seeds_unique,
        )
        frontier = FR.apply_robots(frontier, self.robots)
        if not self.checkpoint_dir:
            # ephemeral crawls never re-read the original (pre-canon) URL;
            # dropping it slims every downstream cache/shuffle of frontier
            # state (host/host_group stay: politeness joins budgets on host)
            frontier = frontier.drop("url")
        # the seed frontier is re-derivable from the seed list — a
        # working set until the first durable round commit replaces it.
        # It IS worth materializing even in pure replay: politeness
        # consumes the frontier twice (the group-budget aggregate and the
        # rank input), so skipping the cache re-runs the canonicalization
        # chain per consumer (measured: rank phase 8.7 s → 47 s at 4×8).
        frontier = self._materialize(
            frontier, "frontier", 0, durable=bool(self.checkpoint_dir)
        )
        # the round-0 seen set IS a projection of the (just-materialized)
        # frontier, so a checkpoint's seen write re-reads the frontier
        # instead of re-running its canonicalization. Without a checkpoint
        # there is nothing to commit: the discovery anti-join's seen scan
        # reads the frontier cache equally well (r8; ~0.4 s of the bench
        # replay)
        seen = frontier.select("url_canon", F.lit(0).alias("first_round"))
        if self.checkpoint_dir:
            seen = self._materialize(seen, "seen", 0)
        return self._run_rounds(frontier, seen, start_round=1, max_rounds=max_rounds)

    def _ensure_pages_cached(self) -> None:
        """Re-persist the canonical pages table if ``release()`` dropped
        the cache — keeps the engine reusable after ``release()``."""
        if not (self.assume_canonical_unique or self.pages.is_cached):
            from pyspark.storagelevel import StorageLevel

            self.pages.persist(StorageLevel.MEMORY_AND_DISK)

    def resume(self, max_rounds: int = 10) -> CrawlResult:
        """Resume from the latest checkpointed round (mirrors --fallback /
        --use-crawl, specs-crawler.js:54-65,100-102). Prior rounds'
        results are re-read from their checkpoints."""
        if max_rounds < 1:
            raise ValueError(f"max_rounds must be at least 1, got {max_rounds!r}")
        if not self.checkpoint_dir:
            raise ValueError("resume requires a checkpoint_dir")
        rounds = self._checkpointed_rounds()
        if not rounds:
            raise ValueError(
                f"checkpoint_dir {self.checkpoint_dir!r} holds no committed round"
            )
        self._ensure_pages_cached()
        last = rounds[-1]
        frontier = self.spark.read.parquet(
            os.path.join(self.checkpoint_dir, f"round={last}", "frontier")
        )
        seen = self.spark.read.parquet(
            os.path.join(self.checkpoint_dir, f"round={last}", "seen")
        )
        prior = [
            self.spark.read.parquet(
                os.path.join(self.checkpoint_dir, f"round={r}", "results")
            )
            for r in rounds
            if os.path.exists(os.path.join(self.checkpoint_dir, f"round={r}", "results"))
        ]
        return self._run_rounds(
            frontier, seen, start_round=last + 1, max_rounds=max_rounds, prior=prior
        )

    def _checkpointed_rounds(self) -> list[int]:
        if not os.path.isdir(self.checkpoint_dir):
            return []
        return sorted(
            int(d.split("=")[1])
            for d in os.listdir(self.checkpoint_dir)
            if d.startswith("round=")
            and os.path.exists(os.path.join(self.checkpoint_dir, d, "seen"))
        )

    # ------------------------------------------------------------------
    def __enter__(self) -> "CrawlEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.release()

    def release(self) -> None:
        """Free the engine's cached state and its temporary round-state
        directory. Call once the crawl's (lazy) results are consumed.

        Separate from the crawl because lazy results read the caches."""
        self._release_working_sets()
        if self.pages.is_cached:
            try:
                self.pages.unpersist(blocking=False)
            except Exception:
                pass
        state_dir, self._state_dir = self._state_dir, None
        if state_dir is not None:
            shutil.rmtree(state_dir, ignore_errors=True)

    def _run_rounds(
        self,
        frontier: DataFrame,
        seen: DataFrame,
        start_round: int,
        max_rounds: int,
        prior: list[DataFrame] | None = None,
    ) -> CrawlResult:
        all_results: list[DataFrame] = list(prior or [])
        metrics: list[RoundMetrics] = []
        n_new = None

        for rnd in range(start_round, max_rounds + 1):
            t0 = time.monotonic()
            # cached working sets from earlier rounds have no consumer
            # left once the previous round's commits are durable AND every
            # in-round action ran (metrics/discovery force the round's
            # results). Pure replay defers ALL result consumption to the
            # caller's final action, so there we keep the caches alive.
            # A checkpointed crawl released its own at the end of the
            # round (below).
            if self.discover or self.collect_metrics:
                self._release_working_sets()
            # the emptiness check only matters once discovery may have
            # drained the frontier; for the first round an empty seed
            # list just yields one cheap empty round — skipping the check
            # saves a job over the freshly-built frontier. A previous
            # round that found new URLs left them on the frontier.
            if rnd > start_round and not n_new and frontier.isEmpty():
                break

            # materialize the round's batch once: it feeds the fetch join,
            # the frontier anti-join, and the metrics (3 consumers)
            batch = self._materialize(
                FR.politeness_rank(
                    frontier,
                    self.robots,
                    self.round_ms,
                    max_crawl_delay_ms=self._max_crawl_delay_ms,
                ),
                "batch",
                rnd,
                durable=False,
            )

            # ---- fetch: join batch to pages on url_canon ----------------
            # The batch is budget-bounded → broadcast it; the pages side
            # then never shuffles (production: Iceberg data-skipping on
            # the broadcast keys prunes file scans too). Only the key +
            # numeric metadata travel in the broadcast — string columns
            # (url, host, host_group) stay out and are re-derived from
            # url_canon once the round's rows are assembled. Misses are a
            # separate keys-only anti-join so no html column rides along.
            meta_cols = [
                c
                for c in (
                    "seed_idx", "depth", "priority",
                    "round_discovered", "host_fetch_rank",
                )
                if c in batch.columns
            ]
            batch_slim = batch.select("url_canon", *meta_cols)
            fetched_ok, missed = fetch_with_fallback(self.pages, batch_slim)

            # ---- extract: one Arrow pass, all requested modules ---------
            # The fetch join's output partitioning already spreads pages
            # uniformly by url hash — a hot host's pages do NOT stay on
            # one executor (salting by construction; politeness metadata
            # host_fetch_rank was assigned before, so budgets hold —
            # SURVEY.md §7.3 risk 4). NUMERIC row metadata rides through
            # the Arrow stage (passthrough) — no join-back shuffle of fat
            # JSON; string metadata (host, host_group) is derived from
            # url_canon JVM-side instead (string columns through Arrow
            # measured ~40% of the whole extraction stage).
            # crawlCacheInfo analog (specs-crawler.js:87-98,144-152):
            # etag = content digest, last_modified = capture timestamp.
            # etag is computed JVM-side BEFORE extraction (html does not
            # survive the Arrow stage) and rides through as a 32-char
            # passthrough; warc_ts doubles as the date module's
            # HTTP-Last-Modified fallback (F11).
            has_ts = "warc_ts" in fetched_ok.columns
            # Redirect semantics (specs-crawler.js:140-152, test/crawl.js
            # "does not return cache info when a redirection took place"):
            # a pages table may carry an optional ``final_url`` column —
            # the URL the fetch actually landed on. When it differs from
            # the request URL, the reference records the post-redirect URL
            # as ``crawled`` and returns NO crawlCacheInfo (the cache info
            # belongs to the initial URL and cannot be trusted), while the
            # page content is still extracted. Our analog: etag and
            # last_modified are NULLed for redirected rows, which also
            # disables the fallback etag-reuse short-circuit (a redirected
            # page is always re-extracted). ``final_url`` rides the Arrow
            # stage as a string passthrough — a measured ~cost paid only
            # by crawls that opt into the column.
            has_redirects = "final_url" in fetched_ok.columns
            # redirected ⇔ the landed URL differs from the RAW request URL
            # (specs-crawler.js:144-146 compares result.crawled against the
            # request URL, NOT its canonicalization — a page whose URL only
            # changes under canonicalization, e.g. http→https rewrite or an
            # index.html strip, is NOT a redirect and keeps its cache info).
            # page_url rides the fetch join whenever final_url does.
            redirected = (
                F.col("final_url").isNotNull()
                & (F.col("final_url") != F.col("page_url"))
                if has_redirects
                else F.lit(False)
            )
            fetched_ok = fetched_ok.withColumn(
                "etag",
                F.when(redirected, F.lit(None).cast("string")).otherwise(
                    F.md5(F.col("html").cast("binary"))
                ),
            )
            if has_redirects:
                # bake the verdict into a boolean passthrough (page_url is
                # a fat string — it must not cross the Arrow stage) and use
                # it for the post-extraction cache-info NULLing
                fetched_ok = fetched_ok.withColumn(
                    "_redirected", F.coalesce(redirected, F.lit(False))
                ).drop("page_url")
                redirected = F.col("_redirected")
            # Each source below adds only the result columns it knows; one
            # unionByName fills the rest with NULLs and one select derives
            # the shared columns and fixes the column order.
            missed = missed.withColumn("status", F.lit("notfound"))
            reused = None
            if self.fallback is not None:
                # conditional-recrawl split: pages whose digest matches
                # the fallback crawl's etag bypass extraction entirely
                # (reuse), misses pull fallback extracts — see __init__
                fb = self.fallback
                fb_cols = [
                    c for c in ("last_modified", *self.modules) if c in fb.columns
                ]
                fb_slim = fb.select(
                    "url_canon", F.col("etag").alias("_fb_etag"), *fb_cols
                )
                joined = fetched_ok.join(fb_slim, on="url_canon", how="left")
                # etag NULL means "no trustworthy cache info" (redirected
                # row) — always counts as changed, never as reuse
                unchanged = F.coalesce(
                    F.col("_fb_etag") == F.col("etag"), F.lit(False)
                )
                reused = joined.filter(unchanged).select(
                    "url_canon", *meta_cols, "etag", *fb_cols,
                    F.lit("ok").alias("status"),
                    F.lit(True).alias("from_fallback"),
                )
                fetched_ok = joined.filter(~unchanged).drop("_fb_etag", *fb_cols)
                # the notfound status is KEPT alongside the fallback data
                # (test/crawl.js:146 "reports errors and returns fallback
                # data when possible")
                missed = missed.join(fb_slim, on="url_canon", how="left").select(
                    *missed.columns, F.col("_fb_etag").alias("etag"), *fb_cols,
                    F.col("_fb_etag").isNotNull().alias("from_fallback"),
                )
            cache_cols = (
                ["etag"]
                + (["warc_ts"] if has_ts else [])
                + (["final_url", "_redirected"] if has_redirects else [])
            )
            no_ts = F.lit(None).cast("timestamp")
            extracted = extract_all(
                fetched_ok,
                self.modules,
                url_col="url_canon",
                html_col="html",
                passthrough=meta_cols + cache_cols,
                last_modified_col="warc_ts" if has_ts else None,
                error_col="crawl_error",
            ).withColumns({
                # cache info dropped on redirect: etag was already NULLed
                # pre-extraction, last_modified is NULLed here
                "last_modified": F.when(redirected, no_ts).otherwise(
                    F.col("warc_ts") if has_ts else no_ts
                ),
                "status": F.when(F.col("crawl_error").isNotNull(), F.lit("error"))
                .otherwise(F.lit("ok")),
                "from_fallback": F.lit(False),
            })
            sources = [extracted] + ([reused] if reused is not None else []) + [missed]
            rows = reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), sources
            )
            round_results = rows.select(
                "url_canon", *meta_cols, "etag", "last_modified", *self.modules,
                "crawl_error",
                host_col(F.col("url_canon")).alias("host"),
                host_group_col(F.col("url_canon")).alias("host_group"),
                "status",
                # `crawled` = post-redirect URL (specs-crawler.js:141-143),
                # the request URL for every row that did not land elsewhere
                *(
                    [F.coalesce("final_url", "url_canon").alias("crawled")]
                    if has_redirects
                    else []
                ),
                F.coalesce("from_fallback", F.lit(False)).alias("from_fallback"),
                F.lit(rnd).alias("round"),
            )
            # Materialize only when the round's results have multiple
            # consumers (discovery, metrics) or must be durable; a pure
            # replay streams extraction straight into the caller's action.
            if self.discover or self.collect_metrics or self.checkpoint_dir:
                round_results = self._materialize(round_results, "results", rnd)
            all_results.append(round_results)

            # ---- discover: outgoing links → candidate frontier rows -----
            if self.discover:
                # targets-only parse (r8): discovery needs the outgoing
                # page URLs, not the per-anchor fragment explode of
                # links_long — the frontier dedup collapses multiplicity
                # anyway, so the candidate SET (and every downstream row)
                # is identical while the JSON pass emits map keys only
                candidates = link_targets(
                    round_results.filter(F.col("status") == "ok")
                ).withColumn("seed_idx", F.lit(None).cast("long"))
                next_depth = F.lit(rnd)  # BFS depth == first reachable round
                cand = FR.to_frontier(candidates, depth_col=next_depth, round_no=rnd)
                cand = FR.apply_robots(cand, self.robots)
                # ALWAYS materialize the candidate set (r8, ADVICE r7):
                # every unseen-filter shape consumes it several times —
                # the bloom split's two halves, the metrics count, and in
                # the plain path the scan-shaped anti-join's stats probe +
                # broadcast key set + the anti-join itself. Unmaterialized,
                # each consumer re-ran the links-parse → dedup → robots
                # lineage (3× per round in the bench replay).
                cand = self._materialize(cand, "candidates", rnd, durable=False)

                # the bloom lives for this round's filter only: built
                # from this round's seen (build_bloom counts it, sizes the
                # bitmap to it and returns None above BLOOM_MAX_ITEMS), so
                # no bitmap or count crosses a round boundary. The exact
                # anti-join below reads all of seen anyway; an incremental
                # fold of new_urls cost more than this rebuild.
                bloom = FR.build_bloom(seen) if self.use_bloom else None
                # cand is unique per url_canon (to_frontier dedup) — the
                # scan-shape broadcast key set skips its distinct
                unseen = FR.filter_unseen(
                    cand, seen, bloom=bloom, candidates_unique=True
                )
                # new_urls feeds BOTH the frontier merge and the seen-set
                # update
                new_urls = self._materialize(
                    unseen, "new_urls", rnd, durable=False
                )
                n_new = new_urls.count() if self.collect_metrics else None
            else:
                cand = None
                new_urls = None
                n_new = None

            # ---- commit round: update frontier + seen -------------------
            # A checkpointed crawl commits every round (durability and the
            # resume contract: every round must leave frontier+seen on
            # disk). An ephemeral crawl skips the final round's commit:
            # its frontier/seen have no consumer, and on a single-round
            # seed-list replay that skip is the whole frontier write.
            # batch keys are budget-bounded (the fetch-join broadcast
            # argument) — hint it so the frontier side never shuffles
            # even when cache statistics are unavailable
            frontier = frontier.join(
                F.broadcast(batch.select("url_canon")),
                on="url_canon",
                how="left_anti",
            )
            if new_urls is not None:
                frontier = frontier.unionByName(new_urls.select(*frontier.columns))
                seen = seen.unionByName(
                    new_urls.select("url_canon", F.lit(rnd).alias("first_round"))
                )
            if self.checkpoint_dir or (new_urls is not None and rnd < max_rounds):
                seen = self._materialize(seen, "seen", rnd)
            if self.checkpoint_dir or rnd < max_rounds:
                frontier = self._materialize(frontier, "frontier", rnd)

            # ---- lineage metrics ----------------------------------------
            # One aggregation over the materialized results: every batch
            # row yields exactly one results row (extracted, reused or
            # missed) with the batch row's url_canon, hence its
            # host_group, so the results' groups are the batch's.
            if self.collect_metrics:
                per_group = (
                    round_results.groupBy("host_group")
                    .agg(
                        F.count("*").alias("n"),
                        F.sum((F.col("status") == "ok").cast("long")).alias("ok"),
                    )
                    .collect()
                )
                per_hg = {r["host_group"]: r["n"] for r in per_group}
                selected = sum(per_hg.values())
                fetched = sum(r["ok"] for r in per_group)
                m = RoundMetrics(
                    round=rnd,
                    selected=selected,
                    fetched=fetched,
                    errors=selected - fetched,
                    discovered=cand.count() if cand is not None else 0,
                    new_urls=n_new if n_new is not None else 0,
                    per_host_group=per_hg,
                    wall_sec=time.monotonic() - t0,
                )
                metrics.append(m)
                self._write_manifest(rnd, m)

            # a checkpointed round's results, frontier and seen are
            # durable re-reads, and its metrics have run: nothing reads
            # its working sets any more, not even the returned result
            if self.checkpoint_dir:
                self._release_working_sets()

        if all_results:
            results = reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), all_results
            )
        else:  # crawl(max_rounds=0)
            results = self.spark.createDataFrame(
                [], "url_canon string, url string, status string"
            )
        links = (
            links_long(results.filter(F.col("status") == "ok"))
            if "links" in self.modules and all_results
            else None
        )
        return CrawlResult(results=results, url_seen=seen, links=links, metrics=metrics)

    # ------------------------------------------------------------------
    def _materialize(
        self, df: DataFrame, name: str, rnd: int, durable: bool = True
    ) -> DataFrame:
        """Commit a state table for this round (checkpoint = snapshot).

        Writing + re-reading truncates lineage (the BSP round boundary)
        and is the resume point. The re-read carries the written frame's
        schema, so it runs no schema-inference job (a 1-task job per
        table per round otherwise). Without a checkpoint dir: reliable
        (parquet, ephemeral dir) commits when running multi-executor —
        executor loss must not destroy round state — else localCheckpoint
        (same truncation, no persistence, no I/O).

        ``durable=False`` marks a within-round WORKING SET (the round's
        batch, discovery candidates, new_urls): in ephemeral
        multi-executor mode these are cached (persist MEMORY_AND_DISK)
        instead of written to parquet — lineage stays intact, so executor
        loss triggers recompute from the last durable table rather than
        job failure (strictly better than localCheckpoint, equal
        correctness to parquet), and the per-round disk round-trip
        disappears from the critical path. Cross-round state
        (frontier/seen/results) stays parquet-committed: that is the
        lineage-truncation boundary that keeps multi-round plans flat.
        """
        if self.checkpoint_dir and durable:
            path = os.path.join(self.checkpoint_dir, f"round={rnd}", name)
            df.write.mode("overwrite").parquet(path)
            return self.spark.read.schema(df.schema).parquet(path)
        if self.reliable_state or self.checkpoint_dir:
            # within-round working sets are cached, never checkpoint
            # files: a checkpointed crawl's resume contract reads only
            # the durable tables (frontier/seen/results), and the
            # durable-commit disk round-trip is pure overhead for state
            # with no cross-round consumer (r8 review)
            if durable:
                path = os.path.join(self._ensure_state_dir(), f"round={rnd}", name)
                df.write.mode("overwrite").parquet(path)
                return self.spark.read.schema(df.schema).parquet(path)
            from pyspark.storagelevel import StorageLevel

            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            self._working_sets.append(df)
            return df
        return df.localCheckpoint(eager=True)

    def _release_working_sets(self) -> None:
        for df in self._working_sets:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass
        self._working_sets = []

    def _write_manifest(self, rnd: int, m: RoundMetrics) -> None:
        if not self.checkpoint_dir:
            return
        path = os.path.join(self.checkpoint_dir, f"round={rnd}", "manifest.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**asdict(m), "modules": self.modules}, f, indent=1)


def link_targets(results: DataFrame) -> DataFrame:
    """Outgoing page URLs of each result row (JSON map keys only, both
    link kinds) as a one-column ``url`` frame — the frontier-discovery
    feed. Skips ``links_long``'s per-anchor explode: fragments are
    irrelevant to crawl candidates, and the frontier dedup collapses
    multiplicity, so consumers see the identical candidate set."""
    schema = "map<string, struct<anchors: array<string>>>"

    def keys(kind: str):
        return F.map_keys(
            F.from_json(F.get_json_object(F.col("links"), f"$.{kind}"), schema)
        )

    empty = F.array().cast("array<string>")
    return results.select(
        F.explode(
            F.concat(
                F.coalesce(keys("rawlinks"), empty),
                F.coalesce(keys("autolinks"), empty),
            )
        ).alias("url")
    )


def links_long(results: DataFrame) -> DataFrame:
    """Normalize the links JSON column into a long table
    (url_canon, page_url, fragment, is_autolink) — FIXTURES.md §5
    golden_links shape. JSON parsing happens JVM-side (from_json).

    SINGLE PASS (r8): both kinds are parsed in one projection and
    stacked with an array concat + one explode, instead of a union whose
    two branches each re-evaluated the whole upstream lineage (the
    Arrow extraction when unmaterialized — pagerank/extract_links ran
    extraction twice; the crawl loop re-parsed the results JSON twice
    per consumer). Same output bag: per kind, per map entry, one row per
    anchor (or one NULL-fragment row when the entry has none).
    """
    schema = "map<string, struct<anchors: array<string>>>"
    entry_t = (
        "array<struct<page_url:string,anchors:array<string>,"
        "is_autolink:boolean>>"
    )

    def entries(kind: str, flag: bool):
        m = F.from_json(F.get_json_object(F.col("links"), f"$.{kind}"), schema)
        return F.transform(
            F.map_entries(m),
            lambda e: F.struct(
                e["key"].alias("page_url"),
                e["value"]["anchors"].alias("anchors"),
                F.lit(flag).alias("is_autolink"),
            ),
        )

    stacked = results.select(
        F.col("url_canon"),
        F.explode(
            F.concat(
                F.coalesce(entries("rawlinks", False), F.expr(f"CAST(array() AS {entry_t})")),
                F.coalesce(entries("autolinks", True), F.expr(f"CAST(array() AS {entry_t})")),
            )
        ).alias("e"),
    ).filter(F.col("e.page_url").isNotNull())
    return stacked.select(
        "url_canon",
        F.col("e.page_url").alias("page_url"),
        F.explode_outer(
            F.coalesce(F.col("e.anchors"), F.array().cast("array<string>"))
        ).alias("fragment"),
        F.col("e.is_autolink").alias("is_autolink"),
    )
