"""Frontier layer: canonicalize → URL-seen dedup → politeness ranking.

Pure relational (no UDF state), per SURVEY.md §7.0 layer 1. This is the
Spark re-expression of the reference's scheduler:

* URL-seen set = left-anti join on ``url_canon`` (the reference gets
  dedup for free from its fixed seed list — crawlList maps once,
  /root/reference/src/lib/specs-crawler.js:473-479 — a general frontier
  needs the real thing). A broadcast bloom prefilter built from Spark's
  deterministic ``xxhash64`` prunes the anti-join: rows the bloom has
  definitely never seen skip the shuffle entirely; only "maybe seen"
  rows are confirmed exactly. The exact set remains the source of truth
  (FIXTURES.md §3).
* Politeness = per-``host_group`` budget ranking
  (/root/reference/src/lib/throttled-queue.js:110-128 per-origin serial
  queues + sleepInterval politeness,
  /root/reference/src/lib/specs-crawler.js:461-470): one crawl round may
  fetch at most ``round_ms / crawl_delay_ms`` URLs per host group.
* Skew: ranking shuffles on ``host_group`` (hot hosts like the github.io
  analog dominate); the *extraction* stage re-partitions by url hash
  (salting) so heavy hosts spread across the cluster while fetch
  ordering stays per-host deterministic (SURVEY.md §7.3 risk 4).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from reffy_spark.functions.urls import host_col, host_group_col, with_url_canon

# --------------------------------------------------------------------------
# URL-seen
# --------------------------------------------------------------------------

# Driver-built broadcast bloom is used while the seen set fits comfortably;
# beyond this we fall back to the plain distributed anti-join (at true
# 10^10 scale the bloom would be maintained per hash-partition alongside
# the bucketed seen table — same lifecycle, bigger bitmap).
BLOOM_MAX_ITEMS = 50_000_000
# target false-positive rate of a bitmap sized for its item count
BLOOM_FPP = 0.01


class Bloom:
    """Vectorized double-hashing bloom over Spark ``xxhash64`` values.

    Bits are a numpy array broadcast to executors; membership tests are
    numpy-vectorized inside an Arrow UDF (no per-row Python).
    """

    def __init__(self, n_items: int):
        n_items = max(n_items, 16)
        m = int(-n_items * math.log(BLOOM_FPP) / (math.log(2) ** 2))
        self.m = max(64, m)
        self.k = max(1, round(self.m / n_items * math.log(2)))
        self.bits = np.zeros((self.m + 63) // 64, dtype=np.uint64)

    def _positions(self, h: np.ndarray) -> np.ndarray:
        # double hashing: g_i = h1 + i*h2 mod m  (h is int64 xxhash64)
        h = h.astype(np.uint64)
        h1 = h % np.uint64(self.m)
        h2 = (h >> np.uint64(17) | np.uint64(1)) % np.uint64(self.m)
        return np.stack(
            [(h1 + np.uint64(i) * h2) % np.uint64(self.m) for i in range(self.k)]
        )

    def add_hashes(self, h: np.ndarray) -> None:
        pos = self._positions(np.asarray(h, dtype=np.int64)).ravel()
        np.bitwise_or.at(self.bits, pos // 64, np.uint64(1) << (pos % 64))

    def might_contain(self, h: np.ndarray) -> np.ndarray:
        pos = self._positions(np.asarray(h, dtype=np.int64))
        out = np.ones(pos.shape[1], dtype=bool)
        for row in pos:
            out &= (self.bits[row // 64] >> (row % 64)) & np.uint64(1) != 0
        return out


def build_bloom(seen: DataFrame, n_items: int | None = None) -> Bloom | None:
    """Bloom over ``seen.url_canon``, built DISTRIBUTED: every partition
    folds its xxhash64 values into a local bitmap (Arrow-batched,
    numpy-vectorized), bitmaps are OR-merged executor-side via
    treeReduce, and only the final bitmap reaches the driver. No
    ``toPandas`` of raw hashes.

    The bitmap is sized for ``n_items`` keys; without it the build
    counts ``seen`` (one job). The crawl loop calls this once per
    discovery round on that round's seen set and drops the bitmap after
    the round's filter, so no bloom state crosses a round boundary.

    Returns ``None`` for an empty seen set and above ``BLOOM_MAX_ITEMS``:
    there the bitmap itself (not the build) is the limit — a ~12 GB
    bitmap cannot be broadcast — and the caller uses the plain exact
    anti-join.
    """
    n = seen.count() if n_items is None else n_items
    if n > BLOOM_MAX_ITEMS or n == 0:
        return None
    return fold_bloom(Bloom(n), seen)


def fold_bloom(bloom: Bloom, df: DataFrame) -> Bloom:
    """OR ``df.url_canon``'s keys into ``bloom`` IN PLACE, distributed:
    per-partition bitmaps (Arrow-batched, numpy-vectorized), executor-
    side treeReduce OR-merge, one final OR on the driver. ``build_bloom``
    uses it to fill a fresh bitmap."""
    m, k = bloom.m, bloom.k

    def part_bloom(batches):
        b = Bloom(16)
        b.m, b.k = m, k
        b.bits = np.zeros((m + 63) // 64, dtype=np.uint64)
        for pdf in batches:
            if len(pdf):
                b.add_hashes(pdf["h"].to_numpy())
        yield pd.DataFrame({"bits": [b.bits.tobytes()]})

    bitmaps = df.select(F.xxhash64("url_canon").alias("h")).mapInPandas(
        part_bloom, "bits binary"
    )
    merged = bitmaps.rdd.map(lambda r: bytes(r.bits)).treeReduce(
        lambda a, b: (
            np.frombuffer(a, dtype=np.uint64) | np.frombuffer(b, dtype=np.uint64)
        ).tobytes(),
        depth=2,
    )
    bloom.bits |= np.frombuffer(merged, dtype=np.uint64)
    return bloom


# below this Catalyst-estimated size, shuffling the seen set is cheaper
# than the scan shape's extra broadcast round-trips; above it (or when
# the estimate is unknown — crawl round state is lineage-truncated and
# reports no stats, and a crawl's seen set is the thing that GROWS), the
# scan shape wins and keeps winning as seen grows
_SCAN_ANTI_MIN_BYTES = 64 * 1024 * 1024

# a left/candidate side estimated above this (or with no estimate) is
# not known to be broadcastable — the scan shape's premise fails and the
# plain shuffle anti-join is correct
_SCAN_ANTI_MAX_LEFT_BYTES = 256 * 1024 * 1024


from reffy_spark.plan_stats import estimated_bytes as _estimated_bytes


def anti_join_scan(
    left: DataFrame, seen: DataFrame, left_unique: bool = False
) -> DataFrame:
    """``left LEFT ANTI JOIN seen`` on ``url_canon`` without ever
    shuffling ``seen``.

    A plain left_anti cannot broadcast its big right side, so every
    crawl round re-shuffles the ENTIRE seen set even for a handful of
    candidates (r7 seen-filter bench: the dominant per-round cost at
    5M+ seen). Candidates are round-bounded (links of a budget-bounded
    fetch batch), so instead: semi-join ``seen`` against the BROADCAST
    candidate keys — seen is a map-side scan, zero exchange, partition-
    prunable when the seen state is stored bucketed on the key — then
    anti-join ``left`` against the (candidate-bounded, broadcast) hit
    set. Identical answer to the plain anti-join, row-preserving,
    null-key rows kept on the left like left_anti.

    Small seen sets (Catalyst estimate < 64 MB) keep the plain
    anti-join — the scan shape's two broadcast round-trips cost a flat
    ~1 s that a trivial shuffle doesn't (r7 bench: urlseen_antijoin
    1.6× at sf0.1 before this routing). A LEFT side that is itself
    large (not broadcastable) also keeps the plain shuffle: the scan
    shape's premise is a round-bounded candidate set. The 256 MB byte
    guard decides on Catalyst's estimate (checkpointed, persisted and
    file-backed frames report one); a left side with no estimate
    (RDD-backed frames return the unknown sentinel) is treated as large
    and keeps the plain anti-join, so no probe job runs and no unbounded
    key set is broadcast. An unknown SEEN estimate still routes to the
    scan shape: seen is the side that grows.

    ``left_unique=True``: the caller guarantees one row per key (e.g. a
    deduped frontier candidate set), so the broadcast key set skips its
    ``distinct`` — one less exchange per call; purely a plan change
    (duplicate keys would only inflate the broadcast, never the answer).
    """
    seen_keys = seen.select("url_canon")
    est = _estimated_bytes(seen)
    if est is not None and est < _SCAN_ANTI_MIN_BYTES:
        return left.join(seen_keys, on="url_canon", how="left_anti")
    left_est = _estimated_bytes(left)
    if left_est is None or left_est > _SCAN_ANTI_MAX_LEFT_BYTES:
        return left.join(seen_keys, on="url_canon", how="left_anti")
    keys = left.select("url_canon")
    if not left_unique:
        keys = keys.distinct()
    hits = seen_keys.join(F.broadcast(keys), on="url_canon", how="left_semi")
    return left.join(F.broadcast(hits), on="url_canon", how="left_anti")


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: Bloom | None = None,
    candidates_unique: bool = False,
) -> DataFrame:
    """Rows of ``candidates`` whose ``url_canon`` is not in ``seen``.

    With a bloom: definitely-new rows bypass the seen lookup entirely;
    only maybe-seen rows are confirmed exactly (false-positive-safe).
    Both paths use the scan-shaped anti-join — seen never shuffles.
    ``candidates_unique`` forwards the one-row-per-key guarantee to
    ``anti_join_scan`` (skips the broadcast key set's distinct).
    """
    if bloom is None:
        return anti_join_scan(candidates, seen, left_unique=candidates_unique)

    # ship the bitmap via an explicit TorrentBroadcast (one transfer per
    # executor, BitTorrent-style chunks) instead of a UDF closure, which
    # would re-serialize the bitmap into every task binary
    bloom_bc = candidates.sparkSession.sparkContext.broadcast(bloom)

    @pandas_udf(BooleanType())
    def maybe_seen(h: pd.Series) -> pd.Series:
        return pd.Series(bloom_bc.value.might_contain(h.to_numpy()))

    with_flag = candidates.withColumn(
        "_maybe_seen", maybe_seen(F.xxhash64("url_canon"))
    )
    definite_new = with_flag.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    needs_check = with_flag.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    confirmed_new = anti_join_scan(
        needs_check, seen, left_unique=candidates_unique
    )
    return definite_new.unionByName(confirmed_new)


# --------------------------------------------------------------------------
# Frontier construction
# --------------------------------------------------------------------------

FRONTIER_COLS = [
    "url",
    "url_canon",
    "host",
    "host_group",
    "priority",
    "depth",
    "round_discovered",
]


def to_frontier(
    df: DataFrame,
    depth_col=None,
    round_no: int = 0,
    assume_canonical_unique: bool = False,
) -> DataFrame:
    """Canonicalize candidate URLs into frontier rows (FIXTURES.md §3).

    ``assume_canonical_unique=True`` skips the within-batch dedup
    aggregation when the caller guarantees one row per canonical URL
    (e.g. a seed list derived 1:1 from a pages table already MERGEd on
    url_canon) — the replay path then builds the frontier with zero
    shuffles."""
    out = with_url_canon(df)
    out = out.withColumn("host", host_col(F.col("url_canon")))
    out = out.withColumn("host_group", host_group_col(F.col("url_canon")))
    out = out.withColumn(
        "depth", depth_col if depth_col is not None else F.lit(0)
    )
    out = out.withColumn("priority", F.lit(1.0) / (F.col("depth") + F.lit(1.0)))
    out = out.withColumn("round_discovered", F.lit(round_no))
    if assume_canonical_unique:
        return out.select("url_canon", *[c for c in out.columns if c != "url_canon"])
    # within-batch dedup: lowest (depth, url) wins per canonical URL.
    # min_by instead of a row_number window: partial aggregation combines
    # map-side, so the shuffle carries one row per canonical URL instead
    # of the full candidate multiset (link graphs are highly redundant).
    payload = [c for c in out.columns if c != "url_canon"]
    return (
        out.groupBy("url_canon")
        .agg(
            F.min_by(F.struct(*payload), F.struct("depth", "url")).alias("_best")
        )
        .select("url_canon", *[F.col(f"_best.{c}").alias(c) for c in payload])
    )


# --------------------------------------------------------------------------
# Robots + politeness
# --------------------------------------------------------------------------


def apply_robots(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Keep rows allowed by the longest-matching path-prefix rule.

    The robots table is small: aggregate it to one rule-array per host,
    broadcast-join on host (no shuffle of the frontier side), and
    evaluate longest-prefix-wins as an array expression — zero windows,
    zero extra shuffles. Hosts with no rule at all are allowed.
    """
    path = F.regexp_extract(F.col("url_canon"), r"^[a-z][a-z0-9+.-]*://[^/]*(/.*)?$", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    rules_per_host = robots.groupBy("host").agg(
        F.collect_list(F.struct("path_prefix", "allow")).alias("_rules")
    )
    joined = frontier.withColumn("_path", path).join(
        F.broadcast(rules_per_host), on="host", how="left"
    )
    matching = F.filter(
        F.coalesce(
            F.col("_rules"),
            F.array().cast("array<struct<path_prefix:string,allow:boolean>>"),
        ),
        lambda r: F.col("_path").startswith(r["path_prefix"]),
    )
    best = F.array_max(
        F.transform(
            matching,
            lambda r: F.struct(
                F.length(r["path_prefix"]).alias("l"), r["allow"].alias("allow")
            ),
        )
    )
    return (
        joined.withColumn("_allow", F.coalesce(best["allow"], F.lit(True)))
        .filter(F.col("_allow"))
        .drop("_path", "_rules", "_allow")
    )


def host_budgets(robots: DataFrame, round_ms: int) -> DataFrame:
    """Per-host fetch budget for one round: floor(round_ms / crawl_delay).

    Mirrors the reference's per-origin sleep intervals
    (specs-crawler.js:461-470) re-expressed as a BSP budget (SURVEY.md
    §2.9 "stateful rate limiting"). A crawl delay of 0 (legal in real
    robots files: "no delay", the reference's replay-mode sleep of 0 ms,
    specs-crawler.js:463) or NULL must not divide by zero under ANSI
    mode — it clamps to 1 ms, i.e. an effectively unbounded budget.
    """
    return (
        robots.groupBy("host")
        .agg(F.max("crawl_delay_ms").alias("crawl_delay_ms"))
        .select(
            "host",
            F.greatest(
                F.lit(1),
                F.floor(
                    F.lit(round_ms)
                    / F.greatest(F.coalesce("crawl_delay_ms", F.lit(1)), F.lit(1))
                ).cast("int"),
            ).alias("budget"),
        )
    )


def _sliced(df: DataFrame, num_parts: int, *cols) -> DataFrame:
    """``df`` range-partitioned on ``cols`` into ``num_parts`` contiguous
    slices, each row tagged with its slice id ``_pid`` — BEFORE
    freezing. Plan tests assert its RangePartitioning here, since the
    frozen frame hides the exchange behind an ExistingRDD scan."""
    ranged = df.repartitionByRange(num_parts, *cols)
    return ranged.withColumn("_pid", F.spark_partition_id())


def frozen_slices(df: DataFrame, num_parts: int, *cols) -> DataFrame:
    """``_sliced`` frozen by an eager ``localCheckpoint``: the slices are
    computed once, at call time, and every later read sees the same
    (row, ``_pid``) pairs.

    A frame that references its slices more than once needs this.
    ``repartitionByRange`` SAMPLES its boundaries and
    ``spark_partition_id`` depends on the plan, so two recomputations
    could slice the data differently and silently mis-join (off-by-N
    sums, wrong carries). Catalyst's ReuseExchange hides that only while
    it fires. The checkpointed blocks belong to the returned frame:
    Spark's ContextCleaner frees them once no plan references it, so no
    later call can evict a pending plan's slices.

    Trade: localCheckpoint blocks are not recomputed when an executor is
    lost — the job fails loudly instead. A long-lived pipeline on a
    multi-executor cluster sets a reliable checkpoint dir and swaps
    ``checkpoint()`` in here, the one site for every two-phase operator.
    """
    return _sliced(df, num_parts, *cols).localCheckpoint()


def range_prefix_sum(
    df: DataFrame,
    order: list,
    groups: tuple = (),
    weight: str | None = None,
    out: str = "prefix",
) -> DataFrame:
    """Inclusive running sum of ``weight`` within each ``groups`` key in
    ``order`` (``weight=None`` sums 1 per row: the row number) with NO
    single-task sort of a whole group — the two-phase distributed
    prefix-sum classic:

    1. Range-repartition on (*groups, *order): every partition holds a
       contiguous slice of the global order, so one hot group spreads
       over many partitions while slices stay sum-composable.
    2. Sum locally inside each (partition, group) slice; the global sum
       is the local sum plus the group's total in earlier partitions —
       a tiny (groups × partitions)-row offset table, broadcast.

    The result equals ``sum(weight).over(Window.partitionBy(*groups)
    .orderBy(*order).rowsBetween(unboundedPreceding, currentRow))``: the
    ROWS frame gives rows with equal order keys distinct values, so
    duplicate keys still get distinct row numbers. The largest sort any
    task does is one range partition's rows, never a whole hot group.

    Returns ``df`` plus ``out``. The range slices both branches read are
    frozen at call time (``frozen_slices``), so this runs the sampling
    and slicing jobs eagerly; on a multi-executor master a lost
    executor's slice blocks are not recomputed, and a later read fails.
    """
    num_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    # a NULL weight adds nothing, as in SUM
    w = F.lit(1) if weight is None else F.coalesce(F.col(weight), F.lit(0))
    keys = [*groups, "_pid"]
    # the offsets branch and the sum branch below must read identical
    # (row, _pid) pairs: two range exchanges could place the boundaries
    # differently and desync the sums
    part = frozen_slices(df, num_parts, *[F.col(g) for g in groups], *order)
    totals = part.groupBy(*keys).agg(F.sum(w).alias("_t"))
    # running total of earlier partitions per group; the window input is
    # the tiny totals table (≤ num_parts rows per group), not the data
    w_off = (
        Window.partitionBy(*groups)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *keys, F.coalesce(F.sum("_t").over(w_off), F.lit(0)).alias("_off")
    )
    # local sum: the window hash-partitions on (_pid, *groups) — a hot
    # group splits into num_parts independent sort tasks
    w_local = (
        Window.partitionBy("_pid", *groups)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    result = (
        part.withColumn("_ls", F.sum(w).over(w_local))
        .join(F.broadcast(offsets), on=keys, how="inner")
        .withColumn(out, F.col("_off") + F.col("_ls"))
        .drop("_pid", "_ls", "_off")
    )
    return result


# crawl delay of a host without robots rows (the simulator's default too)
DEFAULT_DELAY_MS = 100
# parallelism of politeness_rank's pre-prune within one host group
PRUNE_SALTS = 32


def politeness_rank(
    pending: DataFrame,
    robots: DataFrame,
    round_ms: int,
    *,
    max_crawl_delay_ms: int | None,
) -> DataFrame:
    """Select ≤budget URLs per host_group for this round (W1 + §2.6 top-k).

    Deterministic order inside a host group: priority desc, depth asc,
    url_canon asc — this is the per-host fetch sequence the parity tests
    assert (SURVEY.md §7.3 invariant 3). Returns rows with
    ``host_fetch_rank`` (1-based position in the host's queue this round).

    Scale shape — no code path sorts a whole host group in one task:

    * budget-bounded rounds (the production politeness case): a salted
      pre-prune keeps only each (group, salt)'s local top-``budget`` —
      ``PRUNE_SALTS``-way parallel per group — so the final rank window
      sees at most salts×budget rows per group. Any row in the true group
      top-budget is by definition in its salt slice's top-budget, so the
      result (and the CORRECTNESS hash) is identical to a direct window.
    * unbounded budgets (seed-list replay, round_ms ≫ crawl delays):
      pruning keeps nothing, so the rank itself must scale — the
      ``range_prefix_sum`` two-phase row number per host_group replaces
      the raw per-group window that round 2 fell through to (the flagged
      100×-scale-killer: one task sorting a hot group's whole slice).

    ``max_crawl_delay_ms``: the robots table's ``max(crawl_delay_ms)``,
    ``None`` when the table sets no delay. The caller derives it once
    from the (small) robots config, so the gate needs no action. The
    budget-bounded branch runs none; the unbounded branch freezes its
    range slices at call time (``range_prefix_sum``), which runs the
    pending frontier's sampling and slicing jobs before returning.
    """
    budgets = host_budgets(robots, round_ms)
    # budget of a host_group = budget of its slowest member host seen so far;
    # hosts without robots rows fall back to the default delay.
    default_budget = max(1, round_ms // DEFAULT_DELAY_MS)
    with_budget = pending.join(F.broadcast(budgets), on="host", how="left").withColumn(
        "budget", F.coalesce(F.col("budget"), F.lit(default_budget))
    )
    group_budgets = with_budget.groupBy("host_group").agg(
        F.min("budget").alias("_gb")
    )
    order = [
        F.col("priority").desc(),
        F.col("depth").asc(),
        F.col("url_canon").asc(),
    ]
    # The salted pre-prune only pays when budgets actually prune. The
    # cheapest possible budget is floor(round_ms / max_crawl_delay) —
    # a property of the (small) robots config, not of the frontier.
    min_budget = default_budget
    if max_crawl_delay_ms:
        min_budget = min(
            min_budget, max(1, round_ms // int(max_crawl_delay_ms))
        )
    if min_budget < 100_000:
        salted = with_budget.join(group_budgets, on="host_group").withColumn(
            "_salt", F.pmod(F.xxhash64("url_canon"), F.lit(PRUNE_SALTS))
        )
        w_local = Window.partitionBy("host_group", "_salt").orderBy(*order)
        pruned = (
            salted.withColumn("_lr", F.row_number().over(w_local))
            .filter(F.col("_lr") <= F.col("_gb"))
            .drop("_lr", "_salt")
        )
        w_final = Window.partitionBy("host_group").orderBy(*order)
        ranked = pruned.withColumn("host_fetch_rank", F.row_number().over(w_final))
    else:
        # unbounded replay: rank over ONLY the order keys plus the small
        # numeric metadata, so the range and window shuffles carry slim
        # rows and the ranked frame is consumed directly (no join back
        # onto the full frontier). String columns (url, host) are dropped
        # here and re-derived from url_canon downstream where needed.
        wb = with_budget.join(group_budgets, on="host_group")
        key_cols = ["host_group", "priority", "depth", "url_canon"]
        carry = [
            c for c in wb.columns if c not in (*key_cols, "url", "host", "budget")
        ]
        ranked = range_prefix_sum(
            wb.select(*key_cols, *carry),
            order,
            groups=("host_group",),
            out="host_fetch_rank",
        )
        ranked = ranked.withColumn(
            "host_fetch_rank", F.col("host_fetch_rank").cast("int")
        )
    return (
        ranked.filter(F.col("host_fetch_rank") <= F.col("_gb"))
        .drop("_gb", "budget")
    )
