"""Temporal operators: as-of join and gap sessionization.

Both are standard analytics-engine primitives Spark lacks as built-ins
(kdb aj / DuckDB ASOF JOIN / Flink temporal join; sessionization per
the classic web-log literature). Implemented as compositions of
DataFrame ops — the union+running-last trick for as-of, a bounded
per-key window for sessions — no UDFs anywhere.

Float caveat: these operators only MOVE stored values (last-non-null,
min/max, counts); they never sum floats across rows, so results are
bit-portable to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from reffy_spark.operators.frontier import frozen_slices

# Working sets: the skew-safe twins reference their range-sliced ``part``
# frame three times (local/carries/pairs), so they freeze it with
# ``frontier.frozen_slices`` — the same eager localCheckpoint as
# ``range_prefix_sum``: a returned plan stays correct no matter how many
# later calls run, and block loss surfaces as a job failure, never as
# divergent slices.
#
# Costs of this contract, accepted deliberately: (a) every skewsafe call
# runs one eager job for the working set even if the returned plan is
# never evaluated — callers constructing plans purely to inspect them
# should use the direct twins; (b) checkpointed blocks are released by
# the ContextCleaner when the returned DataFrame is garbage-collected,
# not eagerly — a tight loop over many inputs holds at most the blocks
# of results still referenced (drop references, or call
# spark.sparkContext._jvm.System.gc() in pathological loops).

# asof_join and sessionize route to the two-phase twins above this estimated
# input size (Catalyst plan statistics, driver-side, no job). The twins
# are bit-identical, so the routing is purely a plan choice: below the
# threshold the direct single-window plan is cheaper (one exchange+sort,
# no persist/carry machinery); above it, a hot key in the direct plan
# means one task sorts that key's whole group — the r5 verdict's
# watch-list item ("the convenient API should be the skew-safe one at
# scale").
_SKEW_SAFE_AUTO_BYTES = 256 * 1024 * 1024


# Unknown estimates are treated as SMALL here: file-backed production
# inputs carry real stats, and the direct plan is still CORRECT for the
# rest, just not skew-proof (call the *_skewsafe twin to force).
from reffy_spark.plan_stats import estimated_bytes as _estimated_bytes

# the input format: events and right rows keyed by ``user_id``, ordered
# by ``ts``; the as-of join carries ``value`` as ``asof_value``
BY = "user_id"
TS = "ts"
VALUE_COLS = ("value",)
PREFIX = "asof_"
GAP_US = 30 * 60 * 1_000_000  # a 30-minute session gap


def _route_skew_safe(*frames: DataFrame) -> bool:
    total = 0
    for f in frames:
        b = _estimated_bytes(f)
        if b is not None:
            total += b
    return total > _SKEW_SAFE_AUTO_BYTES


def _asof_union(
    left: DataFrame, right: DataFrame
) -> tuple[DataFrame, list[str]]:
    """Shared tagged-union builder for the two as-of variants: right rows
    deduped to one per (by, ts) (greatest struct wins), carried as a
    non-null ``_r`` struct with ``_tag`` 0 (sorting before left rows at
    equal ts); left rows carry ``_r`` NULL with ``_tag`` 1."""
    rstruct = F.struct(
        F.col(TS).alias("_ts"), *[F.col(c).alias(c) for c in VALUE_COLS]
    )
    r = (
        right.groupBy(BY, TS)
        .agg(F.max(rstruct).alias("_r"))
        .select(BY, TS, "_r", F.lit(0).alias("_tag"))
    )
    lcols = left.columns
    l = left.select(
        *lcols, F.lit(None).cast(r.schema["_r"].dataType).alias("_r"),
        F.lit(1).alias("_tag"),
    )
    # align schemas: right side carries nulls for the left payload
    for c in lcols:
        if c not in (BY, TS):
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    return l.unionByName(r.select(*lcols, "_r", "_tag")), lcols


def asof_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """For each left row, attach the LATEST right row with
    ``right.ts <= left.ts`` in the same ``by`` group (DuckDB
    ``ASOF LEFT JOIN`` / kdb ``aj`` semantics; ties on ts match).

    Plan: tag + union + one running ``last(struct, ignorenulls)`` over a
    per-key window ordered (ts, tag) with right rows sorting before left
    at equal ts. The struct carry is load-bearing: a right row whose
    value is legitimately NULL must still win over an older non-null row,
    and a struct is non-null whenever the row exists.

    Right rows are deduplicated to one per (by, ts) (greatest struct
    wins) — without it, equal-timestamp duplicates make "the" as-of row
    ambiguous and no engine pair would agree.

    Scale shape: ONE shuffle on ``by`` and a per-key sort — the
    sort-merge as-of every distributed engine uses. The window is
    running (unbounded preceding → current), which Spark evaluates
    streamingly per key — no per-key buffering of the whole group. Hot
    ``by`` keys are the skew caveat — so the join routes to the
    bit-identical two-phase ``asof_join_skewsafe`` when the estimated
    input exceeds ``_SKEW_SAFE_AUTO_BYTES``.

    ``by`` is ``BY``, ``ts`` is ``TS``; the ``VALUE_COLS`` of the right
    rows come out prefixed with ``PREFIX``.
    """
    if _route_skew_safe(left, right):
        return asof_join_skewsafe(left, right)
    u, lcols = _asof_union(left, right)
    w = (
        Window.partitionBy(BY)
        .orderBy(TS, "_tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = u.withColumn("_last", F.last("_r", ignorenulls=True).over(w)).filter(
        F.col("_tag") == 1
    )
    proj = [*lcols, F.col("_last._ts").alias(f"{PREFIX}ts")]
    proj += [F.col(f"_last.{c}").alias(f"{PREFIX}{c}") for c in VALUE_COLS]
    return out.select(*proj)


def asof_join_skewsafe(left: DataFrame, right: DataFrame) -> DataFrame:
    """``asof_join`` without the hot-key hazard: bit-identical output,
    but no task ever sorts a whole ``by`` group.

    ``asof_join``'s single window ``partitionBy(by)`` puts EVERY row of
    a hot key (one user = 50% of events, one host = 50% of a crawl log)
    into one task. This variant is the frontier's two-phase pattern
    (``frontier.range_prefix_sum``) applied to a running ``last``:

    1. range-repartition the tagged union on (by, ts, _tag) — a hot key
       spreads over many contiguous partitions, every partition sorts
       only its own slice;
    2. partition-local running last(_r, ignorenulls) per (_pid, by);
    3. boundary carry: per (partition, key), the slice's LAST right row
       is one ``max_by`` aggregate (right rows are unique per (by, ts),
       so the max over (ts, _tag) IS the last in order); a running last
       over the (pid, key) pairs table gives each slice the newest
       right row from all earlier slices, then only pairs that inherit
       a non-null carry survive — under range partitioning that is the
       first key of each partition, ≤ num_parts rows, broadcast;
    4. final as-of value = coalesce(local running last, carried last).

    The only unpartitioned-ish window runs over the carries table,
    bounded by num_parts (``spark.sql.shuffle.partitions``) ×
    keys-spanning-partition-boundaries — config-
    sized, not data-sized (same argument as the rank offset table).
    Ties and duplicates behave exactly like ``asof_join``: the range
    partitioner respects the (by, ts, _tag) order, so an equal-ts right
    row always lands in the same or an earlier partition than the left
    row it must serve.
    """
    spark = left.sparkSession
    num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    u, lcols = _asof_union(left, right)
    # frozen: the three self-references below can never see divergent
    # repartitionByRange samples (see module note)
    part = frozen_slices(u, num_parts, F.col(BY), F.col(TS), F.col("_tag"))

    # slice-local running last (hot key split across many tasks)
    w_local = (
        Window.partitionBy("_pid", BY)
        .orderBy(TS, "_tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.withColumn("_last_loc", F.last("_r", ignorenulls=True).over(w_local))

    # per-slice carry: the last right row of each (partition, key)
    carries = (
        part.filter(F.col("_r").isNotNull())
        .groupBy("_pid", BY)
        .agg(F.max_by("_r", F.struct(TS, "_tag")).alias("_carry"))
    )
    # running carry from EARLIER partitions, over every (pid, key) pair
    # present in the data (pairs without their own right rows inherit)
    pairs = part.select("_pid", BY).distinct()
    w_carry = (
        Window.partitionBy(BY)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = (
        pairs.join(carries, on=["_pid", BY], how="left")
        .withColumn("_prev", F.last("_carry", ignorenulls=True).over(w_carry))
        # only pairs that actually inherit a carry matter; under range
        # partitioning a non-null _prev means the key STARTED in an
        # earlier partition, i.e. it is the first key of this pid — so
        # ≤ 1 row per partition survives: broadcast is config-sized
        .filter(F.col("_prev").isNotNull())
        .select("_pid", BY, "_prev")
    )

    out = (
        local.join(F.broadcast(prev), on=["_pid", BY], how="left")
        .withColumn("_last", F.coalesce(F.col("_last_loc"), F.col("_prev")))
        .filter(F.col("_tag") == 1)
    )
    proj = [*lcols, F.col("_last._ts").alias(f"{PREFIX}ts")]
    proj += [F.col(f"_last.{c}").alias(f"{PREFIX}{c}") for c in VALUE_COLS]
    return out.select(*proj)


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessions: a new session starts when the inter-event gap
    within a ``by`` (``BY``) group exceeds 30 minutes. Adds ``session_idx``
    (0-based per key, in time order).

    Gap arithmetic is integer microseconds (``unix_micros`` /
    ``epoch_us``) — exact cross-engine. The two windows (lag + running
    sum) share one (by, ts) sort; Spark plans a single exchange+sort.
    Above ``_SKEW_SAFE_AUTO_BYTES`` it routes to the bit-identical
    two-phase ``sessionize_skewsafe`` (a hot key would otherwise sort in
    one task).
    """
    if _route_skew_safe(events):
        return sessionize_skewsafe(events)
    w = Window.partitionBy(BY).orderBy(TS)
    # parquet yields TIMESTAMP_NTZ; the session runs UTC (session.py:77)
    # so the cast is the identity mapping and matches DuckDB epoch_us
    t_us = F.unix_micros(F.col(TS).cast("timestamp"))
    # two projections (Spark can't nest lag inside a windowed sum) but
    # ONE exchange+sort: both windows share the (by, ts) ordering
    flagged = events.withColumn(
        "_ns",
        F.when(t_us - F.lag(t_us).over(w) > GAP_US, F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    return flagged.withColumn(
        "session_idx",
        F.sum("_ns")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    ).drop("_ns")


def sessionize_skewsafe(events: DataFrame) -> DataFrame:
    """``sessionize`` without the hot-key hazard: bit-identical
    ``session_idx``, but no task ever sorts a whole ``by`` group.

    Same two-phase shape as ``asof_join_skewsafe``:

    1. range-repartition on (by, ts) — equal (by, ts) rows stay
       together, a hot key spreads over contiguous partitions;
    2. slice-local lag + gap flags + running flag-sum per (_pid, by)
       (the first row of a slice flags 0 locally — its true flag is the
       boundary flag below);
    3. per-slice summary (first/last event time, internal flag sum);
       per key in _pid order, the boundary flag of a slice compares its
       first event against the PREVIOUS slice's last event, and the
       slice's session offset is the running sum of earlier slices'
       internal+boundary flags — windows over the (pid, key) summary
       table only (≤ num_parts = ``spark.sql.shuffle.partitions`` rows
       per key);
    4. adjustment = offset + own boundary flag, joined back on
       (_pid, by). Non-zero adjustments exist only for continuation
       slices — under range partitioning, at most the first key of each
       partition — so the join side is ≤ num_parts rows: broadcast.

    Tie behavior matches ``sessionize`` exactly: equal-ts rows have gap
    ≤ 0 regardless of their relative order, so the flag (and therefore
    every session index) is order-insensitive within a tie.
    """
    spark = events.sparkSession
    num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    t_us = F.unix_micros(F.col(TS).cast("timestamp"))
    # frozen slices (see module note)
    part = frozen_slices(events, num_parts, F.col(BY), F.col(TS))

    w_loc = Window.partitionBy("_pid", BY).orderBy(TS)
    flagged = part.withColumn("_tus", t_us).withColumn(
        "_ns",
        F.when(F.col("_tus") - F.lag("_tus").over(w_loc) > GAP_US, F.lit(1))
        .otherwise(F.lit(0)),
    )
    local = flagged.withColumn(
        "_lcum",
        F.sum("_ns").over(
            w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sl = flagged.groupBy("_pid", BY).agg(
        F.min("_tus").alias("_first"),
        F.max("_tus").alias("_last"),
        F.sum("_ns").alias("_intflags"),
    )
    w_key = Window.partitionBy(BY).orderBy("_pid")
    sl = sl.withColumn("_prev_last", F.lag("_last").over(w_key)).withColumn(
        "_bflag",
        F.when(F.col("_first") - F.col("_prev_last") > GAP_US, F.lit(1))
        .otherwise(F.lit(0)),
    )
    adj = (
        sl.withColumn(
            "_off",
            F.coalesce(
                F.sum(F.col("_intflags") + F.col("_bflag")).over(
                    w_key.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", BY, (F.col("_off") + F.col("_bflag")).alias("_adj"))
        .filter(F.col("_adj") != 0)
    )
    return (
        local.join(F.broadcast(adj), on=["_pid", BY], how="left")
        .withColumn(
            "session_idx",
            (F.col("_lcum") + F.coalesce(F.col("_adj"), F.lit(0))).cast("long"),
        )
        .select(*events.columns, "session_idx")  # original column order
    )


def session_stats(events: DataFrame) -> DataFrame:
    """Per-session rollup: (by, session_idx, n_events, start_ts, end_ts,
    duration_us). Counts and min/max only — no cross-row float sums, so
    the profile is oracle-exact."""
    s = sessionize(events)
    t_us = F.unix_micros(F.col(TS).cast("timestamp"))
    return s.groupBy(BY, "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min(TS).alias("start_ts"),
        F.max(TS).alias("end_ts"),
        (F.max(t_us) - F.min(t_us)).cast("long").alias("duration_us"),
    )
