"""As-of join + gap sessionization semantics."""

import datetime as dt

from pyspark.sql import functions as F


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 10, minute, second)


def test_asof_join_latest_at_or_before(spark):
    from reffy_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 100, _ts(30), 9.0), (2, 100, _ts(5), 1.0), (3, 200, _ts(30), 2.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [(100, _ts(10), 7.0), (100, _ts(20), 8.0), (999, _ts(0), 5.0)],
        "user_id long, ts timestamp, value double",
    )
    out = {r["event_id"]: r.asDict() for r in asof_join(left, right).collect()}
    assert out[1]["asof_ts"] == _ts(20) and out[1]["asof_value"] == 8.0
    # left at 10:05 predates every right row for the user → nulls
    assert out[2]["asof_ts"] is None and out[2]["asof_value"] is None
    # user 200 has no right rows at all
    assert out[3]["asof_ts"] is None


def test_asof_join_tie_on_ts_matches(spark):
    from reffy_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 5, _ts(10), 0.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [(5, _ts(10), 3.0)], "user_id long, ts timestamp, value double"
    )
    row = asof_join(left, right).collect()[0]
    assert row["asof_ts"] == _ts(10) and row["asof_value"] == 3.0


def test_asof_join_null_right_value_still_wins(spark):
    """A newer right row with a NULL value must beat an older non-null
    one (the struct carry, not a bare last(value, ignorenulls))."""
    from reffy_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 5, _ts(30), 0.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [(5, _ts(10), 7.0), (5, _ts(20), None)],
        "user_id long, ts timestamp, value double",
    )
    row = asof_join(left, right).collect()[0]
    assert row["asof_ts"] == _ts(20)
    assert row["asof_value"] is None


def _skewed_asof_world(spark):
    """One key = 50% of the left rows (the VERDICT #6 scenario), plus a
    NULL-valued right row, duplicate equal-ts right rows, cold keys with
    and without right rows, and left rows predating every right row."""
    left_rows, right_rows, eid = [], [], 0
    for i in range(300):  # hot key 1: half of all left rows
        eid += 1
        left_rows.append((eid, 1, 10 * i + 5))
    for i in range(0, 300, 3):
        right_rows.append((1, 10 * i, float(i) if i % 30 else None))
    right_rows.append((1, 0, 99.0))  # equal-ts duplicate → dedupe path
    for k in range(2, 102):  # 100 cold keys, 3 left rows each
        for i in range(3):
            eid += 1
            left_rows.append((eid, k, 100 * i + k))
        if k % 2 == 0:  # half the cold keys have right rows at all
            right_rows.append((k, 50 + k, float(k)))
    left = spark.createDataFrame(
        left_rows, "event_id long, user_id long, ts long"
    )
    right = spark.createDataFrame(right_rows, "user_id long, ts long, value double")
    return left, right


def test_asof_skewsafe_matches_direct_on_skewed_corpus(spark):
    """Bit-identical to the single-window asof_join when one key holds
    50% of the rows and spans many range partitions (the session's 8
    shuffle partitions)."""
    from reffy_spark.operators.temporal import asof_join, asof_join_skewsafe

    left, right = _skewed_asof_world(spark)
    want = sorted(
        tuple(r) for r in asof_join(left, right).collect()
    )
    got = sorted(tuple(r) for r in asof_join_skewsafe(left, right).collect())
    assert got == want
    assert len(got) == 600


def test_asof_skewsafe_plan_bounded_sorts(spark):
    """No task may sort a whole ``by`` group: the data-sized exchange is
    a range partitioning and the only window led by the key alone is the
    carry window over the (pid, key) pairs table (ordered by _pid) — a
    spec ordered by ts would be the old whole-group sort."""
    import re

    from reffy_spark.operators.temporal import asof_join_skewsafe

    from reffy_spark.operators import frontier as FR
    from reffy_spark.operators import temporal as T

    left, right = _skewed_asof_world(spark)
    out = asof_join_skewsafe(left, right)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the working set is eagerly checkpointed (ADVICE r6) — the range
    # exchange lives in the checkpoint job; assert it on the
    # pre-checkpoint fragment and the frozen scan in the result
    u, _ = T._asof_union(left, right)
    pre = FR._sliced(u, 8, "user_id", "ts", "_tag")
    pre_plan = pre._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" in pre_plan
    assert "ExistingRDD" in plan
    assert not re.search(r"windowspecdefinition\(user_id#\d+L?, ts#", plan)
    # the boundary-carry side reaches the local slices by broadcast
    assert "BroadcastExchange" in plan


def test_sessionize_gap_boundary(spark):
    """Gap strictly greater than 30 min starts a session; exactly 30 min
    does not."""
    from reffy_spark.operators.temporal import sessionize

    rows = [
        (1, 7, _ts(0)),
        (2, 7, _ts(30)),          # exactly 30 min later → same session
        (3, 7, _ts(30, 1)),       # 1s more
        (4, 7, dt.datetime(2024, 1, 1, 11, 0, 2)),  # 30m1s gap → new
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {r["event_id"]: r["session_idx"] for r in sessionize(ev).collect()}
    assert out == {1: 0, 2: 0, 3: 0, 4: 1}


def test_session_stats_rollup(spark):
    from reffy_spark.operators.temporal import session_stats

    rows = [
        (1, 7, _ts(0)),
        (2, 7, _ts(10)),
        (3, 7, dt.datetime(2024, 1, 1, 12, 0)),  # new session
        (4, 8, _ts(0)),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {
        (r["user_id"], r["session_idx"]): r.asDict()
        for r in session_stats(ev).collect()
    }
    assert out[(7, 0)]["n_events"] == 2
    assert out[(7, 0)]["duration_us"] == 10 * 60 * 1_000_000
    assert out[(7, 1)]["n_events"] == 1 and out[(7, 1)]["duration_us"] == 0
    assert out[(8, 0)]["n_events"] == 1


def test_sessionize_skewsafe_matches_direct_on_skewed_corpus(spark):
    """Bit-identical session_idx when one key holds half the rows and
    spans many range partitions; gaps engineered to fall both inside
    slices and exactly on slice boundaries."""
    from reffy_spark.operators.temporal import sessionize, sessionize_skewsafe

    rows, eid = [], 0
    base = dt.datetime(2024, 1, 1)
    for i in range(300):  # hot key: gap > 30min every 4th event
        eid += 1
        step = 31 if i % 4 == 0 else 5
        base += dt.timedelta(minutes=step)
        rows.append((eid, 1, base))
    for k in range(2, 52):  # 50 cold keys, 6 events, one mid-gap
        t = dt.datetime(2024, 1, 2, k % 24)
        for i in range(6):
            eid += 1
            t += dt.timedelta(minutes=45 if i == 3 else 10)
            rows.append((eid, k, t))
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    want = sorted(tuple(r) for r in sessionize(ev).collect())
    got = sorted(tuple(r) for r in sessionize_skewsafe(ev).collect())
    assert got == want
    assert len(got) == 600


def test_sessionize_skewsafe_plan_bounded_sorts(spark):
    """No window led by the key alone over the event data — only the
    (pid, key) summary table; the adjustment side is broadcast."""
    import re

    from reffy_spark.operators.temporal import sessionize_skewsafe

    ev = spark.createDataFrame(
        [(i, i % 3, _ts(i % 60)) for i in range(100)],
        "event_id long, user_id long, ts timestamp",
    )
    from reffy_spark.operators import frontier as FR

    out = sessionize_skewsafe(ev)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # range exchange lives in the eager checkpoint job (ADVICE r6)
    pre = FR._sliced(ev, 8, "user_id", "ts")
    assert (
        "rangepartitioning"
        in pre._jdf.queryExecution().executedPlan().toString().lower()
    )
    assert "ExistingRDD" in plan
    assert not re.search(r"windowspecdefinition\(user_id#\d+L?, ts#", plan)
    assert "BroadcastExchange" in plan


def test_sessionize_single_sort(spark):
    """lag + running sum must share one exchange+sort (same window
    spec), not two."""
    from reffy_spark.operators.temporal import sessionize

    ev = spark.createDataFrame(
        [(1, 7, _ts(0))], "event_id long, user_id long, ts timestamp"
    )
    plan = sessionize(ev)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort ") <= 1


def test_pending_skewsafe_plans_survive_any_later_calls(spark):
    """ADVICE r6: the skew-safe working sets are eagerly
    localCheckpoint-ed, so a pending (returned, not-yet-evaluated) plan
    stays correct no matter how many LATER calls to either operator run
    — the r5 per-operator cache slot let a second asof call evict the
    pending plan's persisted slices, silently re-sampling
    repartitionByRange across its three branches."""
    from reffy_spark.operators import temporal as T

    left, right = _skewed_asof_world(spark)
    pending = T.asof_join_skewsafe(left, right)  # not evaluated

    events = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, m)) for m in range(5)],
        "user_id long, ts timestamp",
    )
    # a later call over a different slice count
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        T.sessionize_skewsafe(events).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    # the r5 hazard case: a SECOND asof call before the pending plan is
    # evaluated — must not perturb it either
    T.asof_join_skewsafe(left, right).collect()

    want = sorted(tuple(r) for r in T.asof_join(left, right).collect())
    assert sorted(tuple(r) for r in pending.collect()) == want


def test_skew_safe_auto_routing(spark):
    """r5 watch-list: the convenient API is skew-proof by default at
    scale. Small inputs keep the direct single-window plan, the
    two-phase twin is its own public function, and ``asof_join`` routes
    by Catalyst's size estimate — all three return identical rows."""
    from reffy_spark.operators import temporal as T

    left, right = _skewed_asof_world(spark)

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString().lower()

    # the skew-safe twin's marker: its working set is an eagerly
    # checkpointed scan sliced by _pid; the direct plan has neither
    def is_skewsafe(df):
        return "_pid" in plan_of(df)

    # tiny input: the routing stays on the direct plan
    direct = T.asof_join(left, right)
    assert not is_skewsafe(direct)
    forced = T.asof_join_skewsafe(left, right)
    assert is_skewsafe(forced)
    want = sorted(tuple(r) for r in direct.collect())
    assert sorted(tuple(r) for r in forced.collect()) == want

    # auto sizing reads Catalyst plan stats — real estimates exist only
    # for file-backed frames (local/python frames report the unknown
    # sentinel and stay on the direct plan); round-trip through parquet
    import tempfile

    d = tempfile.mkdtemp(prefix="asof_auto_")
    left.write.mode("overwrite").parquet(f"{d}/l")
    right.write.mode("overwrite").parquet(f"{d}/r")
    lf, rf = spark.read.parquet(f"{d}/l"), spark.read.parquet(f"{d}/r")
    assert T._estimated_bytes(lf) not in (None, 0)
    old = T._SKEW_SAFE_AUTO_BYTES
    T._SKEW_SAFE_AUTO_BYTES = 1
    try:
        routed = T.asof_join(lf, rf)
        assert is_skewsafe(routed)
        assert sorted(tuple(r) for r in routed.collect()) == want
    finally:
        T._SKEW_SAFE_AUTO_BYTES = old
    # unknown-size frames (local relations) stay direct even at threshold 1
    T._SKEW_SAFE_AUTO_BYTES = 1
    try:
        assert not is_skewsafe(T.asof_join(left, right))
    finally:
        T._SKEW_SAFE_AUTO_BYTES = old


def test_sessionize_auto_routing(spark):
    from reffy_spark.operators import temporal as T

    events = spark.createDataFrame(
        [(i % 7, dt.datetime(2024, 1, 1 + (i % 20), (i * 3) % 24, i % 60))
         for i in range(400)],
        "user_id long, ts timestamp",
    )

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString().lower()

    direct = T.sessionize(events)
    assert "_pid" not in plan_of(direct)
    want = sorted(tuple(r) for r in direct.collect())
    import tempfile

    d = tempfile.mkdtemp(prefix="sess_auto_")
    events.write.mode("overwrite").parquet(f"{d}/e")
    ef = spark.read.parquet(f"{d}/e")
    old = T._SKEW_SAFE_AUTO_BYTES
    T._SKEW_SAFE_AUTO_BYTES = 1
    try:
        routed = T.sessionize(ef)
        assert "_pid" in plan_of(routed)
        assert sorted(tuple(r) for r in routed.collect()) == want
    finally:
        T._SKEW_SAFE_AUTO_BYTES = old
