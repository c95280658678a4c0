"""Structured-Streaming politeness permits (AvailableNow trigger)."""


def test_stateful_politeness_permits_continue_across_runs(spark, tmp_path_factory):
    # applyInPandasWithState keyed cursors: a second AvailableNow run
    # over NEW files continues each host group's permit numbering from
    # the checkpointed state (throttled-queue.js per-origin semantics)
    import datetime

    from reffy_spark.streaming.politeness import run_permits_batch

    src = str(tmp_path_factory.mktemp("permit_src"))
    out = str(tmp_path_factory.mktemp("permit_out"))
    chk = str(tmp_path_factory.mktemp("permit_chk"))

    def rows(day, hosts_counts):
        data = []
        for hg, n in hosts_counts.items():
            for i in range(n):
                data.append(
                    (
                        f"https://{hg}/p{day}-{i:03d}/",
                        hg,
                        datetime.datetime(2024, 1, day, 0, 0, i),
                    )
                )
        return spark.createDataFrame(
            data, "url_canon string, host_group string, warc_ts timestamp"
        )

    rows(1, {"a.test": 5, "b.test": 2}).coalesce(1).write.mode("append").parquet(src)
    run_permits_batch(spark, src, out, chk, budgets={"a.test": 2}, default_budget=3)
    first = {
        (r["host_group"], r["url_canon"]): (r["fetch_seq"], r["permitted_round"])
        for r in spark.read.parquet(out).collect()
    }
    # a.test budget 2: seqs 0-4 → rounds 0,0,1,1,2; b.test default 3 → round 0
    a_rounds = sorted(v[1] for k, v in first.items() if k[0] == "a.test")
    assert a_rounds == [0, 0, 1, 1, 2]
    assert all(v[1] == 0 for k, v in first.items() if k[0] == "b.test")
    # within-group sequencing follows (warc_ts, url_canon)
    a_seq = [
        v[0]
        for k, v in sorted(first.items())
        if k[0] == "a.test"
    ]
    assert a_seq == sorted(a_seq)

    # second run, new file: numbering must CONTINUE (a.test from 5)
    rows(2, {"a.test": 3}).coalesce(1).write.mode("append").parquet(src)
    run_permits_batch(spark, src, out, chk, budgets={"a.test": 2}, default_budget=3)
    after = spark.read.parquet(out)
    a2 = (
        after.filter("host_group = 'a.test' and url_canon like '%p2-%'")
        .orderBy("fetch_seq")
        .collect()
    )
    assert [r["fetch_seq"] for r in a2] == [5, 6, 7]
    assert [r["permitted_round"] for r in a2] == [2, 3, 3]
    # exactly-once: first-day rows were not re-emitted
    assert after.count() == 7 + 3


def test_permits_query_leaves_no_work_directory(spark, sf_dir, tmp_path, monkeypatch):
    # the permits query streams through a temporary work directory; the
    # directory goes with the call and the returned rows outlive it
    import tempfile

    from reffy_spark.plans.entry_queries_ext import q_politeness_permits_stream

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    df = q_politeness_permits_stream(spark, sf_dir)
    assert list(tmp_path.glob("permits_q_*")) == []
    rows = df.collect()
    assert rows and {r["host_group"] for r in rows} == {f"h{i}.test" for i in range(4)}
    assert min(r["fetch_seq"] for r in rows) == 0
