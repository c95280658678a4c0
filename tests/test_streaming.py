"""Structured-Streaming incremental crawl tests (AvailableNow trigger)."""

import json

import pytest
from pyspark.sql import functions as F

from reffy_spark.sources import synthetic as syn
from reffy_spark.streaming import incremental as INC


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_src"))
    pages = syn.gen_pages(spark, 40, partitions=4).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    pages.write.mode("overwrite").parquet(d)
    return d


def test_incremental_extract_availablenow(spark, source_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream_out"))
    chk = str(tmp_path_factory.mktemp("stream_chk"))
    INC.run_incremental_batch(spark, source_dir, out, chk, modules=["title", "links"])
    got = spark.read.parquet(out)
    rows = got.collect()
    # whatwg pages collapse to one canonical URL; all others unique
    urls = [r["url_canon"] for r in rows]
    assert len(urls) == len(set(urls))
    assert all(json.loads(r["title"]).startswith("Spec ") for r in rows)
    # streaming parity with the batch crawl's cache-info columns
    import hashlib

    assert all(len(r["etag"]) == 32 and r["last_modified"] is not None for r in rows)
    assert all(r["crawl_error"] is None for r in rows)
    one = rows[0]
    src = {r["url"]: bytes(r["html"]) for r in spark.read.parquet(source_dir).collect()}
    from reffy_spark.functions.urls import url_canon_py

    match = [h for u, h in src.items() if url_canon_py(u) == one["url_canon"]]
    # streaming dedup keeps the first capture to arrive; the etag must be
    # the digest of one of the canonical URL's captures
    assert one["etag"] in {hashlib.md5(h).hexdigest() for h in match}

    # second invocation: no new files -> no new rows (exactly-once)
    INC.run_incremental_batch(spark, source_dir, out, chk, modules=["title", "links"])
    assert spark.read.parquet(out).count() == len(rows)


def test_dedupe_stream_key_matches_batch_canon(spark, tmp_path_factory):
    # the streaming URL-seen key is the crawl's key: a percent-escaped
    # capture and its decoded twin are one canonical URL
    import datetime

    from reffy_spark.functions.urls import url_canon_py

    src = str(tmp_path_factory.mktemp("canon_src"))
    chk = str(tmp_path_factory.mktemp("canon_chk"))
    ts = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [
            ("https://a.org/%7Ex", ts, b"<html></html>", "", "en"),
            ("https://a.org/~x", ts + datetime.timedelta(minutes=1), b"<html></html>", "", "en"),
        ],
        INC.PAGES_DDL,
    ).coalesce(1).write.mode("overwrite").parquet(src)
    q = (
        INC.dedupe_stream(INC.stream_pages(spark, src))
        .select("url_canon")
        .writeStream.format("memory")
        .queryName("canon_dedup")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select url_canon from canon_dedup").collect()
    assert [r["url_canon"] for r in rows] == [url_canon_py("https://a.org/%7Ex")]


def test_crawl_rate_metrics_stream(spark, source_dir, tmp_path_factory):
    chk = str(tmp_path_factory.mktemp("metrics_chk"))
    stream = INC.stream_pages(spark, source_dir)
    q = (
        INC.crawl_rate_metrics(stream, window="30 minutes")
        .writeStream.format("memory")
        .queryName("rate_metrics")
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from rate_metrics").collect()
    # append mode only emits windows below the watermark; with a bounded
    # source the final watermark closes all but the last window(s)
    assert all(r["n_pages"] > 0 for r in rows)
    groups = {r["host_group"] for r in rows}
    assert groups <= {h for h, _w, _d in syn.HOSTS for h in [
        "whatwg.org", "github.io", "csswg.org", h
    ]}


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


def test_session_window_native_matches_exact_sessionize(spark):
    """The built-in session_window rollup must agree with the exact
    batch operator on the real events table (sub-second timestamps →
    the one boundary-semantics edge cannot fire)."""
    from reffy_spark.operators.temporal import session_stats
    from reffy_spark.streaming.sessions import session_stats_native

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    exact = {
        (r["user_id"], str(r["start_ts"])): (r["n_events"], str(r["end_ts"]), r["duration_us"])
        for r in session_stats(ev).collect()
    }
    native = {
        (r["user_id"], str(r["start_ts"])): (r["n_events"], str(r["end_ts"]), r["duration_us"])
        for r in session_stats_native(ev).collect()
    }
    assert exact == native


def test_streaming_sessions_availablenow(spark, tmp_path_factory):
    import datetime as dt

    from reffy_spark.streaming.sessions import run_streaming_sessions

    src = str(tmp_path_factory.mktemp("sess_src"))
    out = str(tmp_path_factory.mktemp("sess_out"))
    chk = str(tmp_path_factory.mktemp("sess_chk"))

    def t(minute):
        return dt.datetime(2024, 1, 1, 10, minute)

    batch1 = [(1, 7, t(0)), (2, 7, t(10)), (3, 8, t(5))]
    spark.createDataFrame(
        batch1, "event_id long, user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)
    # a far-future sentinel pushes the watermark past every real
    # session so append mode flushes them (sessions emit on close)
    sentinel = [(99, 999, dt.datetime(2024, 1, 2, 10, 0))]
    spark.createDataFrame(
        sentinel, "event_id long, user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)

    run_streaming_sessions(spark, src, out, chk)
    got = {
        (r["user_id"], r["n_events"])
        for r in spark.read.parquet(out).collect()
        if r["user_id"] != 999
    }
    assert got == {(7, 2), (8, 1)}
