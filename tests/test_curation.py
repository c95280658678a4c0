"""Curation operators: PII scrub, URL filtering, hashed-linear classifier.

Complements the oracle rows (`pii_scan`, `url_filter`,
`classifier_score`) with handcrafted-input behavior checks and
plan-shape assertions (the single-scan operators must not shuffle).
"""

import pytest
from pyspark.sql import functions as F

from reffy_spark.operators.curation import (
    classifier_score,
    pii_scan,
    url_filter,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "hi bob@example.com and 10.0.0.1 call +1 555-1234 x"),
        (2, "clean text with words"),
        (3, "two mails a@b.co c@d.io and 10.1.1.1"),
        (4, "   "),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_pii_counts_and_redaction(docs):
    out = {r["doc_id"]: r.asDict() for r in pii_scan(docs).collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (1, 1, 1)
    assert out[1]["n_pii"] == 3
    assert out[1]["redacted"] == "hi <EMAIL> and <IP> call <PHONE> x"
    assert out[2]["n_pii"] == 0 and out[2]["redacted"] == "clean text with words"
    # two emails in one doc both counted and both redacted
    assert out[3]["n_email"] == 2
    assert out[3]["redacted"] == "two mails <EMAIL> <EMAIL> and <IP>"


def test_pii_scan_is_zero_shuffle(docs):
    plan = pii_scan(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_url_filter_list_and_dataframe_blocklists_agree(spark):
    u = spark.createDataFrame(
        [
            (1, "https://ads.example.com/x?utm_source=a"),
            (2, "https://sub.bad.org/page"),
            (3, "https://good.net/ok?session=1"),
            (4, "https://bad.org/root"),
            (5, "https://notbad.org/x"),  # no dot-boundary: must NOT match bad.org
        ],
        ["doc_id", "url"],
    )
    cols = ["doc_id", "host", "blocked", "block_reason", "has_tracking"]
    via_list = (
        url_filter(u, blocked_domains=["bad.org"]).select(*cols).orderBy("doc_id")
    )
    bl = spark.createDataFrame([("BAD.org",)], ["domain"])  # case-insensitive
    via_df = (
        url_filter(u, blocked_domains=bl).select(*cols).orderBy("doc_id")
    )
    assert via_list.collect() == via_df.collect()
    rows = {r["doc_id"]: r.asDict() for r in via_list.collect()}
    assert rows[2]["blocked"] and rows[2]["block_reason"] == "domain"  # subdomain
    assert rows[4]["blocked"]  # exact host
    assert not rows[5]["blocked"]  # suffix requires a dot boundary
    assert rows[1]["has_tracking"] and rows[3]["has_tracking"]
    assert not rows[2]["has_tracking"]


def test_url_filter_overlapping_blocklist_no_row_multiplication(spark):
    """A blocklist holding a domain AND its subdomain (UT1 routinely
    does) matches one host via two rows — output cardinality must still
    equal input cardinality on both blocklist paths."""
    u = spark.createDataFrame(
        [
            (1, "https://x.sub.bad.org/deep"),  # matches bad.org AND sub.bad.org
            (2, "https://good.net/ok"),
        ],
        ["doc_id", "url"],
    )
    doms = ["bad.org", "sub.bad.org"]
    via_list = url_filter(u, blocked_domains=doms)
    bl = spark.createDataFrame([(d,) for d in doms], ["domain"])
    via_df = url_filter(u, blocked_domains=bl)
    assert via_list.count() == 2 and via_df.count() == 2
    cols = ["doc_id", "host", "blocked", "block_reason"]
    assert (
        via_list.select(*cols).orderBy("doc_id").collect()
        == via_df.select(*cols).orderBy("doc_id").collect()
    )
    rows = {r["doc_id"]: r["blocked"] for r in via_df.collect()}
    assert rows[1] and not rows[2]


def test_pii_scan_null_text_counts_zero(spark):
    u = spark.createDataFrame(
        [(1, None), (2, "mail a@b.co")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r.asDict() for r in pii_scan(u).collect()}
    assert out[1]["n_email"] == out[1]["n_ipv4"] == out[1]["n_phone"] == 0
    assert out[1]["n_pii"] == 0 and out[1]["redacted"] == ""
    assert out[2]["n_email"] == 1 and out[2]["redacted"] == "mail <EMAIL>"


def test_url_filter_host_pattern_and_reason_priority(spark):
    u = spark.createDataFrame(
        [(1, "https://tracker-7.net/z"), (2, "https://tracker-7.bad.org/z")],
        ["doc_id", "url"],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in url_filter(
            u,
            blocked_domains=["bad.org"],
            blocked_host_patterns=[r"^tracker-\d+\."],
        ).collect()
    }
    assert out[1]["blocked"] and out[1]["block_reason"] == "host_pattern"
    # domain rule wins the reason when both hit
    assert out[2]["blocked"] and out[2]["block_reason"] == "domain"


def test_url_filter_dataframe_blocklist_broadcasts(spark):
    u = spark.createDataFrame([(1, "https://a.b/x")], ["doc_id", "url"])
    bl = spark.createDataFrame([("b.org",)], ["domain"])
    plan = (
        url_filter(u, blocked_domains=bl)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_classifier_score_deterministic_and_bounded(docs):
    a = {r["doc_id"]: r.asDict() for r in classifier_score(docs).collect()}
    b = {r["doc_id"]: r.asDict() for r in classifier_score(docs).collect()}
    assert a == b  # same md5 math every run, no RNG
    for r in a.values():
        assert -1.0 <= r["clf_score"] <= 1.0
        assert r["keep"] == (r["clf_score"] >= 0.0)
    # whitespace-only doc: no tokens, neutral score, kept at threshold 0
    assert a[4]["n_tokens"] == 0 and a[4]["clf_score"] == 0.0 and a[4]["keep"]


def test_classifier_is_zero_shuffle(docs):
    plan = (
        classifier_score(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
