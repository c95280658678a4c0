"""Physical-plan regression tests.

Locks in the plan properties the engine's scale story depends on
(SURVEY.md §4): filters pushed to the parquet scan, column pruning,
broadcast joins where intended, JVM-only kernels (no Python eval nodes
in hot paths), and partial aggregation for the frontier dedup.
"""

import pytest
from pyspark.sql import functions as F

from reffy_spark.plans import entry_queries as EQ


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    df = EQ.q1_pricing_summary(spark, sf_dir)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "l_shipdate" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]
    # column pruning: unused columns (l_partkey, l_suppkey) not read
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q3_broadcasts_customer(spark, sf_dir):
    plan = plan_of(EQ.q3_top_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # top-k executes as TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_url_canon_is_jvm_only(spark, sf_dir):
    plan = plan_of(EQ.q_url_canon(spark, sf_dir))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_minhash_signatures_jvm_only(spark, sf_dir):
    from reffy_spark.operators.dedupe import minhash_from_shingles, shingles_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(
        docs.select("doc_id", *minhash_from_shingles(shingles_col(F.col("text"))))
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_text_profile_single_scan_no_shuffle(spark, sf_dir):
    from reffy_spark.operators.text_analysis import profile_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(profile_documents(docs))
    assert "Exchange" not in plan  # narrow transform: zero shuffles
    assert "ArrowEvalPython" not in plan


def test_frontier_dedup_is_partial_agg(spark):
    from reffy_spark.operators.frontier import to_frontier

    df = spark.createDataFrame(
        [("https://a.test/x",), ("https://a.test/x",)], "url string"
    )
    plan = plan_of(to_frontier(df))
    # min_by compiles to partial+final aggregate pairs (hash, object-hash,
    # or sort aggregate depending on the struct type) — never a Window sort
    assert "Window" not in plan
    assert "Aggregate" in plan


def test_to_frontier_canonicalizes_in_one_scan(spark, tmp_path):
    """One canonicalization path: the frontier build reads its input
    once, with no filter/union split and no Python eval node, even when
    the input holds percent-escaped URLs."""
    from reffy_spark.operators.frontier import to_frontier

    spark.createDataFrame(
        [("https://a.test/x",), ("https://a.test/%7ex?",)], "url string"
    ).write.parquet(f"{tmp_path}/urls")
    frontier = to_frontier(spark.read.parquet(f"{tmp_path}/urls"))
    plan = plan_of(frontier)
    assert plan.count("FileScan parquet") == 1
    assert "Union" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert sorted(r["url_canon"] for r in frontier.collect()) == [
        "https://a.test/x", "https://a.test/~x"
    ]


def test_robots_filter_has_no_window_or_extra_shuffle(spark):
    from reffy_spark.operators.frontier import apply_robots, to_frontier

    frontier = to_frontier(
        spark.createDataFrame([("https://a.test/x",)], "url string")
    )
    robots = spark.createDataFrame(
        [("a.test", "/", True, 100)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    plan = plan_of(apply_robots(frontier, robots))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_backrefs_broadcasts_dfn_index(spark, sf_dir):
    plan = plan_of(EQ.q_backrefs(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_extraction_reads_only_url_and_html(spark):
    from reffy_spark.extractors.base import extract_all
    from reffy_spark.sources.synthetic import gen_pages

    pages = gen_pages(spark, 10, 2)
    # write+read so there is a real scan to prune
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        pages.write.parquet(f"{d}/p")
        scan = spark.read.parquet(f"{d}/p")
        plan = plan_of(extract_all(scan, ["title"]))
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "html" in read_schema and "url" in read_schema
        assert "text" not in read_schema and "lang" not in read_schema


def test_ngram_jaccard_no_nested_loop(spark, sf_dir):
    # the length-band candidate join must be an equi-join on the log-length
    # bucket, never BroadcastNestedLoopJoin / CartesianProduct
    plan = plan_of(EQ.q_ngram_jaccard(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_politeness_rank_salted_preprune(spark, sf_dir):
    # two rank windows: the (host_group, _salt) local top-k prune and the
    # final (host_group) rank over the bounded survivor set
    plan = plan_of(EQ.q_politeness_rank(spark, sf_dir))
    assert plan.count("Window") >= 2
    assert "_salt" in plan


def _unbounded_politeness_world(spark):
    from reffy_spark.operators.frontier import to_frontier

    urls = spark.range(0, 3000).selectExpr(
        "concat('https://h', id % 3, '.test/p', id) AS url",
        "cast(id % 5 as double) AS p",
        "cast(id % 4 as int) AS d",
    )
    pending = (
        to_frontier(urls, depth_col=F.col("d"))
        .withColumn("priority", F.col("p"))
        .repartition(17)
    )
    robots = spark.createDataFrame(
        [(f"h{k}.test", "/", True, 1) for k in range(3)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    return pending, robots


def test_politeness_rank_unbounded_is_two_phase(spark):
    # seed-list replay mode (budgets never prune): the rank must be the
    # two-phase range rank — no window partitioned by host_group alone
    # over the frontier (that is one task sorting a whole hot group)
    import re

    from reffy_spark.operators import frontier as FR

    pending, robots = _unbounded_politeness_world(spark)
    out = FR.politeness_rank(
        pending, robots, round_ms=1_000_000_000, max_crawl_delay_ms=1
    )
    plan = plan_of(out)
    # the range slices are frozen at call time, so the range exchange
    # lives in the checkpoint job: assert it on the unfrozen slice
    # fragment and the frozen scan in the result
    pre = FR._sliced(
        pending, 8, "host_group", F.col("priority").desc(), "depth", "url_canon"
    )
    assert "rangepartitioning" in plan_of(pre).lower()
    assert re.search(r"Scan ExistingRDD\[[^\]]*_pid#", plan)
    # the only admissible host_group-led window spec is the offset window
    # over the tiny (group, pid) counts table — ordered by _pid; a spec
    # ordered by priority DESC would be the old whole-group sort
    assert not re.search(r"windowspecdefinition\(host_group#\d+L?, priority#", plan)


def test_politeness_rank_unbounded_matches_direct_window(spark):
    # two-phase rank must be bit-identical to the naive global window
    from pyspark.sql import Window

    from reffy_spark.operators import frontier as FR

    pending, robots = _unbounded_politeness_world(spark)
    got = (
        FR.politeness_rank(
            pending, robots, round_ms=1_000_000_000, max_crawl_delay_ms=1
        )
        .select("url_canon", "host_fetch_rank")
        .collect()
    )
    w = Window.partitionBy("host_group").orderBy(
        F.col("priority").desc(), F.col("depth").asc(), F.col("url_canon").asc()
    )
    want = (
        pending.withColumn("host_fetch_rank", F.row_number().over(w))
        .select("url_canon", "host_fetch_rank")
        .collect()
    )
    assert sorted(got) == sorted(want)
    assert len(got) == 3000


def test_bloom_build_is_distributed(spark):
    # the bloom build must fold hashes partition-side (no driver toPandas
    # of raw hashes) and still agree with exact membership
    from reffy_spark.operators.frontier import build_bloom

    seen = spark.range(0, 5000).selectExpr("concat('https://h/', id) AS url_canon")
    bloom = build_bloom(seen)
    import numpy as np

    from pyspark.sql import functions as F

    hashes = [
        r.h
        for r in seen.limit(100).select(F.xxhash64("url_canon").alias("h")).collect()
    ]
    assert bloom.might_contain(np.array(hashes)).all()


def test_match_idl_dfns_is_equi_join(spark):
    # the matchIdlDfn join must hash on (spec, dfn_type) with the array
    # predicates as post-filters — never a nested-loop over all dfns
    from reffy_spark.plans import postprocess as PP

    expected = spark.createDataFrame(
        [("u", "Foo", "x", "attribute", ["x"], ["Foo"])],
        "spec string, root string, member string, dfn_type string, "
        "linking array<string>, dfn_for array<string>",
    )
    dfns = spark.createDataFrame(
        [("u", "attribute", ["Foo"], ["x"], "#x", 0)],
        "url string, type string, for array<string>, "
        "linkingText array<string>, href string, dfn_idx int",
    )
    plan = plan_of(PP.match_idl_dfns(expected, dfns))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_idlnames_closure_no_nested_loop(spark):
    from reffy_spark.plans import postprocess as PP

    ex = spark.createDataFrame(
        [("u1", "interface A : B {};\ninterface B {};\nA includes M;"
          "\ninterface mixin M {};")],
        "url string, idl string",
    )
    plan = plan_of(PP.idlnames_fragments(PP.idlparsed(ex)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_politeness_rank_unbounded_survives_no_exchange_reuse(spark):
    # the two-phase rank must NOT depend on Catalyst's ReuseExchange
    # firing: _pid is baked into range slices frozen at call time, so
    # the offsets branch and the rank branch read identical (row, _pid)
    # pairs even when exchange reuse is disabled outright
    from pyspark.sql import Window

    from reffy_spark.operators import frontier as FR

    pending, robots = _unbounded_politeness_world(spark)
    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        got = (
            FR.politeness_rank(
                pending, robots, round_ms=1_000_000_000, max_crawl_delay_ms=1
            )
            .select("url_canon", "host_fetch_rank")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)
    w = Window.partitionBy("host_group").orderBy(
        F.col("priority").desc(), F.col("depth").asc(), F.col("url_canon").asc()
    )
    want = (
        pending.withColumn("host_fetch_rank", F.row_number().over(w))
        .select("url_canon", "host_fetch_rank")
        .collect()
    )
    assert sorted(got) == sorted(want)


def test_build_bloom_with_known_count_runs_no_count_job(spark):
    # passing n_items must produce an identically-sized bloom with the
    # same membership answers as the self-counting build
    import numpy as np

    from reffy_spark.operators.frontier import build_bloom

    seen = spark.range(0, 2000).selectExpr("concat('https://h/', id) AS url_canon")
    b1 = build_bloom(seen)
    b2 = build_bloom(seen, n_items=2000)
    assert (b1.m, b1.k) == (b2.m, b2.k)
    assert np.array_equal(b1.bits, b2.bits)
    assert build_bloom(seen, n_items=0) is None


def test_line_dedup_no_window_partial_agg(spark):
    """Winner-per-line must be a partial-aggregable min, never a
    Window.partitionBy(line) (a hot boilerplate line would funnel every
    occurrence into one task — the politeness-rank skew class)."""
    from reffy_spark.operators.corpus_quality import line_dedup

    docs = spark.createDataFrame(
        [(0, "a\nshared"), (1, "shared\nb")], ["doc_id", "text"]
    )
    plan = plan_of(line_dedup(docs))
    assert "Window" not in plan
    assert "partial_min" in plan or "Aggregate" in plan


def test_bigram_novelty_no_window_two_shuffles(spark):
    """The bigram count table and the per-doc fold must both be
    partial-aggregable hash aggregates — no Window, no sort-based path;
    anything else would funnel hot bigrams ("of the") into one task."""
    from reffy_spark.operators.text_analysis import bigram_novelty

    docs = spark.createDataFrame(
        [(0, "the quick fox"), (1, "the quick dog")], ["doc_id", "text"]
    )
    plan = plan_of(bigram_novelty(docs))
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_fetch_misses_never_shuffle_pages(spark):
    """Fused notfound (r5): the batch is broadcast, and the misses must
    come from an anti-join against the broadcast matched-key set — the
    pages key set (10^10 rows at scale) must NOT be hash-shuffled."""
    import re

    from reffy_spark.operators.crawler import fetch_with_fallback

    pages = spark.createDataFrame(
        [(f"https://h{i}.test/", f"<html>{i}</html>") for i in range(50)],
        "url_canon string, html string",
    )
    batch = spark.createDataFrame(
        [(f"https://h{i}.test/", i) for i in range(0, 60, 2)],
        "url_canon string, seed_idx int",
    )
    _ok, notfound = fetch_with_fallback(pages, batch)
    plan = plan_of(notfound)
    # the anti-join's build side is a broadcast, not a shuffled relation
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan)
    assert "ShuffledHashJoin" not in plan and "SortMergeJoin" not in plan
    # and it returns exactly the batch keys absent from pages
    assert notfound.count() == 5  # h50..h58 even


def test_anti_join_scan_left_guard_on_unknown_stats(spark, monkeypatch):
    """The scan shape's candidate broadcast must be bounded even when
    Catalyst has NO estimate for the left side (RDD-backed frames
    report the unknown-size sentinel): above the row guard the plain
    anti-join is kept instead of broadcasting an unbounded key set."""
    from reffy_spark.operators import frontier as FR

    seen = spark.range(0, 200_000).select(
        F.concat(F.lit("https://s.test/"), F.col("id")).alias("url_canon")
    )
    base = spark.range(0, 500).select(
        F.concat(F.lit("https://s.test/"), F.col("id")).alias("url_canon")
    )
    # RDD round-trip: LogicalRDD reports the unknown-size sentinel
    left = spark.createDataFrame(base.rdd, base.schema)
    from reffy_spark.plan_stats import estimated_bytes

    assert estimated_bytes(left) is None

    # force the scan branch regardless of seen's estimate
    monkeypatch.setattr(FR, "_SCAN_ANTI_MIN_BYTES", 0)

    # below the row guard: scan shape (hit set broadcast, no seen shuffle)
    monkeypatch.setattr(FR, "_SCAN_ANTI_MAX_LEFT_ROWS", 1_000)
    small = FR.anti_join_scan(left, seen)
    assert "BroadcastHashJoin" in plan_of(small)
    assert small.count() == 0  # every left key is in seen

    # above the row guard: plain left_anti, no broadcast of candidates
    monkeypatch.setattr(FR, "_SCAN_ANTI_MAX_LEFT_ROWS", 100)
    big = FR.anti_join_scan(left, seen)
    import re

    assert re.search(r"Join .*LeftAnti", plan_of(big)) or "LeftAnti" in plan_of(big)
    # the scan shape's second join broadcasts HITS into a LeftAnti;
    # the guarded plain path must not broadcast the candidate keys as a
    # semi-join build side
    assert "LeftSemi" not in plan_of(big)
    assert big.count() == 0
