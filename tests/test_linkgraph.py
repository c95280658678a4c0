"""Link-graph PageRank (integer fixed-point) — crawl prioritization."""

import pytest
from pyspark.sql import functions as F


def test_pagerank_hand_computed(spark):
    """A→B, B→A, A→C at scale 10^6, damping 85%, 2 iterations.

    base = 150000; r0 = 1000000 everywhere.
    iter1: contrib(A→·) = (1000000*85) DIV 200 = 425000,
           contrib(B→A) = 850000
           → A=1000000, B=575000, C=575000
    iter2: contrib(A→·) = 425000,
           contrib(B→A) = (575000*85) DIV 100 = 488750
           → A=638750, B=575000, C=575000
    """
    from reffy_spark.operators.linkgraph import pagerank

    edges = spark.createDataFrame(
        [("A", "B"), ("B", "A"), ("A", "C")], ["src", "dst"]
    )
    out = {
        r["url"]: r.asDict()
        for r in pagerank(edges, n_iter=2).collect()
    }
    assert out["A"]["rank_fp"] == 638750
    assert out["B"]["rank_fp"] == 575000
    assert out["C"]["rank_fp"] == 575000
    assert (out["A"]["out_degree"], out["A"]["in_degree"]) == (2, 1)
    assert (out["C"]["out_degree"], out["C"]["in_degree"]) == (0, 1)


def test_pagerank_sink_accumulates(spark):
    """A hub everyone links to must outrank the spokes."""
    from reffy_spark.operators.linkgraph import pagerank

    edges = spark.createDataFrame(
        [(f"s{i}", "hub") for i in range(5)] + [("hub", "s0")],
        ["src", "dst"],
    )
    out = {r["url"]: r["rank_fp"] for r in pagerank(edges, n_iter=3).collect()}
    assert out["hub"] > out["s0"] > out["s1"]
    assert out["s1"] == out["s4"]  # symmetric spokes tie exactly


def test_edges_from_links_collapses_fragments(spark):
    from reffy_spark.operators.linkgraph import edges_from_links

    links = spark.createDataFrame(
        [
            ("u1", "t1", "frag-a", False),
            ("u1", "t1", "frag-b", True),
            ("u1", None, None, False),
        ],
        ["url_canon", "page_url", "fragment", "is_autolink"],
    )
    got = edges_from_links(links).collect()
    assert [(r["src"], r["dst"]) for r in got] == [("u1", "t1")]


def test_pagerank_no_window(spark):
    """Contribution fold must be a partial-aggregable hash sum (hot dst
    keys — a page everyone links to — must not funnel into one task)."""
    from reffy_spark.operators.linkgraph import pagerank

    edges = spark.createDataFrame([("A", "B"), ("B", "A")], ["src", "dst"])
    plan = (
        pagerank(edges, n_iter=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan


def test_edges_to_host_graph_collapses_and_keeps_self_loops(spark):
    from reffy_spark.operators.linkgraph import edges_to_host_graph

    edges = spark.createDataFrame(
        [
            ("https://a.test/p1", "https://b.test/x"),
            ("https://a.test/p2", "https://b.test/y"),   # same host pair
            ("https://a.test/p1", "https://a.test/p9"),  # intra-host
        ],
        ["src", "dst"],
    )
    got = sorted(
        (r["src"], r["dst"]) for r in edges_to_host_graph(edges).collect()
    )
    assert got == [("a.test", "a.test"), ("a.test", "b.test")]


def test_apportion_budget_sums_exactly_and_follows_remainders(spark):
    from reffy_spark.operators.linkgraph import apportion_budget

    # ranks 5,3,2 with B=10 → exact shares 5,3,2 (no remainder units);
    # B=11 → bases (55//10, 33//10, 22//10) = 5,3,2, deficit 1, largest
    # remainder: a=5 (55%10), b=3 (33%10... 3), rems 5,3,2 → host a +1
    ranked = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 2)], ["host", "rank_fp"]
    )
    out10 = {r["host"]: r["budget"] for r in apportion_budget(ranked, 10).collect()}
    assert out10 == {"a": 5, "b": 3, "c": 2}
    out11 = {r["host"]: r["budget"] for r in apportion_budget(ranked, 11).collect()}
    assert out11 == {"a": 6, "b": 3, "c": 2}
    assert sum(out11.values()) == 11


def test_apportion_budget_remainder_tie_breaks_by_host(spark):
    from reffy_spark.operators.linkgraph import apportion_budget

    # equal ranks, B=5 over 3 hosts: bases 1 each, 2 leftovers → hosts
    # 'a' and 'b' (equal remainders, host asc) get them
    ranked = spark.createDataFrame(
        [("c", 7), ("a", 7), ("b", 7)], ["host", "rank_fp"]
    )
    out = {r["host"]: r["budget"] for r in apportion_budget(ranked, 5).collect()}
    assert out == {"a": 2, "b": 2, "c": 1}
    assert sum(out.values()) == 5


@pytest.mark.parametrize("reuse", ["true", "false"])
def test_apportion_budget_exact_sum_large(spark, reuse):
    # the two-phase remainder rank must not depend on Catalyst's
    # exchange reuse
    from reffy_spark.operators.linkgraph import apportion_budget
    from pyspark.sql import functions as F

    ranked = spark.range(0, 997).selectExpr(
        "concat('h', id) AS host", "(id * 37 + 11) AS rank_fp"
    )
    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", reuse)
    try:
        out = apportion_budget(ranked, 123_457)
        total = out.agg(F.sum("budget")).collect()[0][0]
        n = out.count()
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)
    assert total == 123_457
    assert n == 997


def test_apportion_budget_all_zero_ranks_falls_back_to_equal(spark):
    """Degenerate graph (every rank 0): no NULL budgets — equal shares,
    leftover units to hosts ascending, Σ budget == B exactly."""
    from reffy_spark.operators.linkgraph import apportion_budget

    ranked = spark.createDataFrame(
        [("c", 0), ("a", 0), ("b", 0)], ["host", "rank_fp"]
    )
    out = {r["host"]: r["budget"] for r in apportion_budget(ranked, 7).collect()}
    assert None not in out.values()
    assert out == {"a": 3, "b": 2, "c": 2}
    assert sum(out.values()) == 7


def test_apportion_budget_overflow_guard_raises(spark):
    """B * rank_fp beyond int64 must raise, not silently wrap."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from reffy_spark.operators.linkgraph import apportion_budget

    ranked = spark.createDataFrame(
        [("a", 2**62), ("b", 1)], ["host", "rank_fp"]
    )
    with pytest.raises(Exception) as ei:
        apportion_budget(ranked, 1_000_000).collect()
    assert "overflows int64" in str(ei.value)


def test_pagerank_priority_drives_politeness_selection(spark):
    """End-to-end authority → scheduling: pagerank feeds the frontier's
    priority column; the politeness budget then selects the
    highest-authority URLs first within the host budget."""
    from reffy_spark.operators.frontier import politeness_rank, to_frontier
    from reffy_spark.operators.linkgraph import pagerank

    u1, u2, u3 = (f"https://h0.test/u{i}" for i in (1, 2, 3))
    edges = spark.createDataFrame(
        [(u2, u1), (u3, u1), (u1, u2)], ["src", "dst"]
    )
    ranked = pagerank(edges, n_iter=3)
    urls = spark.createDataFrame([(u,) for u in (u1, u2, u3)], ["url"])
    with_rank = urls.join(
        ranked.withColumnRenamed("url", "u"), urls.url == F.col("u")
    )
    pending = to_frontier(with_rank).withColumn(
        "priority", F.col("rank_fp").cast("double")
    )
    robots = spark.createDataFrame(
        [("h0.test", "/", True, 100)],
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
    # round_ms=200 / delay 100 → budget 2: the hub and its best spoke
    out = politeness_rank(pending, robots, round_ms=200, max_crawl_delay_ms=100)
    got = [
        r["url_canon"]
        for r in out.orderBy("host_fetch_rank").collect()
    ]
    assert got == [u1, u2]  # u3 (lowest authority) waits for a later round
