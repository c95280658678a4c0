"""Link-graph analytics for crawl-frontier prioritization.

A web-scale crawler schedules its frontier by page importance; the
canonical signal is PageRank over the link graph the crawler itself
extracts (Page et al. 1999; production crawl schedulers per Olston &
Najork 2010, "Web Crawling" §4.2). The edge list here is the output of
the links extraction module (``crawler.links_long`` — the analog of the
reference's extract-links data, /root/reference/src/browserlib/
extract-links.mjs), so the prioritizer closes the crawl loop: fetch →
extract links → re-rank the frontier.

Arithmetic is INTEGER FIXED-POINT (ranks scaled by 10^6, contributions
via integer division) — cross-engine bit-exact by construction, the
repo's house rule for oracle-checked scores (float sums are
accumulation-order-dependent and a distributed groupBy has no order).
The fixed-point iteration converges to within 1/scale of the float
iteration; for frontier *ordering* that residual is irrelevant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Loop invariants and range slices are frozen with an eager
# localCheckpoint, the idiom of ``frontier.frozen_slices``: the blocks
# belong to the returned plan, and no later call can evict them.


def edges_from_links(links: DataFrame) -> DataFrame:
    """Distinct (src, dst) edge list from a ``links_long``-shaped frame
    (url_canon, page_url, ...). Fragment-level rows collapse to one
    page-level edge; self-loops are kept (well-defined on both sides)."""
    return (
        links.select(
            F.col("url_canon").alias("src"), F.col("page_url").alias("dst")
        )
        .filter(F.col("dst").isNotNull())
        .distinct()
    )


# pagerank's fixed point: ranks are scaled by SCALE, damping is 85%
SCALE = 10**6
DAMPING_PCT = 85


def pagerank(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """Integer fixed-point PageRank over a distinct (src, dst) edge list.

    Returns (url, out_degree, in_degree, rank_fp) where ``rank_fp`` is
    the rank after ``n_iter`` synchronous iterations, scaled by
    ``SCALE``:

      rank_0(u)   = SCALE
      contrib(u→v) = (rank(u) * DAMPING_PCT) DIV (100 * out_degree(u))
      rank_i+1(v) = (SCALE * (100 - DAMPING_PCT)) DIV 100
                    + Σ_{u→v} contrib(u)

    Every operation is int64 (`DIV` is integral division in both Spark
    SQL and DuckDB `//`), so the result is bit-identical regardless of
    aggregation order — no float log/sum portability caveats. Dangling
    mass (out_degree 0) is dropped, the standard large-scale
    simplification (Olston & Najork 2010 §4.2.2): ranks then order, not
    normalize, which is all a frontier scheduler consumes.

    Scale shape (10^10-edge graphs): per iteration exactly one join of
    edges against the rank table on ``src`` and one partial-aggregable
    hash sum on ``dst`` — the classic distributed PageRank layout. The
    edge list re-shuffles each iteration unless pre-partitioned; at
    cluster scale, bucket/repartition the edge table by ``src`` once and
    the per-iteration join co-locates (the rank table, N rows of two
    longs, is the only moving side). Hot dst keys (a page every page
    links to) are absorbed by the partial aggregation, not a window.
    """
    # the edge list is the loop invariant with an arbitrarily expensive
    # lineage behind it (Arrow links extraction): unfrozen,
    # deg/nodes/indeg and every iteration's join would each re-run that
    # lineage (measured ~7× recompute at sf0.1)
    edges = edges.select("src", "dst").localCheckpoint()
    # nodes + out-degree + in-degree in ONE partial-aggregable pass (r8):
    # the previous nodes-distinct / deg / indeg trio shuffled the edge
    # list four times (union both sides + two keyed aggs) and needed two
    # coalescing joins at the end. One tagged explode + sum gives the
    # identical values (a url's out_degree is its count of src
    # occurrences — absent ⇒ 0 via the sum, exactly the old
    # coalesce(left-join)), and the frozen degs table doubles as the
    # nodes set for every iteration.
    degs = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("url"),
                        F.lit(1).alias("o"),
                        F.lit(0).alias("i"),
                    ),
                    F.struct(
                        F.col("dst").alias("url"),
                        F.lit(0).alias("o"),
                        F.lit(1).alias("i"),
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
        .groupBy("url")
        .agg(F.sum("o").alias("out_degree"), F.sum("i").alias("in_degree"))
        .localCheckpoint()
    )
    deg = degs.filter(F.col("out_degree") > 0).select(
        F.col("url").alias("src"), F.col("out_degree")
    )
    nodes = degs.select("url")
    base = (SCALE * (100 - DAMPING_PCT)) // 100
    ranks = nodes.withColumn("rank_fp", F.lit(SCALE).cast("long"))
    # out-degree rides the edge list so the per-iteration join is a
    # single probe. ``ed`` is the loop invariant: freeze it (r8) —
    # unfrozen, every iteration re-ran the deg aggregation and the
    # edges⋈deg join from the frozen edges (3× recompute at n_iter=3).
    # Under AQE the checkpoint does not report the join's hash(src)
    # partitioning, so each iteration's join still exchanges ``ed``;
    # the 10^10-edge shape buckets the edge table by src instead.
    ed = edges.join(deg, "src").localCheckpoint()
    for _ in range(n_iter):
        contrib = (
            ed.join(ranks.withColumnRenamed("url", "src"), "src")
            .select(
                "dst",
                F.expr(
                    f"(rank_fp * {DAMPING_PCT}) DIV (100 * out_degree)"
                ).alias("_c"),
            )
            .groupBy("dst")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = nodes.join(
            contrib.withColumnRenamed("dst", "url"), "url", "left"
        ).select(
            "url",
            (F.lit(base) + F.coalesce(F.col("_s"), F.lit(0)))
            .cast("long")
            .alias("rank_fp"),
        # truncate lineage at the BSP iteration boundary (r8; same
        # pattern as dedupe.connected_components): without it the
        # n_iter-deep nested plan re-optimizes and schedules every prior
        # iteration's exchanges inside one enormous DAG (80 Exchange
        # nodes at n_iter=3) — at 10^10 edges that plan would not even
        # optimize in reasonable time. The checkpointed table is the
        # slim (url, rank_fp) pair, never the edges.
        ).localCheckpoint(eager=True)
    return degs.join(ranks, "url").select(
        "url",
        F.col("out_degree").cast("long").alias("out_degree"),
        F.col("in_degree").cast("long").alias("in_degree"),
        "rank_fp",
    )


def edges_to_host_graph(edges: DataFrame) -> DataFrame:
    """Collapse a page-level edge list to the distinct host graph —
    the crawl scheduler's domain-authority input (host-level PageRank
    decides politeness-budget allocation across domains; page-level
    decides order within a domain). Distinct edges, self-loops kept:
    intra-host links are real authority flow for a crawler deciding how
    deep to go within a site."""
    from reffy_spark.functions.urls import host_col

    return edges.select(
        host_col(F.col("src")).alias("src"),
        host_col(F.col("dst")).alias("dst"),
    ).distinct()


def apportion_budget(ranked: DataFrame, total_budget: int) -> DataFrame:
    """Split a global crawl budget across hosts proportionally to their
    authority rank — largest-remainder apportionment (Hamilton's
    method), the deterministic integer classic:

      base_i = (B * rank_i) DIV S          (S = Σ rank)
      the B - Σ base leftover units go to the hosts with the largest
      remainders (B * rank_i) % S, ties by host ascending.

    Σ budget == B exactly (tested) and every step is int64 — oracle
    bit-exact. Closes the authority → scheduling loop:
    ``host_authority`` feeds this; the output feeds the politeness
    machinery (operators/frontier.py host_budgets consumers).

    Degenerate inputs: if every rank is 0 (S == 0, e.g. an empty or
    dangling-only graph) the division would NULL every budget, so the
    apportionment falls back to EQUAL shares (rank treated as 1 per
    host, ties by host ascending) — Σ budget == B still holds. int64
    bound: ``B * rank_fp`` must stay below 2^63; the plan asserts
    ``max(rank) <= (2^63-1) DIV B`` and raises rather than silently
    wrapping (rank_fp is ≤ 10^8-scale fixed point, so any realistic
    budget is fine; the guard catches pathological inputs). It raises
    during the call: the remainder rank freezes its slices eagerly.

    Scale shape: the remainder rank is ``frontier.range_prefix_sum``'s
    two-phase row number over (rem desc, host) — no single-task sort of
    the whole host table at 10^8 hosts. The two scalar aggregates (S,
    deficit) ride a broadcast crossJoin, not a driver action.
    """
    from reffy_spark.operators.frontier import range_prefix_sum

    B = int(total_budget)
    h = ranked.select("host", F.col("rank_fp").cast("long").alias("_r"))
    tot = h.agg(
        F.sum("_r").alias("_S"),
        F.count("*").alias("_N"),
        F.max("_r").alias("_M"),
    )
    # S == 0 → equal apportionment (rank 1 per host, S = host count);
    # overflow guard: B * rank must fit int64, raise instead of wrapping
    bound = (2**63 - 1) // max(B, 1)
    j = (
        h.crossJoin(F.broadcast(tot))
        .withColumn(
            "_r_eff",
            F.when(F.col("_S") == 0, F.lit(1).cast("long")).otherwise(
                F.col("_r")
            ),
        )
        .withColumn(
            "_S_eff",
            F.when(
                F.coalesce(F.col("_M"), F.lit(0)) > F.lit(bound),
                F.raise_error(
                    F.lit(
                        f"apportion_budget: B*rank_fp overflows int64 "
                        f"(B={B}, max rank_fp exceeds {bound})"
                    )
                ).cast("long"),
            )
            .when(F.col("_S") == 0, F.col("_N").cast("long"))
            .otherwise(F.col("_S")),
        )
        .withColumn("_base", F.expr(f"({B} * _r_eff) DIV _S_eff"))
        .withColumn("_rem", F.expr(f"({B} * _r_eff) % _S_eff"))
    )
    numbered = range_prefix_sum(
        j, [F.col("_rem").desc(), F.col("host")], out="_rn"
    )
    deficit = j.agg((F.lit(B) - F.sum("_base")).alias("_d"))
    return numbered.crossJoin(F.broadcast(deficit)).select(
        "host",
        F.col("_r").alias("rank_fp"),
        (
            F.col("_base")
            + F.when(F.col("_rn") <= F.col("_d"), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("budget"),
    )
