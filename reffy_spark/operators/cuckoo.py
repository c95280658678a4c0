"""Partitioned static cuckoo-filter URL-seen set.

The north rule names "a partitioned bloom/cuckoo URL-seen set": the
bloom half is ``frontier.build_bloom`` (distributed per-partition
bitmaps OR-merged executor-side); this module is the cuckoo half —
fingerprint-in-bucket membership per Fan et al. 2014 ("Cuckoo Filter:
Practically Better than Bloom", CoNEXT '14, public paper), re-expressed
as a STATIC two-pass DataFrame build instead of the paper's sequential
insert-with-eviction loop (mutable eviction chains don't distribute;
a bounded second chance + exact stash gives the same membership
contract with deterministic, oracle-replayable placement).

Layout (classic partial-key cuckoo):
* fingerprint  fp = h60("cfp-"||url) mod 2^16     (2 bytes of identity)
* bucket 1     b1 = h60("cb1-"||url) mod m        (m a power of two)
* bucket 2     b2 = b1 XOR (h60("cfh-"||fp) mod m) — the paper's
  partial-key displacement, kept verbatim so b2 is derivable from
  (b1, fp) alone
* every bucket holds ≤ ``capacity`` fingerprints

Static build, 2 passes, no iteration:
1. rank keys within their b1 bucket (fp, url order — deterministic);
   the first ``capacity`` stay;
2. overflow keys rank within their b2 bucket against its REMAINING
   capacity (after pass-1 stayers); the rest land in an EXACT stash
   (url strings) — the bounded analog of the paper's eviction victim.
   At load factor ≤ 0.7 (m·capacity ≥ n/0.7) the stash is a fraction
   of a percent of n.

Why this shape at 10^10 URLs: the filter table is (bucket int, fp int)
— ~12 bytes/URL vs ~80-byte URL strings — written bucketed by
``bucket`` so a membership probe is a partition-pruned equi-join that
ships 2-byte fingerprints, never URL strings. Negative probes (the
overwhelming majority during discovery) are resolved by the filter
alone; only maybe-hits reach the exact anti-join, the same
definite-new short-circuit contract as the bloom path
(``frontier.filter_unseen``). Windows here partition by BUCKET —
each window is ≤ a few keys (capacity-scaled), never data-sized.

All hashing is the portable md5-derived ``h60`` (integer arithmetic
only) so DuckDB replays placement bit-for-bit — the oracle for
``filter_unseen_cuckoo`` is the PLAIN exact anti-join SQL, proving the
filter changes the plan, not the answer.

Scope: this is the STATIC table behind the ``cuckoo_table`` and
``urlseen_cuckoo`` driver queries — a seen set that must support
fingerprint deletion or be served from bucketed storage with no
driver-held state. The crawl loop does not use it: in a scan engine
its probe scans the filter table and maybe-hits still confirm against
seen, so it cannot beat the crawl's bloom split or the scan-shaped
exact anti-join (``frontier.filter_unseen`` / ``anti_join_scan``;
BENCH/BASELINE.md r7 seen-filter table).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from reffy_spark.operators.dedupe import h60

FP_BITS = 16
FP_MOD = 1 << FP_BITS


def _fp(url: Column) -> Column:
    return F.pmod(h60(F.concat(F.lit("cfp-"), url)), F.lit(FP_MOD))


def _b1(url: Column, m: int) -> Column:
    return F.pmod(h60(F.concat(F.lit("cb1-"), url)), F.lit(m))


def _b2(b1: Column, fp: Column, m: int) -> Column:
    # partial-key displacement: i2 = i1 XOR hash(fp); m a power of two
    # keeps the XOR inside [0, m)
    h = F.pmod(h60(F.concat(F.lit("cfh-"), fp.cast("string"))), F.lit(m))
    return b1.bitwiseXOR(h)


def _keyed(seen: DataFrame, m: int) -> DataFrame:
    k = seen.select("url_canon").distinct()
    k = k.withColumn("fp", _fp(F.col("url_canon")))
    k = k.withColumn("_b1", _b1(F.col("url_canon"), m))
    return k.withColumn("_b2", _b2(F.col("_b1"), F.col("fp"), m))


def cuckoo_table(
    seen: DataFrame, m: int = 1024, capacity: int = 4
) -> tuple[DataFrame, DataFrame]:
    """Build the filter over ``seen.url_canon``: returns ``(table,
    stash)`` where ``table`` is (bucket int, fp int) rows (the compact
    index — write it bucketed by ``bucket``) and ``stash`` is the exact
    overflow (url_canon strings).

    ``m`` must be a power of two; size it so m·capacity ≥ |seen| / 0.7.
    """
    if m & (m - 1):
        raise ValueError(f"m must be a power of two, got {m}")
    k = _keyed(seen, m)
    w1 = Window.partitionBy("_b1").orderBy("fp", "url_canon")
    r1 = k.withColumn("_r", F.row_number().over(w1))
    stay = r1.filter(F.col("_r") <= capacity).select(
        F.col("_b1").alias("bucket"), "fp"
    )
    movers = r1.filter(F.col("_r") > capacity)
    cnt = stay.groupBy("bucket").agg(F.count("*").alias("_n"))
    w2 = Window.partitionBy("_b2").orderBy("fp", "url_canon")
    m2 = (
        movers.withColumn("_r2", F.row_number().over(w2))
        .join(
            cnt.withColumnRenamed("bucket", "_b2"),
            on="_b2",
            how="left",
        )
        .withColumn("_free", F.lit(capacity) - F.coalesce(F.col("_n"), F.lit(0)))
    )
    placed2 = m2.filter(F.col("_r2") <= F.col("_free")).select(
        F.col("_b2").alias("bucket"), "fp"
    )
    stash = m2.filter(F.col("_r2") > F.col("_free")).select("url_canon")
    return stay.unionByName(placed2), stash


def cuckoo_maybe_seen(
    candidates: DataFrame, table: DataFrame, stash: DataFrame, m: int
) -> DataFrame:
    """Candidate urls that MIGHT be in the seen set (fp present in
    either of the url's two buckets, or url in the exact stash).
    False positives possible (fp collisions); false negatives
    impossible — every seen url was placed in b1, b2, or the stash."""
    pr = _keyed(candidates, m)
    probes = pr.select(
        "url_canon",
        F.explode(F.array(F.col("_b1"), F.col("_b2"))).alias("bucket"),
        "fp",
    )
    # candidates are round-bounded (the same broadcastability argument
    # as the fetch batch) — broadcast the PROBE side so the seen-sized
    # table is a map-side scan, never a per-round shuffle (r7: the
    # probes.join(table, left_semi) form shuffled the table every round
    # and cost the whole cuckoo win at any scale without bucketed
    # storage; with bucketed storage this same join also prunes to the
    # probed buckets)
    hits = (
        table.join(F.broadcast(probes), on=["bucket", "fp"], how="inner")
        .select("url_canon")
        .distinct()
    )
    return hits.unionByName(
        candidates.select("url_canon").join(
            F.broadcast(stash), on="url_canon", how="left_semi"
        )
    ).distinct()


def filter_unseen_cuckoo(
    candidates: DataFrame, seen: DataFrame, m: int = 1024
) -> DataFrame:
    """EXACT unseen-candidates filter with the cuckoo table as the
    pruning structure: definite-new candidates (no fingerprint hit)
    bypass the exact anti-join entirely; only maybe-hits are re-checked
    against the real seen set. Row- and column-preserving, the same
    contract as ``frontier.filter_unseen`` (bloom split) — same result
    as a plain anti-join; the oracle for the ``urlseen_cuckoo`` driver
    query IS the plain anti-join SQL. At 10^10 URLs the exact join's
    probe side shrinks to the maybe-hit sliver (seen-hit rate +
    ~capacity·2/2^16 false positives) and the join against the fat
    seen table prunes to the buckets the sliver touches."""
    table, stash = cuckoo_table(seen, m)
    keys = candidates.select("url_canon").distinct()
    maybe = cuckoo_maybe_seen(keys, table, stash, m)
    definite_new = candidates.join(maybe, on="url_canon", how="left_anti")
    needs_check = candidates.join(maybe, on="url_canon", how="left_semi")
    from reffy_spark.operators.frontier import anti_join_scan

    confirmed_new = anti_join_scan(needs_check, seen)
    return definite_new.unionByName(confirmed_new)
