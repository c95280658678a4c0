"""Cuckoo-filter URL-seen set (operators/cuckoo.py): placement
invariants, the no-false-negative membership contract, exactness of the
pruned unseen filter, and plan shape (bucket-partitioned windows only).
"""

import pytest
from pyspark.sql import functions as F

from reffy_spark.operators import cuckoo as C


def _urls(spark, n, tag="u"):
    return spark.range(n).select(
        F.concat(F.lit(f"https://h{tag}.test/p-"), F.col("id")).alias("url_canon")
    )


def test_build_placement_invariants(spark):
    seen = _urls(spark, 300)
    table, stash = C.cuckoo_table(seen, m=64, capacity=4)
    t = table.collect()
    # capacity respected in every bucket
    per_bucket = {}
    for r in t:
        per_bucket[r["bucket"]] = per_bucket.get(r["bucket"], 0) + 1
    assert max(per_bucket.values()) <= 4
    assert all(0 <= b < 64 for b in per_bucket)
    assert all(0 <= r["fp"] < C.FP_MOD for r in t)
    # every key placed exactly once: placed + stash == distinct seen
    assert len(t) + stash.count() == 300
    # load 300/(64*4) ≈ 1.17 > 1 → overflow must exist, stash bounded
    assert 0 < stash.count() < 300


def test_no_false_negatives_and_exactness(spark):
    seen = _urls(spark, 200)
    table, stash = C.cuckoo_table(seen, m=128, capacity=4)
    # every seen url must be a maybe-hit (no false negatives)
    maybe = C.cuckoo_maybe_seen(seen, table, stash, m=128)
    assert maybe.count() == 200
    # candidates = seen ∪ fresh; exact filter returns exactly the fresh
    fresh = _urls(spark, 150, tag="x")
    cand = seen.unionByName(fresh)
    got = sorted(
        r["url_canon"]
        for r in C.filter_unseen_cuckoo(cand, seen, m=128).collect()
    )
    want = sorted(r["url_canon"] for r in fresh.collect())
    assert got == want


def test_build_is_deterministic(spark):
    seen = _urls(spark, 250)
    a, _ = C.cuckoo_table(seen.repartition(7), m=64, capacity=4)
    b, _ = C.cuckoo_table(seen.repartition(3), m=64, capacity=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_m_must_be_power_of_two(spark):
    with pytest.raises(ValueError, match="power of two"):
        C.cuckoo_table(_urls(spark, 10), m=100)


def test_plan_windows_bucket_partitioned(spark):
    """No unpartitioned or url-keyed window: both ranking windows
    partition by a BUCKET column (≤ capacity-scaled rows per window)."""
    import re

    seen = _urls(spark, 100)
    table, _stash = C.cuckoo_table(seen, m=64, capacity=4)
    plan = table._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
    assert specs, "expected ranking windows in the build plan"
    for s in specs:
        assert "_b1" in s or "_b2" in s, s

