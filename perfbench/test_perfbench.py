"""Tests of the benchmark itself: the percentile rule, self time, round
latency from commit markers, failure accounting, byte-identical inputs, and
gates that catch corrupted outputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import filecmp
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gates  # noqa: E402
from perfbench import inputs as I  # noqa: E402
from perfbench import measure as M  # noqa: E402

TINY = I.Sizes(
    corpus_pages=300, sample=20, web_pages=400, seed_share=0.02, preseed=50, rounds=2
)

# -- percentile rule --------------------------------------------------------


@pytest.mark.parametrize(
    "n, key, value",
    [
        (9, None, None),  # too few samples for any tail percentile
        (19, None, None),  # p90 would have only one sample beyond it
        (100, "p90", 90),  # exactly ten samples beyond p90
        (199, "p90", 180),  # p95 (rank 190) has only nine beyond
        (200, "p95", 190),
        (1000, "p99", 990),
        (10000, "p99.9", 9990),
    ],
)
def test_percentile_rule(n, key, value):
    rep = M.percentile_report([float(i) for i in range(1, n + 1)])
    assert rep["n"] == n
    assert rep["p50"] == (n + 1) / 2
    tails = {k: v for k, v in rep.items() if k not in ("n", "p50")}
    assert tails == ({} if key is None else {key: value})


def test_percentile_report_ignores_order():
    assert M.percentile_report([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}


# -- spans and self time ----------------------------------------------------


def _span(name, start, end, parent):
    return M.Span(name, start, end, parent, "r")


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("root", 0.0, 10.0, None),
        _span("a", 1.0, 3.0, 0),
        _span("b", 2.0, 5.0, 0),  # overlaps a: union [1, 5]
        _span("c", 8.0, 12.0, 0),  # runs past the parent: clipped to [8, 10]
        _span("a.1", 1.5, 2.5, 1),
    ]
    assert M.self_times(spans) == pytest.approx([4.0, 1.0, 3.0, 4.0, 1.0])


def test_tracer_records_parents_and_run_id():
    tr = M.Tracer(run_id="x")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner2"):
            pass
    assert [(s.name, s.parent, s.run_id) for s in tr.spans] == [
        ("outer", None, "x"), ("inner", 0, "x"), ("inner2", 0, "x"),
    ]
    assert all(s.end >= s.start for s in tr.spans)
    assert [s.name for s in tr.children(0)] == ["inner", "inner2"]


# -- round latency from commit markers ---------------------------------------


def test_round_latency_from_commit_mtimes(tmp_path):
    for rnd, mtime in ((0, 50.0), (1, 100.0), (2, 103.5), (3, 110.0)):
        d = tmp_path / f"round={rnd}" / "seen"
        d.mkdir(parents=True)
        (d / "_SUCCESS").touch()
        os.utime(d / "_SUCCESS", (mtime, mtime))
    # a round whose seen commit never finished has no marker
    (tmp_path / "round=4" / "seen").mkdir(parents=True)
    times = M.round_commit_times(str(tmp_path))
    assert times == [100.0, 103.5, 110.0]  # round 0 is an input, not a commit
    assert M.commit_intervals(times) == [3.5, 6.5]


# -- failure accounting -----------------------------------------------------


def test_fail_accounting():
    attempted = ["a", "b", "c", "d"]
    rows = [("a", "ok"), ("b", "error"), ("d", "notfound")]
    assert M.fail_accounting(attempted, rows) == 2  # b errored, c has no row
    assert M.fail_accounting(attempted, None) == 4  # the crawl raised
    assert M.fail_accounting(attempted, [(u, "ok") for u in attempted]) == 0


# -- inputs -----------------------------------------------------------------


def _files(d):
    return sorted(
        os.path.relpath(os.path.join(r, f), d) for r, _ds, fs in os.walk(d) for f in fs
    )


@pytest.mark.parametrize("kind", ["corpus", "web"])
def test_same_seed_gives_byte_identical_inputs(tmp_path, kind):
    a = I.cached(str(tmp_path / "a"), kind, 7, TINY)
    b = I.cached(str(tmp_path / "b"), kind, 7, TINY)
    c = I.cached(str(tmp_path / "c"), kind, 8, TINY)
    names = _files(a)
    assert names == _files(b) and "seeds.parquet" in names
    _match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == []
    assert not filecmp.cmp(f"{a}/pages.parquet", f"{c}/pages.parquet", shallow=False)


def test_corpus_keeps_the_hot_host_and_exact_changed_share(tmp_path):
    d = I.cached(str(tmp_path), "corpus", 3, TINY)
    fetches = I.read_json(f"{d}/oracle_fetches.json")
    hot = sum(f[2] == "github.io" for f in fetches) / len(fetches)
    assert 0.3 < hot < 0.55
    changed = I.read_json(f"{d}/changed.json")
    assert len(changed) == round(TINY.changed_share * len(fetches))


# -- gates catch corrupted outputs -------------------------------------------


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    return I.cached(str(tmp_path_factory.mktemp("c")), "corpus", 5, TINY)


@pytest.fixture(scope="module")
def web(tmp_path_factory):
    return I.cached(str(tmp_path_factory.mktemp("w")), "web", 5, TINY)


def _replay_rows(d, recrawl=False):
    """The rows a correct crawl writes, built from the oracles."""
    sample = I.read_json(
        f"{d}/oracle_changed_extracts.json" if recrawl else f"{d}/oracle_extracts.json"
    )
    changed = set(I.read_json(f"{d}/changed.json"))
    rows = []
    for u, rnd, group, rank, status, _depth in I.read_json(f"{d}/oracle_fetches.json"):
        reused = recrawl and u not in changed
        row = {
            "url_canon": u, "round": rnd, "host_group": group,
            "host_fetch_rank": rank, "status": status, "from_fallback": reused,
        }
        for m in I.MODULES:
            row[m] = I.fallback_extract(u, m) if reused else sample.get(u, {}).get(m, "{}")
        rows.append(row)
    return rows


def _swap_rank(rows):
    """Swap the fetch ranks of two URLs of one host group in one round."""
    by_slot: dict = {}
    for r in rows:
        by_slot.setdefault((r["round"], r["host_group"]), []).append(r)
    a, b = next(v for v in by_slot.values() if len(v) > 1)[:2]
    assert a["host_fetch_rank"] != b["host_fetch_rank"]
    a["host_fetch_rank"], b["host_fetch_rank"] = b["host_fetch_rank"], a["host_fetch_rank"]


def _alter_byte(rows, sampled, module="dfns"):
    r = next(r for r in rows if r["url_canon"] in sampled)
    v = r[module]
    r[module] = v[:-2] + chr(ord(v[-2]) ^ 1) + v[-1]


def test_replay_gate(corpus):
    fetches = I.read_json(f"{corpus}/oracle_fetches.json")
    sample = I.read_json(f"{corpus}/oracle_extracts.json")
    good = _replay_rows(corpus)
    assert gates.check_replay(good, fetches, sample) == []

    dropped = copy.deepcopy(good)[1:]
    assert gates.check_replay(dropped, fetches, sample)
    duplicated = copy.deepcopy(good) + [dict(good[0])]
    assert gates.check_replay(duplicated, fetches, sample)
    swapped = copy.deepcopy(good)
    _swap_rank(swapped)
    assert gates.check_replay(swapped, fetches, sample)
    altered = copy.deepcopy(good)
    _alter_byte(altered, sample)
    assert gates.check_replay(altered, fetches, sample)


def test_recrawl_gate(corpus):
    fetches = I.read_json(f"{corpus}/oracle_fetches.json")
    changed = I.read_json(f"{corpus}/changed.json")
    sample = I.read_json(f"{corpus}/oracle_changed_extracts.json")
    good = _replay_rows(corpus, recrawl=True)
    assert gates.check_recrawl(good, fetches, changed, sample) == []

    for pick in (lambda r: r["url_canon"] in changed, lambda r: r["url_canon"] not in changed):
        flipped = copy.deepcopy(good)
        row = next(r for r in flipped if pick(r))
        row["from_fallback"] = not row["from_fallback"]
        assert gates.check_recrawl(flipped, fetches, changed, sample)
    stale = copy.deepcopy(good)
    row = next(r for r in stale if r["url_canon"] not in changed)
    row["links"] = row["links"].replace("fallback", "fallbacc")
    assert gates.check_recrawl(stale, fetches, changed, sample)
    altered = copy.deepcopy(good)
    _alter_byte(altered, sample)
    assert gates.check_recrawl(altered, fetches, changed, sample)
    assert gates.check_recrawl(copy.deepcopy(good)[:-1], fetches, changed, sample)


def test_discover_gate(web):
    fetches = I.read_json(f"{web}/oracle_fetches.json")
    oracle_seen = I.read_json(f"{web}/oracle_seen.json")
    preseed = I.preseed_urls(TINY.preseed)
    assert {f[1] for f in fetches} == {1, 2}
    keys = ("url_canon", "round", "host_group", "host_fetch_rank", "status", "depth")
    good = [dict(zip(keys, f)) for f in fetches]
    seen = dict(oracle_seen, **{u: 0 for u in preseed})
    assert gates.check_discover(good, seen, fetches, oracle_seen, preseed) == []

    assert gates.check_discover(good[1:], seen, fetches, oracle_seen, preseed)
    swapped = copy.deepcopy(good)
    _swap_rank(swapped)
    assert gates.check_discover(swapped, seen, fetches, oracle_seen, preseed)
    lost = dict(seen)
    del lost[preseed[0]]
    assert gates.check_discover(good, lost, fetches, oracle_seen, preseed)
    late = dict(seen)
    u = next(u for u, r in oracle_seen.items() if r == 1)
    late[u] = 2
    assert gates.check_discover(good, late, fetches, oracle_seen, preseed)


# -- the round-0 checkpoint is what the engine writes ------------------------


def test_checkpoint0_matches_engine(web, tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    from reffy_spark.operators.crawler import CrawlEngine
    from reffy_spark.session import get_spark

    spark = get_spark("perfbench-test", cores=2)
    read = spark.read.parquet
    try:
        CrawlEngine(
            spark, read(f"{web}/pages.parquet"), read(f"{web}/robots.parquet"),
            checkpoint_dir=str(tmp_path), modules=["links"],
            round_ms=I.DISCOVER_ROUND_MS, use_bloom=True,
        ).crawl(read(f"{web}/seeds.parquet"), max_rounds=0)
    finally:
        spark.stop()
    for name in ("frontier", "seen"):
        engine = pq.read_table(f"{tmp_path}/round=0/{name}").sort_by("url_canon")
        ours = pq.read_table(f"{web}/ckpt0/round=0/{name}/part-00000.parquet")
        assert ours.schema.remove_metadata() == engine.schema.remove_metadata()
        assert ours.to_pylist() == engine.to_pylist()
