"""Correctness gates: the crawl's outputs against independent oracles.

Each gate takes plain Python rows (read back from the parquet the crawl
wrote) and returns a list of mismatch messages; an empty list passes.
"""

from __future__ import annotations

from collections import Counter

from perfbench.inputs import MODULES, fallback_extract

_MAX_ERRORS = 20


class _Errors(list):
    def add(self, msg: str) -> None:
        if len(self) < _MAX_ERRORS:
            self.append(msg)


def _one_row_per_seed(rows: list[dict], expected: set[str], err: _Errors) -> None:
    counts = Counter(r["url_canon"] for r in rows)
    for u, n in counts.items():
        if n != 1:
            err.add(f"{u}: {n} result rows")
        if u not in expected:
            err.add(f"{u}: result row for a URL that is not a seed")
    for u in expected - counts.keys():
        err.add(f"{u}: seed has no result row")


def _fetch_order(rows: list[dict], oracle_fetches: list[list], err: _Errors) -> None:
    want = {f[0]: (f[1], f[2], f[3]) for f in oracle_fetches}
    for r in rows:
        got = (r["round"], r["host_group"], r["host_fetch_rank"])
        exp = want.get(r["url_canon"])
        if exp is not None and tuple(exp) != got:
            err.add(f"{r['url_canon']}: (round, host_group, rank) {got} != {tuple(exp)}")


def _extracts(rows_by_url: dict[str, dict], oracle: dict[str, dict], err: _Errors) -> None:
    for u, mods in oracle.items():
        row = rows_by_url.get(u)
        if row is None:
            err.add(f"{u}: sampled page has no result row")
            continue
        for m, want in mods.items():
            if row[m] != want:
                err.add(f"{u}: module {m} differs from extract_page")


def check_replay(
    rows: list[dict], oracle_fetches: list[list], oracle_extracts: dict[str, dict]
) -> list[str]:
    """One row per seed; (round, host_group, host_fetch_rank) equals the
    simulator's; the sample's module JSON is byte-equal to extract_page."""
    err = _Errors()
    _one_row_per_seed(rows, {f[0] for f in oracle_fetches}, err)
    _fetch_order(rows, oracle_fetches, err)
    for r in rows:
        if r["status"] != "ok":
            err.add(f"{r['url_canon']}: status {r['status']}")
    _extracts({r["url_canon"]: r for r in rows}, oracle_extracts, err)
    return list(err)


def check_recrawl(
    rows: list[dict],
    oracle_fetches: list[list],
    changed: list[str],
    oracle_changed_extracts: dict[str, dict],
) -> list[str]:
    """Replay's row and order checks, then: unchanged rows have
    ``from_fallback`` set and carry the fallback extracts; changed rows
    do not, and the sampled ones are byte-equal to extract_page."""
    err = _Errors()
    _one_row_per_seed(rows, {f[0] for f in oracle_fetches}, err)
    _fetch_order(rows, oracle_fetches, err)
    changed_set = set(changed)
    for r in rows:
        u = r["url_canon"]
        if r["status"] != "ok":
            err.add(f"{u}: status {r['status']}")
        if u in changed_set:
            if r["from_fallback"]:
                err.add(f"{u}: changed page reused the fallback")
        elif not r["from_fallback"]:
            err.add(f"{u}: unchanged page was not reused")
        else:
            for m in MODULES:
                if r[m] != fallback_extract(u, m):
                    err.add(f"{u}: module {m} is not the fallback extract")
    _extracts({r["url_canon"]: r for r in rows}, oracle_changed_extracts, err)
    return list(err)


def check_discover(
    rows: list[dict],
    seen: dict[str, int],
    oracle_fetches: list[list],
    oracle_seen: dict[str, int],
    preseed: list[str],
) -> list[str]:
    """The fetch sequence and the URL-seen set minus the preseed equal
    the simulator's; every preseeded URL is still seen."""
    err = _Errors()
    got = sorted(
        (r["url_canon"], r["round"], r["host_group"], r["host_fetch_rank"],
         r["status"], r["depth"])
        for r in rows
    )
    want = sorted(tuple(f) for f in oracle_fetches)
    if got != want:
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        err.add(f"fetch sequence differs: missing {missing}, unexpected {extra}")
    pre = set(preseed)
    for u in preseed:
        if u not in seen:
            err.add(f"{u}: preseeded URL no longer seen")
    crawl_seen = {u: r for u, r in seen.items() if u not in pre}
    if crawl_seen != oracle_seen:
        missing = sorted(oracle_seen.keys() - crawl_seen.keys())[:3]
        extra = sorted(crawl_seen.keys() - oracle_seen.keys())[:3]
        moved = sorted(
            u for u in crawl_seen.keys() & oracle_seen.keys()
            if crawl_seen[u] != oracle_seen[u]
        )[:3]
        err.add(
            f"URL-seen set differs: missing {missing}, unexpected {extra}, "
            f"first_round differs {moved}"
        )
    return list(err)
