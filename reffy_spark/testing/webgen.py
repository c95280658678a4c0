"""Seeded random webs for crawl-vs-simulator tests.

``random_web(seed)`` packs several small webs into one pages table, so a
single crawl (whose per-round cost is mostly fixed) covers many of them.
Each small web has pages over 9 hosts, including members of the
``github.io``, ``whatwg.org`` and ``csswg.org`` host groups, which the
small webs share. Links name their targets in many spellings that
canonicalize to the same key (``http``, ``:443``, upper-case host,
``index.html``, fragments, an empty query, ``%73`` and ``%7E`` escapes),
and some name pages that do not exist, robots-disallowed ``/private/``
paths or the target without its trailing slash. About one page in five
has a second capture with a tied or newer ``warc_ts`` and other links.
Robots rows set random crawl delays and disallow rules.

Plain Python and deterministic per seed: feed the same ``RandomWeb`` to
``simulate_crawl`` and to ``CrawlEngine``.
"""

from __future__ import annotations

import datetime
import random
from dataclasses import dataclass


@dataclass
class RandomWeb:
    seed: int
    pages: list[dict]  # url, html (bytes), warc_ts
    seed_urls: list[str]
    robots: list[dict]  # host, path_prefix, allow, crawl_delay_ms
    round_ms: int


def _hosts(j: int) -> list[str]:
    return [f"w{j}-{k}.test" for k in range(5)] + [
        f"w{j}.github.io",
        f"w{j}.whatwg.org",
        f"w{j}.csswg.org",
        f"w{j}.fxtf.org",
    ]


def _spell(rng: random.Random, host: str, path: str) -> str:
    """One raw spelling of ``https://{host}{path}`` (path ends in ``/``).

    Every spelling but the one without the trailing slash canonicalizes
    to the same key; that one names a different, usually missing, page."""
    kind = rng.randrange(12)
    if kind == 0:
        return f"http://{host}{path}"
    if kind == 1:
        return f"https://{host.upper()}{path}"
    if kind == 2:
        return f"https://{host}:443{path}"
    if kind == 3:
        return f"http://{host}:80{path}"
    if kind == 4:
        return f"https://{host}{path}index.html"
    if kind == 5:
        return f"https://{host}{path}#sec-{rng.randrange(3)}"
    if kind == 6:
        return f"https://{host}{path}?"
    if kind == 7:
        return f"https://{host}{path.replace('s', '%73')}"
    if kind == 8:
        return f"https://{host}{path.replace('~', rng.choice(['%7E', '%7e']))}"
    if kind == 9:
        return f"https://{host}{path.rstrip('/')}"
    return f"https://{host}{path}"


def _html(rng: random.Random, title: str, targets: list[str]) -> bytes:
    anchors = "".join(
        f'<a {"data-link-type=dfn " if rng.random() < 0.2 else ""}href="{t}">l</a>'
        for t in targets
    )
    return (
        f"<html><head><title>{title}</title></head>"
        f"<body><h1>{title}</h1><p>{anchors}</p></body></html>"
    ).encode()


N_WEBS = 8
PAGES_PER_WEB = 40


def random_web(seed: int) -> RandomWeb:
    """A packed web of ``N_WEBS * PAGES_PER_WEB`` pages (plus second
    captures), 4-12 seeds per small web, and its robots table."""
    rng = random.Random(seed)
    t0 = datetime.datetime(2024, 1, 1)
    pages: list[dict] = []
    seed_urls: list[str] = []
    robots: list[dict] = []
    for j in range(N_WEBS):
        hosts = _hosts(j)
        # page i lives at (host, path); ~ and /private/ paths mixed in
        sites = []
        for i in range(PAGES_PER_WEB):
            host = rng.choice(hosts)
            r = rng.random()
            if r < 0.15:
                path = f"/~u{i}/"
            elif r < 0.3:
                path = f"/private/{'pub/' if rng.random() < 0.5 else ''}s{i}/"
            else:
                path = f"/s{i}/"
            sites.append((host, path))

        def targets() -> list[str]:
            out = []
            for _ in range(rng.randint(3, 8)):
                if rng.random() < 0.15:  # a page that does not exist
                    out.append(f"https://{rng.choice(hosts)}/gone{rng.randrange(50)}/")
                else:
                    out.append(_spell(rng, *rng.choice(sites)))
            return out

        for i, (host, path) in enumerate(sites):
            ts = t0 + datetime.timedelta(hours=rng.randrange(48))
            url = f"https://{host}{path}"
            pages.append({"url": url, "html": _html(rng, f"P{j}.{i}", targets()), "warc_ts": ts})
            if rng.random() < 0.2:
                # tied capture time under another raw spelling (the larger
                # raw URL wins the tie), or a newer capture
                if rng.random() < 0.5:
                    url2, ts2 = f"http://{host}{path}", ts
                else:
                    url2, ts2 = url, ts + datetime.timedelta(hours=1)
                pages.append(
                    {"url": url2, "html": _html(rng, f"P{j}.{i}b", targets()), "warc_ts": ts2}
                )
        for _ in range(rng.randint(4, 12)):
            seed_urls.append(_spell(rng, *rng.choice(sites)))
        for host in hosts:
            delay = rng.choice([250, 500, 1000, 2000])
            if rng.random() < 0.7:
                robots.append(_rule(host, "/", True, delay))
            if rng.random() < 0.5:
                robots.append(_rule(host, "/private/", False, delay))
                if rng.random() < 0.5:
                    robots.append(_rule(host, "/private/pub/", True, delay))
    return RandomWeb(
        seed=seed,
        pages=pages,
        seed_urls=seed_urls,
        robots=robots,
        round_ms=rng.choice([1000, 2000, 3000, 4000]),
    )


def _rule(host: str, prefix: str, allow: bool, delay: int) -> dict:
    return {"host": host, "path_prefix": prefix, "allow": allow, "crawl_delay_ms": delay}
