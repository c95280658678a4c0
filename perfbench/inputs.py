"""Seeded, cached inputs and oracle outputs for the crawl benchmark.

Everything here is plain Python + pyarrow (no Spark): the same
``(kind, seed, sizes)`` always writes byte-identical files, and a built
input set is cached under ``<cache>/<kind>-<key>/`` so repeated runs on a
seed pay nothing. The crawl program only ever receives the parquet tables;
the oracle files are read back by ``gates`` alone.

The web is a relabelled copy of the synthetic corpus' link graph
(``reffy_spark.sources.synthetic``): node ``k`` links to
``(k*m + m) % n`` for ``m`` in (7, 13, 29), and the seed draws which page
id -- and so which host and URL -- each node gets. About 42% of pages land
on the hot ``w3c.github.io`` host whatever the seed.

Oracles:
* fetch order and URL-seen set: ``reffy_spark.testing.simulator.simulate_crawl``.
  A single-round replay never reads page content to order its fetches, so
  the replay oracle runs the simulator over empty pages.
* extraction: ``extract_page`` JSON, in-process, on a seeded sample.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil
from dataclasses import asdict, dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from reffy_spark.extractors.base import extract_page
from reffy_spark.functions.urls import host_group_py, host_of_py, url_canon_py
from reffy_spark.sources import synthetic as syn
from reffy_spark.testing.simulator import simulate_crawl

MODULES = ["links", "headings", "ids", "dfns", "title"]
# one round fetches every seed: budgets round_ms / crawl_delay are >= 500k
REPLAY_ROUND_MS = 1_000_000_000
# budgets 10 / 20 / 200 per host group: ~1.2k URLs per round
DISCOVER_ROUND_MS = 20_000
_LINK_MULTS = (7, 13, 29)


@dataclass(frozen=True)
class Sizes:
    corpus_pages: int = 12_000  # replay / recrawl corpus (graph nodes)
    sample: int = 200  # extraction-oracle sample
    changed_share: float = 0.2  # recrawl: pages whose content changed
    web_pages: int = 15_000  # discover web (graph nodes)
    seed_share: float = 0.02  # discover: seeds / web pages
    preseed: int = 150_000  # discover: URLs already seen on other hosts
    rounds: int = 2  # discover: crawl rounds after round 0

    def key(self) -> str:
        raw = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha1(raw).hexdigest()[:10]


# ---------------------------------------------------------------------------
# the web
# ---------------------------------------------------------------------------


def page_html(pid: int, targets: list[int]) -> str:
    """Spec-shaped page for page id ``pid`` linking to page ids ``targets``:
    title, generator meta, headings, ids, dfns (exported, invalid-typed,
    note, deleted), links with fragments, an autolink and references."""
    gen = ("bikeshed", "respec", "")[pid % 3]
    gen_meta = f'<meta name="generator" content="{gen} 1.0">' if gen else ""
    links = "".join(
        f'<p>See <a href="{syn.url_of_page(t)}#frag-{t % 5}">spec {t}</a>.</p>'
        for t in targets
    )
    auto = (
        f'<p><a href="{syn.url_of_page(targets[0])}#auto-{pid % 7}" '
        f'data-link-type="dfn">autolinked term</a></p>'
        if targets
        else ""
    )
    refs = "".join(
        f'<dt>[REF{t}]</dt><dd><a href="{syn.url_of_page(t)}">Spec {t}</a></dd>'
        for t in targets[:2]
    )
    return (
        f"<!DOCTYPE html><html><head><title>Spec {pid} Title</title>{gen_meta}"
        f"</head><body>"
        f'<div class="head"><h1 id="title">Spec {pid} Title</h1></div>'
        f'<h2 id="intro">1. Introduction</h2>'
        f'<p>Defines <dfn id="term-{pid}" data-dfn-type="dfn" '
        f'data-lt="term {pid}|t{pid}" data-export="">term {pid}</dfn> and '
        f'<dfn id="bad-{pid}" data-dfn-type="notatype">bad</dfn>.</p>'
        f'<h3 id="detail-{pid}">1.1 Details of {pid}</h3>'
        f"{links}{auto}"
        f'<div class="note">Note: see <dfn id="note-term-{pid}" '
        f'data-dfn-type="dfn">noted term {pid}</dfn>.</div>'
        f'<del><dfn id="old-term-{pid}" data-dfn-type="dfn">old</dfn>'
        f'<a href="https://deleted.test/x#gone">deleted link</a></del>'
        f'<h2 id="normative-references">A. Normative references</h2>'
        f"<dl>{refs}</dl></body></html>"
    )


def _graph_targets(k: int, n: int) -> list[int]:
    return sorted({(k * m + m) % n for m in _LINK_MULTS} - {k})


def web_rows(n: int, rng: random.Random) -> list[dict]:
    """``n`` pages (raw URLs; several whatwg pages share one canonical URL)."""
    ids = rng.sample(range(8 * n), n)
    rows = []
    for k, pid in enumerate(ids):
        targets = [ids[t] for t in _graph_targets(k, n)]
        rows.append(
            {
                "url": syn.url_of_page(pid),
                "warc_ts": syn.BASE_TS + dt.timedelta(minutes=pid),
                "html": page_html(pid, targets),
            }
        )
    return rows


def dedupe_canonical(rows: list[dict]) -> list[dict]:
    """One row per canonical URL, freshest capture (max warc_ts, then max
    url) -- the engine's own rule -- with ``url_canon`` added."""
    best: dict[str, dict] = {}
    for r in rows:
        c = url_canon_py(r["url"])
        cur = best.get(c)
        if cur is None or (r["warc_ts"], r["url"]) > (cur["warc_ts"], cur["url"]):
            best[c] = dict(r, url_canon=c)
    return [best[c] for c in sorted(best)]


def preseed_urls(n: int) -> list[str]:
    """Already-seen URLs on hosts the web never links to."""
    return [f"https://seen-{j % 97}.preseed.test/doc-{j}/" for j in range(n)]


# ---------------------------------------------------------------------------
# files
# ---------------------------------------------------------------------------

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
    ]
)
CANON_PAGES_SCHEMA = pa.schema([("url_canon", pa.string())] + list(PAGES_SCHEMA))
SEEDS_SCHEMA = pa.schema([("url", pa.string()), ("seed_idx", pa.int64())])
ROBOTS_SCHEMA = pa.schema(
    [
        ("host", pa.string()),
        ("path_prefix", pa.string()),
        ("allow", pa.bool_()),
        ("crawl_delay_ms", pa.int32()),
    ]
)


def _write(rows: list[dict], schema: pa.Schema, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    pq.write_table(pa.table(cols, schema=schema), path, compression="snappy")


def _write_pages(rows: list[dict], schema: pa.Schema, path: str) -> None:
    _write([dict(r, html=r["html"].encode()) for r in rows], schema, path)


def _write_json(obj, path: str) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))


def read_json(path: str):
    with open(path) as f:
        return json.load(f)


def _robots_and_seeds(out: str, seed_urls: list[str]) -> None:
    _write(syn.robots_rows(), ROBOTS_SCHEMA, f"{out}/robots.parquet")
    _write(
        [{"url": u, "seed_idx": i} for i, u in enumerate(seed_urls)],
        SEEDS_SCHEMA,
        f"{out}/seeds.parquet",
    )


def _module_json(html: str, url_canon: str) -> dict[str, str]:
    res = extract_page(html, url_canon, MODULES, with_error=True)
    return {m: json.dumps(res[m], ensure_ascii=False) for m in MODULES}


def _fetch_oracle(sim) -> list[list]:
    return [list(f) for f in sim.fetches]


def fallback_extract(url_canon: str, module: str) -> str:
    """Stored extract of the prior crawl. The engine treats fallback
    extracts as opaque strings it copies, so a recognisable value lets
    the gate check that the reused row carries exactly this one."""
    return json.dumps({"fallback": url_canon, "module": module})


def changed_etag(html: bytes) -> str:
    return hashlib.md5(b"previous revision\n" + html).hexdigest()


# ---------------------------------------------------------------------------
# input sets: each function writes a complete directory ``out``
# ---------------------------------------------------------------------------


def build_corpus(out: str, seed: int, sizes: Sizes) -> None:
    """replay / recrawl inputs: a canonical-unique pages table, every page
    a seed (seeded order), the fetch-order oracle, the extraction sample,
    and the recrawl fallback table with its changed set."""
    rng = random.Random(f"corpus:{seed}")
    pages = dedupe_canonical(web_rows(sizes.corpus_pages, rng))
    _write_pages(pages, CANON_PAGES_SCHEMA, f"{out}/pages.parquet")
    order = list(range(len(pages)))
    rng.shuffle(order)
    seed_urls = [pages[i]["url"] for i in order]
    _robots_and_seeds(out, seed_urls)
    sim = simulate_crawl(
        seed_urls,
        [{"url": p["url"], "html": ""} for p in pages],
        syn.robots_rows(),
        round_ms=REPLAY_ROUND_MS,
        max_rounds=1,
    )
    _write_json(_fetch_oracle(sim), f"{out}/oracle_fetches.json")

    by_canon = {p["url_canon"]: p for p in pages}
    canons = sorted(by_canon)
    changed = sorted(rng.sample(canons, round(sizes.changed_share * len(canons))))
    changed_set = set(changed)
    fb_rows = []
    for c in canons:
        html = by_canon[c]["html"].encode()
        row = {
            "url_canon": c,
            "etag": changed_etag(html)
            if c in changed_set
            else hashlib.md5(html).hexdigest(),
            "last_modified": by_canon[c]["warc_ts"] - dt.timedelta(days=30),
            "status": "ok",
            "crawl_error": None,
        }
        row.update({m: fallback_extract(c, m) for m in MODULES})
        fb_rows.append(row)
    fb_schema = pa.schema(
        [
            ("url_canon", pa.string()),
            ("etag", pa.string()),
            ("last_modified", pa.timestamp("us", tz="UTC")),
            ("status", pa.string()),
            ("crawl_error", pa.string()),
        ]
        + [(m, pa.string()) for m in MODULES]
    )
    _write(fb_rows, fb_schema, f"{out}/fallback.parquet")
    _write_json(changed, f"{out}/changed.json")

    # extraction oracles: a sample of all pages (replay) and a sample of
    # the changed pages (recrawl re-extracts only those)
    sample = sorted(rng.sample(canons, min(sizes.sample, len(canons))))
    changed_sample = sorted(rng.sample(changed, min(sizes.sample, len(changed))))
    _write_json(
        {c: _module_json(by_canon[c]["html"], c) for c in sample},
        f"{out}/oracle_extracts.json",
    )
    _write_json(
        {c: _module_json(by_canon[c]["html"], c) for c in changed_sample},
        f"{out}/oracle_changed_extracts.json",
    )


def build_web(out: str, seed: int, sizes: Sizes) -> None:
    """discover inputs: the raw web, ~1% of it as seeds, the preseeded
    round-0 checkpoint, and the simulator's fetch sequence and URL-seen set
    for ``sizes.rounds`` rounds. The preseeded URLs live on other hosts, so
    the simulator (which has no preseed) sees the same web the engine does."""
    rng = random.Random(f"web:{seed}")
    pages = web_rows(sizes.web_pages, rng)
    _write_pages(pages, PAGES_SCHEMA, f"{out}/pages.parquet")
    n_seeds = max(1, round(sizes.seed_share * len(pages)))
    seed_urls = [pages[i]["url"] for i in rng.sample(range(len(pages)), n_seeds)]
    _robots_and_seeds(out, seed_urls)
    sim = simulate_crawl(
        seed_urls,
        pages,
        syn.robots_rows(),
        round_ms=DISCOVER_ROUND_MS,
        max_rounds=sizes.rounds,
    )
    _write_json(_fetch_oracle(sim), f"{out}/oracle_fetches.json")
    _write_json(sim.url_seen, f"{out}/oracle_seen.json")
    write_checkpoint0(f"{out}/ckpt0", seed_urls, preseed_urls(sizes.preseed))


FRONTIER_SCHEMA = pa.schema(
    [
        ("host", pa.string()),
        ("url_canon", pa.string()),
        ("url", pa.string()),
        ("seed_idx", pa.int64()),
        ("host_group", pa.string()),
        ("depth", pa.int32()),
        ("priority", pa.float64()),
        ("round_discovered", pa.int32()),
    ]
)
SEEN_SCHEMA = pa.schema(
    [("url_canon", pa.string()), pa.field("first_round", pa.int32(), nullable=False)]
)


def write_checkpoint0(out: str, seed_urls: list[str], preseed: list[str]) -> None:
    """The round-0 checkpoint ``CrawlEngine.crawl(seeds, max_rounds=0)``
    writes (seed frontier, one row per canonical URL, lowest url wins; seen
    = its keys), with ``preseed`` added to the seen set as a second file.
    Every seed URL is allowed by ``robots_rows``."""
    best: dict[str, tuple[str, int]] = {}
    for i, u in enumerate(seed_urls):
        c = url_canon_py(u)
        if c not in best or u < best[c][0]:
            best[c] = (u, i)
    frontier = [
        {
            "host": host_of_py(c), "url_canon": c, "url": u, "seed_idx": i,
            "host_group": host_group_py(c), "depth": 0, "priority": 1.0,
            "round_discovered": 0,
        }
        for c, (u, i) in sorted(best.items())
    ]
    _write(frontier, FRONTIER_SCHEMA, f"{out}/round=0/frontier/part-00000.parquet")
    seen = [{"url_canon": c, "first_round": 0} for c in sorted(best)]
    _write(seen, SEEN_SCHEMA, f"{out}/round=0/seen/part-00000.parquet")
    pq.write_table(
        pa.table(
            {"url_canon": preseed, "first_round": pa.array([0] * len(preseed), pa.int32())},
            schema=SEEN_SCHEMA,
        ),
        f"{out}/round=0/seen/part-00001.parquet",
        compression="snappy",
    )


INPUT_SETS = {"corpus": build_corpus, "web": build_web}


def cached(cache_dir: str, kind: str, seed: int, sizes: Sizes) -> str:
    """Directory holding the ``kind`` inputs for ``seed``; built on first
    use into a temporary sibling and renamed into place, so a killed build
    never leaves a half-written set behind."""
    out = os.path.join(cache_dir, f"{kind}-{sizes.key()}-s{seed}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    INPUT_SETS[kind](tmp, seed, sizes)
    os.replace(tmp, out)
    return out
