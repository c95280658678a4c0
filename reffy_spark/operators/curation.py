"""Corpus-curation operators: PII scrubbing, URL filtering, quality classifier.

Beyond-reference operators for the LLM training-data pipeline family
(sibling of ``corpus_quality.py``). Shapes follow the public literature:

* PII detection/redaction: the standard pre-training scrub pass (e.g.
  BigScience ROOTS, arXiv:2303.03915 §3; Dolma, arXiv:2402.00159 §4.2)
  — regex families for emails / IPv4 addresses / phone numbers, counts
  per document plus a redacted text column with typed placeholders.
* URL filtering: C4 / RefinedWeb-style curation (arXiv:1910.10683 §2.2,
  arXiv:2306.01116 §3.1) — blocklisted registered domains, pattern
  rules on the host, and tracking-parameter hygiene.
* Quality classifier: a fastText-style hashed linear model
  (arXiv:1607.01759; used as the quality gate in GPT-3 §A / DCLM,
  arXiv:2406.11794) — here with a deterministic md5-derived weight per
  token so the DuckDB oracle can replay the exact math without
  shipping a weights file.

Design constraints match ``dedupe.py`` / ``corpus_quality.py``:
deterministic md5-derived hashes (identical in Spark and DuckDB), pure
Column expressions in the hot path, no Python UDFs anywhere. Regexes
stay inside the Java-regex ∩ RE2 common subset (no lookaround, no
backreferences) so the Spark plan and the DuckDB oracle compile the
same automaton.

Scale notes (100 TB):
* ``pii_scan`` and ``classifier_score`` are single-scan, zero-shuffle
  narrow transforms — they pipeline into whatever stage reads the text
  column (plan-tested: no Exchange).
* ``url_filter`` with a Python-list blocklist folds the exact-match
  part into the plan as a literal ``isin`` (Catalyst turns it into a
  hash set / InSet); subdomain-suffix matching is a per-domain OR, so
  multi-million-entry lists (the public UT1/Blacklists corpus is ~4M
  lines ≈ 80 MB) must use the DataFrame path, where the blocklist is
  a ``broadcast()`` semi-join against the DISTINCT host set — one row
  per blocked host, joined back on host equality, so overlapping
  blocklist entries never multiply corpus rows and the corpus side
  never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reffy_spark.functions.text import tokens_col
from reffy_spark.operators.dedupe import h60

__all__ = [
    "RE_EMAIL",
    "RE_IPV4",
    "RE_PHONE",
    "pii_scan",
    "url_filter",
    "classifier_score",
]


# Java-regex ∩ RE2 portable patterns (no lookaround / backreferences).
# Kept deliberately simple: the point is the operator plumbing, not a
# production-grade PII taxonomy — swap patterns freely, the plan shape
# is pattern-independent.
RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
RE_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
RE_PHONE = r"\+\d{1,3} \d{3}-\d{4}"

# Redaction order matters: emails first (an email never contains an
# IPv4/phone match once replaced), then IPs, then phones.
_PII_FAMILIES = (
    ("email", RE_EMAIL, "<EMAIL>"),
    ("ipv4", RE_IPV4, "<IP>"),
    ("phone", RE_PHONE, "<PHONE>"),
)


def pii_scan(df: DataFrame) -> DataFrame:
    """Per-document PII counts + typed-placeholder redaction.

    Counts are taken on the ORIGINAL text per family (so an email is
    counted as an email, not later double-counted by the phone rule);
    redaction is applied sequentially in ``_PII_FAMILIES`` order.
    Single scan, zero shuffle.

    NULL text is treated as empty: ``regexp_extract_all(NULL)`` is NULL
    and legacy ``size(NULL)`` is -1, which would yield negative counts
    and a NULL ``redacted`` — coalescing to '' keeps counts at 0 and
    redaction total.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    cols = [F.col("doc_id")] + [
        F.size(F.regexp_extract_all(text, F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat, _ in _PII_FAMILIES
    ]
    red = text
    for _, pat, placeholder in _PII_FAMILIES:
        red = F.regexp_replace(red, pat, placeholder)
    cols.append(red.alias("redacted"))
    total = None
    for name, _, _ in _PII_FAMILIES:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return df.select(*cols).withColumn("n_pii", total)


def _host_col(url: Column) -> Column:
    """scheme://HOST/... → host (lowercased). Portable regex, group 1."""
    return F.lower(F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1))


def url_filter(
    df: DataFrame,
    blocked_domains: "list[str] | DataFrame | None" = None,
    blocked_host_patterns: "list[str] | None" = None,
) -> DataFrame:
    """URL-level curation verdicts (C4/RefinedWeb-style).

    Adds ``host``, ``blocked`` and ``block_reason`` columns. A URL is
    blocked when its host (or any registrable suffix of it) is in
    ``blocked_domains``, or the host matches one of
    ``blocked_host_patterns`` (RE2-portable regexes). Tracking params
    (``utm_*``, ``session=``) are flagged in ``has_tracking`` — a soft
    signal, not a block.

    ``blocked_domains`` as a Python list folds the exact-match part
    into the plan as ``isin`` (Catalyst compiles it to an InSet hash
    probe); the subdomain-suffix part is a per-domain ``endswith`` OR —
    so large (>~1k-entry) lists should use the DataFrame path. As a
    single-column DataFrame the verdict is derived WITHOUT row
    multiplication: the distinct host set is left-semi-joined against
    the broadcast blocklist (exact OR suffix match) to build a
    blocked-host frame with exactly one row per host, which is then
    left-joined back on host equality — a blocklist containing both a
    domain and its subdomain (UT1 routinely does) cannot duplicate
    input rows. The corpus side never shuffles; the only shuffle is the
    host-level distinct (~|hosts| rows, partial-aggregated).
    """
    url = F.col("url")
    host = _host_col(url)
    out = df.withColumn("host", host)

    if isinstance(blocked_domains, DataFrame):
        bl = blocked_domains.select(F.lower(F.col(blocked_domains.columns[0])).alias("_bl_dom")).distinct()
        # One row per blocked host (left_semi dedupes multi-domain hits:
        # {bad.org, sub.bad.org} vs host x.sub.bad.org matches twice in
        # the raw join but yields ONE semi-join row), then an equi left
        # join back — output cardinality == input cardinality, always.
        blocked_hosts = (
            out.select("host")
            .distinct()
            .join(
                F.broadcast(bl),
                (F.col("host") == F.col("_bl_dom"))
                | F.col("host").endswith(F.concat(F.lit("."), F.col("_bl_dom"))),
                "left_semi",
            )
            .withColumn("_dom_blocked", F.lit(True))
        )
        out = out.join(F.broadcast(blocked_hosts), "host", "left").withColumn(
            "_dom_blocked", F.coalesce(F.col("_dom_blocked"), F.lit(False))
        )
    else:
        domains = sorted({d.lower() for d in (blocked_domains or [])})
        if domains:
            # exact part as one InSet probe; suffix part per-domain OR
            dom_blocked = F.col("host").isin(domains)
            for d in domains:
                dom_blocked = dom_blocked | F.col("host").endswith("." + d)
        else:
            dom_blocked = F.lit(False)
        out = out.withColumn("_dom_blocked", dom_blocked)

    pat_blocked = F.lit(False)
    for p in blocked_host_patterns or []:
        pat_blocked = pat_blocked | (F.regexp_extract(F.col("host"), p, 0) != "")
    out = out.withColumn("_pat_blocked", pat_blocked)

    out = out.withColumn(
        "blocked", F.col("_dom_blocked") | F.col("_pat_blocked")
    ).withColumn(
        "block_reason",
        F.when(F.col("_dom_blocked"), F.lit("domain"))
        .when(F.col("_pat_blocked"), F.lit("host_pattern"))
        .otherwise(F.lit(None).cast("string")),
    )
    out = out.withColumn(
        "has_tracking",
        F.regexp_extract(url, r"[?&](utm_[a-z]+|session)=", 0) != "",
    )
    return out.drop("_dom_blocked", "_pat_blocked")


def _token_weight_int(tok: Column) -> Column:
    """Deterministic per-token integer weight in [0, 2_000_000] from md5
    — the hashed feature trick (hashing directly on the token string; no
    vocabulary, no weights file). Centered/scaled to [-1, 1] only AFTER
    summation, so the accumulation is exact integer math and the DuckDB
    oracle reproduces the double bit-for-bit (one division, not n)."""
    return h60(F.concat(F.lit("clf#"), tok)) % F.lit(2000001)


def classifier_score(df: DataFrame) -> DataFrame:
    """fastText-style hashed linear quality score per document.

    score = mean over whitespace tokens of w(token), with w a
    deterministic md5-derived weight in [-1, 1]. ``keep`` = score >= 0.
    In production the md5 weight becomes a lookup into a broadcast
    trained-weights map — same plan shape (narrow transform,
    zero shuffle); the deterministic weight keeps the oracle replayable.
    """
    toks = tokens_col(F.col("text"))
    n = F.size(toks)
    total_int = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + _token_weight_int(t),
    )
    # score = mean of (k - 1e6)/1e6 = (sum_k - n*1e6) / (n*1e6); the
    # numerator/denominator are exact longs, so the single double
    # division is engine-portable.
    score = F.when(
        n > 0,
        (total_int - n.cast("long") * F.lit(1000000)).cast("double")
        / (n.cast("long") * F.lit(1000000)).cast("double"),
    ).otherwise(F.lit(0.0))
    # no rounding: numerator/denominator are exact longs, so the single
    # IEEE division is bit-identical in any engine — rounding would only
    # ADD portability risk (HALF_UP vs HALF_EVEN ties at the cut digit).
    return df.select(
        F.col("doc_id"),
        n.cast("long").alias("n_tokens"),
        score.alias("clf_score"),
        (score >= F.lit(0.0)).alias("keep"),
    )
