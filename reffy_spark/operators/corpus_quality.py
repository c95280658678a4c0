"""Corpus-quality operators for LLM training-data pipelines.

Beyond-reference operators (the reference crawls specs; a 100 TB web-text
pipeline additionally needs repetition filters, benchmark decontamination
and stratified sampling). Shapes follow the public literature:

* Repetition signals: Gopher (Rae et al., 2021, arXiv:2112.11446, §A1.1
  "Repetition") — duplicate line / line-character fractions, fraction of
  characters in the most frequent word 2-gram, fraction of characters in
  duplicated word 5-grams; plus C4-style symbol and bullet/ellipsis line
  heuristics (Raffel et al., 2020, arXiv:1910.10683 §2.2).
* Decontamination: n-gram overlap against a benchmark set (GPT-3 paper,
  arXiv:2005.14165 §C).
* Stratified sampling: deterministic hash-bucket sampling with
  per-stratum rates (the standard "sample by language/quality tier"
  step when assembling a training mix).

Design constraints match ``dedupe.py``: deterministic md5-derived hashes
(identical in Spark and DuckDB so the driver's oracle can replay the
math), pure Column expressions in the hot path, candidate joins only
against broadcast-size sides, aggregations keyed by doc so map-side
partial aggregation applies. No Python UDFs anywhere.

Scale notes (100 TB):
* ``repetition_profile`` = 2 scans of the text column; the item-level
  aggregation is keyed ``(doc_id, kind, item)`` so partial aggregation
  collapses within-doc duplicates map-side; both post-agg joins are
  co-partitioned on ``doc_id``.
* ``decontaminate`` broadcasts the benchmark-gram set (eval benchmarks
  are KBs–MBs, never corpus-scale); the corpus side is explode +
  per-doc count — no corpus-vs-corpus shuffle.
* ``stratified_sample`` is a pure filter (no shuffle at all): the keep
  decision is a deterministic function of (doc_id, stratum).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from reffy_spark.functions.text import (
    lang_id_col,
    quality_score_col,
    token_count_col,
    tokens_col,
)
from reffy_spark.operators.dedupe import h60

__all__ = [
    "repetition_profile",
    "decontaminate",
    "stratified_sample",
    "line_dedup",
    "pack_sequences",
]


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def lines_col(text: Column) -> Column:
    """Non-empty trimmed lines of a document, as array<string>."""
    return F.filter(
        F.transform(F.split(text, "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )


def ngrams_col(toks: Column, n: int) -> Column:
    """Word n-grams WITH multiplicity (unlike ``dedupe.shingles_col``,
    which is distinct — repetition stats need the counts).

    Docs shorter than n tokens get an empty array: Spark's
    ``sequence(1, 0)`` DESCENDS to [1, 0] (unlike DuckDB's empty
    ``range``), which would feed slice() an invalid 0 start."""
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _occurrences(text: Column, needle: str) -> Column:
    return (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))) / F.lit(
        len(needle)
    )


_BULLETS = ["-", "*", "•"]


# ---------------------------------------------------------------------------
# Gopher-style repetition profile
# ---------------------------------------------------------------------------


def repetition_profile(docs: DataFrame) -> DataFrame:
    """Per-document repetition/quality signals (Gopher §A1.1 + C4 rules).

    Output columns:
      n_lines               non-empty lines
      dup_line_frac         line occurrences whose text occurs >1× / lines
      dup_line_char_frac    chars in duplicated lines / chars in all lines
      ellipsis_line_frac    lines ending in "..." or "…" / lines
      bullet_line_frac      lines starting with -, * or • / lines
      top_2gram_char_frac   max over 2-grams of count·len / Σ count·len
      dup_5gram_char_frac   Σ count·len over 5-grams with count>1 / Σ count·len
      symbol_word_ratio     (# "#" + # "…" + # "...") / tokens
    All fractions are 0.0 for empty denominators, rounded to 6 places.
    """
    from reffy_spark.operators.dedupe import spread_small_input

    docs = spread_small_input(docs)
    t = F.col("text")
    # two-level projection (r8): tokenize and line-split ONCE per row per
    # consuming branch — the single-select form re-ran lines_col for
    # every line-derived flag and tokens_col for every n-gram column
    # (interpreted higher-order expressions are not subexpression-
    # eliminated; guide §1.2). Values are identical arithmetic over the
    # same intermediates.
    base = docs.select(
        "doc_id",
        t.alias("_text"),
        tokens_col(t).alias("_toks"),
        lines_col(t).alias("_lines"),
    )
    toks = F.col("_toks")
    lines = F.col("_lines")
    tt = F.col("_text")
    n_tok = F.size(toks).cast("double")

    # branch 1: zero-shuffle array-side flags
    n_lines_arr = F.size(lines).cast("double")
    frac = lambda num: F.round(  # noqa: E731
        F.when(n_lines_arr == 0, F.lit(0.0)).otherwise(num.cast("double") / n_lines_arr), 6
    )
    bullets = F.array(*[F.lit(b) for b in _BULLETS])
    flags = base.select(
        "doc_id",
        frac(
            F.size(
                F.filter(
                    lines,
                    lambda l: l.endswith("...") | l.endswith("…"),
                )
            )
        ).alias("ellipsis_line_frac"),
        frac(
            F.size(F.filter(lines, lambda l: F.array_contains(bullets, F.substring(l, 1, 1))))
        ).alias("bullet_line_frac"),
        F.round(
            F.when(n_tok == 0, F.lit(0.0)).otherwise(
                (
                    _occurrences(tt, "#") + _occurrences(tt, "…") + _occurrences(tt, "...")
                ).cast("double")
                / n_tok
            ),
            6,
        ).alias("symbol_word_ratio"),
    )

    # branch 2: one explode over lines ∪ 2-grams ∪ 5-grams, tagged by kind
    items = F.concat(
        F.transform(lines, lambda l: F.struct(F.lit("line").alias("kind"), l.alias("item"))),
        F.transform(
            ngrams_col(toks, 2),
            lambda g: F.struct(F.lit("g2").alias("kind"), g.alias("item")),
        ),
        F.transform(
            ngrams_col(toks, 5),
            lambda g: F.struct(F.lit("g5").alias("kind"), g.alias("item")),
        ),
    )
    exploded = base.select(
        "doc_id", F.explode(items).alias("it")
    ).select("doc_id", F.col("it.kind").alias("kind"), F.col("it.item").alias("item"))
    counted = exploded.groupBy("doc_id", "kind", "item").agg(F.count("*").alias("cnt"))
    chars = F.col("cnt") * F.length("item")
    per_kind = counted.groupBy("doc_id", "kind").agg(
        F.sum("cnt").alias("n_items"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0))).alias("dup_items"),
        F.sum(chars).alias("tot_chars"),
        F.sum(F.when(F.col("cnt") > 1, chars).otherwise(F.lit(0))).alias("dup_chars"),
        F.max(chars).alias("top_chars"),
    )

    def _kind(kind: str, col: Column) -> Column:
        return F.max(F.when(F.col("kind") == kind, col))

    ratio = lambda num, den: F.round(  # noqa: E731
        F.coalesce(num.cast("double") / F.nullif(den.cast("double"), F.lit(0.0)), F.lit(0.0)),
        6,
    )
    per_doc = per_kind.groupBy("doc_id").agg(
        F.coalesce(_kind("line", F.col("n_items")), F.lit(0)).cast("long").alias("n_lines"),
        ratio(_kind("line", F.col("dup_items")), _kind("line", F.col("n_items"))).alias(
            "dup_line_frac"
        ),
        ratio(_kind("line", F.col("dup_chars")), _kind("line", F.col("tot_chars"))).alias(
            "dup_line_char_frac"
        ),
        ratio(_kind("g2", F.col("top_chars")), _kind("g2", F.col("tot_chars"))).alias(
            "top_2gram_char_frac"
        ),
        ratio(_kind("g5", F.col("dup_chars")), _kind("g5", F.col("tot_chars"))).alias(
            "dup_5gram_char_frac"
        ),
    )

    # empty docs never reach the explode: left join from flags, zero-fill
    return (
        flags.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("dup_line_frac", F.lit(0.0)).alias("dup_line_frac"),
            F.coalesce("dup_line_char_frac", F.lit(0.0)).alias("dup_line_char_frac"),
            "ellipsis_line_frac",
            "bullet_line_frac",
            F.coalesce("top_2gram_char_frac", F.lit(0.0)).alias("top_2gram_char_frac"),
            F.coalesce("dup_5gram_char_frac", F.lit(0.0)).alias("dup_5gram_char_frac"),
            "symbol_word_ratio",
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    threshold: float = 0.2,
) -> DataFrame:
    """Flag documents whose distinct word n-grams overlap a benchmark set.

    ``benchmark`` is any DataFrame with a text column (the eval/test
    documents to protect). Per doc: number of distinct n-grams, how many
    also occur anywhere in the benchmark, the overlap fraction, and
    ``contaminated`` = overlap_frac >= threshold.

    The benchmark gram table is broadcast (eval sets are tiny relative
    to a training corpus); the corpus side is explode + per-doc count.
    """
    grams = F.explode(
        F.array_distinct(ngrams_col(tokens_col(F.col("text")), n))
    ).alias("gram")
    bgrams = benchmark.select(grams).distinct()
    dgrams = docs.select("doc_id", grams)
    overlap = (
        dgrams.join(F.broadcast(bgrams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    base = docs.select(
        "doc_id",
        F.size(F.array_distinct(ngrams_col(tokens_col(F.col("text")), n)))
        .cast("long")
        .alias("n_grams"),
    )
    return base.join(overlap, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
        F.round(
            F.coalesce(
                F.col("n_overlap").cast("double")
                / F.nullif(F.col("n_grams").cast("double"), F.lit(0.0)),
                F.lit(0.0),
            ),
            6,
        ).alias("overlap_frac"),
        (
            F.coalesce(
                F.col("n_overlap").cast("double")
                / F.nullif(F.col("n_grams").cast("double"), F.lit(0.0)),
                F.lit(0.0),
            )
            >= F.lit(threshold)
        ).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------


def stratified_sample(
    docs: DataFrame,
    rates_per_mille: dict[str, int],
    default_rate: int = 500,
) -> DataFrame:
    """Keep each document with a per-language rate, deterministically.

    bucket = h60("sample#" || doc_id) mod 1000; keep iff bucket <
    rate_per_mille(lang). Pure filter — no shuffle, no RNG (re-runs and
    the DuckDB oracle reproduce the exact sample). Rates keyed on the
    predicted language (``lang_id_col``), ``default_rate`` otherwise.
    """
    lang = lang_id_col(F.col("text"))
    rate = F.lit(default_rate)
    for k, v in sorted(rates_per_mille.items()):
        rate = F.when(lang == k, F.lit(v)).otherwise(rate)
    bucket = h60(F.concat(F.lit("sample#"), F.col("doc_id").cast("string"))) % F.lit(1000)
    return (
        docs.select(
            "doc_id",
            lang.alias("lang_pred"),
            bucket.cast("long").alias("sample_bucket"),
            rate.cast("long").alias("rate_per_mille"),
        )
        .filter(F.col("sample_bucket") < F.col("rate_per_mille"))
    )


# ---------------------------------------------------------------------------
# Per-domain document caps
# ---------------------------------------------------------------------------

# domain_cap's stage-1 fan-out: each domain's rows split over this many
# salts before the local top-cap
_SALTS = 8


def domain_cap(docs: DataFrame, cap: int = 10) -> DataFrame:
    """Keep at most ``cap`` documents per domain, best-quality first
    (ties to the lowest id). The URL-level curation step of C4/
    RefinedWeb-style pipelines: without it one mega-host dominates the
    training mix.

    Scale shape: a plain ``Window.partitionBy(domain)`` puts an entire
    hot domain in one task — the same skew failure the politeness rank
    had (see ``frontier.politeness_rank``). Stage 1 takes a local
    top-``cap`` per (domain, salt) — bounded input per task regardless
    of domain size; stage 2 ranks the ≤ ``_SALTS``·cap survivors per
    domain.
    Every global top-``cap`` row ranks ≤ cap within its own salt too, so
    the composition is exact, not approximate.
    """
    scored = docs.select(
        "doc_id",
        F.col("source").alias("domain"),
        quality_score_col(F.col("text")).alias("quality"),
    )
    order = [F.col("quality").desc(), F.col("doc_id")]
    w1 = Window.partitionBy("domain", "salt").orderBy(*order)
    pruned = (
        scored.withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(_SALTS)))
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= cap)
        .drop("salt", "r1")
    )
    w2 = Window.partitionBy("domain").orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= cap)
        .select("doc_id", "domain", "quality", F.col("rank").cast("int").alias("rank"))
    )


def line_dedup(docs: DataFrame) -> DataFrame:
    """Cross-document exact line deduplication, first-occurrence-wins —
    the corpus-wide pass of C4 (Raffel et al., 2020, arXiv:1910.10683
    §2.2 deduplicates spans across the dataset) and CCNet-style
    boilerplate removal; ``repetition_profile`` covers only WITHIN-doc
    duplication. A line survives in exactly the document with the
    globally smallest (id, line_idx) that contains it; every other
    occurrence is dropped and each document's remaining lines are
    reassembled in original order.

    Returns (doc_id, text, n_lines, n_kept); a document whose every
    line is dropped stays in the output with empty text.

    Scale shape (100 TB): lines are the unit of distribution.
    Winner-per-line is a ``min(struct(id, idx))`` hash aggregation —
    partial aggregation collapses a hot line's occurrences map-side, so
    a boilerplate line repeated 10^9 times ships ONE row per map task
    to the reducer (a ``Window.partitionBy(line)`` would funnel all
    10^9 rows into one task — rejected, same skew failure class as the
    politeness rank). The join back is a co-partitioned equi-join on
    the line; hot-line fan-in there is handled by AQE skew-join
    splitting (1:1 multiplicity — winners carry one row per distinct
    line). Reassembly is a doc-keyed aggregation, partial-combined.
    Production note: at corpus scale join on ``xxhash64(line)`` instead
    of the raw string to shrink shuffle payloads; the raw string is
    kept here so the DuckDB oracle can replay the plan exactly.
    """
    lines = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), "\n")).alias("idx", "line"),
        )
        .withColumn("line", F.trim("line"))
        .filter(F.col("line") != "")
    )
    winners = lines.groupBy("line").agg(
        F.min(F.struct("doc_id", "idx")).alias("w")
    )
    kept = (
        lines.join(winners, "line")
        .filter((F.col("doc_id") == F.col("w.doc_id")) & (F.col("idx") == F.col("w.idx")))
        .select("doc_id", "idx", "line")
    )
    per_doc = lines.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text"),
        F.count("*").alias("n_kept"),
    )
    return (
        per_doc.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    window: int = 2048,
) -> DataFrame:
    """Token-stream packing: concatenate every document's tokens in
    ``doc_id`` order and cut the stream every ``window`` tokens — the
    standard GPT-style pretraining batch layout (documents straddle
    context-window boundaries). Each doc gets its stream position:

      (doc_id, n_tokens, start_offset, first_bin, last_bin)

    with ``first_bin = start_offset // window`` and ``last_bin =
    (start_offset + n_tokens - 1) // window`` (zero-token docs get
    first_bin = last_bin = the bin at their offset).

    Scale shape (100 TB): the prefix sum over the global doc order is
    NOT a ``Window.orderBy(doc_id)`` without partitioning (Spark would
    funnel the whole corpus into one task) but
    ``frontier.range_prefix_sum``'s two-phase sum: range slices on
    doc_id plus a broadcast running-offset table with one row per range
    partition — the only unpartitioned window runs over that ≤
    ``spark.sql.shuffle.partitions``-row table, bounded by config, not
    by data.
    """
    from reffy_spark.operators.frontier import range_prefix_sum

    counted = docs.select(
        "doc_id",
        token_count_col(F.col("text")).cast("long").alias("n_tokens"),
    )
    summed = range_prefix_sum(
        counted, [F.col("doc_id")], weight="n_tokens", out="_end_offset"
    )
    # a NULL count adds nothing to the stream
    packed = summed.select(
        "doc_id",
        "n_tokens",
        (F.col("_end_offset") - F.coalesce("n_tokens", F.lit(0))).alias(
            "start_offset"
        ),
    )
    # integer `div`, not double `/`: at stream offsets past 2^53 a
    # double-division bin id would silently round
    return packed.withColumn(
        "_end", F.col("start_offset") + F.greatest(F.col("n_tokens") - 1, F.lit(0))
    ).select(
        "doc_id",
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset div {int(window)}").alias("first_bin"),
        F.expr(f"_end div {int(window)}").alias("last_bin"),
    )
