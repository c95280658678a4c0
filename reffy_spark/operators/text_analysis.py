"""Document-level text analysis for training-data pipelines.

Thin operator layer over the Column kernels in
``reffy_spark.functions.text``: language-ID, quality scoring, token
counting, fingerprinting — one scan, no shuffle, all whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reffy_spark.functions.text import (
    quality_score_col,
    stopword_ratio_col,
    token_count_col,
    tokens_col,
    STOPWORDS_EN,
)


def profile_documents(docs: DataFrame) -> DataFrame:
    """Per-document analysis profile (single pass over the text column).

    r8 shape: three-level projection. The lower Project materializes the
    token array once; the middle one folds it into the scalar counts
    (sizes, stopword votes, fingerprint); the top computes the derived
    ratios. CollapseProject keeps the split (the array/count expressions
    are non-cheap and multiply-referenced), so the regex tokenization
    runs ONCE per row where the kernel-per-column form re-ran it ~9×
    (guide §1.2 per-task work). Values are bit-identical: every derived
    expression is the same arithmetic over the same intermediates.
    """
    from reffy_spark.functions.text import (
        fingerprint_from_tokens,
        stopword_count_from_tokens,
        tokens_col,
        STOPWORDS_DE,
        STOPWORDS_FR,
    )

    t = F.col("text")
    lower = docs.select(
        "doc_id",
        F.length(t).alias("_len"),
        tokens_col(t).alias("_t"),
    )
    mid = lower.select(
        "doc_id",
        "_len",
        F.size("_t").alias("_n"),
        stopword_count_from_tokens(F.col("_t"), STOPWORDS_EN).alias("_sw_en"),
        stopword_count_from_tokens(F.col("_t"), STOPWORDS_FR).alias("_sw_fr"),
        stopword_count_from_tokens(F.col("_t"), STOPWORDS_DE).alias("_sw_de"),
        fingerprint_from_tokens(F.col("_t")).alias("fingerprint"),
    )
    n_tok = F.col("_n")
    mean_tok = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        F.col("_len").cast("double") / n_tok.cast("double")
    )
    sw_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        F.col("_sw_en").cast("double") / n_tok.cast("double")
    )
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    tok_ok = F.when(
        (mean_tok >= 2.0) & (mean_tok <= 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    sw_ok = F.when(sw_ratio >= 0.01, F.lit(1.0)).otherwise(F.lit(0.0))
    en, fr, de = F.col("_sw_en"), F.col("_sw_fr"), F.col("_sw_de")
    return mid.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.col("_len").cast("long").alias("n_chars"),
        F.round(mean_tok, 6).alias("mean_token_len"),
        F.round(sw_ratio, 6).alias("stopword_ratio"),
        F.round((len_ok + tok_ok + sw_ok) / F.lit(3.0), 6).alias("quality"),
        F.when((en >= fr) & (en >= de) & (en > 0), F.lit("en"))
        .when((fr >= de) & (fr > 0), F.lit("fr"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("und"))
        .alias("lang_pred"),
        "fingerprint",
    )


def quality_filter(
    docs: DataFrame, min_quality: float = 0.5
) -> DataFrame:
    """Keep documents above the quality threshold (pushdown-friendly:
    the predicate is pure expressions over the text column)."""
    return docs.filter(quality_score_col(F.col("text")) >= min_quality)


def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace vs BPE-ish token counts per document.

    The two counts bracket real LLM tokenizer behavior: whitespace
    undercounts punctuation/code; the GPT-2-style split overcounts
    agglutinative words. ``bpe_per_ws`` is the budget-planning ratio."""
    from reffy_spark.functions.text import bpe_token_count_col

    t = F.col("text")
    # two-level projection: each counting regex runs once per row (the
    # single-select form re-evaluated them per referencing column)
    lower = docs.select(
        "doc_id",
        F.length(t).alias("_len"),
        token_count_col(t).cast("long").alias("_ws"),
        bpe_token_count_col(t).alias("_bpe"),
    )
    ws, bpe = F.col("_ws"), F.col("_bpe")
    return lower.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.round(
            F.when(ws == 0, F.lit(0.0)).otherwise(
                bpe.cast("double") / ws.cast("double")
            ),
            6,
        ).alias("bpe_per_ws"),
        F.round(
            F.when(bpe == 0, F.lit(0.0)).otherwise(
                F.col("_len").cast("double") / bpe.cast("double")
            ),
            6,
        ).alias("chars_per_bpe"),
    )


def bigram_novelty(docs: DataFrame) -> DataFrame:
    """Per-document bigram-novelty profile — the integer-exact analog of
    the CCNet LM-perplexity filter (Wenzek et al. 2020, arXiv:1911.00359
    §3.3: rank documents by how surprising their phrasing is under a
    corpus language model; here the "model" is the corpus's own bigram
    table, so rarity IS surprise and no float log-prob accumulation is
    needed):

      (doc_id, n_bigrams, sum_count, mean_bigram_count,
       n_singleton_bigrams, novelty_frac)

    ``sum_count`` sums the CORPUS-wide occurrence count of each of the
    doc's bigram instances (a common-phrasing doc scores high); a
    "singleton" bigram occurs exactly once in the corpus — phrasing
    unique to this doc (boilerplate scores 0.0 novelty, garbage/mojibake
    scores ~1.0). All aggregation is over integers; the two ratio
    columns are single final divisions — bit-portable to the DuckDB
    oracle (the `classifier_score` precedent).

    Scale shape (100 TB): two shuffles, both partial-aggregable —
    groupBy(w1,w2) builds the count table, groupBy(doc_id) folds the
    per-doc profile. Hot bigrams ("of the") skew the count-join key;
    AQE skew-join splits them, and the join carries only (doc_id, count)
    past the probe. Docs with < 2 tokens keep a row with zero counts.
    """
    toks = tokens_col(F.col("text"))
    d = docs.select(
        "doc_id",
        toks.alias("_toks"),
        F.size(toks).alias("_n"),
    )
    pair = F.arrays_zip(
        F.slice(F.col("_toks"), 1, F.col("_n") - 1).alias("w1"),
        F.slice(F.col("_toks"), 2, F.col("_n") - 1).alias("w2"),
    )
    b = (
        d.filter(F.col("_n") >= 2)
        .select("doc_id", F.explode(pair).alias("_p"))
        .select("doc_id", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )
    counts = b.groupBy("w1", "w2").agg(F.count("*").alias("_c"))
    prof = (
        b.join(counts, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("_c").alias("sum_count"),
            F.sum(F.when(F.col("_c") == 1, 1).otherwise(0)).alias(
                "n_singleton_bigrams"
            ),
        )
    )
    base = d.select("doc_id")
    return (
        base.join(prof, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.col("sum_count"), F.lit(0)).cast("long").alias("sum_count"),
            F.coalesce(F.col("n_singleton_bigrams"), F.lit(0))
            .cast("long")
            .alias("n_singleton_bigrams"),
        )
        .withColumn(
            "mean_bigram_count",
            F.when(
                F.col("n_bigrams") > 0,
                F.col("sum_count").cast("double") / F.col("n_bigrams").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "novelty_frac",
            F.when(
                F.col("n_bigrams") > 0,
                F.col("n_singleton_bigrams").cast("double")
                / F.col("n_bigrams").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
    )


def doc_keywords(docs: DataFrame) -> DataFrame:
    """Top-5 keywords per document by term frequency, with the
    corpus document frequency attached — the integer-exact core of
    tf-idf keyword extraction (the idf *log* is monotone in df, so
    ranking and filtering by raw ``df`` is order-equivalent and avoids
    cross-engine float logs entirely):

      (doc_id, token, tf, df, rank)

    Ties break by token text ascending — fully deterministic. Stopwords
    (STOPWORDS_EN) are excluded before ranking.

    Scale shape: tf is a partial-aggregable (doc, token) count; df a
    partial-aggregable token count over the distinct pairs; the top-5
    window partitions by doc_id — a group bounded by the document's own
    vocabulary, not by corpus size (the politeness-skew rule: windows
    only over per-row-bounded groups).
    """
    sw_arr = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    tok = (
        docs.select(
            "doc_id",
            F.explode(tokens_col(F.col("text"))).alias("token"),
        )
        .filter(~F.array_contains(sw_arr, F.col("token")))
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("token").asc()
    )
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .join(df_, "token")
        .select(
            "doc_id", "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.col("rank").cast("long").alias("rank"),
        )
    )
