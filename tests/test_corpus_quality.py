"""Corpus-quality operators: Gopher-style repetition signals,
benchmark decontamination, deterministic stratified sampling.

The driver-testdata documents are single-line, so the line-level
repetition math is exercised here on synthetic multi-line docs; the
gram-level math is additionally oracle-checked end-to-end
(`repetition_profile` / `decontaminate` / `stratified_sample` rows in
the driver registry).
"""

import pytest
from pyspark.sql import functions as F

from reffy_spark.operators.corpus_quality import (
    decontaminate,
    repetition_profile,
    stratified_sample,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # 4 lines, "dup dup" twice -> dup_line_frac 0.5; one ellipsis line,
        # one bullet line
        (0, "dup dup\ndup dup\n- bullet item\ntrailing thought ...\n"),
        # no repetition at all
        (1, "every line here\nis completely different\n"),
        # heavy 2-gram repetition: "na na na na na na"
        (2, "na na na na na na"),
        # empty doc
        (3, "   \n  \n"),
        # symbols: 2 '#' + 1 '…' + 1 '...' over 4 tokens
        (4, "# tag # word… more..."),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _profile(docs):
    return {r["doc_id"]: r.asDict() for r in repetition_profile(docs).collect()}


def test_repetition_line_stats(docs):
    p = _profile(docs)
    assert p[0]["n_lines"] == 4
    assert p[0]["dup_line_frac"] == pytest.approx(0.5)
    # dup chars: 2 lines x len("dup dup")=7 -> 14 of (14+13+20)=47
    assert p[0]["dup_line_char_frac"] == pytest.approx(14 / 47, abs=1e-6)
    assert p[0]["ellipsis_line_frac"] == pytest.approx(0.25)
    assert p[0]["bullet_line_frac"] == pytest.approx(0.25)
    assert p[1]["dup_line_frac"] == 0.0
    assert p[1]["dup_line_char_frac"] == 0.0


def test_repetition_gram_stats(docs):
    p = _profile(docs)
    # doc 2: five identical "na na" 2-grams -> the top 2-gram covers all
    # 2-gram chars, and every 5-gram ("na na na na na" x2) is duplicated
    assert p[2]["top_2gram_char_frac"] == pytest.approx(1.0)
    assert p[2]["dup_5gram_char_frac"] == pytest.approx(1.0)
    # doc 1: no repeated grams
    assert p[1]["dup_5gram_char_frac"] == 0.0
    assert p[1]["top_2gram_char_frac"] < 0.5


def test_repetition_empty_doc_zero_filled(docs):
    p = _profile(docs)
    assert p[3] == {
        "doc_id": 3,
        "n_lines": 0,
        "dup_line_frac": 0.0,
        "dup_line_char_frac": 0.0,
        "ellipsis_line_frac": 0.0,
        "bullet_line_frac": 0.0,
        "top_2gram_char_frac": 0.0,
        "dup_5gram_char_frac": 0.0,
        "symbol_word_ratio": 0.0,
    }


def test_symbol_word_ratio(docs):
    p = _profile(docs)
    # 2 '#' + 1 '…' + 1 '...' over 5 tokens
    assert p[4]["symbol_word_ratio"] == pytest.approx(4 / 5)


def test_decontaminate_flags_overlapping_docs(spark):
    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "one two three four five six seven"),
            (2, "alpha beta gamma delta epsilon other tail"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(99, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r.asDict() for r in decontaminate(corpus, bench, n=5).collect()}
    assert out[0]["contaminated"] and out[0]["overlap_frac"] == 1.0
    assert not out[1]["contaminated"] and out[1]["n_overlap"] == 0
    # doc 2 shares exactly the "alpha..epsilon" 5-gram: 1 of 3
    assert out[2]["n_overlap"] == 1
    assert out[2]["overlap_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert out[2]["contaminated"]  # 1/3 >= 0.2


def test_stratified_sample_deterministic_and_rate_bounded(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"en": 250, "fr": 500, "de": 750}
    a = stratified_sample(docs, rates, default_rate=1000)
    b = stratified_sample(docs, rates, default_rate=1000)
    assert sorted(r["doc_id"] for r in a.collect()) == sorted(
        r["doc_id"] for r in b.collect()
    )
    # every kept row respects its stratum's bucket bound
    assert a.filter(F.col("sample_bucket") >= F.col("rate_per_mille")).count() == 0
    # rate=0 strata drop out entirely; rate=1000 keeps everything
    none_kept = stratified_sample(
        docs, {"en": 0, "fr": 0, "de": 0}, default_rate=0
    )
    assert none_kept.count() == 0
    all_kept = stratified_sample(docs, {}, default_rate=1000)
    assert all_kept.count() == docs.count()


def test_repetition_profile_plan_has_no_python_udf(docs):
    plan = repetition_profile(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_token_count(spark):
    from reffy_spark.operators.text_analysis import token_stats

    docs = spark.createDataFrame(
        [
            (0, "Hello world, it's 2026!"),
            (1, ""),
            (2, "plain words only here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r.asDict() for r in token_stats(docs).collect()}
    # Hello | world | , | it | 's | 2026 | !  -> 7 pieces, 4 ws tokens
    assert out[0]["bpe_tokens"] == 7
    assert out[0]["ws_tokens"] == 4
    assert out[0]["bpe_per_ws"] == pytest.approx(7 / 4)
    assert out[1] == {
        "doc_id": 1,
        "ws_tokens": 0,
        "bpe_tokens": 0,
        "bpe_per_ws": 0.0,
        "chars_per_bpe": 0.0,
    }
    # punctuation-free text: counts agree
    assert out[2]["bpe_tokens"] == out[2]["ws_tokens"] == 4


def test_domain_cap_matches_direct_window(spark, sf_dir):
    """The salted two-phase top-k must equal a plain (scale-unsafe)
    Window.partitionBy(domain) ranking exactly — same politeness-rank
    exactness contract as frontier.range_prefix_sum."""
    from pyspark.sql import Window

    from reffy_spark.functions.text import quality_score_col
    from reffy_spark.operators.corpus_quality import domain_cap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(
        (r["domain"], r["rank"], r["doc_id"])
        for r in domain_cap(docs, cap=5).collect()
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    direct = sorted(
        (r["source"], r["rank"], r["doc_id"])
        for r in docs.select(
            "doc_id", "source", quality_score_col(F.col("text")).alias("quality")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .collect()
    )
    assert got == direct
    # every domain is capped
    per_dom = {}
    for dom, _, _ in got:
        per_dom[dom] = per_dom.get(dom, 0) + 1
    assert max(per_dom.values()) <= 5


def test_line_dedup_first_occurrence_wins(spark):
    from reffy_spark.operators.corpus_quality import line_dedup

    docs = spark.createDataFrame(
        [
            (0, "a\nshared\nb"),
            (1, "shared\nc"),
            (2, "c\nshared\n\n  \nd"),
            (3, "shared"),  # every line dropped → empty text, row kept
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in line_dedup(docs).collect()}
    assert out[0].text == "a\nshared\nb" and out[0].n_kept == 3
    assert out[1].text == "c" and out[1].n_lines == 2 and out[1].n_kept == 1
    # blank/whitespace-only lines are not counted as lines
    assert out[2].text == "d" and out[2].n_lines == 3 and out[2].n_kept == 1
    assert out[3].text == "" and out[3].n_lines == 1 and out[3].n_kept == 0


def test_line_dedup_is_idempotent(spark):
    from reffy_spark.operators.corpus_quality import line_dedup

    docs = spark.createDataFrame(
        [(0, "a\nshared\nb"), (1, "shared\nc")], ["doc_id", "text"]
    )
    once = line_dedup(docs).select("doc_id", "text")
    twice = line_dedup(once).select("doc_id", "text")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_pack_sequences_stream_positions(spark):
    from reffy_spark.operators.corpus_quality import pack_sequences

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate([5, 3, 0, 9, 2])],
        ["doc_id", "text"],
    )
    out = [
        tuple(r)
        for r in pack_sequences(df, window=4)
        .orderBy("doc_id")
        .collect()
    ]
    # stream: d0 [0,5) d1 [5,8) d2 [8,8) d3 [8,17) d4 [17,19); window 4
    assert out == [
        (0, 5, 0, 0, 1),
        (1, 3, 5, 1, 1),
        (2, 0, 8, 2, 2),
        (3, 9, 8, 2, 4),
        (4, 2, 17, 4, 4),
    ]


@pytest.mark.parametrize("reuse", ["true", "false"])
def test_pack_sequences_matches_naive_global_window(spark, reuse):
    """The two-phase prefix sum must equal the single-partition
    Window.orderBy cumsum bit-for-bit, at a partition count that forces
    multiple range slices, with or without Catalyst's exchange reuse."""
    from pyspark.sql import Window as W

    from reffy_spark.operators.corpus_quality import pack_sequences

    df = spark.range(0, 199).select(
        F.col("id").alias("doc_id"), (F.pmod("id", 17) + 1).alias("n")
    ).withColumn("text", F.repeat(F.lit("w "), F.col("n")))
    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.exchange.reuse", reuse)
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        two_phase = {
            r.doc_id: (r.start_offset, r.first_bin, r.last_bin)
            for r in pack_sequences(df, window=32).collect()
        }
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    w = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    naive = {
        r.doc_id: (r.s, r.s // 32, (r.s + r.n - 1) // 32)
        for r in df.withColumn(
            "s", F.coalesce(F.sum("n").over(w), F.lit(0))
        ).collect()
    }
    assert two_phase == naive


# ---------------------------------------------------------------------------
# bigram novelty (integer-exact CCNet LM-filter analog)
# ---------------------------------------------------------------------------


def test_bigram_novelty_planted(spark):
    from reffy_spark.operators.text_analysis import bigram_novelty

    rows = [
        (0, "the quick fox"),        # bigrams: (the,quick),(quick,fox)
        (1, "the quick dog"),        # shares (the,quick) with doc 0
        (2, "one"),                  # < 2 tokens -> zero row
        (3, ""),                     # empty -> zero row
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in bigram_novelty(docs).collect()}
    assert set(out) == {0, 1, 2, 3}
    # (the,quick) occurs twice corpus-wide; the tail bigrams once each
    assert out[0]["n_bigrams"] == 2
    assert out[0]["sum_count"] == 2 + 1
    assert out[0]["n_singleton_bigrams"] == 1
    assert out[0]["mean_bigram_count"] == 1.5
    assert out[0]["novelty_frac"] == 0.5
    assert out[1] == {**out[0], "doc_id": 1}  # symmetric twin
    for d in (2, 3):
        assert out[d]["n_bigrams"] == 0
        assert out[d]["sum_count"] == 0
        assert out[d]["novelty_frac"] == 0.0


def test_bigram_novelty_within_doc_repeat(spark):
    from reffy_spark.operators.text_analysis import bigram_novelty

    # "a b a b": bigrams (a,b),(b,a),(a,b) -> (a,b) counts 2, (b,a) 1
    docs = spark.createDataFrame([(5, "a b a b")], ["doc_id", "text"])
    row = bigram_novelty(docs).collect()[0]
    assert row["n_bigrams"] == 3
    assert row["sum_count"] == 2 + 1 + 2
    assert row["n_singleton_bigrams"] == 1


def test_bigram_novelty_boilerplate_vs_garbage(spark):
    from reffy_spark.operators.text_analysis import bigram_novelty

    boiler = [(i, "all rights reserved contact us") for i in range(5)]
    garbage = [(99, "zxq vrk jjw qqpl mnop")]
    docs = spark.createDataFrame(boiler + garbage, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in bigram_novelty(docs).collect()}
    assert out[0]["novelty_frac"] == 0.0   # phrasing shared by 5 docs
    assert out[99]["novelty_frac"] == 1.0  # phrasing unique to the doc


def test_doc_keywords_rank_and_ties(spark):
    from reffy_spark.operators.text_analysis import doc_keywords

    docs = spark.createDataFrame(
        [(0, "zz zz yy yy aa bb cc dd ee the the the")], ["doc_id", "text"]
    )
    rows = sorted(doc_keywords(docs).collect(), key=lambda r: r["rank"])
    # stopword "the" excluded despite highest tf; tf ties break by token;
    # the top 5 of the 7 keywords are kept
    assert [(r["token"], r["tf"], r["rank"]) for r in rows] == [
        ("yy", 2, 1), ("zz", 2, 2), ("aa", 1, 3), ("bb", 1, 4), ("cc", 1, 5)
    ]


def test_doc_keywords_df_counts_docs_not_occurrences(spark):
    from reffy_spark.operators.text_analysis import doc_keywords

    docs = spark.createDataFrame(
        [(0, "apple apple apple"), (1, "apple pear")], ["doc_id", "text"]
    )
    out = {(r["doc_id"], r["token"]): r for r in doc_keywords(docs).collect()}
    assert out[(0, "apple")]["df"] == 2   # 2 docs, not 4 occurrences
    assert out[(0, "apple")]["tf"] == 3
    assert out[(1, "pear")]["df"] == 1
