"""Deduplication operators for web-text corpora at training-data scale.

The reference's crawl dedupes URLs, not content; these operators extend
the engine with the content-level dedup a 100 TB text pipeline needs
(exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding near-dup).

Design constraints:
* Every kernel is deterministic and **engine-portable**: hashes are
  derived from md5 hex (identical in Spark and DuckDB), so the driver's
  DuckDB oracle can run the same math (`conv(substr(md5(x),1,15),16,10)`
  ≡ `('0x'||substr(md5(x),1,15))::BIGINT`).
* Hot paths are pure Column expressions (whole-stage codegen); no Python
  UDFs anywhere in this module.
* Scale: candidate generation is always *banded* (LSH buckets / length
  bands) so the pair space is near-linear, never a full cross join;
  verification joins happen only within buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from reffy_spark.functions.text import token_count_col, tokens_col

# portable 60-bit hash of a string expression
def h60(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def salted_hash(c: Column, salt: int, hash_mode: str = "portable") -> Column:
    """Salted 64-bit hash of a string expression.

    ``portable`` = md5-derived (reproducible in DuckDB — the oracle path).
    ``fast`` = xxhash64 with the salt as an extra hashed column (JVM
    single-instruction-class hash — the production path; at 100 TB the
    16-permutation md5 tax is the dominant CPU line, see BENCH notes).
    """
    if hash_mode == "fast":
        return F.xxhash64(c, F.lit(salt))
    return h60(F.concat(c, F.lit(f"#{salt}")))


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Group identical texts; emit one row per doc with its group and a
    canonical flag (lowest id wins). Hash-groupBy: one shuffle on the
    digest, partial aggregation map-side."""
    d = docs.select("doc_id", F.md5(F.col("text")).alias("digest"))
    w = Window.partitionBy("digest").orderBy("doc_id")
    return (
        d.withColumn("rank_in_group", F.row_number().over(w))
        .withColumn("group_size", F.count("*").over(Window.partitionBy("digest")))
        .select(
            "doc_id",
            F.col("digest").alias("dup_group"),
            (F.col("rank_in_group") == 1).alias("is_canonical"),
            F.col("group_size").cast("long").alias("group_size"),
        )
    )


# ---------------------------------------------------------------------------
# Shingles + MinHash + LSH
# ---------------------------------------------------------------------------


def shingles_col(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct), as an array<string> Column.

    Docs shorter than n tokens get an empty array: Spark's
    ``sequence(1, 0)`` DESCENDS to [1, 0] (unlike DuckDB's empty
    ``range``), which would feed slice() an invalid 0 start."""
    toks = tokens_col(text)
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def minhash_from_shingles(
    sh: Column, k: int = 16, hash_mode: str = "portable"
) -> list[Column]:
    """k MinHash values over a (pre-computed) shingles column: min over
    shingles of a salted hash (see ``salted_hash`` for the
    portable/fast trade-off). The shingles MUST be a plain column
    reference, not an expression — otherwise every permutation
    re-evaluates the tokenize+shingle pipeline (16× blowup).

    The per-permutation lambda comes from a closure factory: a
    ``lambda s, p=p:`` two-parameter signature looks like an
    (element, index) callable to PySpark's higher-order-function
    binder, which then OVERRIDES the default with the element-index
    Column — the salt silently became ``str(index_column)`` (an
    unstable per-process repr), making the hash family
    environment-dependent. Exact-Jaccard verification masked it in the
    final pairs; the signature values were wrong."""

    def _perm(p: int):
        return lambda s: salted_hash(s, p, hash_mode)

    return [
        F.array_min(F.transform(sh, _perm(p))).alias(f"mh{p}")
        for p in range(k)
    ]


def spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin-repartition a compute-heavy input whose scan produces
    at most half as many partitions as the cluster has slots (a single small
    parquet file at bench scale = ONE task doing all the md5 work). At
    100 TB the scan already yields thousands of splits and this is a
    no-op; the shuffle it adds at small scale moves only the raw input
    rows once.

    The decision runs no job: ``planned_partitions`` reads the count off
    the physical plan (leaf scan splits, a loaded cache's blocks, a
    shuffle). ``df.rdd.getNumPartitions()`` would execute the input's
    shuffle and broadcast stages under AQE, as jobs outside any SQL
    execution, while the consumer's plan is still being built."""
    from reffy_spark.plan_stats import planned_partitions

    target = df.sparkSession.sparkContext.defaultParallelism
    n = planned_partitions(df)
    if n is not None and n * 2 <= target:
        return df.repartition(target)
    return df


def has_shingles_filter(docs: DataFrame, n: int) -> DataFrame:
    """Drop docs that cannot produce an n-gram shingle (< n tokens).

    Equivalent to ``filter(size(sh) > 0)`` AFTER computing shingles
    (``shingles_col`` yields a non-empty distinct-gram array exactly when
    ``size(tokens) >= n``), but expressed on the raw text column so that
    predicate pushdown duplicates only the CHEAP tokenize pass into the
    scan — not the whole shingle pipeline. The r8 plan audit found the
    pushed ``size(sh) > 0`` twin evaluating the full tokenize+slice+
    concat+distinct chain inside the scan's Filter, BELOW the
    ``spread_small_input`` exchange, i.e. single-task on a one-split
    local file (guide §2.5 input-skew shape: 3.5 s of the bench's
    minhash cost was this one pushed predicate)."""
    return docs.filter(F.size(tokens_col(F.col("text"))) >= n)


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    materialize: bool = False,
) -> DataFrame:
    """MinHash-LSH banding: hash each band of the signature, bucket-join.

    Returns distinct candidate pairs (doc_a < doc_b). The only shuffle is
    the per-band groupBy on (band, band_hash); pairs are generated inside
    buckets via a self-equi-join on the bucket key — never a cross join.

    ``materialize=True`` checkpoints the slim banded table (doc_id + one
    hash per band) before the self-join: without it BOTH join sides
    re-evaluate the k-permutation MinHash lineage (guide §2.4 — a
    self-join is two consumers of the same expensive subtree; at scale
    the banded table is the intermediate you would write out anyway).
    """
    k = bands * rows_per_band
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.md5(F.concat_ws(",", *[p.cast("string") for p in parts])).alias(f"band{b}")
        )
    banded = sigs.select("doc_id", *band_cols)
    if materialize:
        banded = banded.localCheckpoint(eager=True)
    stacked = banded.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bh"))
                for b in range(bands)
            ])
        ).alias("e"),
    ).select("doc_id", "e.band", "e.bh")
    left = stacked.alias("l")
    right = stacked.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    k: int = 16,
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.7,
    hash_mode: str = "portable",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates
    → exact Jaccard verification on shingle sets (computed only for
    candidate pairs). Returns (doc_a, doc_b, jaccard) with jaccard ≥
    threshold, rounded to 6 decimals (oracle-stable).

    r8 shape: the shingle table is computed ONCE and checkpointed — it
    feeds the signature pass and BOTH sides of the verification join,
    which previously re-ran the tokenize+shingle lineage three times
    (guide §8 step 1: fingerprint once, reuse the materialized proxy).
    The pre-filter to docs with ≥ n tokens is a no-op for the result
    (candidates always have signatures, hence ≥ n tokens) and keeps the
    pushed-down predicate cheap (see ``has_shingles_filter``)."""
    rows_per_band = k // bands
    sh = (
        spread_small_input(has_shingles_filter(docs, n))
        .select("doc_id", shingles_col(F.col("text"), n).alias("sh"))
        .localCheckpoint(eager=True)
    )
    sigs = sh.select("doc_id", *minhash_from_shingles(F.col("sh"), k, hash_mode))
    cand = lsh_candidate_pairs(sigs, bands, rows_per_band, materialize=True)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


# ---------------------------------------------------------------------------
# n-gram Jaccard (direct, length-banded)
# ---------------------------------------------------------------------------


# ngram_jaccard_pairs compares only docs whose shingle counts are within
# a factor 1/_LENGTH_BAND_RATIO of each other
_LENGTH_BAND_RATIO = 0.5


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs n-gram Jaccard above a threshold.

    Candidate generation is an EQUI-join on a log-length bucket: docs
    whose shingle counts are within a factor ``1/_LENGTH_BAND_RATIO``
    (necessary for J ≥ ratio) have bucket values differing by at most 1,
    so each doc is exploded to buckets {g, g+1} and pairs meet on a shared
    bucket — a shuffle-hash join, never a nested-loop/cartesian plan (the
    exact ratio predicate stays as a post-filter). The primary-copy rule
    (accept a pair only when at least one side sits in its own bucket g)
    emits each pair exactly once without a distinct over the payload.
    """
    inv = 1.0 / _LENGTH_BAND_RATIO
    # cheap pushable prefilter + one checkpointed shingle pass shared by
    # both sides of the self-join (same r8 rationale as
    # ``minhash_dedup_pairs``; ``n_sh > 0`` ⇔ ``size(tokens) >= n``)
    sh = (
        spread_small_input(has_shingles_filter(docs, n))
        .select("doc_id", shingles_col(F.col("text"), n).alias("sh"))
        .withColumn("n_sh", F.size("sh"))
        .localCheckpoint(eager=True)
    )
    g = F.floor(F.log(float(inv), F.col("n_sh"))).cast("long")
    stacked = sh.select(
        "doc_id",
        "sh",
        "n_sh",
        F.explode(
            F.array(
                F.struct(g.alias("bucket"), F.lit(True).alias("primary")),
                F.struct((g + 1).alias("bucket"), F.lit(False).alias("primary")),
            )
        ).alias("e"),
    ).select("doc_id", "sh", "n_sh", "e.bucket", "e.primary")
    a = stacked.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("na"), "bucket", F.col("primary").alias("pa"),
    )
    b = stacked.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("nb"), "bucket", F.col("primary").alias("pb"),
    )
    pairs = a.join(b, on="bucket").filter(
        (F.col("doc_a") < F.col("doc_b"))
        & (F.col("pa") | F.col("pb"))
        & (F.col("na") >= F.col("nb") * F.lit(_LENGTH_BAND_RATIO))
        & (F.col("nb") >= F.col("na") * F.lit(_LENGTH_BAND_RATIO))
    )
    return (
        pairs.withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32
# simhash_near_pairs' bit slices: recall is exact up to hamming 3
SIMHASH_BANDS = 4


def token_hashes_col(text: Column) -> Column:
    """Per-token hash array feeding the SimHash bit votes."""
    return F.transform(tokens_col(text), lambda t: h60(t))


def simhash_from_hashes(hashes: Column) -> Column:
    """Fold a token-hash array into the SimHash fingerprint.

    For each bit j: majority vote of token-hash bit j (+1/-1); the
    fingerprint sets bit j when the vote is ≥ 0. Integer sums — any
    evaluation order yields the same fingerprint."""

    def bit_vote(j: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << j)) != 0, F.lit(1)).otherwise(F.lit(-1)),
        )

    out = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        out = out + F.when(bit_vote(j) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out


def simhash_table(docs: DataFrame) -> DataFrame:
    """Two-level projection: the token-hash array is materialized by the
    lower Project and the 32 bit votes read it as a column reference.
    CollapseProject keeps the split (the array expression is non-cheap
    and referenced ``SIMHASH_BITS`` times), so the tokenize+hash pass
    runs ONCE per row instead of once per bit — guide §1.2 "per-task
    work"; r8
    measured 1.64 s → 0.24 s on the bench query, bit-identical."""
    lower = spread_small_input(docs).select(
        "doc_id", token_hashes_col(F.col("text")).alias("_th")
    )
    return lower.select(
        "doc_id", simhash_from_hashes(F.col("_th")).alias("simhash")
    )


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Candidate generation bands the fingerprint into ``SIMHASH_BANDS`` bit
    slices and buckets on (band, slice): by pigeonhole, any pair with
    hamming ≤ SIMHASH_BANDS-1 shares at least one unchanged band, so
    recall is EXACT for max_hamming ≤ SIMHASH_BANDS-1.
    Verification = bit_count(xor) inside buckets only.
    """
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    # checkpoint: the banded self-join below consumes the fingerprint
    # table twice — without this both sides re-run the simhash pass
    sh = simhash_table(docs).localCheckpoint(eager=True)
    stacked = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("simhash", b * band_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("slice"),
                )
                for b in range(SIMHASH_BANDS)
            ])
        ).alias("e"),
    ).select("doc_id", "simhash", "e.band", "e.slice")
    a = stacked.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "band", "slice"
    )
    b = stacked.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "band", "slice"
    )
    return (
        a.join(b, ["band", "slice"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# Near-dup clusters: connected components + canonical-document dedup
# ---------------------------------------------------------------------------


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an (id_a, id_b) near-duplicate pair
    table → (doc_id, component) where ``component`` is the smallest doc id
    reachable. Candidate PAIRS are only half of large-scale dedup: the
    keep-one-per-cluster decision needs the transitive closure (a~b,
    b~c ⇒ keep one of {a,b,c}), so this is the step between
    ``minhash_pairs``/``simhash_pairs`` and the actual drop.

    Algorithm: min-label propagation to fixpoint — labels start as the
    node id; every iteration each node takes the min of its own and its
    neighbors' labels (one shuffle per iteration over the edge list,
    partial-aggregated map-side). Near-dup graphs from banded LSH are
    union-of-cliques-ish with tiny diameters, so this converges in a
    handful of rounds (at most 25 run); the per-iteration driver action
    is the convergence check (an iterative algorithm's BSP barrier, same
    pattern as the crawl loop). At 10^10 scale swap in the
    large-star/small-star variant to bound skew on giant components —
    the interface stays (pairs) → (doc_id, component).
    """
    spark = pairs.sparkSession
    # symmetrize once; self-loops are harmless and dropped by the min
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _i in range(25):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id, "inner")
            .groupBy("src")
            .agg(F.min("component").alias("_nmin"))
        )
        updated = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce(F.col("_nmin"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("_nmin"), F.col("component")) < F.col("component"))
                .alias("_changed"),
            )
        ).localCheckpoint(eager=True)
        changed = updated.filter(F.col("_changed")).limit(1).count()
        labels = updated.drop("_changed")
        if changed == 0:
            break
    return labels


def dedup_near_canonical(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Keep one document per near-duplicate cluster (the smallest doc id
    — the deterministic "primary copy" rule used across the dedupe
    family); documents in no cluster pass through untouched."""
    comp = connected_components(pairs).withColumnRenamed("doc_id", "_cc_id")
    joined = docs.join(comp, docs["doc_id"] == comp["_cc_id"], "left")
    return (
        joined.filter(
            F.col("component").isNull() | (F.col("component") == F.col("doc_id"))
        )
        .drop("_cc_id", "component")
    )


# ---------------------------------------------------------------------------
# exact-substring (span-level) dedup — Lee et al. 2022, arXiv:2107.06499
# ---------------------------------------------------------------------------


def span_fingerprints(
    docs: DataFrame,
    window: int = 50,
    hash_mode: str = "portable",
) -> DataFrame:
    """One row per length-``window`` token span: (doc_id, n_tokens, pos,
    whash). The ExactSubstr candidate generator (Lee et al. 2022 use a
    suffix array over the concatenated corpus; the distributed analog is
    fingerprinting every token window — same duplicated-span set for
    spans of exactly ``window`` tokens, and a hash-groupBy instead of a
    corpus-wide sorted structure).

    ``hash_mode="portable"`` = md5-derived 60-bit hash (the DuckDB
    oracle replays it); ``"fast"`` = xxhash64, same plan shape. The
    explode is narrow (hash computed in the scan stage, token array
    dropped in the same projection) — the corpus-sized shuffle happens
    only in the consumer's groupBy(whash), where uniform hash keys give
    skew-free partial aggregation.
    """
    toks = tokens_col(F.col("text"))
    d = docs.select(
        "doc_id",
        toks.alias("_toks"),
        F.size(toks).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= window)
    e = d.select(
        "doc_id",
        "n_tokens",
        "_toks",
        F.explode(
            F.sequence(F.lit(0), (F.col("n_tokens") - window).cast("int"))
        ).alias("pos"),
    )
    span_str = F.concat_ws(
        "\x1f", F.slice(F.col("_toks"), F.col("pos") + 1, window)
    )
    whash = F.xxhash64(span_str) if hash_mode == "fast" else h60(span_str)
    return e.select(
        "doc_id", "n_tokens", F.col("pos").cast("long").alias("pos"),
        whash.alias("whash"),
    )


def duplicate_spans(
    docs: DataFrame,
    window: int = 50,
    hash_mode: str = "portable",
) -> DataFrame:
    """Per-document duplicated-span profile (ExactSubstr dedup metric):

      (doc_id, n_tokens, n_windows, n_dup_windows, dup_tokens,
       dup_token_frac)

    A span is DUPLICATED when an identical token window occurs earlier
    in the corpus (global first-occurrence-wins, ordered by
    (doc_id, pos) — the same deterministic primary-copy rule as
    ``line_dedup`` / ``dedup_near_canonical``); ``dup_tokens`` counts
    the distinct token positions covered by the union of a doc's
    duplicated spans — the token mass ExactSubstr dedup would cut.

    Scale shape (100 TB): the only corpus-sized shuffle is
    groupBy(whash) — a partial-aggregable min/count over uniform 60-bit
    keys (no skew, no window function over data); span coverage is a
    bounded re-explode of ONLY the duplicated spans (worst case
    window × n_dup_windows rows) followed by a doc_id-keyed distinct
    that co-partitions with the final join.
    """
    fp = span_fingerprints(docs, window, hash_mode)
    owners = fp.groupBy("whash").agg(
        F.min(F.struct("doc_id", "pos")).alias("_first"),
        F.count("*").alias("_occ"),
    )
    marked = fp.join(owners, "whash")
    dup = marked.filter(
        (F.col("_occ") > 1)
        & ~(
            (F.col("doc_id") == F.col("_first.doc_id"))
            & (F.col("pos") == F.col("_first.pos"))
        )
    )
    dup_w = dup.groupBy("doc_id").agg(F.count("*").alias("n_dup_windows"))
    cov = (
        dup.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + window - 1)
            ).alias("_t"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("dup_tokens"))
    )
    base = docs.select(
        "doc_id",
        token_count_col(F.col("text")).cast("long").alias("n_tokens"),
    ).withColumn(
        "n_windows",
        F.greatest(F.col("n_tokens") - window + 1, F.lit(0)).cast("long"),
    )
    out = (
        base.join(dup_w, "doc_id", "left")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_windows",
            F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long").alias(
                "n_dup_windows"
            ),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias(
                "dup_tokens"
            ),
        )
        .withColumn(
            "dup_token_frac",
            F.when(
                F.col("n_tokens") > 0,
                F.col("dup_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
    )
    return out
