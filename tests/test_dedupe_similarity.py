"""Training-data ops: dedup, similarity, text analysis."""

import pytest
from pyspark.sql import functions as F

from reffy_spark.operators import dedupe as D
from reffy_spark.operators import similarity as S
from reffy_spark.operators import text_analysis as TA


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "unique")], "doc_id long, text string"
    )
    res = {r["doc_id"]: r for r in D.exact_duplicates(df).collect()}
    assert res[1]["is_canonical"] and not res[2]["is_canonical"]
    assert res[1]["dup_group"] == res[2]["dup_group"]
    assert res[3]["is_canonical"] and res[3]["group_size"] == 1


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words that share nothing at all with others here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = D.minhash_dedup_pairs(df, threshold=0.3).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(1, 2)]
    assert 0.3 <= pairs[0]["jaccard"] <= 1.0


def test_ngram_jaccard_identical_is_one(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")],
        "doc_id long, text string",
    )
    pairs = D.ngram_jaccard_pairs(df, threshold=0.9).collect()
    assert [(p["doc_a"], p["doc_b"], p["jaccard"]) for p in pairs] == [(1, 2, 1.0)]


def test_simhash_near_pairs(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    near = base.replace("tok7", "tokX")
    df = spark.createDataFrame([(1, base), (2, near)], "doc_id long, text string")
    pairs = D.simhash_near_pairs(df, max_hamming=3).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(1, 2)]


def test_cosine_topk_self_is_best(spark, emb):
    first = emb.orderBy("vec_id").first()
    res = S.cosine_topk(emb, list(first["embedding"]), k=3).collect()
    assert res[0]["vec_id"] == first["vec_id"]
    assert res[0]["cosine"] == pytest.approx(1.0, abs=1e-5)
    assert res[0]["cosine"] >= res[1]["cosine"] >= res[2]["cosine"]


def test_ann_lsh_recall_vs_bruteforce(spark, emb):
    q = list(emb.orderBy("vec_id").first()["embedding"])
    exact = [r["vec_id"] for r in S.cosine_topk(emb, q, k=5).collect()]
    approx = [r["vec_id"] for r in S.ann_topk_lsh(emb, q, dim=64, k=5, n_planes=4).collect()]
    # the query itself must be found; recall@5 must be non-trivial
    assert exact[0] in approx
    assert len(set(exact) & set(approx)) >= 2


def test_knn_join_rank_contract(spark, emb):
    sub = emb.limit(20)
    res = S.pairwise_topk_join(sub, sub, k=3).collect()
    by_a = {}
    for r in res:
        by_a.setdefault(r["id_a"], []).append(r)
    for a, rows in by_a.items():
        assert len(rows) == 3
        assert [r["rank"] for r in sorted(rows, key=lambda x: x["rank"])] == [1, 2, 3]
        best = min(rows, key=lambda r: r["rank"])
        assert best["id_b"] == a  # self is nearest


def test_profile_documents(docs):
    prof = TA.profile_documents(docs)
    rows = prof.limit(50).collect()
    assert all(r["n_tokens"] > 0 for r in rows)
    assert all(0.0 <= r["quality"] <= 1.0 for r in rows)
    assert all(r["lang_pred"] in ("en", "fr", "de", "und") for r in rows)
    assert all(0 <= r["fingerprint"] < 1_000_000_007 for r in rows)


def test_quality_filter_monotonic(docs):
    n_all = docs.count()
    n_q = TA.quality_filter(docs, 0.5).count()
    assert 0 < n_q <= n_all


def test_ann_multiprobe_recovers_recall(spark, sf_dir):
    # plant 20 deterministic near-duplicates (cosine ≈ 0.99) of query
    # vec 0 among the synthetic vectors: at 8 planes the single-bucket
    # probe measurably misses planted neighbors that fall just across a
    # hyperplane; probing the Hamming-1 neighbor buckets recovers them
    # (measured on this fixed draw: 0.80 → 0.95 recall)
    import hashlib
    import math

    from pyspark.sql import functions as F

    from reffy_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    qn = math.sqrt(sum(float(x) ** 2 for x in q))

    def noise(j, i):
        h = int(hashlib.md5(f"plant-{j}-{i}".encode()).hexdigest()[:15], 16)
        return (h % 2_000_001) / 1_000_000.0 - 1.0

    planted = []
    for j in range(20):
        g = [noise(j, i) for i in range(64)]
        gn = math.sqrt(sum(x * x for x in g))
        planted.append(
            (10_000 + j, [float(q[i]) + 0.15 * qn * g[i] / gn for i in range(64)])
        )
    allv = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(
        spark.createDataFrame(planted, "vec_id int, embedding array<double>")
    )

    def recall(hamming):
        got = S.ann_topk_lsh(allv, q, dim=64, k=20, n_planes=8, hamming=hamming)
        ids = {r["vec_id"] for r in got.collect()}
        return len([i for i in ids if i >= 10_000]) / 20

    r_single, r_multi = recall(0), recall(1)
    assert r_single <= 0.9  # the recall cliff multi-probe exists to fix
    assert r_multi >= 0.9
    assert r_multi > r_single


def test_ann_batch_matches_per_query_probes(spark, emb):
    """ann_topk_batch = per-query ann_topk_lsh, computed in ONE plan
    (VERDICT r6 #4: no per-query .first()/job)."""
    from pyspark.sql import functions as F

    queries = emb.filter(F.col("vec_id") % 100 == 0)
    batch = S.ann_topk_batch(
        emb, queries, dim=64, k=5, n_planes=6, hamming=1
    )
    rows = batch.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {r["vec_id"] for r in queries.collect()}
    for qid, got in by_q.items():
        qv = list(
            emb.filter(F.col("vec_id") == qid).first()["embedding"]
        )
        want = S.ann_topk_lsh(
            emb, qv, dim=64, k=5, n_planes=6, hamming=1
        ).collect()
        got_sorted = sorted(got, key=lambda r: r["rank"])
        assert [r["vec_id"] for r in got_sorted] == [r["vec_id"] for r in want]
        assert [r["cosine"] for r in got_sorted] == [r["cosine"] for r in want]
        assert [r["rank"] for r in got_sorted] == list(range(1, len(got) + 1))


def test_ann_batch_hamming2_matches_per_query(spark, emb):
    """hamming>1 expands the full multi-bit probe set (the r7 review
    found the batch form silently capping at hamming=1)."""
    from pyspark.sql import functions as F

    queries = emb.filter(F.col("vec_id") % 200 == 0)
    batch = S.ann_topk_batch(
        emb, queries, dim=64, k=5, n_planes=6, hamming=2
    )
    by_q = {}
    for r in batch.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, got in by_q.items():
        qv = list(emb.filter(F.col("vec_id") == qid).first()["embedding"])
        want = S.ann_topk_lsh(
            emb, qv, dim=64, k=5, n_planes=6, hamming=2
        ).collect()
        got_sorted = sorted(got, key=lambda r: r["rank"])
        assert [r["vec_id"] for r in got_sorted] == [r["vec_id"] for r in want]


def test_ann_batch_single_plan_shape(spark, emb):
    """One relational plan for N queries: no cartesian/nested-loop join,
    one per-query window, plain equi-join on bucket."""
    from pyspark.sql import functions as F

    queries = emb.filter(F.col("vec_id") % 100 == 0)
    out = S.ann_topk_batch(
        emb, queries, dim=64, k=5, n_planes=6, hamming=1
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.lower().count("windowspecdefinition") >= 1
    assert "query_id" in plan


def test_probe_buckets_hamming_set(spark):
    from reffy_spark.operators.similarity import lsh_bucket_py, probe_buckets

    vec = [1.0, -0.5] * 32
    qb = lsh_bucket_py(vec, n_planes=6)
    probes = probe_buckets(vec, n_planes=6, hamming=1)
    assert qb in probes and len(probes) == 7
    assert all(bin(p ^ qb).count("1") <= 1 for p in probes)


def test_connected_components_matches_union_find(spark):
    # irregular graph (two chains bridged by an extra edge + an isolated
    # pair) vs a driver-side union-find ground truth
    from reffy_spark.operators.dedupe import connected_components

    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (3, 10), (50, 60)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long").repartition(4)
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs).collect()
    }

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want
    # the bridged chains collapse into ONE component rooted at 1
    assert got[12] == 1 and got[60] == 50


def test_dedup_near_canonical_keeps_one_per_cluster(spark):
    from reffy_spark.operators.dedupe import dedup_near_canonical

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 5), (6, 7)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in dedup_near_canonical(docs, pairs).collect())
    # {1,2,5} -> keep 1; {6,7} -> keep 6; 0,3,4 unclustered
    assert kept == [0, 1, 3, 4, 6]


# ---------------------------------------------------------------------------
# IVF-flat ANN
# ---------------------------------------------------------------------------


def test_ivf_assignment_is_zero_shuffle(spark, sf_dir):
    from reffy_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = S.ivf_centroids(emb, n_centroids=8)
    plan = (
        S.ivf_assignments(emb, cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # argmax over centroid literals: no exchange, no window, no python
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_ivf_cells_partition_all_vectors(spark, sf_dir):
    from reffy_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cells = S.ivf_cells(emb, n_centroids=8).collect()
    assert sum(r["n_vectors"] for r in cells) == emb.count()
    assert len(cells) <= 8


def test_ivf_recall_vs_brute(spark, sf_dir):
    from reffy_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q0 = list(emb.filter("vec_id = 0").first()["embedding"])
    brute = [r["vec_id"] for r in S.cosine_topk(emb, q0, k=10).collect()]
    ivf = [
        r["vec_id"]
        for r in S.ann_topk_ivf(emb, q0, k=10, n_centroids=8, nprobe=2).collect()
    ]
    recall = len(set(brute) & set(ivf)) / 10
    assert recall >= 0.5  # nprobe=2 of 8 cells on synthetic vectors
    # probing every cell recovers brute force exactly
    full = [
        r["vec_id"]
        for r in S.ann_topk_ivf(emb, q0, k=10, n_centroids=8, nprobe=8).collect()
    ]
    assert full == brute


def _clustered_embeddings(spark, n_per=20, dim=8, layout="interleave"):
    """Deterministic 3-cluster corpus: well-separated axis centers (10.0
    on one axis) plus md5-derived per-point offsets in ±2 (no RNG —
    reproducible across runs and engines). ``layout='interleave'``
    spreads ids round-robin across clusters (a lucky first-n init);
    ``layout='block'`` puts the first n_per ids all in cluster 0 — the
    degenerate first-n-quantizer case trained centroids must beat."""
    import hashlib

    def off(i, d):
        h = int(hashlib.md5(f"{i},{d}".encode()).hexdigest()[:4], 16)
        return (h / 65535.0 - 0.5) * 4.0

    rows = []
    for i in range(3 * n_per):
        c = (i % 3) if layout == "interleave" else (i // n_per)
        base = [0.0] * dim
        base[c] = 10.0
        rows.append((i, [base[d] + off(i, d) for d in range(dim)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_kmeans_recovers_cluster_centers(spark):
    from reffy_spark.operators import similarity as S

    emb = _clustered_embeddings(spark)
    cents = S.ivf_kmeans(emb, n_centroids=3, n_iters=5)
    assert len(cents) == 3
    # each trained centroid has one dominant axis ~10, and the three
    # dominant axes are distinct (one centroid per cluster)
    dominant = set()
    for _, cvec in cents:
        mx = max(range(len(cvec)), key=lambda d: cvec[d])
        assert cvec[mx] > 8.0
        assert all(abs(v) < 2.0 for d, v in enumerate(cvec) if d != mx)
        dominant.add(mx)
    assert dominant == {0, 1, 2}


def test_ivf_kmeans_beats_first_n_quantizer(spark):
    """VERDICT r4 gap: the first-n quantizer is degenerate on clustered
    data (interleaved ids give near-identical seeds in ONE cluster);
    trained centroids must restore nprobe=1 recall."""
    from reffy_spark.operators import similarity as S

    emb = _clustered_embeddings(spark, layout="block")
    q = [0.0] * 8
    q[2] = 10.0  # a cluster-2 query
    brute = [r["vec_id"] for r in S.cosine_topk(emb, q, k=10).collect()]

    trained = S.ivf_kmeans(emb, n_centroids=3, n_iters=5)
    got_trained = [
        r["vec_id"]
        for r in S.ann_topk_ivf(
            emb, q, k=10, nprobe=1, centroids=trained
        ).collect()
    ]
    recall_trained = len(set(brute) & set(got_trained)) / 10
    assert recall_trained == 1.0  # the probed cell IS the true cluster

    first_n = S.ivf_centroids(emb, n_centroids=3)
    got_naive = [
        r["vec_id"]
        for r in S.ann_topk_ivf(
            emb, q, k=10, nprobe=1, centroids=first_n
        ).collect()
    ]
    recall_naive = len(set(brute) & set(got_naive)) / 10
    assert recall_trained > recall_naive


def test_ivf_kmeans_empty_cell_keeps_previous_centroid(spark):
    from reffy_spark.operators import similarity as S

    # seeds 0 and 1 are IDENTICAL vectors: every point ties to the
    # lowest centroid id, so cell 1 is empty from iteration 1 and must
    # keep its previous centroid (no NaN, no crash)
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cents = S.ivf_kmeans(emb, n_centroids=3, n_iters=3)
    assert len(cents) == 3
    assert cents[1] == (1, [1.0, 0.0])  # empty cell kept its seed
    for _, cvec in cents:
        assert all(v == v for v in cvec)  # no NaN


def test_minhash_signature_values_match_md5_reference(spark):
    """Pin signature VALUES to the independent md5 math (not just final
    pairs — exact-Jaccard verification can mask a broken hash family).
    Regression for the (element, index) higher-order-function binder
    silently overriding a `lambda s, p=p:` salt with the index column."""
    import hashlib

    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame([(1, base)], "doc_id long, text string")
    row = df.select(
        *D.minhash_from_shingles(D.shingles_col(F.col("text")), 16)
    ).first()

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    toks = base.split()
    shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    for p in range(16):
        expected = min(h60(f"{s}#{p}") for s in shingles)
        assert row[f"mh{p}"] == expected, p


# ---------------------------------------------------------------------------
# exact-substring (span-level) dedup — duplicate_spans
# ---------------------------------------------------------------------------


def test_duplicate_spans_planted(spark):
    from reffy_spark.operators.dedupe import duplicate_spans

    shared = "alpha beta gamma delta"  # 4 tokens, shared verbatim
    rows = [
        (0, shared + " one two"),            # first occurrence -> not dup
        (1, shared + " three four"),         # repeats the shared 4-gram
        (2, "totally different words here"),  # no dup
        (3, "tiny doc"),                      # shorter than the window
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r.asDict()
        for r in duplicate_spans(docs, window=4).collect()
    }
    # doc 0 owns the shared span (global first occurrence): zero dups
    assert out[0]["n_dup_windows"] == 0 and out[0]["dup_tokens"] == 0
    # doc 1's copy of the shared window is the duplicate; it covers
    # exactly the 4 tokens of the window at pos 0
    assert out[1]["n_dup_windows"] == 1
    assert out[1]["dup_tokens"] == 4
    assert out[1]["dup_token_frac"] == pytest.approx(4 / 6)
    assert out[2]["n_dup_windows"] == 0
    # sub-window doc: no windows at all, zero everything, frac 0
    assert out[3]["n_windows"] == 0 and out[3]["dup_token_frac"] == 0.0


def test_duplicate_spans_within_doc_repeat(spark):
    from reffy_spark.operators.dedupe import duplicate_spans

    # "a b a b a b": window=2 -> spans (a b),(b a),(a b),(b a),(a b);
    # first (a b)@0 and first (b a)@1 are owners; 3 later spans are dups
    docs = spark.createDataFrame([(7, "a b a b a b")], ["doc_id", "text"])
    row = duplicate_spans(docs, window=2).collect()[0]
    assert row["n_windows"] == 5
    assert row["n_dup_windows"] == 3
    # dup spans at pos 2,3,4 cover token positions 2..5 -> 4 tokens
    assert row["dup_tokens"] == 4
    assert row["dup_token_frac"] == pytest.approx(4 / 6)


def test_duplicate_spans_fast_mode_same_verdicts(spark):
    from reffy_spark.operators.dedupe import duplicate_spans

    rows = [(i, f"common prefix words here tail{i} end{i}") for i in range(6)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    a = duplicate_spans(docs, window=3, hash_mode="portable").orderBy("doc_id")
    b = duplicate_spans(docs, window=3, hash_mode="fast").orderBy("doc_id")
    assert a.collect() == b.collect()  # 60-bit md5 vs xxhash64: same truth


def test_duplicate_spans_no_window_over_data(spark):
    from reffy_spark.operators.dedupe import duplicate_spans

    docs = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    plan = (
        duplicate_spans(docs, window=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the first-occurrence rule must be a partial-aggregable min, never a
    # per-whash window sort (the politeness-rank skew lesson)
    assert "Window" not in plan
