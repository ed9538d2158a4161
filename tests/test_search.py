"""Search operators: exact top-k (pruned impl == crossJoin oracle),
ANN recall bar (VERDICT r1 item 7: >= 0.9 @ k=5 on the driver's
embeddings), sparse inverted top-k, rerank ordering."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from embedding_to_vectordatabase_spark.operators.search import (
    ann_topk_bucketed,
    ann_topk_ivf,
    dense_topk,
    dense_topk_crossjoin,
    explode_sparse,
    point_query,
    rerank,
    sparse_topk_inverted,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _key_set(rows):
    return {(r["query_id"], r["vec_id"]) for r in rows}


@pytest.mark.parametrize("metric", ["IP", "COSINE", "L2"])
def test_dense_topk_matches_crossjoin(emb, queries, metric):
    fast = dense_topk(emb, queries, k=5, metric=metric).collect()
    slow = dense_topk_crossjoin(emb, queries, k=5, metric=metric).collect()
    assert _key_set(fast) == _key_set(slow)
    # ranks agree pairwise too
    fr = {(r["query_id"], r["vec_id"]): r["rank"] for r in fast}
    sr = {(r["query_id"], r["vec_id"]): r["rank"] for r in slow}
    assert fr == sr


def test_dense_topk_self_is_rank1_cosine(emb, queries):
    out = dense_topk(emb, queries, k=1, metric="COSINE").collect()
    assert all(r["query_id"] == r["vec_id"] for r in out)


def test_dense_topk_k0_empty(emb, queries):
    """k=0 must return an empty frame, not crash the argpartition
    fast path (np.argpartition(key, -1) -> key[part].max() on an
    empty slice raised in the executor; ADVICE r7)."""
    assert dense_topk(emb, queries, k=0, metric="COSINE").count() == 0


def test_ann_recall_bar(emb, queries):
    exact = _key_set(dense_topk(emb, queries, k=5, metric="COSINE").collect())
    approx = _key_set(
        ann_topk_bucketed(
            emb, queries, k=5, metric="COSINE", bits=6, probe_radius=4
        ).collect()
    )
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9


def test_ann_prunes_at_radius1(emb, queries):
    """Radius-1 multiprobe must score well under the full corpus per
    query (the pruning contract; recall is data-dependent)."""
    out = ann_topk_bucketed(
        emb, queries, k=5, metric="COSINE", bits=6, probe_radius=1
    )
    assert out.count() <= 5 * 5


def test_mllib_similarity_join(emb, queries):
    from embedding_to_vectordatabase_spark.operators.search import (
        ann_similarity_join_mllib,
    )

    out = ann_similarity_join_mllib(
        emb, queries, distance_threshold=0.5, num_hash_tables=4
    ).collect()
    # each query's own vector is within any positive distance of itself
    hits = {(r["query_id"], r["vec_id"]) for r in out}
    assert {(i, i) for i in range(5)} <= hits
    assert all(r["l2"] <= 0.5 for r in out)


def test_ivf_recall_and_determinism(emb, queries):
    exact = _key_set(dense_topk(emb, queries, k=5, metric="COSINE").collect())
    a = ann_topk_ivf(
        emb, queries, k=5, metric="COSINE", nlist=16, nprobe=8
    ).collect()
    recall = len(exact & _key_set(a)) / len(exact)
    assert recall >= 0.8  # unstructured embeddings; clustered data does better
    b = ann_topk_ivf(
        emb, queries, k=5, metric="COSINE", nlist=16, nprobe=8
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # seeded kmeans


def test_ivf_training_sample_spreads_across_sorted_corpus(spark):
    """Centroid training must not read only the corpus prefix: on a
    corpus SORTED by cluster, a prefix sample sees one cluster and the
    quantizer collapses. The per-partition-head sample must yield
    centroids near both clusters."""
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        _train_ivf_centroids,
    )

    rng = np.random.default_rng(3)
    a = rng.standard_normal((3000, 8)) + 20.0   # cluster A first
    b = rng.standard_normal((3000, 8)) - 20.0   # cluster B second
    rows = [(i, v.astype("float32").tolist()) for i, v in enumerate(np.vstack([a, b]))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = _train_ivf_centroids(
        df, "embedding", nlist=4, seed=1, train_fraction=None, n_corpus=None
    )
    means = cent.mean(axis=1)
    assert (means > 10).any() and (means < -10).any()


def test_ivf_prunes(emb, queries):
    out = ann_topk_ivf(
        emb, queries, k=5, metric="COSINE", nlist=16, nprobe=2
    )
    assert out.count() <= 5 * 5


def test_ivf_persisted_index_matches_inline(spark, emb, queries, tmp_path_factory):
    """build_ivf_index + ann_topk_ivf_index must reproduce the inline
    ann_topk_ivf results exactly (same seed/params -> same centroids ->
    same lists -> same candidates), with training paid ONCE at build."""
    from embedding_to_vectordatabase_spark.operators.search import (
        ann_topk_ivf_index,
        build_ivf_index,
    )

    idx = str(tmp_path_factory.mktemp("ivf") / "index")
    nlist_eff = build_ivf_index(emb, idx, nlist=16, seed=42)
    assert 1 <= nlist_eff <= 16
    cent = spark.read.parquet(f"{idx}/centroids.parquet")
    assert cent.count() == nlist_eff
    assigns = spark.read.parquet(f"{idx}/assignments.parquet")
    assert assigns.count() == emb.count()
    assert assigns.select("list_id").distinct().count() <= nlist_eff

    inline = ann_topk_ivf(
        emb, queries, k=5, metric="COSINE", nlist=16, nprobe=8, seed=42
    ).collect()
    indexed = ann_topk_ivf_index(
        spark, idx, emb, queries, k=5, metric="COSINE", nprobe=8
    ).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, indexed))


def test_ivf_index_upsert_searches_new_vectors(spark, emb, tmp_path_factory):
    """upsert_ivf_index appends assignments for a new batch without
    retraining: searching the index over the unioned corpus must
    equal a fresh full build's results when the centroids are the
    same (upsert reuses the stored quantizer)."""
    from embedding_to_vectordatabase_spark.operators.search import (
        ann_topk_ivf_index,
        build_ivf_index,
        upsert_ivf_index,
    )

    base = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)
    idx = str(tmp_path_factory.mktemp("ivf_up") / "index")
    build_ivf_index(base, idx, nlist=16, seed=42)
    n_before = spark.read.parquet(f"{idx}/assignments.parquet").count()
    appended = upsert_ivf_index(idx, batch)
    assigns = spark.read.parquet(f"{idx}/assignments.parquet")
    assert appended == batch.count()
    assert assigns.count() == n_before + appended
    # a query vector FROM the new batch must now retrieve itself
    full = base.unionByName(batch)
    newq = batch.limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann_topk_ivf_index(
        spark, idx, full, newq, k=1, metric="COSINE", nprobe=8
    ).collect()
    assert len(got) == 1
    assert got[0]["vec_id"] == got[0]["query_id"]


def test_sparse_topk_inverted(spark):
    corpus = spark.createDataFrame(
        [(1, {1: 1.0, 2: 2.0}), (2, {2: 5.0}), (3, {9: 4.0})],
        "doc_id long, sv map<int,float>",
    )
    qs = spark.createDataFrame(
        [(0, {2: 1.0})], "query_id long, sv map<int,float>"
    )
    cp = explode_sparse(corpus, "sv", "doc_id")
    qp = explode_sparse(qs, "sv", "query_id", id_alias="query_id")
    out = sparse_topk_inverted(cp, qp, k=2).collect()
    got = [(r["doc_id"], r["score"], r["rank"]) for r in
           sorted(out, key=lambda r: r["rank"])]
    assert got == [(2, 5.0, 1), (1, 2.0, 2)]  # doc 3 shares no token


@pytest.mark.parametrize("metric", ["IP", "COSINE", "L2"])
def test_dense_topk_quantized_recall(emb, queries, metric):
    """VERDICT r5 item 4: int8 scan + exact re-rank must recover the
    exact top-k (recall@5 >= 0.99 contract; on this fixture exact)."""
    from embedding_to_vectordatabase_spark.operators.search import (
        dense_topk_quantized,
    )

    exact = _key_set(dense_topk(emb, queries, k=5, metric=metric).collect())
    quant = _key_set(
        dense_topk_quantized(emb, queries, k=5, metric=metric).collect()
    )
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.99, f"{metric} recall {recall}"


def test_dense_topk_quantized_materialized_codes(spark, emb, queries, tmp_path_factory):
    """The production path: codes built once at write time (4x smaller
    column), scan reads ONLY (id, codes, scale) — results must equal
    the inline-quantization path, and re-ranked scores are the exact
    float scores (match dense_topk's values, not just its id set)."""
    from embedding_to_vectordatabase_spark.functions.vector import (
        quantize_int8,
    )
    from embedding_to_vectordatabase_spark.operators.search import (
        dense_topk_quantized,
    )

    path = str(tmp_path_factory.mktemp("quant") / "emb_q.parquet")
    emb.select(
        "vec_id", "embedding", quantize_int8(F.col("embedding")).alias("q8")
    ).write.parquet(path)
    store = spark.read.parquet(path)
    out = dense_topk_quantized(
        store, queries, k=5, metric="COSINE", quant_col="q8"
    ).collect()
    exact = dense_topk(emb, queries, k=5, metric="COSINE").collect()
    got = {(r["query_id"], r["vec_id"]): round(r["score"], 9) for r in out}
    want = {(r["query_id"], r["vec_id"]): round(r["score"], 9) for r in exact}
    assert got == want


def test_score_block_l2_bounded_memory():
    """VERDICT r5 item 5: the L2 kernel must stay O(batch × Q), never
    materializing the (batch × Q × dim) difference tensor. At
    batch=2000, Q=1000, dim=256 the tensor form would allocate ~4 GB;
    the matmul identity stays under ~100 MB. numpy allocations are
    tracemalloc-tracked, so assert the peak directly."""
    import tracemalloc

    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        _score_block,
    )

    rng = np.random.default_rng(7)
    X = rng.normal(size=(2000, 256))
    Q = rng.normal(size=(1000, 256))
    tracemalloc.start()
    tracemalloc.reset_peak()
    S = _score_block(X, Q, "L2")
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 200 * 1024 * 1024, f"L2 kernel peak {peak/1e6:.0f} MB"
    # and it is the exact L2: spot-check vs the elementwise form on a slice
    ref = np.sqrt(((X[:5, None, :] - Q[None, :50, :]) ** 2).sum(axis=2))
    assert np.allclose(S[:5, :50], ref)


def test_sparse_topk_df_pruning_caps_hot_token(spark):
    """VERDICT r5 item 6: a stop-token present in 50% of docs must be
    pruned by max_doc_freq so its posting list never becomes a hot
    join key; scores then range over the surviving token space."""
    # 200 docs: token 7 in all even docs (df=100, the stop-token);
    # token d in doc d only (df=1). Query hits both token spaces.
    rows = []
    for d in range(200):
        if d % 2 == 0:
            rows.append((d, 7, 1.0))
        rows.append((d, 1000 + d, float(d + 1)))
    cp = spark.createDataFrame(rows, "doc_id long, token int, weight double")
    qp = spark.createDataFrame(
        [(0, 7, 10.0), (0, 1003, 1.0)],
        "query_id long, token int, weight double",
    )
    out = sparse_topk_inverted(cp, qp, k=5, max_doc_freq=50).collect()
    # token 7 pruned (df=100 > 50): only doc 3 scores, via its own token
    assert [(r["doc_id"], r["score"]) for r in out] == [(3, 4.0)]
    # cap off: the stop-token floods back in (100 even docs score 10.0)
    full = sparse_topk_inverted(cp, qp, k=5, max_doc_freq=None).collect()
    assert len(full) == 5
    assert all(r["score"] >= 10.0 for r in full)


def _sparse_fixture(spark):
    """200 docs: token 7 in every even doc (df=100, the stop-token);
    token 1000+d in doc d only (df=1). Query hits both spaces."""
    rows = []
    for d in range(200):
        if d % 2 == 0:
            rows.append((d, 7, 1.0))
        rows.append((d, 1000 + d, float(d + 1)))
    cp = spark.createDataFrame(rows, "doc_id long, token int, weight double")
    qp = spark.createDataFrame(
        [(0, 7, 10.0), (0, 1003, 1.0), (1, 1108, 2.0)],
        "query_id long, token int, weight double",
    )
    return cp, qp


def _rows_key(rows):
    return sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
        for r in rows
    )


def test_sparse_index_matches_inline(spark, tmp_path):
    """build_sparse_index + sparse_topk_index must return EXACTLY what
    sparse_topk_inverted returns on the same postings — with the df
    cap on, off, and at a boundary value (the scoring is exact, so
    index==inline is value equality, not recall)."""
    from embedding_to_vectordatabase_spark.operators.search import (
        build_sparse_index,
        sparse_topk_index,
    )

    cp, qp = _sparse_fixture(spark)
    path = str(tmp_path / "sparse_idx")
    nb, n = build_sparse_index(cp, path, num_buckets=16)
    assert (nb, n) == (16, cp.count())
    for cap in (50, 100, None):
        got = _rows_key(
            sparse_topk_index(
                spark, path, qp, k=5, max_doc_freq=cap
            ).collect()
        )
        want = _rows_key(
            sparse_topk_inverted(cp, qp, k=5, max_doc_freq=cap).collect()
        )
        assert got == want, f"cap={cap}"
        assert got  # non-vacuous


def test_sparse_index_upsert_equals_full_build(spark, tmp_path):
    """Appending a batch must be EXACTLY equivalent to rebuilding over
    the union — including the df cap decision: token 7's df is 50
    (<= cap) in the first half alone but 100 (> cap) after the
    upsert, so the search must sum the per-segment df stats, not
    trust any single segment."""
    from embedding_to_vectordatabase_spark.operators.search import (
        build_sparse_index,
        sparse_topk_index,
        upsert_sparse_index,
    )

    cp, qp = _sparse_fixture(spark)
    half_a = cp.filter(F.col("doc_id") < 100)
    half_b = cp.filter(F.col("doc_id") >= 100)
    inc = str(tmp_path / "sparse_inc")
    build_sparse_index(half_a, inc, num_buckets=16)
    # pre-upsert: token 7 has df=50 <= 50 in this store, so it scores
    pre = sparse_topk_index(
        spark, inc, qp, k=5, max_doc_freq=50
    ).collect()
    assert any(r["score"] >= 10.0 for r in pre)
    n = upsert_sparse_index(inc, half_b)
    assert n == half_b.count()
    full = str(tmp_path / "sparse_full")
    build_sparse_index(cp, full, num_buckets=16)
    for cap in (50, None):
        got = _rows_key(
            sparse_topk_index(
                spark, inc, qp, k=5, max_doc_freq=cap
            ).collect()
        )
        want = _rows_key(
            sparse_topk_index(
                spark, full, qp, k=5, max_doc_freq=cap
            ).collect()
        )
        assert got == want, f"cap={cap}"
    # post-upsert with the cap: token 7 (df now 100 > 50) is pruned,
    # so query 0 (whose big weight rode the stop-token) only scores
    # via its private token (query 1's private token legitimately
    # scores high either way)
    capped = sparse_topk_index(
        spark, inc, qp, k=5, max_doc_freq=50
    ).collect()
    assert all(
        r["score"] < 10.0 for r in capped if r["query_id"] == 0
    )


def test_sparse_index_partition_pruning(spark, tmp_path):
    """The query-token bucket list must prune the bucket-PARTITIONED
    postings store at the parquet layer (PartitionFilters in the
    scan), exactly like IVFADC's probed-list pruning."""
    from embedding_to_vectordatabase_spark.operators.search import (
        build_sparse_index,
        sparse_topk_index,
    )

    cp, qp = _sparse_fixture(spark)
    path = str(tmp_path / "sparse_pp")
    build_sparse_index(cp, path, num_buckets=16)
    out = sparse_topk_index(spark, path, qp, k=5, max_doc_freq=None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "token_bucket" in plan
    pruned = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ][0]
    assert "IN (" in pruned or "in(token_bucket" in pruned.lower(), pruned
    # and the in-bucket token IN-list reaches the data scan
    assert "PushedFilters" in plan


def test_hybrid_topk_rrf_fusion(spark):
    from embedding_to_vectordatabase_spark.operators.search import (
        hybrid_topk_rrf,
    )

    dense = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 2), (0, 3, 3)],
        "query_id long, doc_id long, rank int",
    )
    sparse = spark.createDataFrame(
        [(0, 2, 1), (0, 9, 2)],
        "query_id long, doc_id long, rank int",
    )
    out = hybrid_topk_rrf(dense, sparse, k=4, k0=60).collect()
    got = [(r["doc_id"], r["rrf_score"], r["rank"])
           for r in sorted(out, key=lambda r: r["rank"])]
    # doc 2 appears in both rankings -> 1/62 + 1/61 tops the list;
    # docs absent from one list contribute 0 from it
    assert got[0][0] == 2
    assert abs(got[0][1] - (1 / 62 + 1 / 61)) < 1e-9
    assert [g[0] for g in got] == [2, 1, 9, 3]
    # rank-1 of a single list (1/61) beats rank-2 (1/62): 1 before 9?
    # no — doc 1 has dense rank 1 (1/61), doc 9 sparse rank 2 (1/62)
    assert abs(got[1][1] - 1 / 61) < 1e-9
    assert abs(got[2][1] - 1 / 62) < 1e-9


def test_rerank_ordering(spark):
    pairs = spark.createDataFrame(
        [(0, 10, 1.0, 1.0, 1.0), (0, 11, 0.0, 0.0, 0.0), (0, 12, 0.5, 0.5, 0.5)],
        "query_id long, passage_id long, colbert_score double, "
        "sparse_score double, dense_score double",
    )
    out = {r["passage_id"]: r["rank"] for r in rerank(pairs).collect()}
    assert out == {10: 1, 12: 2, 11: 3}


def test_rerank_texts_end_to_end(spark):
    from embedding_to_vectordatabase_spark.operators.search import (
        rerank_texts,
    )

    pairs = spark.createDataFrame(
        [
            (0, 10, "what is spark", "spark is an engine"),
            (0, 11, "what is spark", "cats like fish"),
            (1, 10, "weather", "spark is an engine"),
        ],
        "query_id long, passage_id long, query string, passage string",
    )
    out = rerank_texts(pairs).collect()
    assert len(out) == 3
    by_q = {}
    for r in out:
        assert 0.0 <= r["score"] <= 1.0
        assert r["colbert_score"] != r["sparse_score"]  # distinct heads
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert sorted(by_q[0]) == [1, 2]
    assert by_q[1] == [1]
    # deterministic
    again = rerank_texts(pairs).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_point_query_expr_superset(spark, sf_dir):
    chunks = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = point_query(chunks, "doc_id == 42", ["doc_id", "source"]).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 42


# --------------------------------------------------------- bm25


def test_bm25_ranks_matching_docs(spark):
    from embedding_to_vectordatabase_spark.operators.search import (
        bm25_topk,
    )

    rows = [
        (1, "spark shuffle join engine"),
        (2, "spark spark shuffle plan"),    # higher tf for 'spark'
        (3, "postgres btree index scan"),   # no query terms
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qt = spark.createDataFrame(
        [("q", "spark")], "query_id string, token string"
    )
    out = bm25_topk(docs, qt, k=10).collect()
    by_rank = {r["rank"]: r["doc_id"] for r in out}
    # doc 3 never scores; doc 2's double tf beats doc 1 at equal length
    assert set(r["doc_id"] for r in out) == {1, 2}
    assert by_rank[1] == 2
    assert all(r["score"] > 0 for r in out)


def test_bm25_idf_prefers_rarer_term(spark):
    from embedding_to_vectordatabase_spark.operators.search import (
        bm25_topk,
    )

    # 'common' appears in every doc, 'rare' in one: at equal tf and
    # doc length a rare-term match must score above a common-term match
    rows = [
        (1, "common rare alpha beta"),
        (2, "common gamma delta epsilon"),
        (3, "common zeta eta theta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qt = spark.createDataFrame(
        [("q_rare", "rare"), ("q_common", "common")],
        "query_id string, token string",
    )
    out = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_topk(docs, qt).collect()
    }
    assert out[("q_rare", 1)] > out[("q_common", 2)]


def test_bm25_max_doc_freq_prunes(spark):
    from embedding_to_vectordatabase_spark.operators.search import (
        bm25_topk,
    )

    rows = [(i, "stop unique%d" % i) for i in range(1, 6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qt = spark.createDataFrame(
        [("q", "stop"), ("q", "unique3")],
        "query_id string, token string",
    )
    out = bm25_topk(docs, qt, max_doc_freq=3).collect()
    # 'stop' (df=5) pruned: only the unique3 doc scores
    assert [r["doc_id"] for r in out] == [3]


def test_bm25_large_vocab_fallback_matches_inlist(spark):
    """Above inlist_max_vocab the plan switches from in-array IN-list
    literals to explode + broadcast-semi-join (Janino 64KB guard,
    round-7 ADVICE); both paths must score identically."""
    from embedding_to_vectordatabase_spark.operators.search import (
        bm25_topk,
    )

    rows = [
        (1, "spark shuffle join engine"),
        (2, "spark spark shuffle plan"),
        (3, "postgres btree index scan"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qt = spark.createDataFrame(
        [("q", "spark"), ("q", "scan")], "query_id string, token string"
    )
    inlist = bm25_topk(docs, qt, k=10).collect()
    fallback = bm25_topk(docs, qt, k=10, inlist_max_vocab=1).collect()

    def keyed(rows_):
        return sorted(
            (r["query_id"], r["doc_id"], r["rank"], r["score"])
            for r in rows_
        )

    assert keyed(inlist) == keyed(fallback)
    assert len(inlist) == 3


def test_dense_topk_quantized_symmetric_matches_exact(spark):
    """symmetric=True (query-side quantization for the engine-exact
    int dot) must still find the true top-k and score it with the
    EXACT float re-rank — same ids and scores as dense_topk."""
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        dense_topk,
        dense_topk_quantized,
    )

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=16)]) for i in range(300)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = corpus.limit(2).select(
        corpus.vec_id.alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in dense_topk(corpus, q, k=5, metric="IP").collect()
    }
    sym = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9))
        for r in dense_topk_quantized(
            corpus, q, k=5, metric="IP", rerank_candidates=40,
            symmetric=True,
        ).collect()
    }
    assert sym == exact


def test_dense_topk_quantized_symmetric_ip_only(spark):
    import pytest as _pytest

    from embedding_to_vectordatabase_spark.operators.search import (
        dense_topk_quantized,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    q = corpus.select(corpus.vec_id.alias("query_id"), "embedding")
    with _pytest.raises(ValueError, match="symmetric"):
        dense_topk_quantized(corpus, q, metric="COSINE", symmetric=True)


def test_probe_sequence_order_and_coverage():
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        _probe_sequence,
    )

    rng = np.random.default_rng(3)
    m = rng.normal(size=8)
    home = 0b10110010
    # budget 1 -> home only
    assert _probe_sequence(m, home, 1) == [home]
    # full budget enumerates every bucket exactly once
    full = _probe_sequence(m, home, 256)
    assert len(full) == 256 and len(set(full)) == 256
    # enumeration is in nondecreasing flip cost
    costs = []
    for b in full:
        flipped = b ^ home
        costs.append(
            sum(abs(m[i]) for i in range(8) if flipped >> i & 1)
        )
    assert all(a <= b_ + 1e-12 for a, b_ in zip(costs, costs[1:]))


def test_ann_adaptive_full_budget_matches_exact(spark):
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        ann_topk_bucketed,
        dense_topk,
    )

    rng = np.random.default_rng(5)
    rows = [
        (i, [float(x) for x in rng.normal(size=12)]) for i in range(400)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = corpus.limit(2).select(corpus.vec_id.alias("query_id"), "embedding")
    exact = {
        (r["query_id"], r["vec_id"]) for r in dense_topk(corpus, q, k=5).collect()
    }
    # probing every one of the 2^6 buckets == exhaustive search
    got = {
        (r["query_id"], r["vec_id"])
        for r in ann_topk_bucketed(
            corpus, q, k=5, bits=6, adaptive=True, probe_budget=64
        ).collect()
    }
    assert got == exact


def test_ann_adaptive_beats_radius_on_boundary_queries(spark):
    """Same probe budget, boundary-straddling queries: the adaptive
    perturbation sequence must recall at least as much as the fixed
    hamming-radius probe set (it concentrates the budget on the
    low-margin planes the query actually straddles)."""
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        ann_topk_bucketed,
        dense_topk,
    )

    rng = np.random.default_rng(9)
    dim, n_cl = 32, 6
    centers = rng.normal(size=(n_cl, dim)) * 5.0
    rows = [
        (i, [float(x) for x in centers[i % n_cl] + rng.normal(size=dim)])
        for i in range(3000)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qrows = [
        (9000 + j, [float(x) for x in 0.5 * (centers[j] + centers[j + 1]) + rng.normal(size=dim)])
        for j in range(3)
    ]
    q = spark.createDataFrame(qrows, "query_id long, embedding array<double>")

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(
            len(got.get(k, set()) & v) / len(v) for k, v in exact.items()
        ) / len(exact)

    exact = {}
    for r in dense_topk(corpus, q, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    budget = 1 + 8  # radius-1 probe count at bits=8
    r_rad = recall(
        ann_topk_bucketed(
            corpus, q, k=5, bits=8, probe_radius=1, adaptive=False
        )
    )
    r_ada = recall(
        ann_topk_bucketed(
            corpus, q, k=5, bits=8, adaptive=True, probe_budget=budget,
            # reallocate=False: this test pins the per-query
            # ENUMERATION property (cost-ordered flips >= hamming
            # ball at the same budget). Budget reallocation trades
            # per-query guarantees for workload-aggregate recall —
            # pinned separately by
            # test_ann_realloc_lifts_boundary_recall.
            reallocate=False,
        )
    )
    assert r_ada >= r_rad


def test_ann_realloc_lifts_boundary_recall(spark):
    """Mixed workload (easy in-cluster queries + hard boundary
    queries), same TOTAL probe budget: the global cost merge must
    not lose aggregate recall vs the uniform split, and must lift
    the boundary queries specifically (the r7 verdict's measured
    weak spot). Mirrors the bench hard fixture in miniature."""
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        ann_topk_bucketed,
        dense_topk,
    )

    rng = np.random.default_rng(17)
    dim, n_cl = 64, 8
    centers = rng.normal(size=(n_cl, dim)) * 5.0
    rows = [
        (i, [float(x) for x in centers[i % n_cl] + rng.normal(size=dim)])
        for i in range(4000)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    qrows = [
        # easy: right on top of a cluster center
        (9100 + j, [float(x) for x in centers[j] + 0.1 * rng.normal(size=dim)])
        for j in range(3)
    ] + [
        # hard: midpoints between cluster pairs
        (9200 + j, [float(x) for x in 0.5 * (centers[j] + centers[j + 1]) + rng.normal(size=dim)])
        for j in range(3)
    ]
    q = spark.createDataFrame(qrows, "query_id long, embedding array<double>")
    exact = {}
    for r in dense_topk(corpus, q, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(df, subset=None):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        ks = [k_ for k_ in exact if subset is None or k_ in subset]
        return sum(
            len(got.get(k_, set()) & exact[k_]) / len(exact[k_])
            for k_ in ks
        ) / len(ks)

    boundary = {9200, 9201, 9202}
    uni = ann_topk_bucketed(
        corpus, q, k=5, bits=8, adaptive=True, probe_budget=12,
        reallocate=False,
    )
    re_ = ann_topk_bucketed(
        corpus, q, k=5, bits=8, adaptive=True, probe_budget=12,
        reallocate=True,
    )
    assert recall(re_) >= recall(uni)
    assert recall(re_, boundary) >= recall(uni, boundary)


def test_bm25_mid_vocab_relational_path_matches_mapside(spark):
    """Vocab in (fused_max_vocab, inlist_max_vocab]: the in-array-tf
    relational path (shared postings exchange + dfreq) must score
    identically to the map-side path. 64 absent filler tokens push
    the query over the fused threshold without changing any score
    (absent terms have no postings / zero tf on either path)."""
    from embedding_to_vectordatabase_spark.operators.search import (
        bm25_topk,
    )

    rows = [
        (1, "spark shuffle join engine"),
        (2, "spark spark shuffle plan"),
        (3, "postgres btree index scan"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base_terms = [("q", "spark"), ("q", "scan")]
    filler = [("q", f"zzfiller{i}") for i in range(64)]
    qt_small = spark.createDataFrame(
        base_terms, "query_id string, token string"
    )
    qt_big = spark.createDataFrame(
        base_terms + filler, "query_id string, token string"
    )

    def keyed(rows_):
        return sorted(
            (r["query_id"], r["doc_id"], r["rank"], r["score"])
            for r in rows_
        )

    small = keyed(bm25_topk(docs, qt_small, k=10).collect())   # map-side
    big = keyed(bm25_topk(docs, qt_big, k=10).collect())       # mid path
    assert small == big


def test_pq_encode_shapes_and_determinism(emb):
    """Codes are exactly m bytes per vector (the byte-budget contract:
    m bytes replace dim*4) and the whole train+encode path is
    seed-deterministic."""
    from embedding_to_vectordatabase_spark.operators.search import (
        pq_encode,
        pq_train,
    )

    books = pq_train(emb, m=8, seed=7)
    assert books.shape == (8, 256, 8)  # dim 64 -> dsub 8
    codes = {r["vec_id"]: bytes(r["pq_code"])
             for r in pq_encode(emb, books).collect()}
    assert all(len(c) == 8 for c in codes.values())
    books2 = pq_train(emb, m=8, seed=7)
    assert (books == books2).all()
    codes2 = {r["vec_id"]: bytes(r["pq_code"])
              for r in pq_encode(emb, books2).collect()}
    assert codes == codes2


def test_pq_train_validates_divisibility_and_nbits(emb):
    import pytest as _pytest

    from embedding_to_vectordatabase_spark.operators.search import (
        pq_train,
    )

    with _pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, m=7)
    with _pytest.raises(ValueError, match="nbits"):
        pq_train(emb, m=8, nbits=16)


def test_pq_topk_adc_recall_and_refined_recall(emb, queries):
    """ADC-only recall clears a modest bar on the unstructured
    fixture; the standard refine recipe (ADC candidates -> exact
    re-rank on the float column) must clear the ANN bar and return
    EXACT metric scores for the survivors."""
    from embedding_to_vectordatabase_spark.operators.search import (
        dense_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    k = 5
    exact = _key_set(dense_topk(emb, queries, k=k, metric="L2").collect())
    books = pq_train(emb, m=8, seed=7)
    codes = pq_encode(emb, books)
    adc = pq_topk(codes, queries, books, k=k, metric="L2").collect()
    r_adc = len(exact & _key_set(adc)) / len(exact)
    assert r_adc >= 0.5, f"ADC recall {r_adc}"
    refined = pq_topk(
        codes, queries, books, k=k, metric="L2",
        refine=emb, refine_k=4 * k,
    ).collect()
    r_ref = len(exact & _key_set(refined)) / len(exact)
    assert r_ref >= 0.9, f"refined recall {r_ref} (ADC was {r_adc})"
    assert r_ref >= r_adc
    # refined scores are the exact metric for the surviving pairs
    ex_scores = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in dense_topk(emb, queries, k=4 * k, metric="L2").collect()
    }
    for r in refined:
        key = (r["query_id"], r["vec_id"])
        if key in ex_scores:
            # 1e-6: the pair kernel computes norm(x-q) while
            # dense_topk uses the sqrt(x2+q2-2xq) identity — same
            # metric, different float cancellation
            assert abs(r["score"] - ex_scores[key]) < 1e-6


def test_pq_topk_ip_metric_self_hit(emb, queries):
    """IP-metric ADC with exact refine puts each query's own vector in
    its top-k (self inner product dominates on this fixture)."""
    from embedding_to_vectordatabase_spark.operators.search import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    books = pq_train(emb, m=8, seed=7)
    out = pq_topk(
        pq_encode(emb, books), queries, books, k=5, metric="IP",
        refine=emb, refine_k=20,
    ).collect()
    hits = {r["query_id"] for r in out if r["query_id"] == r["vec_id"]}
    assert len(hits) >= 4  # 5 queries; allow one near-tie miss


def test_pq_rejects_oversized_codebooks(spark):
    """Hand-built codebooks with >256 centroids would silently wrap in
    the uint8 argmin cast (r12 ADVICE) — both the encoder and the ADC
    search must refuse them (pq_train already validates nbits)."""
    import numpy as np
    import pytest as _pytest

    from embedding_to_vectordatabase_spark.operators.search import (
        pq_encode,
        pq_topk,
    )

    bad = np.zeros((2, 300, 4))
    corpus = spark.createDataFrame(
        [(1, [0.0] * 8)], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="256"):
        pq_encode(corpus, bad)
    with _pytest.raises(ValueError, match="256"):
        pq_topk(corpus, corpus, bad, query_id="vec_id")


def test_pq_index_lifecycle_matches_inline(emb, queries, tmp_path):
    """build_pq_index → pq_topk_index must return EXACTLY the inline
    pq_train+pq_encode+pq_topk results (same seed): the persisted
    codebooks/codes round-trip through parquet is lossless and the
    search plan is the same ADC scan (r12 VERDICT item 1a)."""
    from embedding_to_vectordatabase_spark.operators.search import (
        build_pq_index,
        load_pq_codebooks,
        pq_encode,
        pq_topk,
        pq_topk_index,
        pq_train,
    )

    spark = emb.sparkSession
    path = str(tmp_path / "pqidx")
    mm, ksub = build_pq_index(emb, path, m=8, seed=7)
    assert (mm, ksub) == (8, 256)
    books = pq_train(emb, m=8, seed=7)
    assert (load_pq_codebooks(spark, path) == books).all()
    inline = {
        (r["query_id"], r["vec_id"]): (r["score"], r["rank"])
        for r in pq_topk(
            pq_encode(emb, books), queries, books, k=5, metric="L2",
            refine=emb, refine_k=20,
        ).collect()
    }
    via_index = {
        (r["query_id"], r["vec_id"]): (r["score"], r["rank"])
        for r in pq_topk_index(
            spark, path, queries, k=5, metric="L2",
            refine=emb, refine_k=20,
        ).collect()
    }
    assert inline == via_index


def test_pq_index_upsert_appends_searchable_codes(emb, queries, tmp_path):
    """Upsert encodes ONLY the new batch with the existing codebooks
    and appends; searches see the new ids immediately (the vector-
    store insert contract — no retrain, no re-encode)."""
    from embedding_to_vectordatabase_spark.operators.search import (
        build_pq_index,
        pq_topk_index,
        upsert_pq_index,
    )

    spark = emb.sparkSession
    path = str(tmp_path / "pqidx_up")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    build_pq_index(old, path, m=8, seed=7)
    before = {
        r["vec_id"]
        for r in pq_topk_index(spark, path, queries, k=5).collect()
    }
    n = upsert_pq_index(path, new)
    assert n == new.count()
    total = spark.read.parquet(f"{path}/codes.parquet").count()
    assert total == emb.count()
    after = pq_topk_index(
        spark, path, queries, k=5, metric="L2", refine=emb, refine_k=20
    ).collect()
    # odd queries can now find their own (odd) vector
    odd_self = {
        r["query_id"]
        for r in after
        if r["query_id"] == r["vec_id"] and r["query_id"] % 2 == 1
    }
    assert odd_self, f"upserted vectors not searchable (before={before})"


def test_ivfadc_recall_vs_flat_adc_and_exactness(emb, queries, tmp_path):
    """IVFADC (residual PQ inside probed lists) at FULL probe tracks
    flat ADC at the same m on this UNSTRUCTURED fixture (on random
    vectors a 16-means coarse quantizer captures little energy, so
    residual and raw quantization error are comparable — the strict
    residual>=raw win shows on the CLUSTERED bench fixture, asserted
    there in bench.py's ann-recall section), and the refined search
    clears the ANN recall bar with exact survivor scores; a bounded
    nprobe stays within a small recall concession (r12 VERDICT item
    1b)."""
    from embedding_to_vectordatabase_spark.operators.search import (
        build_ivfadc_index,
        ann_topk_ivfadc,
        dense_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    spark = emb.sparkSession
    path = str(tmp_path / "ivfadc")
    k = 5
    nlist, _ = build_ivfadc_index(emb, path, nlist=16, m=8, seed=7)
    exact = _key_set(dense_topk(emb, queries, k=k, metric="L2").collect())

    books = pq_train(emb, m=8, seed=7)
    flat = pq_topk(pq_encode(emb, books), queries, books, k=k, metric="L2")
    r_flat = len(exact & _key_set(flat.collect())) / len(exact)

    full = ann_topk_ivfadc(
        spark, path, queries, k=k, metric="L2", nprobe=nlist
    )
    r_full = len(exact & _key_set(full.collect())) / len(exact)
    assert r_full >= r_flat - 0.15, (
        f"IVFADC full-probe {r_full} collapsed vs flat {r_flat}"
    )

    refined = ann_topk_ivfadc(
        spark, path, queries, k=k, metric="L2", nprobe=nlist,
        refine=emb, refine_k=4 * k,
    ).collect()
    r_ref = len(exact & _key_set(refined)) / len(exact)
    assert r_ref >= 0.9, f"IVFADC refined recall {r_ref}"
    ex_scores = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in dense_topk(emb, queries, k=4 * k, metric="L2").collect()
    }
    for r in refined:
        key = (r["query_id"], r["vec_id"])
        if key in ex_scores:
            assert abs(r["score"] - ex_scores[key]) < 1e-6
    bounded = ann_topk_ivfadc(
        spark, path, queries, k=k, metric="L2", nprobe=8,
        refine=emb, refine_k=4 * k,
    )
    r_bounded = len(exact & _key_set(bounded.collect())) / len(exact)
    assert r_bounded >= r_ref - 0.25, (
        f"nprobe=8 recall {r_bounded} collapsed vs full {r_ref}"
    )


def test_ivfadc_partition_pruning_and_upsert(emb, queries, tmp_path):
    """The probed-list filter must prune the PARTITIONED code store at
    the parquet layer (PartitionFilters in the scan — the
    nprobe/nlist scan-bytes reduction is real, not a post-scan
    filter); upsert appends into the same partition scheme."""
    from embedding_to_vectordatabase_spark.operators.search import (
        ann_topk_ivfadc,
        build_ivfadc_index,
        upsert_ivfadc_index,
    )

    spark = emb.sparkSession
    path = str(tmp_path / "ivfadc_pp")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    build_ivfadc_index(old, path, nlist=8, m=8, seed=7)
    out = ann_topk_ivfadc(spark, path, queries, k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    pruned = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ][0]
    assert "IN (" in pruned or "isnotnull" in pruned, pruned
    n = upsert_ivfadc_index(path, emb.filter(F.col("vec_id") % 2 == 1))
    assert n > 0
    assert (
        spark.read.parquet(f"{path}/codes.parquet").count() == emb.count()
    )
    # ivfadc is deterministic for a fixed seed/index
    a = sorted(
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ann_topk_ivfadc(spark, path, queries, k=3, nprobe=8).collect()
    )
    b = sorted(
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ann_topk_ivfadc(spark, path, queries, k=3, nprobe=8).collect()
    )
    assert a == b


def test_ivfadc_scores_equal_reconstruction_both_metrics(
    emb, queries, tmp_path
):
    """ADC scores must equal the exact score against the RECONSTRUCTED
    vector c_l + r̂ for BOTH metrics at full probe. This is the test
    that catches the shifted-query IP LUT bug (r13 ADVICE high: a LUT
    built from q − c_l adds a code-dependent −c_l·r̂ to every IP
    score; IP must decompose as q·c_l + q·r̂ with the residual lookup
    over the UNSHIFTED query), and it value-pins the grouped-by-list
    batch kernel against an independent numpy reconstruction."""
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        ann_topk_ivfadc,
        build_ivfadc_index,
        load_pq_codebooks,
        _load_ivf_centroids,
    )

    spark = emb.sparkSession
    path = str(tmp_path / "ivfadc_recon")
    nlist, _ = build_ivfadc_index(emb, path, nlist=16, m=8, seed=7)
    cent = _load_ivf_centroids(spark, path)
    books = load_pq_codebooks(spark, path)
    mm, _, dsub = books.shape
    code_rows = spark.read.parquet(f"{path}/codes.parquet").collect()
    recon = {}
    for r in code_rows:
        code = np.frombuffer(bytes(r["pq_code"]), dtype=np.uint8)
        rhat = np.concatenate([books[j][code[j]] for j in range(mm)])
        recon[r["vec_id"]] = cent[int(r["list_id"])] + rhat
    qvecs = {
        r["query_id"]: np.array(list(r["embedding"]), dtype=np.float64)
        for r in queries.select("query_id", "embedding").collect()
    }
    for metric in ("IP", "L2"):
        out = ann_topk_ivfadc(
            spark, path, queries, k=5, metric=metric, nprobe=nlist
        ).collect()
        assert len(out) > 0
        for r in out:
            q = qvecs[r["query_id"]]
            v = recon[r["vec_id"]]
            want = (
                float(q @ v)
                if metric == "IP"
                else float(np.sqrt(((q - v) ** 2).sum()))
            )
            assert abs(r["score"] - want) < 1e-8, (
                f"{metric} ADC score {r['score']} != reconstruction "
                f"{want} for {(r['query_id'], r['vec_id'])}"
            )
        # top-k per query matches the brute-force reconstruction
        # ranking (the corrupted-LUT bug reorders, not just rescales)
        ids = sorted(recon)
        V = np.array([recon[i] for i in ids])
        for qid, q in qvecs.items():
            s = V @ q if metric == "IP" else ((V - q) ** 2).sum(axis=1)
            order = np.argsort(-s if metric == "IP" else s, kind="stable")
            want_top = {ids[i] for i in order[:5]}
            got_top = {
                r["vec_id"] for r in out if r["query_id"] == qid
            }
            # ties on score may swap membership; require ≥4/5 overlap
            assert len(want_top & got_top) >= 4, (
                f"{metric} top-5 {got_top} vs reconstruction {want_top}"
            )


def _aniso_vectors(spark, n=400, dim=16, seed=3):
    """Strongly ANISOTROPIC + cross-subspace-correlated vectors — the
    regime OPQ exists for: a random full-dim mixing matrix with a
    steep spectrum concentrates variance along directions that plain
    PQ's axis-aligned subspace split cuts across."""
    import numpy as np

    rng = np.random.default_rng(seed)
    scales = np.logspace(0, -2, dim)
    mix = rng.standard_normal((dim, dim))
    X = (rng.standard_normal((n, dim)) * scales) @ mix
    return spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )


def test_opq_rotation_lowers_quantization_error_deterministically(spark):
    """The OPQ-NP objective itself: ‖XR − quantized(XR)‖² on the
    training sample must come out BELOW plain PQ's ‖X − quantized(X)‖²
    on correlated anisotropic data (Ge et al. 2013), R must be
    orthogonal, and the whole train is seed-deterministic."""
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        _spread_sample,
        opq_train,
        pq_train,
    )

    df = _aniso_vectors(spark)
    m = 4
    R, books = opq_train(df, m=m, seed=11, n_iter=5)
    assert np.allclose(R @ R.T, np.eye(R.shape[0]), atol=1e-8)
    R2, books2 = opq_train(df, m=m, seed=11, n_iter=5)
    assert (R == R2).all() and (books == books2).all()

    pq_books = pq_train(df, m=m, seed=11)
    X = _spread_sample(df, "embedding", 256 * 50, 11, None, None)
    dsub = X.shape[1] // m

    def err(Y, bks):
        e = 0.0
        for j in range(m):
            Yj = Y[:, j * dsub : (j + 1) * dsub]
            d = (bks[j] ** 2).sum(axis=1)[None, :] - 2.0 * (Yj @ bks[j].T)
            e += ((Yj - bks[j][d.argmin(axis=1)]) ** 2).sum()
        return e / len(Y)

    e_pq = err(X, pq_books)
    e_opq = err(X @ R, books)
    assert e_opq < e_pq, f"OPQ error {e_opq} not below PQ {e_pq}"


def test_opq_topk_end_to_end_exact_refine(spark):
    """opq_encode + opq_topk with exact refine: candidates come from
    the ROTATED code space, survivor scores are the exact ORIGINAL-
    space metric, and refined recall clears the bar on the anisotropic
    fixture at the same byte budget as plain PQ."""
    from embedding_to_vectordatabase_spark.operators.search import (
        dense_topk,
        opq_encode,
        opq_topk,
        opq_train,
    )

    emb = _aniso_vectors(spark)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    k = 5
    exact = _key_set(dense_topk(emb, queries, k=k, metric="L2").collect())
    R, books = opq_train(emb, m=4, seed=11, n_iter=5)
    codes = opq_encode(emb, R, books)
    refined = opq_topk(
        codes, queries, R, books, k=k, metric="L2",
        refine=emb, refine_k=4 * k,
    ).collect()
    r_ref = len(exact & _key_set(refined)) / len(exact)
    assert r_ref >= 0.9, f"OPQ refined recall {r_ref}"
    ex_scores = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in dense_topk(emb, queries, k=4 * k, metric="L2").collect()
    }
    for r in refined:
        key = (r["query_id"], r["vec_id"])
        if key in ex_scores:
            assert abs(r["score"] - ex_scores[key]) < 1e-5


def test_opq_index_lifecycle_matches_inline(spark, tmp_path):
    """build_opq_index persists rotation + codebooks + codes;
    opq_topk_index must reproduce the inline opq_train/encode/topk
    results EXACTLY (same seed — the rotation round-trips through
    parquet losslessly enough for identical codes), and upsert makes
    new vectors searchable without retraining."""
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        build_opq_index,
        load_opq_rotation,
        load_pq_codebooks,
        opq_encode,
        opq_topk,
        opq_topk_index,
        opq_train,
        upsert_opq_index,
    )

    emb = _aniso_vectors(spark)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "opqidx")
    mm, ksub = build_opq_index(emb, path, m=4, seed=11, n_iter=3)
    assert (mm, ksub) == (4, 256)
    R, books = opq_train(emb, m=4, seed=11, n_iter=3)
    assert np.allclose(load_opq_rotation(spark, path), R)
    assert (load_pq_codebooks(spark, path) == books).all()
    inline = {
        (r["query_id"], r["vec_id"]): (r["score"], r["rank"])
        for r in opq_topk(
            opq_encode(emb, R, books), queries, R, books,
            k=5, metric="L2", refine=emb, refine_k=20,
        ).collect()
    }
    via_index = {
        (r["query_id"], r["vec_id"]): (r["score"], r["rank"])
        for r in opq_topk_index(
            spark, path, queries, k=5, metric="L2",
            refine=emb, refine_k=20,
        ).collect()
    }
    assert inline == via_index

    # upsert: build on evens, append odds, odd queries find themselves
    path2 = str(tmp_path / "opqidx_up")
    build_opq_index(
        emb.filter(F.col("vec_id") % 2 == 0), path2, m=4, seed=11,
        n_iter=3,
    )
    n = upsert_opq_index(path2, emb.filter(F.col("vec_id") % 2 == 1))
    assert n == emb.filter(F.col("vec_id") % 2 == 1).count()
    assert (
        spark.read.parquet(f"{path2}/codes.parquet").count()
        == emb.count()
    )
    after = opq_topk_index(
        spark, path2, queries, k=5, metric="L2", refine=emb, refine_k=20
    ).collect()
    odd_self = {
        r["query_id"]
        for r in after
        if r["query_id"] == r["vec_id"] and r["query_id"] % 2 == 1
    }
    assert odd_self, "upserted vectors not searchable through OPQ index"


def test_sq8_refined_matches_exact_and_recall(emb, queries, tmp_path):
    """SQ8 (per-dim 8-bit scalar quantization, FAISS QT_8bit recipe):
    with exact refine the results must EQUAL dense_topk's (ids and
    float scores); the unrefined code-only scan must still be
    near-exact (8 bits/dim resolves this fixture's score gaps)."""
    from embedding_to_vectordatabase_spark.operators.search import (
        build_sq8_index,
        sq8_topk_index,
    )

    spark = emb.sparkSession
    path = str(tmp_path / "sq8_idx")
    dim = build_sq8_index(emb, path, seed=7, train_cap=512)
    assert dim == len(emb.first()["embedding"])
    for metric in ("IP", "L2"):
        exact = dense_topk(emb, queries, k=5, metric=metric).collect()
        refined = sq8_topk_index(
            spark, path, queries, k=5, metric=metric,
            refine=emb, refine_k=20,
        ).collect()
        # 6dp: dense_topk's matmul-identity L2 and the pair kernel's
        # elementwise L2 differ by ~1e-8 at self-distance
        got = {
            (r["query_id"], r["vec_id"]): round(r["score"], 6)
            for r in refined
        }
        want = {
            (r["query_id"], r["vec_id"]): round(r["score"], 6)
            for r in exact
        }
        assert got == want, metric
        raw = sq8_topk_index(
            spark, path, queries, k=5, metric=metric
        ).collect()
        recall = len(_key_set(raw) & _key_set(exact)) / len(
            _key_set(exact)
        )
        assert recall >= 0.9, f"{metric} unrefined recall {recall}"


def test_sq8_index_matches_inline_and_upsert(emb, queries, tmp_path):
    """Persisted-store search == inline train/encode/search at the
    same seed (byte contract: codes are exactly dim bytes); upsert
    encodes with the EXISTING ranges so index-after-upsert equals a
    single encode pass over the union with those ranges."""
    from embedding_to_vectordatabase_spark.operators.search import (
        build_sq8_index,
        load_sq8_params,
        sq8_encode,
        sq8_topk,
        sq8_topk_index,
        sq8_train,
        upsert_sq8_index,
    )

    spark = emb.sparkSession
    path = str(tmp_path / "sq8_inline")
    build_sq8_index(emb, path, seed=7, train_cap=512)
    vmin, vdiff = sq8_train(emb, seed=7, train_cap=512)
    inline = sq8_topk(
        sq8_encode(emb, vmin, vdiff), queries, vmin, vdiff,
        k=5, metric="IP",
    ).collect()
    stored = sq8_topk_index(spark, path, queries, k=5, metric="IP").collect()
    key = lambda rows: sorted(  # noqa: E731
        (r["query_id"], r["vec_id"], round(r["score"], 9), r["rank"])
        for r in rows
    )
    assert key(inline) == key(stored)
    # byte contract
    dim = len(emb.first()["embedding"])
    row = spark.read.parquet(f"{path}/codes.parquet").first()
    assert len(bytes(row["sq8_code"])) == dim
    # upsert: encode-with-existing-params equivalence
    half = str(tmp_path / "sq8_half")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    build_sq8_index(old, half, seed=7, train_cap=512)
    n = upsert_sq8_index(half, new)
    assert n == new.count()
    vmin_h, vdiff_h = load_sq8_params(spark, half)
    want_codes = {
        r["vec_id"]: bytes(r["sq8_code"])
        for r in sq8_encode(emb, vmin_h, vdiff_h).collect()
    }
    got_codes = {
        r["vec_id"]: bytes(r["sq8_code"])
        for r in spark.read.parquet(f"{half}/codes.parquet").collect()
    }
    assert got_codes == want_codes


def test_sq8_scores_match_affine_reconstruction(emb, queries, tmp_path):
    """The two-matmul ADC identities must equal the exact metric
    against the affine reconstruction x̂ = vmin + c·(vdiff/255) for
    BOTH metrics — an independent numpy check that pins the kernel
    (the SQ8 analogue of the IVFADC reconstruction test that caught
    the r13 shifted-query LUT bug). The scan kernel runs float32
    (r14 VERDICT item 3), so the comparison happens in SQUARED
    space with a tolerance sized to float32 accumulation noise
    (~1e-4 at this fixture's magnitudes) — far below any formula
    bug, which shows up at O(1)."""
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        sq8_encode,
        sq8_topk,
        sq8_train,
    )

    vmin, vdiff = sq8_train(emb, seed=7, train_cap=512)
    codes = sq8_encode(emb, vmin, vdiff)
    code_map = {
        r["vec_id"]: np.frombuffer(bytes(r["sq8_code"]), dtype=np.uint8)
        for r in codes.collect()
    }
    qmat = {
        r["query_id"]: np.array(list(r["embedding"]), dtype=np.float64)
        for r in queries.collect()
    }
    s = vdiff / 255.0
    for metric in ("IP", "L2"):
        out = sq8_topk(
            codes, emb.filter(F.col("vec_id") < 5).select(
                F.col("vec_id").alias("query_id"), "embedding"
            ),
            vmin, vdiff, k=5, metric=metric,
        ).collect()
        for r in out:
            xhat = vmin + code_map[r["vec_id"]].astype(np.float64) * s
            q = qmat[r["query_id"]]
            if metric == "IP":
                want = float(q @ xhat)
                assert abs(r["score"] - want) < 1e-3, (metric, r, want)
            else:
                want_sq = float(((q - xhat) ** 2).sum())
                assert abs(r["score"] ** 2 - want_sq) < 1e-3, (
                    metric, r, want_sq,
                )


def test_sq8_symmetric_mode_is_exact_integer_distance(spark, emb):
    """``symmetric=True`` scores must EQUAL the independently computed
    code-space L2 distance bit-for-bit — the integer-exactness
    property the SQL oracles rely on (every partial ≤ dim·255² < 2⁵³,
    so float64 accumulation is order-independent). Pinned params make
    the encode deterministic double arithmetic end-to-end."""
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        sq8_encode,
        sq8_topk,
    )

    dim = len(emb.first()["embedding"])
    vmin = np.full(dim, -1.0)
    vdiff = np.full(dim, 2.0)
    codes = sq8_encode(emb, vmin, vdiff)
    code_map = {
        r["vec_id"]: np.frombuffer(
            bytes(r["sq8_code"]), dtype=np.uint8
        ).astype(np.float64)
        for r in codes.collect()
    }
    q_df = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qcodes = {
        qid: np.clip(
            np.rint((np.array(vec, dtype=np.float64) + 1.0) * 127.5),
            0, 255,
        )
        for qid, vec in (
            (r["query_id"], list(r["embedding"])) for r in q_df.collect()
        )
    }
    out = sq8_topk(
        codes, q_df, vmin, vdiff, k=5, metric="L2", symmetric=True
    ).collect()
    assert len(out) == 4 * 5
    for r in out:
        want = float(
            np.sqrt(((qcodes[r["query_id"]] - code_map[r["vec_id"]]) ** 2).sum())
        )
        assert r["score"] == want, (r, want)
    # IP rejects symmetric by contract
    import pytest as _pytest

    with _pytest.raises(ValueError, match="L2-only"):
        sq8_topk(codes, q_df, vmin, vdiff, metric="IP", symmetric=True)


def test_ivfsq8_full_probe_equals_flat_sq8(emb, queries, tmp_path):
    """At nprobe == nlist every list is probed by every query, so the
    IVF_SQ8 search must return flat sq8_topk's results when both use
    the same trained ranges (raw — not residual — codes make the
    scoring kernel list-independent, so routing can only change WHICH
    rows score, and at full probe that's all of them). The SYMMETRIC
    path asserts BIT-EXACT equality (integer-exact float64 kernel);
    the asymmetric paths run float32 GEMMs whose summation order
    differs between the flat and grouped-by-list shapes, so they
    assert score agreement at float32 noise scale plus per-query
    membership overlap — a routing bug drops whole lists and fails
    both forms by orders of magnitude."""
    from collections import defaultdict

    from embedding_to_vectordatabase_spark.operators.search import (
        ann_topk_ivfsq8,
        build_ivfsq8_index,
        load_sq8_params,
        sq8_encode,
        sq8_topk,
    )

    spark = emb.sparkSession
    path = str(tmp_path / "ivfsq8_full")
    nlist, dim = build_ivfsq8_index(emb, path, nlist=8, seed=7)
    assert dim == len(emb.first()["embedding"])
    vmin, vdiff = load_sq8_params(spark, path)
    flat_codes = sq8_encode(emb, vmin, vdiff)

    # exact form: symmetric kernels are float64 integer-exact in both
    # paths, so full probe must match bit-for-bit
    got = sorted(
        (r["query_id"], r["vec_id"], r["score"], r["rank"])
        for r in ann_topk_ivfsq8(
            spark, path, queries, k=5, metric="L2", nprobe=nlist,
            symmetric=True,
        ).collect()
    )
    want = sorted(
        (r["query_id"], r["vec_id"], r["score"], r["rank"])
        for r in sq8_topk(
            flat_codes, queries, vmin, vdiff, k=5, metric="L2",
            symmetric=True,
        ).collect()
    )
    assert got == want

    # float32 asymmetric form: per-(query, rank) score agreement at
    # float32 noise scale + >=4/5 per-query membership overlap
    for metric in ("IP", "L2"):
        got_rows = ann_topk_ivfsq8(
            spark, path, queries, k=5, metric=metric, nprobe=nlist
        ).collect()
        want_rows = sq8_topk(
            flat_codes, queries, vmin, vdiff, k=5, metric=metric
        ).collect()
        g, w = defaultdict(dict), defaultdict(dict)
        for r in got_rows:
            g[r["query_id"]][r["rank"]] = (r["vec_id"], r["score"])
        for r in want_rows:
            w[r["query_id"]][r["rank"]] = (r["vec_id"], r["score"])
        assert set(g) == set(w) and g
        for qid in w:
            assert set(g[qid]) == set(w[qid])
            for rank in w[qid]:
                assert abs(g[qid][rank][1] - w[qid][rank][1]) < 1e-3, (
                    metric, qid, rank, g[qid][rank], w[qid][rank],
                )
            g_ids = {v for v, _ in g[qid].values()}
            w_ids = {v for v, _ in w[qid].values()}
            assert len(g_ids & w_ids) >= 4, (metric, qid, g_ids, w_ids)


def test_ivfsq8_partition_pruning_recall_and_upsert(emb, queries, tmp_path):
    """The probed-list filter must prune the PARTITIONED code store at
    the parquet layer; pruned-probe recall clears the IVF bar; upsert
    appends into the same partition scheme and new vectors become
    retrievable."""
    from embedding_to_vectordatabase_spark.operators.search import (
        ann_topk_ivfsq8,
        build_ivfsq8_index,
        upsert_ivfsq8_index,
    )

    spark = emb.sparkSession
    path = str(tmp_path / "ivfsq8_pp")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    build_ivfsq8_index(old, path, nlist=8, seed=7)
    out = ann_topk_ivfsq8(spark, path, queries, k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    n = upsert_ivfsq8_index(path, emb.filter(F.col("vec_id") % 2 == 1))
    assert n > 0
    assert (
        spark.read.parquet(f"{path}/codes.parquet").count() == emb.count()
    )
    # post-upsert: refined search over the full corpus recalls the
    # exact top-k at generous probes
    exact = _key_set(dense_topk(emb, queries, k=5, metric="L2").collect())
    got = _key_set(
        ann_topk_ivfsq8(
            spark, path, queries, k=5, metric="L2", nprobe=8,
            refine=emb, refine_k=20,
        ).collect()
    )
    recall = len(exact & got) / len(exact)
    assert recall >= 0.8, recall
    # determinism
    a = sorted(
        map(tuple, ann_topk_ivfsq8(
            spark, path, queries, k=3, nprobe=4
        ).collect())
    )
    b = sorted(
        map(tuple, ann_topk_ivfsq8(
            spark, path, queries, k=3, nprobe=4
        ).collect())
    )
    assert a == b


def _word_postings(docs, doc_id="doc_id"):
    """Lowercase-whitespace (doc, token, tf) postings — the exact
    tokenization bm25_topk/its oracle use."""
    words = F.filter(
        F.split(F.trim(F.lower(F.coalesce("text", F.lit("")))), r"\s+"),
        lambda x: x != "",
    )
    return (
        docs.select(doc_id, F.explode(words).alias("token"))
        .groupBy(doc_id, "token")
        .agg(F.count("*").cast("double").alias("weight"))
    )


def test_bm25_index_matches_inline(spark, sf_dir, tmp_path):
    """bm25_topk_index over a store_doc_stats=True store must return
    EXACTLY bm25_topk's rows on the same corpus (scoring is decimal-
    exact, so this is value equality); a store without doc stats
    raises."""
    from embedding_to_vectordatabase_spark.operators.search import (
        bm25_topk,
        bm25_topk_index,
        build_sparse_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    qt = spark.createDataFrame(
        [("q1", "spark"), ("q1", "stream"), ("q1", "batch"),
         ("q2", "join"), ("q2", "hash"), ("q2", "sort")],
        "query_id string, token string",
    )
    path = str(tmp_path / "bm25_idx")
    build_sparse_index(
        _word_postings(docs), path, num_buckets=16, store_doc_stats=True
    )
    got = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
        for r in bm25_topk_index(spark, path, qt, k=10).collect()
    )
    want = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
        for r in bm25_topk(docs, qt, k=10).collect()
    )
    assert got == want and got
    # a plain store (no doc stats) must refuse, not mis-score
    plain = str(tmp_path / "bm25_plain")
    build_sparse_index(_word_postings(docs), plain, num_buckets=16)
    with pytest.raises(ValueError, match="store_doc_stats"):
        bm25_topk_index(spark, plain, qt, k=10)


def test_bm25_index_upsert_equals_full_build(spark, sf_dir, tmp_path):
    """Document-granularity upsert: appending half the corpus must
    equal a full rebuild — dl rides each batch's own window, df and
    (N, total_dl) sum across segments."""
    from embedding_to_vectordatabase_spark.operators.search import (
        bm25_topk_index,
        build_sparse_index,
        upsert_sparse_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    qt = spark.createDataFrame(
        [("q1", "spark"), ("q1", "stream"), ("q2", "join")],
        "query_id string, token string",
    )
    inc = str(tmp_path / "bm25_inc")
    build_sparse_index(
        _word_postings(docs.filter(F.col("doc_id") % 2 == 0)),
        inc, num_buckets=16, store_doc_stats=True,
    )
    upsert_sparse_index(
        inc, _word_postings(docs.filter(F.col("doc_id") % 2 == 1))
    )
    full = str(tmp_path / "bm25_full")
    build_sparse_index(
        _word_postings(docs), full, num_buckets=16, store_doc_stats=True
    )
    key = lambda rows: sorted(  # noqa: E731
        (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
        for r in rows
    )
    got = key(bm25_topk_index(spark, inc, qt, k=10).collect())
    want = key(bm25_topk_index(spark, full, qt, k=10).collect())
    assert got == want and got


def test_bm25_index_df_above_ndocs_clamps_idf(spark, tmp_path):
    """df is a posting-ROW count per segment, so duplicate (doc,
    token) rows in one build — or a document split across upserts —
    can push df past n_docs; the Lucene form log((N+1)/(df+0.5))
    then goes NEGATIVE and the term scores as a penalty (r15
    ADVICE). The clamp keeps idf at Lucene's nonnegative floor:
    scores stay finite and positive."""
    import math

    from embedding_to_vectordatabase_spark.operators.search import (
        bm25_topk_index,
        build_sparse_index,
    )

    # df('x') = 2 posting rows > n_docs = 1: unclamped idf would be
    # log(2/2.5) < 0
    postings = spark.createDataFrame(
        [("d1", "x", 1.0), ("d1", "x", 1.0)],
        "doc_id string, token string, weight double",
    )
    path = str(tmp_path / "bm25_dupdf")
    build_sparse_index(
        postings, path, num_buckets=4, store_doc_stats=True
    )
    qt = spark.createDataFrame(
        [("q1", "x")], "query_id string, token string"
    )
    out = bm25_topk_index(spark, path, qt, k=5).collect()
    assert len(out) >= 1
    for r in out:
        assert math.isfinite(r["score"]) and r["score"] > 0, r


def test_ivf_probe_selection_follows_metric(spark, tmp_path):
    """IP probe routing must pick the max-inner-product lists, not the
    L2-nearest ones: with an unnormalized corpus the true max-IP
    neighbors live in a high-norm cluster that is L2-FAR from the
    query, so an L2 probe at nprobe=1 would search the wrong list
    (the review finding: both IVF composites routed by L2 for every
    metric). Asserted for IVFADC and IVF_SQ8."""
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        ann_topk_ivfadc,
        ann_topk_ivfsq8,
        build_ivfadc_index,
        build_ivfsq8_index,
    )

    rng = np.random.default_rng(5)
    dim = 16
    # cluster A: near the query direction but tiny norm (L2-close);
    # cluster B: same direction, huge norm (L2-far, max IP)
    a = rng.normal(0, 0.05, (200, dim)) + 0.5
    b = rng.normal(0, 0.05, (200, dim)) + 40.0
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(np.vstack([a, b]))
    ]
    emb_df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    q = spark.createDataFrame(
        [(0, [1.0] * dim)], "query_id long, embedding array<float>"
    )
    exact_top = set(range(200, 400))  # every B member beats every A
    adc_path = str(tmp_path / "ip_adc")
    build_ivfadc_index(emb_df, adc_path, nlist=4, m=4, seed=7)
    got_adc = {
        r["vec_id"]
        for r in ann_topk_ivfadc(
            spark, adc_path, q, k=5, metric="IP", nprobe=1
        ).collect()
    }
    assert got_adc and got_adc <= exact_top, got_adc
    sq8_path = str(tmp_path / "ip_sq8")
    build_ivfsq8_index(emb_df, sq8_path, nlist=4, seed=7)
    got_sq8 = {
        r["vec_id"]
        for r in ann_topk_ivfsq8(
            spark, sq8_path, q, k=5, metric="IP", nprobe=1
        ).collect()
    }
    assert got_sq8 and got_sq8 <= exact_top, got_sq8


def test_ivf_ip_store_assigns_by_max_ip_and_upsert_keeps_metric(
    spark, tmp_path
):
    """An IP-metric store must ASSIGN lists by max inner product at
    build AND upsert (r14 ADVICE: search-time probes were made
    metric-faithful but encode still routed by L2, so high-IP vectors
    could land in lists the IP probe ranks low). The metric is
    recorded in ivf_meta.parquet and honored by upserts without the
    caller restating it."""
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        _load_ivf_centroids,
        _load_ivf_meta,
        build_ivfadc_index,
        build_ivfsq8_index,
        upsert_ivfadc_index,
        upsert_ivfsq8_index,
    )

    rng = np.random.default_rng(11)
    dim = 8
    # two direction clusters with very different norms: IP and L2
    # assignment disagree for the high-norm half
    lo = rng.normal(0, 0.05, (100, dim)) + 0.3
    hi = rng.normal(0, 0.05, (100, dim)) + 20.0
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(np.vstack([lo, hi]))
    ]
    emb_df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    vecs = {i: np.array(v, dtype=np.float64) for i, v in rows}
    for name, build, upsert in (
        ("adc", build_ivfadc_index, upsert_ivfadc_index),
        ("sq8", build_ivfsq8_index, upsert_ivfsq8_index),
    ):
        path = str(tmp_path / f"ip_store_{name}")
        old = emb_df.filter(F.col("vec_id") % 2 == 0)
        kwargs = {"nlist": 4, "seed": 7, "metric": "IP"}
        if name == "adc":
            kwargs["m"] = 4
        build(old, path, **kwargs)
        assert _load_ivf_meta(spark, path) == "IP"
        cent = _load_ivf_centroids(spark, path)
        upsert(path, emb_df.filter(F.col("vec_id") % 2 == 1))
        got = {
            r["vec_id"]: int(r["list_id"])
            for r in spark.read.parquet(f"{path}/codes.parquet")
            .select("vec_id", "list_id")
            .collect()
        }
        assert len(got) == 200
        for vid, lid in got.items():
            ips = cent @ vecs[vid]
            # float32 routing vs this float64 check can flip exact
            # near-ties between cluster-sibling centroids; require
            # the chosen list's IP to BE the max up to that noise
            assert ips[lid] >= ips.max() - 1e-3 * max(
                1.0, abs(ips.max())
            ), (name, vid, lid, ips)


def test_bm25_index_duplicate_query_terms_match_inline(spark, sf_dir, tmp_path):
    """Duplicate (query_id, token) rows must contribute once per
    occurrence in BOTH paths (the inline scorer has no dedup, so the
    index path must not add one)."""
    from embedding_to_vectordatabase_spark.operators.search import (
        bm25_topk,
        bm25_topk_index,
        build_sparse_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    qt = spark.createDataFrame(
        [("q1", "spark"), ("q1", "spark"), ("q1", "join")],
        "query_id string, token string",
    )
    path = str(tmp_path / "bm25_dup")
    build_sparse_index(
        _word_postings(docs), path, num_buckets=16, store_doc_stats=True
    )
    got = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
        for r in bm25_topk_index(spark, path, qt, k=10).collect()
    )
    want = sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
        for r in bm25_topk(docs, qt, k=10).collect()
    )
    assert got == want and got


def test_sparse_index_property_matches_inline(spark, tmp_path):
    """Property (hypothesis): for arbitrary small posting relations
    and cap values, the persisted-store search equals the inline form
    exactly — build/bucket/df-segment logic holds beyond the crafted
    fixtures."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from embedding_to_vectordatabase_spark.operators.search import (
        build_sparse_index,
        sparse_topk_index,
    )

    posting = st.tuples(
        st.integers(min_value=0, max_value=9),       # doc
        st.integers(min_value=0, max_value=14),      # token
        st.floats(
            min_value=0.1, max_value=9.0,
            allow_nan=False, allow_infinity=False,
        ),
    )

    case_i = [0]

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        rows=st.lists(posting, min_size=1, max_size=40),
        cap=st.one_of(st.none(), st.integers(min_value=1, max_value=8)),
        nb=st.sampled_from([1, 4, 16]),
    )
    def case(rows, cap, nb):
        # one posting per (doc, token): keep the max weight
        ded = {}
        for d, t, w in rows:
            ded[(d, t)] = max(w, ded.get((d, t), 0.0))
        cp = spark.createDataFrame(
            [(d, t, round(w, 3)) for (d, t), w in sorted(ded.items())],
            "doc_id long, token int, weight double",
        )
        qp = cp.filter(F.col("doc_id") <= 2).select(
            F.col("doc_id").alias("query_id"), "token", "weight"
        )
        case_i[0] += 1
        path = str(tmp_path / f"prop_{case_i[0]}")
        build_sparse_index(cp, path, num_buckets=nb)
        got = _rows_key(
            sparse_topk_index(
                spark, path, qp, k=3, max_doc_freq=cap
            ).collect()
        )
        want = _rows_key(
            sparse_topk_inverted(cp, qp, k=3, max_doc_freq=cap).collect()
        )
        assert got == want

    case()


def test_allowed_ids_prefilter_matches_filtered_bruteforce(
    spark, emb, queries, tmp_path
):
    """allowed_ids must be a PRE-filter: the filtered search's top-k
    equals exact dense top-k over the allowed subset (refined SQ8 is
    exact on its candidates), never a post-filtered tail of the
    unfiltered ranking. Asserted on the flat store and at full probe
    on both IVF composites."""
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        ann_topk_ivfadc,
        ann_topk_ivfsq8,
        build_ivfadc_index,
        build_ivfsq8_index,
        build_sq8_index,
        dense_topk,
        sq8_topk_index,
    )

    dim = len(emb.first()["embedding"])
    allowed = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    want = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in dense_topk(
            emb.join(allowed, "vec_id", "left_semi"), queries,
            k=5, metric="L2",
        ).collect()
    }
    assert want
    sq = str(tmp_path / "sq8_filter")
    build_sq8_index(
        emb, sq, params=(np.full(dim, -1.0), np.full(dim, 2.0))
    )
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in sq8_topk_index(
            spark, sq, queries, k=5, metric="L2", refine=emb,
            refine_k=50, symmetric=True, allowed_ids=allowed,
        ).collect()
    }
    assert got == want
    assert all(v % 3 == 0 for v in got.values())

    adc = str(tmp_path / "adc_filter")
    nlist, _ = build_ivfadc_index(emb, adc, nlist=8, m=8, seed=7)
    got_adc = {
        r["vec_id"]
        for r in ann_topk_ivfadc(
            spark, adc, queries, k=5, nprobe=nlist, refine=emb,
            refine_k=50, allowed_ids=allowed,
        ).collect()
    }
    assert got_adc and all(v % 3 == 0 for v in got_adc)
    ivq = str(tmp_path / "ivfsq8_filter")
    nlist2, _ = build_ivfsq8_index(
        emb, ivq, nlist=8, seed=7,
        params=(np.full(dim, -1.0), np.full(dim, 2.0)),
    )
    got_ivq = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ann_topk_ivfsq8(
            spark, ivq, queries, k=5, metric="L2", nprobe=nlist2,
            refine=emb, refine_k=50, symmetric=True,
            allowed_ids=allowed,
        ).collect()
    }
    assert got_ivq == want


def test_allowed_ids_prefilter_pq_opq_ivf_stores(
    spark, emb, queries, tmp_path
):
    """The same pre-filter contract on the remaining persisted-store
    searches: PQ/OPQ (refined) return only allowed ids and, with a
    generous refine_k, exactly the filtered exact top-k; the plain
    IVF store at full probe returns exactly the filtered exact
    top-k (its scoring is exact)."""
    from embedding_to_vectordatabase_spark.operators.search import (
        ann_topk_ivf_index,
        build_ivf_index,
        build_opq_index,
        build_pq_index,
        dense_topk,
        opq_topk_index,
        pq_topk_index,
    )

    allowed = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    want = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in dense_topk(
            emb.join(allowed, "vec_id", "left_semi"), queries,
            k=5, metric="L2",
        ).collect()
    }
    pq_path = str(tmp_path / "pq_filter")
    build_pq_index(emb, pq_path, m=8, seed=7)
    got_pq = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in pq_topk_index(
            spark, pq_path, queries, k=5, metric="L2", refine=emb,
            refine_k=200, allowed_ids=allowed,
        ).collect()
    }
    assert got_pq == want
    opq_path = str(tmp_path / "opq_filter")
    build_opq_index(emb, opq_path, m=8, seed=7, n_iter=1)
    got_opq = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in opq_topk_index(
            spark, opq_path, queries, k=5, metric="L2", refine=emb,
            refine_k=200, allowed_ids=allowed,
        ).collect()
    }
    assert got_opq == want
    ivf_path = str(tmp_path / "ivf_filter")
    nlist = build_ivf_index(emb, ivf_path, nlist=8, seed=7)
    got_ivf = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ann_topk_ivf_index(
            spark, ivf_path, emb, queries, k=5, metric="L2",
            nprobe=nlist, allowed_ids=allowed,
        ).collect()
    }
    assert got_ivf == want


def test_allowed_ids_prefilter_sparse_and_bm25_stores(spark, tmp_path):
    """The scalar pre-filter on the lexical stores: filtered results
    equal the same search over a store built from only the allowed
    docs' postings (sparse IP exactly; BM25 keeps CORPUS statistics
    by design, so its equality target is the full-store scores
    restricted to allowed docs)."""
    from embedding_to_vectordatabase_spark.operators.search import (
        bm25_topk_index,
        build_sparse_index,
        sparse_topk_index,
    )

    post = spark.createDataFrame(
        [
            (f"d{i}", t, 1.0 + (i + j) % 3)
            for i in range(12)
            for j, t in enumerate(["alpha", "beta", "gamma"])
        ],
        "doc_id string, token string, weight double",
    )
    allowed = spark.createDataFrame(
        [(f"d{i}",) for i in range(0, 12, 2)], "doc_id string"
    )
    full = str(tmp_path / "sp_full")
    only = str(tmp_path / "sp_only")
    build_sparse_index(post, full, num_buckets=4, store_doc_stats=True)
    build_sparse_index(
        post.join(allowed, "doc_id", "left_semi"), only,
        num_buckets=4, store_doc_stats=True,
    )
    qp = spark.createDataFrame(
        [("q1", "alpha", 1.0), ("q1", "gamma", 2.0)],
        "query_id string, token string, weight double",
    )
    key = lambda rows: sorted(  # noqa: E731
        (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
        for r in rows
    )
    got = key(
        sparse_topk_index(
            spark, full, qp, k=20, allowed_ids=allowed
        ).collect()
    )
    want = key(sparse_topk_index(spark, only, qp, k=20).collect())
    assert got == want and got
    assert all(int(d[1:]) % 2 == 0 for _, d, _, _ in got)

    qt = qp.select("query_id", "token")
    bm = key(
        bm25_topk_index(spark, full, qt, k=20, allowed_ids=allowed).collect()
    )
    assert bm and all(int(d[1:]) % 2 == 0 for _, d, _, _ in bm)
    # BM25 keeps corpus stats: scores equal the unfiltered search's
    # scores for the surviving docs, re-ranked
    unfiltered = {
        (r["query_id"], r["doc_id"]): round(r["score"], 9)
        for r in bm25_topk_index(spark, full, qt, k=50).collect()
    }
    for qid, d, s, _ in bm:
        assert unfiltered[(qid, d)] == s


def test_rebalance_ivfsq8_fixes_skew_and_preserves_results(
    spark, tmp_path
):
    """Rebalancing after upsert drift: a store built on ONE cluster
    routes a later, far-away cluster into few overweight lists;
    rebalance retrains the coarse quantizer from DECODED codes and
    re-routes map-side. Code bytes are untouched, so full-probe
    symmetric results are identical before/after; list occupancy
    skew drops; partition pruning still plans."""
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.metrics import (
        index_stats,
    )
    from embedding_to_vectordatabase_spark.operators.search import (
        ann_topk_ivfsq8,
        build_ivfsq8_index,
        rebalance_ivfsq8_index,
        upsert_ivfsq8_index,
    )

    rng = np.random.default_rng(21)
    dim = 8
    a = rng.normal(0, 0.02, (120, dim)) + 0.2   # build-time cluster
    b = rng.normal(0, 0.02, (120, dim)) - 0.6   # drift cluster
    mk = lambda vs, off: spark.createDataFrame(  # noqa: E731
        [(off + i, [float(x) for x in v]) for i, v in enumerate(vs)],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "ivfsq8_rebal")
    nlist, _ = build_ivfsq8_index(
        mk(a, 0), path, nlist=4, seed=7,
        params=(np.full(dim, -1.0), np.full(dim, 2.0)),
    )
    upsert_ivfsq8_index(path, mk(b, 1000))
    q = mk(b[:2], 5000).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def full_probe():
        return sorted(
            (r["query_id"], r["vec_id"], r["score"], r["rank"])
            for r in ann_topk_ivfsq8(
                spark, path, q, k=10, metric="L2", nprobe=64,
                symmetric=True,
            ).collect()
        )

    def skew():
        return {
            r["relation"]: r for r in index_stats(spark, path).collect()
        }["codes"]["skew_ratio"]

    before = full_probe()
    skew_before = skew()
    n_eff = rebalance_ivfsq8_index(spark, path, seed=11)
    assert n_eff >= 1
    assert full_probe() == before  # code bytes untouched
    assert skew() <= skew_before  # occupancy no worse, typically better
    plan = ann_topk_ivfsq8(
        spark, path, q, k=3, nprobe=1
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    # the drift cluster is now retrievable at nprobe=1 (its own list)
    got = {
        r["vec_id"]
        for r in ann_topk_ivfsq8(
            spark, path, q, k=5, metric="L2", nprobe=1
        ).collect()
    }
    assert got and all(v >= 1000 for v in got)


def test_load_ivf_meta_missing_vs_broken(spark, tmp_path):
    """_load_ivf_meta falls back to "L2" ONLY when the meta store is
    absent (pre-meta stores assigned by L2 — their contract); a store
    that exists but cannot be read must RAISE, not silently reroute
    an IP store's assignment to L2 (r15 ADVICE, low)."""
    import pytest as _pytest

    from embedding_to_vectordatabase_spark.operators.search import (
        _load_ivf_meta,
    )

    missing = str(tmp_path / "no_such_index")
    assert _load_ivf_meta(spark, missing) == "L2"

    broken = tmp_path / "broken_index" / "ivf_meta.parquet"
    broken.mkdir(parents=True)
    (broken / "part-00000.parquet").write_bytes(b"not a parquet file")
    with _pytest.raises(Exception):
        _load_ivf_meta(spark, str(tmp_path / "broken_index"))


def test_pq_auto_m_width_aware(spark):
    """m=None resolves width-aware: max(16, dim//16) bytes clamped to
    a divisor of dim — a defaults caller at a contract-width dim no
    longer gets the measured-inadequate 8/16-byte point (r15 verdict
    #3); an explicit under-budget m warns instead of failing."""
    import warnings

    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        _auto_pq_m,
        pq_train,
    )

    assert _auto_pq_m(1024) == 64
    assert _auto_pq_m(768) == 48
    assert _auto_pq_m(256) == 16
    assert _auto_pq_m(64) == 16
    assert _auto_pq_m(8) == 8       # tiny dims clamp to dim
    assert _auto_pq_m(100) == 10    # divisor clamp (<= max(16, 6))

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [
            (i, [float(x) for x in rng.normal(0, 1, 64)])
            for i in range(60)
        ],
        "vec_id long, embedding array<float>",
    )
    books = pq_train(emb, seed=7)  # auto: dim 64 -> m 16
    assert books.shape[0] == 16
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        pq_train(emb, m=1, seed=7)  # 1 byte / 64 dims: under budget
        assert any("bytes/dim" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        pq_train(emb, m=4, seed=7)  # 4/64 = 1/16: fine, no warning
        assert not any("bytes/dim" in str(x.message) for x in w)


def test_fit_pq_books_distributed_matches_serial(spark):
    """r18: the m per-subspace Lloyd fits moved from a serial driver
    loop to m parallel tasks over a broadcast sample. _lloyd is
    deterministic given (X, k, seed), so the distributed books must be
    bit-identical to the serial spelling (sc=None)."""
    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        _fit_pq_books,
    )

    X = np.random.default_rng(3).standard_normal((500, 64))
    serial = _fit_pq_books(X, 8, 256, seed=7, sc=None)
    dist = _fit_pq_books(X, 8, 256, seed=7, sc=spark.sparkContext)
    assert serial.shape == dist.shape == (8, 256, 8)
    assert np.array_equal(serial, dist)


def _vec_df(spark, vs, off=0):
    return spark.createDataFrame(
        [(off + i, [float(x) for x in v]) for i, v in enumerate(vs)],
        "vec_id long, embedding array<float>",
    )


def _jobs_in(sc, group, fn):
    """(fn(), number of Spark jobs fn ran) — counted by job group."""
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ivfsq8_upsert_search_job_counts(spark, tmp_path):
    """The upsert→search round trip's per-call job floor: each tiny
    relation (centroids, params, meta) loads in ONE job and the
    appended-row count is observed on the write itself. Schema
    inference or a range-partitioned orderBy per load, or re-counting
    the code store around the append, adds jobs and fails here."""
    import uuid

    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        ann_topk_ivfsq8,
        build_ivfsq8_index,
        upsert_ivfsq8_index,
    )

    rng = np.random.default_rng(5)
    vs = rng.normal(0, 1, (240, 8))
    path = str(tmp_path / "ivfsq8_jobs")
    build_ivfsq8_index(_vec_df(spark, vs[:160]), path, nlist=4, seed=7)
    batch = _vec_df(spark, vs[160:], off=160)
    q = _vec_df(spark, vs[:3]).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    live = _vec_df(spark, vs)
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    n, up_jobs = _jobs_in(
        sc, f"upsert-{tag}", lambda: upsert_ivfsq8_index(path, batch)
    )
    # the refined call shape of the upsert→search benchmark cycle
    rows, search_jobs = _jobs_in(
        sc, f"search-{tag}",
        lambda: ann_topk_ivfsq8(
            spark, path, q, k=3, nprobe=2, refine=live, refine_k=6
        ).collect(),
    )
    assert n == 80
    assert len(rows) == 9
    assert up_jobs <= 5, up_jobs
    assert search_jobs <= 9, search_jobs


_UPSERT_FAMILIES = {
    "pq": ("build_pq_index", "upsert_pq_index", {"m": 4, "nbits": 4}),
    "ivfadc": (
        "build_ivfadc_index", "upsert_ivfadc_index",
        {"nlist": 4, "m": 4, "nbits": 4},
    ),
    "opq": (
        "build_opq_index", "upsert_opq_index",
        {"m": 4, "nbits": 4, "n_iter": 2},
    ),
    "sq8": ("build_sq8_index", "upsert_sq8_index", {}),
    "ivfsq8": ("build_ivfsq8_index", "upsert_ivfsq8_index", {"nlist": 4}),
}


@pytest.mark.parametrize("family", sorted(_UPSERT_FAMILIES))
def test_upsert_returns_exact_batch_count(spark, tmp_path, family):
    """Every upsert returns exactly the batch's row count (not merely
    n > 0); an empty batch returns 0 and adds no rows. IVF upserts
    write list-clustered files: a batch spread over several tasks
    adds at most one file per touched list directory."""
    import os

    import numpy as np

    from embedding_to_vectordatabase_spark.operators import search

    build_name, upsert_name, kwargs = _UPSERT_FAMILIES[family]
    build = getattr(search, build_name)
    upsert = getattr(search, upsert_name)
    rng = np.random.default_rng(3)
    vs = rng.normal(0, 1, (200, 8))
    path = str(tmp_path / f"{family}_count")
    build(_vec_df(spark, vs[:120]), path, seed=7, **kwargs)
    codes = f"{path}/codes.parquet"

    def files():
        return {
            os.path.join(d, f)
            for d, _, fs in os.walk(codes)
            for f in fs
            if f.endswith(".parquet")
        }

    before = files()
    batch = _vec_df(spark, vs[120:], off=120).repartition(4)
    assert upsert(path, batch) == 80
    assert spark.read.parquet(codes).count() == 200
    if family.startswith("ivf"):
        added = [os.path.dirname(p) for p in files() - before]
        assert added
        assert max(added.count(d) for d in set(added)) <= 1, added
    assert upsert(path, batch.filter(F.lit(False))) == 0
    assert spark.read.parquet(codes).count() == 200


def test_ivfsq8_upsert_without_meta_routes_by_l2(spark, tmp_path):
    """A store whose ivf_meta relation is missing (built before the
    metric was recorded) keeps its L2 assignment contract on upsert,
    even where max-IP routing would pick other lists."""
    import shutil

    import numpy as np

    from embedding_to_vectordatabase_spark.operators.search import (
        _load_ivf_centroids,
        build_ivfsq8_index,
        upsert_ivfsq8_index,
    )

    rng = np.random.default_rng(11)
    # two direction clusters with very different norms: IP and L2
    # assignment disagree for the low-norm half
    vs = np.vstack(
        [rng.normal(0, 0.05, (100, 8)) + 0.3,
         rng.normal(0, 0.05, (100, 8)) + 20.0]
    )
    path = str(tmp_path / "ivfsq8_nometa")
    build_ivfsq8_index(
        _vec_df(spark, vs[::2]), path, nlist=4, seed=7, metric="IP"
    )
    shutil.rmtree(f"{path}/ivf_meta.parquet")
    cent = _load_ivf_centroids(spark, path)
    odd = _vec_df(spark, vs).filter(F.col("vec_id") % 2 == 1)
    assert upsert_ivfsq8_index(path, odd) == 100
    got = {
        r["vec_id"]: int(r["list_id"])
        for r in spark.read.parquet(f"{path}/codes.parquet")
        .filter(F.col("vec_id") % 2 == 1)
        .collect()
    }
    assert len(got) == 100
    ip_differs = 0
    for vid, lid in got.items():
        d2 = ((cent - vs[vid]) ** 2).sum(axis=1)
        # float32 routing vs this float64 check: allow near-ties
        assert d2[lid] <= d2.min() + 1e-3 * max(1.0, d2.min()), (vid, lid)
        ip_differs += int((cent @ vs[vid]).argmax() != lid)
    assert ip_differs > 0


def test_load_small_empty_relation_raises(spark, tmp_path):
    """An existing but EMPTY quantizer relation raises a clear error
    instead of loading as an empty matrix."""
    from embedding_to_vectordatabase_spark.operators.search import (
        _load_ivf_centroids,
    )

    spark.createDataFrame([], "list_id int, centroid array<double>").write.parquet(
        str(tmp_path / "empty_index" / "centroids.parquet")
    )
    with pytest.raises(ValueError, match="empty centroids"):
        _load_ivf_centroids(spark, str(tmp_path / "empty_index"))
