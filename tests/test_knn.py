"""knn operators: brute-force ground truth, batch/point consistency, and
physical-plan shape (the part that matters at scale)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hnsw_vector_db_spark.operators.knn import knn_batch, knn_point
from hnsw_vector_db_spark.plans.explain import (
    assert_no_cartesian,
    broadcast_join_count,
    has_take_ordered,
    physical_plan,
)
from hnsw_vector_db_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, X


def _np_topk(ids, X, q, k, metric="cosine"):
    q = np.asarray(q, dtype=np.float64)
    if metric == "cosine":
        d = 1 - (X @ q) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
    else:
        d = np.linalg.norm(X - q, axis=1)
    order = np.lexsort((ids, d))
    return [int(ids[i]) for i in order[:k]]


@pytest.mark.parametrize("metric", ["cosine", "euclidean"])
def test_knn_point_matches_numpy(emb, emb_np, metric):
    ids, X = emb_np
    q = X[0].tolist()
    got = [r["vec_id"] for r in knn_point(emb, q, k=10, metric=metric).collect()]
    assert got == _np_topk(ids, X, q, 10, metric)


def test_knn_point_plan_no_shuffle(emb):
    """Top-k must plan as TakeOrderedAndProject over the scan — the
    per-partition bounded heap; a global sort would be a scale bug."""
    q = [0.0] * 64
    df = knn_point(emb, q, k=5)
    assert has_take_ordered(df), physical_plan(df)
    assert "Exchange" not in physical_plan(df)


def test_knn_batch_consistent_with_point(spark, emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = knn_batch(queries, emb, k=5).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    for qid, expected_rows in by_q.items():
        qv = emb.filter(F.col("vec_id") == qid).first()["embedding"]
        single = [r["vec_id"] for r in knn_point(emb, qv, k=5).collect()]
        assert expected_rows == single


def test_knn_batch_plan_broadcasts_queries(emb):
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    df = knn_batch(queries, emb, k=5)
    assert_no_cartesian(df)
    assert broadcast_join_count(df) >= 1, physical_plan(df)


def test_knn_monotone_in_k(emb, emb_np):
    """top-k is a prefix of top-(k+5) — reference graph.py:188-189 sort
    semantics."""
    ids, X = emb_np
    q = X[1].tolist()
    k5 = [r["vec_id"] for r in knn_point(emb, q, k=5).collect()]
    k10 = [r["vec_id"] for r in knn_point(emb, q, k=10).collect()]
    assert k10[:5] == k5


def test_hnsw_graph_stats_shape(spark, sf_dir):
    from hnsw_vector_db_spark.operators.hnsw_partition import (
        hnsw_edges,
        hnsw_graph_stats,
    )
    from hnsw_vector_db_spark.operators.similarity import ivf_fit

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = ivf_fit(emb, n_cells=2)
    edges = hnsw_edges(assigned, m=4, ef_construction=16).cache()
    stats = hnsw_graph_stats(edges).collect()
    assert stats[0]["layer"] == 0
    base = stats[0]
    n = emb.count()
    assert base["n_nodes"] == n                      # every vector linked at layer 0
    # degree cap M0 = 2*m bounds the UNPROTECTED edges; trim-exempt parent
    # edges (the connectivity spanning tree) may sit on top of the cap
    max_unprot = (
        edges.filter((F.col("layer") == 0) & (~F.col("prot")))
        .groupBy("cell", "src")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert max_unprot <= 8
    # determinism: same seed => identical stats
    stats2 = hnsw_graph_stats(hnsw_edges(assigned, m=4, ef_construction=16)).collect()
    assert [tuple(r) for r in stats] == [tuple(r) for r in stats2]


def test_knn_twophase_equals_batch(spark, emb):
    from hnsw_vector_db_spark.operators.knn import knn_auto, knn_batch, knn_batch_twophase

    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # every corpus vector three times (ids below and above the original)
    # and a repeated query: each query's distances come in tied triples,
    # so ranks 4-6 tie and rank k=5 is decided by the id tiebreak alone
    base = emb.select("vec_id", "embedding")
    dup_emb = base.unionByName(
        base.withColumn("vec_id", -1 - F.col("vec_id"))
    ).unionByName(base.withColumn("vec_id", F.col("vec_id") + 1_000_000))
    dup_queries = queries.unionByName(
        queries.withColumn("query_id", F.col("query_id") + 100)
    )
    for corpus, qs in ((emb, queries), (dup_emb, dup_queries)):
        for metric in ("cosine", "euclidean", "manhattan", "dot_product"):
            a = {
                (r["query_id"], r["rank"]): (r["vec_id"], round(r["dist"], 6))
                for r in knn_batch(qs, corpus, k=5, metric=metric).collect()
            }
            b = {
                (r["query_id"], r["rank"]): (r["vec_id"], round(r["dist"], 6))
                for r in knn_batch_twophase(qs, corpus, k=5, metric=metric).collect()
            }
            assert a == b, f"two-phase != batch for {metric}"
    # auto picks the small path here but must produce identical results
    cos = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in knn_batch(queries, emb, k=5, metric="cosine").collect()
    }
    c = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in knn_auto(queries, emb, k=5, metric="cosine").collect()
    }
    assert c == cos


def test_knn_twophase_chunked_collect_equals_batch(spark, emb):
    """A query set bigger than chunk_size must chunk the driver collect
    (multiple broadcast corpus passes + union) with results identical to
    the single-pass broadcast-join plan — the driver never holds more
    than chunk_size query rows at once."""
    from hnsw_vector_db_spark.operators.knn import knn_batch, knn_batch_twophase

    queries = emb.filter(F.col("vec_id") < 9).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["dist"], 6))
        for r in knn_batch(queries, emb, k=4).collect()
    }
    # chunk_size=4 forces >= 3 chunks over the 9 queries
    b = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["dist"], 6))
        for r in knn_batch_twophase(queries, emb, k=4, chunk_size=4).collect()
    }
    assert a == b
    import pytest

    with pytest.raises(ValueError, match="chunk_size"):
        knn_batch_twophase(queries, emb, k=4, chunk_size=0)


def test_knn_twophase_pulls_a_local_query_batch_without_a_job(spark, emb, jobs_in_group):
    """Queries under ``chunk_size`` arrive in one bounded collect, which
    runs no job on a local relation: the call costs the map-side top-k
    job and the rank job only, however many partitions the query frame
    has (a per-partition iterator would add one job per partition)."""
    from hnsw_vector_db_spark.operators.knn import knn_batch, knn_batch_twophase

    import pandas as pd

    rows = emb.filter(F.col("vec_id") < 40).select("vec_id", "embedding").collect()
    key = "spark.sql.leafNodeDefaultParallelism"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "4")
    try:
        # built from pandas through Arrow: a LocalRelation over 4 partitions
        queries = spark.createDataFrame(
            pd.DataFrame(
                {"query_id": [r["vec_id"] for r in rows],
                 "query_vec": [list(r["embedding"]) for r in rows]}
            ),
            "query_id long, query_vec array<float>",
        )
        assert "LocalRelation" in queries._jdf.queryExecution().optimizedPlan().toString()
        assert queries.rdd.getNumPartitions() == 4
        out = []
        n = jobs_in_group(
            "knn-twophase-jobs",
            lambda: out.extend(knn_batch_twophase(queries, emb, k=3).collect()),
        )
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert n == 2, n
    want = knn_batch(queries, emb, k=3).collect()
    key_of = lambda r: (r["query_id"], r["rank"], r["vec_id"])
    assert sorted(map(key_of, out)) == sorted(map(key_of, want))


def test_hard_negatives_excludes_same_label_and_self(spark, sf_dir):
    from pyspark.sql import functions as F

    from hnsw_vector_db_spark.operators.knn import hard_negatives
    from hnsw_vector_db_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings").cache()
    anchors = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    out = hard_negatives(anchors, emb, k=5).join(
        emb.select("vec_id", "label"), "vec_id"
    ).join(
        anchors.select("query_id", "query_label"), "query_id"
    )
    rows = out.collect()
    assert len(rows) == 15
    for r in rows:
        assert r["label"] != r["query_label"]
        assert r["vec_id"] != r["query_id"]


def test_negative_samples_uniform_and_never_self(spark, sf_dir):
    from hnsw_vector_db_spark.operators.knn import negative_samples
    from hnsw_vector_db_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    rows = negative_samples(emb, n_rows=n, k=4).collect()
    assert len(rows) == 4 * n
    for r in rows:
        assert 0 <= r["neg_id"] < n
        assert r["neg_id"] != r["vec_id"]
    # same call is a pure function: identical result set
    again = {(r["vec_id"], r["neg_rank"], r["neg_id"]) for r in
             negative_samples(emb, n_rows=n, k=4).collect()}
    assert again == {(r["vec_id"], r["neg_rank"], r["neg_id"]) for r in rows}


def test_matryoshka_prefix_recall(spark, sf_dir):
    """Prefix-16 shortlist of 50 holds most of the exact top-10 on
    gaussian data, and a full-width 'prefix' (dim 64) with shortlist >= n
    degenerates to exact kNN (identity check)."""
    from pyspark.sql import functions as F

    from hnsw_vector_db_spark.operators.knn import knn_point, matryoshka_knn
    from hnsw_vector_db_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings").cache()
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = [r["vec_id"] for r in knn_point(emb, qv, k=10).collect()]
    # unstructured gaussian embeddings are the worst case for prefix
    # search (no MRL training) — the contract is the recall/compute DIAL:
    # a larger shortlist never loses recall, and recall is non-trivial
    recalls = {}
    for sl in (50, 200):
        approx = {
            r["vec_id"]
            for r in matryoshka_knn(emb, qv, k=10, prefix_dim=16, shortlist=sl).collect()
        }
        recalls[sl] = len(approx & set(exact))
    assert recalls[50] >= 3
    assert recalls[200] >= recalls[50]
    assert recalls[200] >= 7
    n = emb.count()
    full = [
        r["vec_id"]
        for r in matryoshka_knn(emb, qv, k=10, prefix_dim=64, shortlist=n).collect()
    ]
    assert full == exact


def test_rrf_fuse_golden(spark):
    """Hand-computed Reciprocal Rank Fusion: items in both lists sum
    their 1/(k+rank) contributions; single-list items keep one term;
    ordering by fused score with id tiebreak."""
    from hnsw_vector_db_spark.operators.knn import rrf_fuse

    a = spark.createDataFrame([(10, 1), (11, 2), (12, 3)], "vec_id long, rank int")
    b = spark.createDataFrame([(11, 1), (10, 2), (13, 3)], "vec_id long, rank int")
    out = {r["vec_id"]: (r["rrf_score"], r["n_lists"])
           for r in rrf_fuse([a, b], k_const=60, top_k=10).collect()}
    assert out[10] == (round(1 / 61 + 1 / 62, 6), 2)
    assert out[11] == (round(1 / 62 + 1 / 61, 6), 2)
    assert out[12] == (round(1 / 63, 6), 1)
    assert out[13] == (round(1 / 63, 6), 1)
    ranked = [r["vec_id"] for r in rrf_fuse([a, b], k_const=60, top_k=10).collect()]
    # 10 and 11 tie exactly -> id tiebreak; singles tie -> id tiebreak
    assert ranked == [10, 11, 12, 13]


def test_rrf_fuse_respects_top_k(spark):
    from hnsw_vector_db_spark.operators.knn import rrf_fuse

    a = spark.createDataFrame([(i, i + 1) for i in range(20)], "vec_id long, rank int")
    out = rrf_fuse([a], top_k=5).collect()
    assert [r["vec_id"] for r in out] == [0, 1, 2, 3, 4]


def test_mmr_golden_small(spark):
    """Hand-checkable MMR: pick 1 is the relevance top-1 (zero penalty);
    at pick 3 the near-copy of an ALREADY-PICKED doc (v4 ~ v2, pairwise
    sim ~1) is penalized below the equally-relevant diverse v3."""
    from hnsw_vector_db_spark.operators.knn import mmr_rerank

    rows = [
        (1, [1.0, 0.0]),       # rel 1.0 to query [1,0]
        (2, [0.8, 0.6]),       # rel 0.8
        (3, [0.8, -0.6]),      # rel 0.8, diverse from 2 (sim 0.28)
        (4, [0.79, 0.613]),    # rel ~0.79, near-copy of 2 (sim ~1.0)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mmr_rerank(df, [1.0, 0.0], k=3, lam=0.5).collect()
    order = [r["vec_id"] for r in out]
    assert order[0] == 1                      # pure relevance at step 1
    assert out[0]["diversity_penalty"] == 0.0
    assert order[1] == 2                      # 2 vs 3 tie -> id tiebreak
    assert order[2] == 3                      # diversity beats near-copy 4
    assert [r["mmr_rank"] for r in out] == [1, 2, 3]


def test_mmr_lambda_one_equals_knn(spark, emb):
    """lam=1 degenerates to plain relevance top-k == knn_point order."""
    from hnsw_vector_db_spark.operators.knn import knn_point, mmr_rerank

    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    got = [r["vec_id"] for r in mmr_rerank(emb, q, k=10, lam=1.0).collect()]
    want = [r["vec_id"] for r in knn_point(emb, q, k=10, metric="cosine").collect()]
    assert got == want


def test_mmr_deterministic_and_unique(spark, emb):
    from hnsw_vector_db_spark.operators.knn import mmr_rerank

    q = emb.filter(F.col("vec_id") == 1).first()["embedding"]
    a = [tuple(r) for r in mmr_rerank(emb, q, k=8, lam=0.3).collect()]
    b = [tuple(r) for r in mmr_rerank(emb, q, k=8, lam=0.3).collect()]
    assert a == b
    ids = [r[0] for r in a]
    assert len(set(ids)) == len(ids) == 8
