"""Degenerate-input semantics: empty tables, empty text, zero vectors,
k larger than the corpus — the edges a production engine must not crash
on (the reference raises or corrupts on several of these: inserting into
a full index raises `core/hnsw/graph.py:129-130`; searching an empty
index IndexErrors at the entry-point lookup)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hnsw_vector_db_spark.operators import dedup, text_analysis
from hnsw_vector_db_spark.operators.knn import knn_batch, knn_batch_twophase, knn_point
from hnsw_vector_db_spark.operators.similarity import similarity_join

EMB_SCHEMA = "vec_id long, embedding array<float>"
DOC_SCHEMA = "doc_id long, text string"


@pytest.fixture(scope="module")
def empty_emb(spark):
    return spark.createDataFrame([], EMB_SCHEMA)


def test_knn_point_empty_corpus(spark, empty_emb):
    assert knn_point(empty_emb, [1.0, 0.0], k=5).count() == 0


def test_knn_k_larger_than_corpus(spark):
    emb = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], EMB_SCHEMA)
    rows = knn_point(emb, [1.0, 0.0], k=100).collect()
    assert len(rows) == 2  # all rows, no padding, no crash


def test_knn_batch_empty_queries(spark):
    emb = spark.createDataFrame([(1, [1.0, 0.0])], EMB_SCHEMA)
    queries = spark.createDataFrame([], "query_id long, query_vec array<float>")
    assert knn_batch(queries, emb, k=5).count() == 0
    assert knn_batch_twophase(queries, emb, k=5).count() == 0


def test_knn_zero_vector_query(spark):
    emb = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 0.0])], EMB_SCHEMA)
    rows = knn_point(emb, [0.0, 0.0], k=2, metric="cosine").collect()
    # zero-norm guard: all distances defined (cosine -> 1.0), nothing NaN
    assert len(rows) == 2
    assert all(r["dist"] is not None for r in rows)


def test_similarity_join_empty(spark, empty_emb):
    assert similarity_join(empty_emb, threshold=0.5).count() == 0


def test_dedup_empty_docs(spark):
    docs = spark.createDataFrame([], DOC_SCHEMA)
    assert dedup.exact_dedup(docs).count() == 0
    assert dedup.jaccard_pairs(docs).count() == 0
    assert dedup.minhash_signature_wide(docs).count() == 0
    assert dedup.simhash_near_dup(docs).count() == 0


def test_dedup_empty_and_whitespace_text(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two three four")], DOC_SCHEMA
    )
    # shingle-based ops drop shingle-less docs instead of crashing
    assert dedup.jaccard_pairs(docs, n=3, threshold=0.0).count() == 0
    sigs = {r["doc_id"] for r in dedup.minhash_signature_wide(docs, k=4).collect()}
    assert sigs == {3}
    # exact dedup keeps empty-text docs (they are rows like any other)
    kept = {r["doc_id"] for r in dedup.exact_dedup(docs).collect()}
    assert kept == {1, 2, 3}


def test_text_analysis_empty_text(spark):
    docs = spark.createDataFrame([(1, ""), (2, "hello world")], DOC_SCHEMA)
    tok = {r["doc_id"]: r["n_tokens"] for r in text_analysis.token_counts(docs).collect()}
    assert tok == {1: 0, 2: 2}
    q = {r["doc_id"]: r["quality"] for r in text_analysis.quality_score(docs).collect()}
    assert 0.0 <= q[1] <= 1.0  # no NaN / division by zero
    lang = {
        r["doc_id"]: r["pred_lang"] for r in text_analysis.language_id(docs).collect()
    }
    assert lang[1] == "und"


def test_embedding_neardup_no_pairs(spark):
    emb = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], EMB_SCHEMA)
    out = {r["vec_id"]: r["is_dup"] for r in dedup.embedding_neardup(emb, 0.99).collect()}
    assert out == {1: False, 2: False}


def test_neardup_components_no_edges(spark):
    nodes = spark.createDataFrame([(1,), (2,)], "vec_id long")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    got = {r["vec_id"]: r["rep_id"] for r in dedup.neardup_components(nodes, pairs).collect()}
    assert got == {1: 1, 2: 2}


def test_corpus_ops_on_empty_table(spark):
    from pyspark.sql import functions as F

    from hnsw_vector_db_spark.operators import corpus

    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    assert corpus.chunk_documents(empty).count() == 0
    assert corpus.shard_shuffle(empty).count() == 0
    w = spark.createDataFrame([], "source string, frac double")
    assert corpus.stratified_sample(empty, w).count() == 0
    assert corpus.pii_redact(empty).count() == 0


def test_hnsw_delete_empty_tombstones_is_identity(spark, sf_dir):
    from hnsw_vector_db_spark.operators.hnsw_partition import hnsw_build, hnsw_delete
    from hnsw_vector_db_spark.operators.similarity import ivf_fit
    from hnsw_vector_db_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = ivf_fit(emb, n_cells=4)
    index = hnsw_build(assigned).cache()
    tomb = spark.createDataFrame([], "vec_id long")
    out = hnsw_delete(index, tomb)
    assert out.exceptAll(index).count() == 0
    assert index.exceptAll(out).count() == 0


# ---------------------------------------------------------------------------
# bad vectors: a null vector or mixed dimensions fail loudly, naming the
# column, on every path that decodes a vector column into a matrix

_GOOD = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0], [1.0, 1.0, 0.0]]
_BAD = {"null": None, "mixed": [1.0, 2.0]}


def _with_bad(spark, bad, schema, extra=()):
    rows = [(i, *extra, v) for i, v in enumerate(_GOOD)]
    return spark.createDataFrame(rows + [(len(rows), *extra, bad)], schema)


def _good_corpus(spark):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(_GOOD)], "vec_id long, embedding array<double>"
    )


def _twophase(spark, bad, **kw):
    queries = _with_bad(spark, bad, "query_id long, query_vec array<double>")
    knn_batch_twophase(queries, _good_corpus(spark), k=2, **kw).collect()


def _hnsw_search(spark, bad):
    import numpy as np

    from hnsw_vector_db_spark.operators.hnsw_partition import hnsw_build, hnsw_search

    assigned = _good_corpus(spark).withColumn("cell", F.lit(0))
    index = hnsw_build(assigned, metric="euclidean")
    queries = _with_bad(spark, bad, "query_id long, query_vec array<double>")
    hnsw_search(
        index, queries, np.array([[0.5, 0.5, 0.5]]), k=2, nprobe=1, metric="euclidean"
    ).collect()


def _assign_blas(spark, bad):
    from hnsw_vector_db_spark.operators.similarity import assign_to_centroids_blas

    seeds = _with_bad(spark, bad, "seed_id long, seed_vec array<double>")
    assign_to_centroids_blas(_good_corpus(spark), seeds).collect()


def _hnsw_build(spark, bad):
    from hnsw_vector_db_spark.operators.hnsw_partition import hnsw_build

    assigned = _with_bad(
        spark, bad, "vec_id long, cell int, embedding array<double>", extra=(0,)
    )
    hnsw_build(assigned, metric="euclidean").collect()


_BAD_VECTOR_CASES = {
    # name: (run, the column the error must name)
    "knn_twophase": (_twophase, "query_vec"),
    "knn_twophase_chunked": (lambda s, b: _twophase(s, b, chunk_size=1), "query_vec"),
    "hnsw_search": (_hnsw_search, "query_vec"),
    "assign_to_centroids_blas": (_assign_blas, "seed_vec"),
    "hnsw_build": (_hnsw_build, "embedding"),
}


@pytest.mark.parametrize("kind", sorted(_BAD))
@pytest.mark.parametrize("case", sorted(_BAD_VECTOR_CASES))
def test_bad_vector_raises_value_error_naming_the_column(spark, case, kind):
    """Driver-side decodes raise ``ValueError`` directly; a decode inside
    a UDF (``hnsw_build``'s per-cell build) fails its task with the same
    ``ValueError``, which Spark re-raises with that text."""
    run, col = _BAD_VECTOR_CASES[case]
    with pytest.raises(Exception) as info:
        run(spark, _BAD[kind])
    err = info.value
    text = f"{type(err).__name__}: {err}"
    assert f"ValueError: vector column {col!r}" in text, text[-2000:]


# ---------------------------------------------------------------------------
# width mismatch: vectors of one width met against a broadcast or stored
# side of another fail with a ValueError giving both widths


def _narrow_queries(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "query_id long, query_vec array<double>"
    )


def _width_hnsw_search(spark, centroids):
    import numpy as np

    from hnsw_vector_db_spark.operators.hnsw_partition import hnsw_build, hnsw_search

    index = hnsw_build(_good_corpus(spark).withColumn("cell", F.lit(0)), metric="euclidean")
    hnsw_search(
        index, _narrow_queries(spark), np.array(centroids), k=2, nprobe=1, metric="euclidean"
    ).collect()


def _width_assign_blas(spark):
    from hnsw_vector_db_spark.operators.similarity import assign_to_centroids_blas

    seeds = spark.createDataFrame(
        [(0, [1.0, 0.0])], "seed_id long, seed_vec array<double>"
    )
    assign_to_centroids_blas(_good_corpus(spark), seeds).collect()


_WIDTH_CASES = {
    # name: (run, the two widths the error must give, in order)
    "knn_twophase": (
        lambda s: knn_batch_twophase(_narrow_queries(s), _good_corpus(s), k=2).collect(),
        (3, 2),
    ),
    "assign_to_centroids_blas": (_width_assign_blas, (3, 2)),
    "hnsw_search_routing": (lambda s: _width_hnsw_search(s, [[0.5, 0.5, 0.5]]), (2, 3)),
    "hnsw_search_cell": (lambda s: _width_hnsw_search(s, [[0.5, 0.5]]), (2, 3)),
}


@pytest.mark.parametrize("case", sorted(_WIDTH_CASES))
def test_width_mismatch_raises_value_error_giving_both_widths(spark, case):
    """The executor-side kernels (``topk_block``, ``assign_blocks``,
    ``hnsw_search``'s per-cell search) fail their task with the
    ``ValueError``, which Spark re-raises with that text; ``hnsw_search``
    checks the centroids on the driver before routing."""
    run, (w1, w2) = _WIDTH_CASES[case]
    with pytest.raises(Exception) as info:
        run(spark)
    err = info.value
    text = f"{type(err).__name__}: {err}"
    assert "ValueError: " in text, text[-2000:]
    assert re.search(rf"width {w1}\b.*width {w2}\b", text), text[-2000:]


# ---------------------------------------------------------------------------
# hnsw_search's parameters are checked on the driver, before any job


_BAD_SEARCH_ARGS = {"k": 0, "nprobe": 0, "ef": 0, "kernel": "beam"}


@pytest.mark.parametrize("name", sorted(_BAD_SEARCH_ARGS))
def test_hnsw_search_rejects_bad_parameters(spark, name):
    """k outside the REST bound, nprobe < 1, ef < 1 and an unknown kernel
    raise ``ValueError`` naming the parameter, not an empty frame."""
    import numpy as np

    from hnsw_vector_db_spark.operators.hnsw_partition import hnsw_build, hnsw_search

    index = hnsw_build(_good_corpus(spark).withColumn("cell", F.lit(0)), metric="euclidean")
    queries = spark.createDataFrame(
        [(0, [0.0, 1.0, 1.0])], "query_id long, query_vec array<double>"
    )
    args = {"k": 2, "nprobe": 1, name: _BAD_SEARCH_ARGS[name]}
    with pytest.raises(ValueError, match=rf"\b{name}\b"):
        hnsw_search(index, queries, np.array([[0.5, 0.5, 0.5]]), metric="euclidean", **args)


# ---------------------------------------------------------------------------
# graph-build parameters: an ef_construction below 1 or an unknown metric
# raise ValueError naming the parameter on the driver, not inside a worker


def _local_hnsw(spark, **bad):
    from hnsw_vector_db_spark.operators.hnsw_partition import LocalHNSW

    LocalHNSW(**bad)


def _build_with(spark, **bad):
    from hnsw_vector_db_spark.operators.hnsw_partition import hnsw_build

    hnsw_build(_good_corpus(spark).withColumn("cell", F.lit(0)), **bad)


def _insert_with(spark, **bad):
    import numpy as np

    from hnsw_vector_db_spark.operators.hnsw_partition import hnsw_build, hnsw_insert

    index = hnsw_build(_good_corpus(spark).withColumn("cell", F.lit(0)), metric="euclidean")
    hnsw_insert(index, _good_corpus(spark), np.array([[0.5, 0.5, 0.5]]), **bad)


_BUILD_SITES = {"LocalHNSW": _local_hnsw, "hnsw_build": _build_with, "hnsw_insert": _insert_with}
_BAD_BUILD_ARGS = {"ef_construction": 0, "metric": "cosin"}


@pytest.mark.parametrize("name", sorted(_BAD_BUILD_ARGS))
@pytest.mark.parametrize("site", sorted(_BUILD_SITES))
def test_hnsw_build_rejects_bad_parameters(spark, site, name):
    """ef_construction=0 used to die in a Python worker with an
    IndexError (an insert's beam held no candidate) and metric="cosin"
    silently built a euclidean graph."""
    with pytest.raises(ValueError, match=rf"\b{name}\b"):
        _BUILD_SITES[site](spark, **{name: _BAD_BUILD_ARGS[name]})


def test_local_hnsw_accepts_every_known_metric():
    """squared_euclidean stays accepted: a VectorTable may carry it into
    build_index."""
    from hnsw_vector_db_spark.functions.distance import METRICS
    from hnsw_vector_db_spark.operators.hnsw_partition import LocalHNSW

    for metric in METRICS:
        assert LocalHNSW(ef_construction=1, metric=metric).metric == metric
