"""k-nearest-neighbor operators — the reference's flagship query.

Reference parity: ``HNSWGraph.search(query, k, ef)`` (`core/hnsw/graph.py:
175-189`) returns the k ids with smallest distance to one query vector;
the REST layer enriches hits with metadata (`api/rest/server.py:159-186`).
The graph traversal itself (`_search_layer`, `graph.py:88-125`) is an
index-time artifact, not query semantics — Spark replaces it with:

- ``knn_point``: scan -> project distance -> TakeOrderedAndProject. Spark
  plans orderBy+limit as a per-partition bounded heap + single merge — the
  distributed twin of the reference's bounded ef-heap (`graph.py:120-124`).
  One pass over the table, no shuffle of the data itself: only k rows per
  partition move to the driver-side merge. At 100 TB this is
  embarrassingly parallel and scan-bound.
- ``knn_batch``: Q queries at once. The query side is broadcast (queries
  are small by construction; the corpus never moves), distance computed
  in codegen, then one window rank per query.
- ``knn_batch_twophase``: the same answer with a map-side BLAS top-k per
  Arrow batch, so the rank window sees about k candidates per query per
  batch instead of N.
  Up to ``chunk_size`` queries reach the driver in one bounded collect;
  only a larger Q streams in chunks, one corpus pass per chunk.

The approximate variants (LSH/IVF, `similarity.py`) are the real scale
path the reference's HNSW maps to.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hnsw_vector_db_spark.functions.distance import (
    block_distances,
    distance,
    distance_to_const,
    lit_double_array,
    unit_rows,
    vector_matrix,
)


def with_distance(
    df: DataFrame,
    query: Sequence[float],
    metric: str = "cosine",
    vector_col: str = "embedding",
    dist_col: str = "dist",
) -> DataFrame:
    """Project the distance to a constant query vector as a new column.

    The one builder for constant-query distances: the column is
    :func:`~hnsw_vector_db_spark.functions.distance.distance_to_const`,
    one SQL text parsed once, with the cosine query norm computed on the
    driver.
    """
    return df.withColumn(dist_col, distance_to_const(vector_col, query, metric))


def top_k_per_query(
    scored: DataFrame, k: int, query_id_col: str = "query_id", id_col: str = "vec_id"
) -> DataFrame:
    """The k rows of smallest ``dist`` per query, ties to the lower id:
    one ``row_number`` window over (dist, id) per ``query_id_col``.
    Output (query_id, id, dist, rank)."""
    w = Window.partitionBy(query_id_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "dist", "rank")
    )


def knn_point(
    vectors: DataFrame,
    query: Sequence[float],
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Top-k nearest rows to one query vector (reference `graph.py:175-189`).

    Ties break on id (the reference's sort is stable on insertion order,
    `graph.py:188`; an explicit id tiebreak makes results deterministic
    across engines). Plans as Scan -> WholeStageCodegen(project dist) ->
    TakeOrderedAndProject: no shuffle, k rows per partition merged once.
    k is bounded to the reference's request contract
    (`api/rest/server.py:33`, via :func:`~.table.validate_k`).
    """
    from hnsw_vector_db_spark.operators.table import validate_k

    validate_k(k)
    scored = with_distance(vectors, query, metric, vector_col)
    return (
        scored.select(id_col, "dist")
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_batch(
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Per-query top-k for a batch of queries (the reference can only loop
    single searches; this is the set-oriented form).

    The small query side is broadcast so the corpus never shuffles for the
    join; the per-query rank shuffles only on query_id. Output:
    (query_id, vec_id, dist, rank). k bounded per the reference's request
    contract (`api/rest/server.py:33`).
    """
    from hnsw_vector_db_spark.operators.table import validate_k

    validate_k(k)
    joined = vectors.join(F.broadcast(queries))
    scored = joined.withColumn(
        "dist", distance(F.col(vector_col), F.col(query_vec_col), metric)
    )
    return top_k_per_query(scored, k, query_id_col, id_col)


def knn_batch_twophase(
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    chunk_size: int = 100_000,
) -> DataFrame:
    """Exact batch kNN with map-side pruning — the 100 TB form of
    ``knn_batch``.

    Phase 1 (mapInPandas over the corpus, queries shipped as a dense
    matrix): each Arrow batch computes the full Q x B distance block with
    one BLAS matmul and keeps only the per-query top-k of that batch —
    so the shuffle carries at most ~Q * k * num_partitions candidate rows
    instead of Q * N. Phase 2: one window rank over that small candidate
    set. Same exact semantics as ``knn_batch`` (same distances, same id
    tiebreak): the per-batch shortlist keeps EVERY candidate tied at the
    k-th distance (a plain k-smallest cut could drop a tied lower-id row), so
    the final window's (dist, id) ordering sees all tie contenders. The
    plan trades the JVM-codegen distance for numpy's BLAS, which wins from
    a few hundred queries upward.

    Query-side memory is BOUNDED. Up to ``chunk_size`` queries (default
    100k ~= 51 MB of 64-d float64) arrive in ONE ``session.bounded_collect``
    (no job on a local relation) and ship as one ``SparkContext.broadcast``
    (sent once per executor, not captured in every task) that lives as
    long as the lazy plan. A larger batch streams through a local
    iterator (one job per partition of the query frame) in chunks of
    ``chunk_size``: each chunk runs its own corpus pass, is
    materialized (``localCheckpoint``; executor loss during the final
    union re-fails the query) and has its broadcast destroyed before the
    next chunk is pulled, so driver and executors hold one chunk at a
    time. ``knn_auto`` routes here when Q x N is too big for the
    broadcast join. A null query vector, or query vectors of different
    lengths, raise ``ValueError`` naming ``query_vec_col``.
    """
    import itertools
    from functools import reduce

    import numpy as np
    import pandas as pd

    from hnsw_vector_db_spark.session import (
        bounded_collect,
        ensure_package_shipped,
        install_zip_guard,
    )

    spark = vectors.sparkSession
    ensure_package_shipped(spark)
    if chunk_size < 1:
        raise ValueError(f"chunk_size must be >= 1, got {chunk_size}")

    def chunk_candidates(qrows):
        qids = np.array([r[0] for r in qrows], dtype=np.int64)
        Q = vector_matrix([r[1] for r in qrows], query_vec_col)
        bc = spark.sparkContext.broadcast((qids, unit_rows(Q) if metric == "cosine" else Q))

        def topk_block(batches):
            install_zip_guard()
            b_qids, b_Q = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                X = vector_matrix(pdf[vector_col], vector_col)
                ids = pdf[id_col].to_numpy()
                D = block_distances(X, b_Q, metric)  # (B, Q)
                kk = min(k, D.shape[0])
                # tie-expand: keep everything <= each query's kk-th
                # smallest distance, so ties at the boundary survive to
                # the final (dist, id) window rank — exact id-tiebreak
                # semantics. Rows come out query by query (the transpose).
                kth = np.partition(D, kk - 1, axis=0)[kk - 1]
                qj, rows = np.nonzero((D <= kth).T)
                yield pd.DataFrame(
                    {query_id_col: b_qids[qj], id_col: ids[rows], "dist": D[rows, qj]}
                )

        schema = f"{query_id_col} long, {id_col} long, dist double"
        df = vectors.select(id_col, vector_col).mapInPandas(topk_block, schema)
        return df, bc, Q.shape[1]

    q = queries.select(query_id_col, query_vec_col)
    rows = bounded_collect(q, chunk_size, None)
    if rows:
        candidates, _bc, _ = chunk_candidates(rows)
    elif rows is not None:
        return spark.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, dist double, rank int"
        )
    else:
        parts, dims, qit = [], set(), q.toLocalIterator()
        while chunk := list(itertools.islice(qit, chunk_size)):
            df, bc, dim = chunk_candidates(chunk)
            dims.add(dim)
            if len(dims) > 1:
                raise ValueError(f"vector column {query_vec_col!r} mixes dimensions across chunks")
            parts.append(df.localCheckpoint(eager=True))
            bc.destroy()
        candidates = reduce(lambda a, b: a.unionByName(b), parts)
    return top_k_per_query(candidates, k, query_id_col, id_col)


def estimated_rows(df: DataFrame) -> int:
    """Row-count estimate from Catalyst plan statistics — NO job is run.

    Prefers the optimizer's rowCount (present when CBO/ANALYZE stats
    exist); otherwise divides the plan's sizeInBytes (parquet: the file
    footprint Spark already knows from listing) by the schema's default
    row width. A coarse estimate, but strategy thresholds only need the
    order of magnitude — and it never costs a count() job over the corpus.
    """
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
        size = int(str(stats.sizeInBytes()))
        width = max(int(df._jdf.schema().defaultSize()), 1)
        return max(size // width, 1)
    except Exception:  # non-JVM-backed frames (e.g. Connect) — one job
        return df.count()


def knn_auto(
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    approx: bool = False,
    corpus_rows: int | None = None,
    query_rows: int | None = None,
    dim: int | None = None,
    **kw,
) -> DataFrame:
    """Strategy-selecting kNN (SURVEY.md §4's `knn` operator): pick the
    physical plan from the data shape, the way the reference picks a
    traversal (`graph.py:175-189`) — but by cost, not by fiat.

    - approx=True -> sign-bit LSH candidates + exact re-rank
      (similarity.lsh_ann_topk) — the sub-linear path.
    - exact, Q * N <= ~5e6 -> broadcast-join + window (`knn_batch`):
      all-JVM codegen, no Python workers, best at small scale.
    - exact, larger -> ``knn_batch_twophase``: map-side BLAS top-k, shuffle
      bounded by Q * k * partitions, driver memory bounded by its
      ``chunk_size`` query-chunking (never an unbounded collect).

    Row counts come from ``corpus_rows``/``query_rows`` when the caller
    knows them (a catalog, a previous count); otherwise they are ESTIMATED
    from Catalyst plan statistics (:func:`estimated_rows`) — choosing a
    strategy never fires extra count() jobs over the corpus. ``dim`` (for
    the approx path's hyperplanes) is read from one query-side row when
    not given — the query side is small by construction.
    """
    if approx:
        from hnsw_vector_db_spark.operators.similarity import lsh_ann_topk

        if dim is None:
            qcol = kw.get("query_vec_col", "query_vec")
            dim = len(queries.select(qcol).first()[0])
        return lsh_ann_topk(queries, vectors, k=k, metric=metric, dim=dim, **kw)
    n = corpus_rows if corpus_rows is not None else estimated_rows(vectors)
    q = query_rows if query_rows is not None else estimated_rows(queries)
    if n * q <= 5_000_000:
        return knn_batch(queries, vectors, k=k, metric=metric, **kw)
    return knn_batch_twophase(queries, vectors, k=k, metric=metric, **kw)


def hard_negatives(
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the k
    NEAREST rows with a DIFFERENT label — the examples a
    representation-learning loss gains most from.

    Same plan as ``knn_batch`` (broadcast anchors, corpus never
    shuffles, rank window keyed per query) with the label-mismatch and
    self-exclusion predicates applied BEFORE the rank window, so the
    heap only ever sees admissible candidates. Output:
    (query_id, vec_id, dist, rank).
    """
    joined = vectors.join(
        F.broadcast(queries),
        on=(F.col(label_col) != F.col(query_label_col))
        & (F.col(id_col) != F.col(query_id_col)),
    )
    scored = joined.withColumn(
        "dist", distance(F.col(vector_col), F.col(query_vec_col), metric)
    )
    return top_k_per_query(scored, k, query_id_col, id_col)


def negative_samples(
    vectors: DataFrame,
    n_rows: int,
    k: int = 4,
    id_col: str = "vec_id",
    label_col: str = "label",
    salt: str = "neg1",
) -> DataFrame:
    """Deterministic uniform negative sampling (with replacement) over a
    DENSE id space 0..n_rows-1 (what ``assign_ids`` produces): negative
    j of anchor i is ``(i + 1 + hash(i#j) mod (n-1)) mod n`` — uniform
    over every id except the anchor itself, a pure function of
    (id, j, salt), reproducible in any engine.

    ``n_rows`` is a required hint (catalog/footer stat at scale — no
    count() job here). The label attach is an id equi-join; at 100 TB
    the right side is the same table, so it co-partitions on the id key.
    Output: (vec_id, neg_rank, neg_id, neg_label).

    Requires ``n_rows >= 2`` (sampling "any id but the anchor" is
    undefined on a single row). If the id space is NOT dense the label
    join silently drops negatives whose sampled id has no row — run
    ``assign_ids``/``assign_ids_scalable`` first to densify.
    """
    from hnsw_vector_db_spark.functions.text import poly_hash

    if n_rows < 2:
        raise ValueError(f"negative_samples requires n_rows >= 2, got {n_rows}")

    anchors = vectors.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("neg_rank"),
    )
    h = poly_hash(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit("#" + salt + "#"),
            F.col("neg_rank").cast("string"),
        )
    )
    neg = anchors.withColumn(
        "neg_id",
        (F.col(id_col) + 1 + F.pmod(h, F.lit(n_rows - 1))) % n_rows,
    )
    labels = vectors.select(
        F.col(id_col).alias("neg_id"), F.col(label_col).alias("neg_label")
    )
    return neg.join(labels, "neg_id").select(id_col, "neg_rank", "neg_id", "neg_label")


def matryoshka_knn(
    vectors: DataFrame,
    query,
    k: int = 10,
    prefix_dim: int = 16,
    shortlist: int = 50,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Prefix-dimension two-phase search (the Matryoshka-representation
    serving pattern): rank ALL rows by distance on the first
    ``prefix_dim`` dimensions — a scan that reads/computes 1/d of the
    vector math — keep a ``shortlist``, then exact-rank only those on
    the full vector.

    With MRL-trained embeddings the prefix preserves neighborhood
    structure, so a small shortlist holds the true top-k; with generic
    embeddings it is a recall/compute dial like PQ's. Both phases are
    deterministic (id tiebreaks), so unlike PQ/HNSW this approximate
    path is exactly SQL-expressible and oracle-checked end to end.

    Plan: phase 1 is TakeOrderedAndProject over the sliced column (no
    shuffle); phase 2 re-ranks <= shortlist rows via broadcast semi-join.
    At 100 TB, store the prefix as its own column (or sorted-projection
    table) so phase 1's scan reads prefix_dim/dim of the bytes.
    """
    q = [float(x) for x in query]
    prefix_q = q[:prefix_dim]
    prefix_vec = F.slice(F.col(vector_col), 1, prefix_dim)
    short = (
        vectors.withColumn("_pd", distance(prefix_vec, lit_double_array(prefix_q), metric))
        .orderBy(F.col("_pd").asc(), F.col(id_col).asc())
        .limit(shortlist)
        .select(id_col)
    )
    # rank on the UNROUNDED distance (matches the oracle's exact ordering;
    # rounding first can flip the top-k set near the k-th position), round
    # only in the output projection
    return (
        with_distance(
            vectors.join(F.broadcast(short), id_col, "left_semi"),
            q, metric, vector_col, "_dist",
        )
        .orderBy(F.col("_dist").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round(F.col("_dist"), 6).alias("dist"))
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k_const: int = 60,
    top_k: int = 10,
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009 —
    the standard score-free way to combine retrieval lists, e.g. lexical
    BM25 with vector kNN in hybrid search): each list contributes
    1 / (k_const + rank) for every item it ranks; items missing from a
    list contribute nothing from it. Output (id, rrf_score, n_lists)
    top_k by fused score, id tiebreak.

    Scale shape: each input ranking is already tiny (top-k per
    retriever), so the fuse is a union of small frames + one groupBy on
    the id — no corpus access at all. Pure relational arithmetic ->
    DuckDB oracle-checked.
    """
    from functools import reduce

    parts = [
        r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k_const)) + F.col(rank_col))).alias("_c"),
        )
        for r in rankings
    ]
    unioned = reduce(lambda a, b: a.unionByName(b), parts)
    # rank on the unrounded fused score; round only in the projection
    return (
        unioned.groupBy(id_col)
        .agg(F.sum("_c").alias("_score"), F.count(F.lit(1)).alias("n_lists"))
        .orderBy(F.col("_score").desc(), F.col(id_col).asc())
        .limit(top_k)
        .select(id_col, F.round("_score", 6).alias("rrf_score"), "n_lists")
    )


def mmr_rerank(
    vectors: DataFrame,
    query,
    k: int = 10,
    lam: float = 0.5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR
    1998 — the standard diversity-aware top-k): greedily pick
    argmax_d [ lam * rel(d) - (1 - lam) * max_{s in S} sim(d, s) ] where
    rel is cosine similarity to the query and S the already-picked set.
    lam=1 degenerates to plain relevance top-k; lam=0 to pure diversity.

    Scale shape: the SHORTLIST is computed wholly in Spark (cosine
    TakeOrderedAndProject over the corpus — the same zero-shuffle plan as
    knn_point); only the <= ``shortlist`` candidate rows are collected
    for the greedy loop, which is O(shortlist^2) numpy driver-side — the
    same provably-small-collect class as centroids and query literals.
    Output (id, mmr_rank, relevance, diversity_penalty, mmr_score),
    deterministic (id tiebreak at every pick).

    The selection score is rounded to 9 decimals BEFORE the argmax: when
    the query is itself a corpus vector, every candidate's penalty
    equals its relevance exactly in math but differs by ~1 ulp between
    evaluation orders — rounding makes those ties EXACT so the id
    tiebreak (not float noise) decides, and an independent SQL engine
    reproduces the pick sequence bit-for-bit (the DuckDB oracle).
    """
    import numpy as np

    from hnsw_vector_db_spark.operators.table import validate_k

    validate_k(k)
    q = np.asarray(list(query), dtype=np.float64)  # materialize ONCE
    qn = np.linalg.norm(q)
    scored = (
        with_distance(vectors, q.tolist(), "cosine", vector_col)
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(shortlist)
        .select(id_col, vector_col, "dist")
        .collect()
    )
    if not scored:
        return vectors.sparkSession.createDataFrame(
            [],
            f"{id_col} long, mmr_rank int, relevance double, "
            "diversity_penalty double, mmr_score double",
        )
    ids = np.array([r[id_col] for r in scored], dtype=np.int64)
    X = vector_matrix([r[vector_col] for r in scored], vector_col)
    norms = np.linalg.norm(X, axis=1)
    safe = np.where(norms == 0, 1.0, norms)
    U = X / safe[:, None]
    rel = (U @ (q / (qn or 1.0))) * (norms > 0) * (qn > 0)  # cos sim, 0 for zero-norm
    S = U @ U.T  # candidate-pair cosine sims
    n = len(ids)
    picked: list[int] = []
    rows = []
    avail = np.ones(n, dtype=bool)
    for rank in range(1, min(k, n) + 1):
        if picked:
            pen = S[:, picked].max(axis=1)
        else:
            pen = np.zeros(n)
        score = np.round(lam * rel - (1.0 - lam) * pen, 9)
        # argmax with min-id tiebreak, among available candidates
        masked = np.where(avail, score, -np.inf)
        best_score = masked.max()
        cand_idx = np.flatnonzero(masked == best_score)
        j = cand_idx[np.argmin(ids[cand_idx])]
        picked.append(j)
        avail[j] = False
        rows.append(
            (
                int(ids[j]),
                rank,
                round(float(rel[j]), 6) + 0.0,   # +0.0 normalizes -0.0
                round(float(pen[j]), 6) + 0.0,
                round(float(score[j]), 6) + 0.0,
            )
        )
    return vectors.sparkSession.createDataFrame(
        rows,
        f"{id_col} long, mmr_rank int, relevance double, "
        "diversity_penalty double, mmr_score double",
    )
