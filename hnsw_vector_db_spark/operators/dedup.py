"""Deduplication operators over a documents table — exact, n-gram Jaccard,
MinHash+LSH, and SimHash.

The reference has only the *set-dedup* germ of this (visited-set pruning and
edge Set[int], `core/hnsw/graph.py:95,105,15`); full document dedup is part
of the training-data-pipeline surface this engine adds (BASELINE.md north
star). Everything here is expressed as joins/aggregations with portable
arithmetic (functions/text.py) so the DuckDB oracle can verify exact values.

Scale design notes (the part that matters at 100 TB):
- Nothing here cross-joins the corpus. Pair generation always goes through
  an equi-join on a derived key (shingle, LSH band bucket, SimHash chunk),
  which Spark executes as a hash-partitioned join on that key.
- Shingle joins skew on stopword-ish shingles; ``max_shingle_freq`` drops
  shingles occurring in more than that many docs (standard df-cut), which
  bounds the per-key fanout. AQE skew-join splitting catches the rest.
- MinHash signatures are one explode + one groupBy (map-side partial min),
  k columns wide — linear in corpus size, no pairs materialized until the
  banded bucket join has pruned candidates.
- SimHash candidate generation uses the pigeonhole chunk trick (hamming
  <= max_hamming implies one of max_hamming+1 chunks matches exactly), so
  near-dup detection is equi-joins, never a quadratic distance scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hnsw_vector_db_spark.functions.text import (
    HASH_MOD,
    minhash_params,
    minhash_perm,
    poly_hash,
    shingles,
    tokens,
)

BAND_BASE = 1_000_003  # band-key fold base; r values < 2^31 keep fold < 2^62 pre-mod


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the min-id doc per identical text — grouped on the
    64-bit xxhash of the text, then verified, so the shuffle/group key is a
    fixed 8 bytes instead of arbitrary-length document text.

    Plan: (1) group by ``xxhash64(text)``, aggregating min(id) plus
    min/max(text) as a collision witness; (2) buckets where min==max are
    genuinely one distinct text (the overwhelmingly common case) and emit
    directly; (3) the rare hash-collision buckets are re-resolved exactly
    with a text-keyed group over ONLY the colliding rows (broadcast
    semi-join on the colliding hashes — approximately zero rows at any
    scale, ~2^-64 per pair). Result is bit-identical to ``GROUP BY text``.

    Returns (doc_id, text).
    """
    hashed = docs.select(F.col(id_col), F.col(text_col)).withColumn(
        "_h", F.xxhash64(F.col(text_col))
    )
    per_hash = hashed.groupBy("_h").agg(
        F.min(id_col).alias(id_col),
        F.min(text_col).alias("_tmin"),
        F.max(text_col).alias("_tmax"),
    )
    clean = per_hash.filter(F.col("_tmin") == F.col("_tmax")).select(
        id_col, F.col("_tmin").alias(text_col)
    )
    collided = per_hash.filter(F.col("_tmin") != F.col("_tmax")).select("_h")
    resolved = (
        hashed.join(F.broadcast(collided), "_h", "left_semi")
        .groupBy(text_col)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, text_col)
    )
    return clean.unionByName(resolved)


def exact_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The doc->group mapping form of :func:`exact_dedup`: every row gets
    the MIN id among rows with identical text as ``rep_id`` (rows with
    unique text map to themselves). Same plan shape — 8-byte
    ``xxhash64`` group key with a min/max collision witness, colliding
    buckets re-resolved exactly on the text.

    This is the TIER-0 collapse a production near-dup pipeline runs
    before LSH blocking: banded candidate generation fans out
    quadratically per bucket, so feeding it d copies of the same text
    costs C(d,2) verify pairs per band for zero information — collapse
    to one representative first, fan component labels back out after
    (measured: the r6 ER capstone on a 64x-replicated corpus ran >17
    minutes uncollapsed vs seconds collapsed; BASELINE.md).

    Returns (id, rep_id).
    """
    hashed = docs.select(F.col(id_col), F.col(text_col)).withColumn(
        "_h", F.xxhash64(F.col(text_col))
    )
    per_hash = hashed.groupBy("_h").agg(
        F.min(id_col).alias("rep_id"),
        F.min(text_col).alias("_tmin"),
        F.max(text_col).alias("_tmax"),
    )
    clean = per_hash.filter(F.col("_tmin") == F.col("_tmax")).select("_h", "rep_id")
    clean_map = hashed.join(clean, "_h").select(F.col(id_col), F.col("rep_id"))
    collided = per_hash.filter(F.col("_tmin") != F.col("_tmax")).select("_h")
    col_rows = hashed.join(F.broadcast(collided), "_h", "left_semi")
    col_map = col_rows.join(
        col_rows.groupBy(text_col).agg(F.min(id_col).alias("rep_id")), text_col
    ).select(F.col(id_col), F.col("rep_id"))
    return clean_map.unionByName(col_map)


def _doc_shingle_sets(
    docs: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, shingle_arr, sz): one distinct-shingle array per doc.

    Repartitions first: the docs table typically scans as a handful of
    file splits, and everything downstream (shingling, char-level hashing)
    is CPU-bound — without the spread it runs on one core. One tiny
    shuffle of the raw text buys full-width parallelism for the expensive
    projections."""
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    # NOTE: no filter here — a sz>0 filter gets pushed below the exchange,
    # forcing the whole shingle expression to evaluate in the (often
    # single-task) scan stage. Empty sets are harmless: explode drops them.
    return (
        docs.repartition(parallelism)
        .select(F.col(id_col), shingles(text_col, n).alias("shingle_arr"))
        .withColumn("sz", F.size("shingle_arr"))
    )


def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
    candidates: DataFrame | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: J(A,B) >= threshold, id_a < id_b.

    Plan: explode shingles -> (optional df-cut) -> self equi-join on shingle
    -> count common -> join per-doc set sizes -> filter. The shingle join is
    the inverted-index approach: cost is sum of per-shingle doc-frequency
    squared, not |docs|^2.

    ``candidates`` (doc_a, doc_b), when given, semi-join-prunes the pair
    stream *before* the expensive groupBy — the LSH verify path, where only
    bucket-collision pairs are worth counting.

    ``sets``, when given, is a precomputed ``_doc_shingle_sets(docs, n,
    text_col, id_col)`` frame (id, shingle_arr, sz) — the r13 shared-
    substrate hook (guide §1.2/§5): callers that also MinHash the same
    corpus (dedup_eval, the LSH verify inside minhash_lsh_near_dup)
    materialize the shingle sets once instead of re-running the
    tokenize+shingle projection per consumer. Values are identical by
    construction — the frame IS the expression this function would build.

    Output: (doc_a, doc_b, jaccard) with jaccard rounded to 6dp.
    """
    if sets is None:
        sets = _doc_shingle_sets(docs, n, text_col, id_col)
    sh = sets.select(F.col(id_col), F.explode("shingle_arr").alias("shingle"))
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.countDistinct(id_col).alias("_df"))
        sh = (
            sh.join(freq.filter(F.col("_df") <= max_shingle_freq), "shingle")
            .drop("_df")
        )
        # sizes must reflect the post-cut sets
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    else:
        # set sizes come free from the array — no second explode+groupBy
        sizes = sets.select(F.col(id_col), F.col("sz"))
    a = sh.toDF("doc_a", "shingle")
    b = sh.toDF("doc_b", "shingle")
    pair_stream = a.join(b, "shingle").filter(F.col("doc_a") < F.col("doc_b"))
    if candidates is not None:
        pair_stream = pair_stream.join(
            F.broadcast(candidates.select("doc_a", "doc_b")),
            ["doc_a", "doc_b"],
            "left_semi",
        )
    common = pair_stream.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("common")
    )
    sa = sizes.toDF("doc_a", "sz_a")
    sb = sizes.toDF("doc_b", "sz_b")
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signature_wide(
    docs: DataFrame,
    k: int = 16,
    n: int = 3,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "portable",
    sets: DataFrame | None = None,
) -> DataFrame:
    """Wide MinHash signature: (id, mh0..mh{k-1}).

    Shingles are hashed to ints; permutation i takes
    min((a_i*h + b_i) mod p) over the doc's shingle set — computed
    SHUFFLE-FREE as per-row array expressions: one transform hashes the
    doc's shingle array, then k array_min(transform(...)) take the
    permutation minima, all inside whole-stage codegen. (The original
    explode + groupBy form shipped one row per (doc, shingle) through a
    hash aggregate — same values, but a 63M-row exchange at the 64x
    scale point that this form simply doesn't have; measured in
    BASELINE.md's r6 table.) Docs with no shingles (shorter than n
    words) are dropped.

    ``hash_fn``: 'portable' (default) is the char-fold polynomial hash the
    DuckDB oracle reproduces bit-for-bit; 'native' swaps in JVM xxhash64
    (folded into the same [0, 2^31-1) range so the permutation arithmetic
    stays exact) — same candidate-generation QUALITY, different concrete
    buckets, so use it where no cross-engine oracle is needed (production
    runs). The downstream exact-Jaccard verify makes emitted pairs
    correct under either hash.
    """
    params = minhash_params(k, seed)
    if sets is None:
        sets = _doc_shingle_sets(docs, n, text_col, id_col)
    sh = sets.filter(F.col("sz") > 0)
    if hash_fn == "portable":
        # r12 optimization (guide §4.2): the char-fold hash + k
        # permutation minima were per-row HOF expressions — interpreted
        # closures per (shingle, char) and (shingle, perm). The fused
        # Arrow kernel computes the identical values in one NumPy pass
        # per batch (equivalence pinned in tests/test_text.py and every
        # dedup oracle). Two selects so the UDF evaluates once, not k
        # times.
        from hnsw_vector_db_spark.functions.text import minhash_mins_bulk

        sig = sh.select(
            F.col(id_col),
            minhash_mins_bulk("shingle_arr", k, seed).alias("_sig"),
        )
        return sig.select(
            F.col(id_col),
            *[F.col("_sig")[i].alias(f"mh{i}") for i in range(k)],
        )

    def shingle_hash(s: Column) -> Column:
        return F.pmod(F.xxhash64(s), F.lit(HASH_MOD))

    hashed = sh.select(
        F.col(id_col), F.transform("shingle_arr", shingle_hash).alias("hs")
    )
    def _perm_min(a: int, b: int) -> Column:
        # closure, not default-arg lambda: pyspark reads the callable's
        # arity to bind lambda variables
        return F.array_min(F.transform("hs", lambda h: minhash_perm(h, a, b)))

    mins = [
        _perm_min(a, b).alias(f"mh{i}") for i, (a, b) in enumerate(params)
    ]
    return hashed.select(F.col(id_col), *mins)


def minhash_signature(
    docs: DataFrame, k: int = 16, n: int = 3, seed: int = 42,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Long-form signature (id, perm, minhash) — one row per permutation
    (scalar rows hash-compare cleanly against the SQL oracle)."""
    wide = minhash_signature_wide(docs, k, n, seed, text_col, id_col)
    pairs = ", ".join(f"{i}, mh{i}" for i in range(k))
    return wide.selectExpr(
        id_col, f"stack({k}, {pairs}) as (perm, minhash)"
    ).select(id_col, F.col("perm").cast("int"), "minhash")


def _band_keys(wide: DataFrame, k: int, bands: int, id_col: str) -> DataFrame:
    """(id, band, band_key): fold each band's r minhashes into one bigint."""
    assert k % bands == 0, "k must be divisible by bands"
    r = k // bands
    rows = []
    for band in range(bands):
        key = F.lit(0).cast("long")
        for j in range(r):
            key = (key * BAND_BASE + F.col(f"mh{band * r + j}")) % HASH_MOD
        rows.append(F.struct(F.lit(band).alias("band"), key.alias("band_key")))
    return wide.select(
        F.col(id_col), F.explode(F.array(*rows)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def minhash_lsh_near_dup(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "portable",
    sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup: band the k-wide signature into ``bands``
    buckets, equi-join on (band, band_key) for candidates, then verify each
    candidate's *exact* n-gram Jaccard >= threshold.

    This is the standard shingle->minhash->band->bucket-join pipeline: the
    only join keys are band buckets (candidates ~ true near-dups, not all
    pairs), then the verify join touches only candidate pairs.
    Output: (doc_a, doc_b, jaccard).

    r13 (guide §1.2/§5): the signature stage and the exact-Jaccard verify
    both consume the per-doc shingle sets, which previously re-ran the
    tokenize+shingle projection over the corpus text TWICE per call. The
    sets are now materialized once (``localCheckpoint`` — eager, lineage
    truncated, reclaimed by the ContextCleaner when the result is
    dropped) and shared by both stages; callers that already hold the
    sets (dedup_eval's truth stage) pass them in via ``sets``. Values
    are identical — the frame is the same expression, evaluated once.
    """
    if sets is None:
        sets = _doc_shingle_sets(docs, n, text_col, id_col).localCheckpoint()
    wide = minhash_signature_wide(
        docs, k, n, seed, text_col, id_col, hash_fn, sets=sets
    )
    bk = _band_keys(wide, k, bands, id_col)
    a = bk.toDF("doc_a", "band", "band_key")
    b = bk.toDF("doc_b", "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact-verify ONLY the candidate pairs (semi-join pushdown into the
    # pair stream) — the whole point of banding is that this set is tiny.
    return jaccard_pairs(
        docs, n, threshold, text_col, id_col, candidates=cand, sets=sets
    )


def embedding_lsh_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 8,
    dim: int = 64,
    probe_hamming: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Candidate-generation near-dup pairs for embeddings: sign-bit LSH
    buckets -> multi-probe self equi-join on bucket id -> EXACT cosine
    verify of only the colliding pairs. The 100 TB path: pair generation
    is a hash join on a derived key (never all-pairs), cost is
    sum-of-bucket-size^2 times the probe fanout, and every emitted pair
    is exactly verified (precision 1.0; recall is the LSH collision
    probability — raise ``probe_hamming``/lower ``n_planes`` to trade
    compute for recall, the ef-style knob).

    Output (id_a, id_b, sim) — same shape as ``similarity_join``, always
    a subset of it.
    """
    from hnsw_vector_db_spark.functions.distance import dot_raw, select_normalized
    from hnsw_vector_db_spark.operators.similarity import (
        _probe_masks,
        hyperplanes,
        signbit_bucket,
    )

    planes = hyperplanes(n_planes, dim, seed)
    masks = _probe_masks(n_planes, probe_hamming)
    base = select_normalized(vectors, vector_col, "_v", id_col).withColumn(
        "_bkt", signbit_bucket(F.col("_v"), planes)
    )
    # multi-probe: explode ONE side by the <=probe_hamming-bit-flip masks;
    # pairs colliding in any probed bucket meet in the equi-join
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("_va"),
        F.explode(
            F.array(*[F.col("_bkt").bitwiseXOR(F.lit(m)).cast("long") for m in masks])
        ).alias("bucket"),
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_bkt").alias("bucket"),
    )
    cand = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_va", "_vb")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("sim", F.round(dot_raw(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def embedding_neardup(
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    pairs: DataFrame | None = None,
    method: str = "auto",
    brute_threshold: int = 100_000,
    dim: int = 64,
    n_planes: int = 8,
    probe_hamming: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup: star-assign every vector to the minimum
    id in its cosine neighborhood (sim >= threshold), the single-pass
    representative rule most training-data pipelines use before a full
    connected-components pass.

    Pair generation scales with the corpus: ``method='auto'`` (default)
    uses the exact ``similarity_join`` only while the estimated corpus is
    under ``brute_threshold`` rows and switches to the LSH
    candidate path (:func:`embedding_lsh_pairs` — bucket equi-join, no
    quadratic scan, no BroadcastNestedLoopJoin) above it; ``'brute'`` /
    ``'lsh'`` force a path (brute stays the oracle baseline). ``pairs``
    (id_a, id_b[, sim]) overrides generation entirely. The assignment
    itself is one symmetric explode + min-groupBy + left join — linear in
    pairs, one shuffle on vector id.

    Output: (vec_id, rep_id, is_dup) for every input vector.
    """
    from hnsw_vector_db_spark.operators.similarity import similarity_join

    if pairs is None:
        if method == "auto":
            from hnsw_vector_db_spark.operators.knn import estimated_rows

            method = "brute" if estimated_rows(vectors) <= brute_threshold else "lsh"
        if method == "brute":
            pairs = similarity_join(
                vectors, threshold=threshold, id_col=id_col, vector_col=vector_col
            )
        elif method == "lsh":
            pairs = embedding_lsh_pairs(
                vectors, threshold=threshold, n_planes=n_planes, dim=dim,
                probe_hamming=probe_hamming, id_col=id_col, vector_col=vector_col,
            )
        else:
            raise ValueError(f"unknown method {method!r}")
    neigh = pairs.select(
        F.col("id_a").alias("_v"), F.col("id_b").alias("_u")
    ).unionAll(pairs.select(F.col("id_b").alias("_v"), F.col("id_a").alias("_u")))
    rep = neigh.groupBy("_v").agg(F.min("_u").alias("_min_neigh"))
    return (
        vectors.select(F.col(id_col))
        .join(rep, F.col(id_col) == F.col("_v"), "left")
        .select(
            F.col(id_col),
            F.least(
                F.col(id_col), F.coalesce(F.col("_min_neigh"), F.col(id_col))
            ).alias("rep_id"),
        )
        .withColumn("is_dup", F.col("rep_id") != F.col(id_col))
    )


# A pair list up to this many bytes of int64 (id, id) pairs is closed on
# the driver; a larger one goes to star contraction.
_CC_DRIVER_BYTES = 16 << 20


def neardup_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Connected-components closure over near-dup pairs: every node gets
    the MIN id of its whole component as ``rep_id`` — the transitive
    completion of :func:`embedding_neardup`'s one-pass star rule (chains
    a~b, b~c collapse to one cluster). This is the one front door for
    connected components.

    A graph whose pairs fit ``_CC_DRIVER_BYTES`` (as int64 pairs) is
    pulled with one :func:`~hnsw_vector_db_spark.session.bounded_collect`
    and closed in numpy: each pass lowers every endpoint's label to the
    min across its edges, then jumps pointers, until no label changes.
    Labels only fall, so the loop ends with no iteration cap, at any
    component depth. The non-trivial (id, rep) pairs come back as one
    Arrow-built relation, broadcast-joined to ``nodes``. A larger graph,
    or one whose ids are not integers, runs
    :func:`connected_components_twophase` (large-star/small-star,
    O(log d) rounds) with the same output.

    Pairs with a null endpoint and self-loops are dropped. A pair
    endpoint missing from ``nodes`` still connects its neighbours, but
    gets no output row.

    ``nodes``: (id_col, ...); ``pairs``: (doc_a/id pairs as produced by
    the near-dup operators, any two-column prefix). Output:
    (id_col, rep_id, is_dup), ``rep_id`` of the node id's type.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import IntegralType

    from hnsw_vector_db_spark.session import bounded_collect

    a, b = pairs.columns[0], pairs.columns[1]
    if not all(isinstance(pairs.schema[c].dataType, IntegralType) for c in (a, b)):
        return connected_components_twophase(nodes, pairs, id_col)
    # a null endpoint makes the comparison null, so its pair goes too
    edges = pairs.select(a, b).where(F.col(a) != F.col(b))
    rows = bounded_collect(edges, _CC_DRIVER_BYTES // 16, None)
    if rows is None:
        return connected_components_twophase(nodes, pairs, id_col)
    ends = np.array(rows, dtype=np.int64).reshape(-1, 2)
    ids, inv = np.unique(ends, return_inverse=True)
    src, dst = inv.reshape(ends.shape).T
    # labels are indices into the sorted ids, so the min label is the min id
    label = np.arange(ids.size)
    while True:
        prev = label.copy()
        np.minimum.at(label, src, label[dst])
        np.minimum.at(label, dst, label[src])
        label = label[label]
        if np.array_equal(label, prev):
            break
    dup = label != np.arange(ids.size)
    reps = nodes.sparkSession.createDataFrame(
        pa.table({id_col: ids[dup], "rep": ids[label[dup]]})
    )
    id_type = nodes.schema[id_col].dataType
    return (
        nodes.select(F.col(id_col))
        .join(F.broadcast(reps), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("rep").cast(id_type), F.col(id_col)).alias("rep_id"),
            F.col("rep").isNotNull().alias("is_dup"),
        )
    )


def connected_components_incremental(
    prev_labels: DataFrame,
    new_nodes: DataFrame,
    new_pairs: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """INCREMENTAL connected components: fold a batch of new nodes and
    new near-dup pairs into a PERSISTED labeling without re-reading the
    historical pair set — the per-batch form an always-on ingest
    pipeline runs, through the same front door as a batch
    (:func:`neardup_components`).

    Correctness rests on a graph identity: a component's star edges
    (node -> rep) are a connectivity-preserving summary of ALL its
    historical edges, so CC( star(G1) ∪ E2 ) == CC( G1 ∪ E2 ). The
    history therefore enters as O(nodes) rep edges — independent of how
    many raw pairs ever existed — and the union is closed by
    :func:`neardup_components` (on the driver when it fits, else by
    large-star/small-star). Representatives stay the
    component MIN, so labels are stable (a component's rep changes only
    if the batch merges it with a lower-id component), and the output
    is provably identical to a full recompute over the union — which is
    exactly what the driver oracle replays.

    ``prev_labels``: (id_col, rep_id[, is_dup]) from any CC operator
    here. ``new_nodes``: (id_col, ...) ids NEW in this batch (ids
    already labeled are fine — dedup'd). Output: the full updated
    labeling, same contract as the batch forms."""
    star = prev_labels.filter(
        F.col("rep_id") != F.col(id_col)
    ).select(F.col(id_col).alias("doc_a"), F.col("rep_id").alias("doc_b"))
    a, b = new_pairs.columns[0], new_pairs.columns[1]
    pairs = star.unionByName(
        new_pairs.select(F.col(a).alias("doc_a"), F.col(b).alias("doc_b"))
    )
    nodes = (
        prev_labels.select(F.col(id_col))
        .unionByName(new_nodes.select(F.col(id_col)))
        # pair endpoints too: an id appearing only in new_pairs still
        # influences connectivity and must come back labeled, not vanish
        .unionByName(new_pairs.select(F.col(a).alias(id_col)))
        .unionByName(new_pairs.select(F.col(b).alias(id_col)))
        .distinct()
    )
    return neardup_components(nodes, pairs, id_col=id_col)


def _cc_large_star(edges: DataFrame) -> DataFrame:
    """One large-star step over an oriented (u > v) edge set: every
    neighbor of u STRICTLY LARGER than u re-attaches to m = min(Γ(u) ∪
    {u}). One symmetrize-union + one keyed agg + one equi-join."""
    sym = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _cc_small_star(edges: DataFrame) -> DataFrame:
    """One small-star step: orient each edge large->small, then every
    SMALLER neighbor of u (and u itself) re-attaches to m = min of u's
    smaller neighborhood. One keyed agg + one equi-join + one union."""
    o = (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    m = o.groupBy("u").agg(F.min("v").alias("m"))
    out = o.join(m, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    ).unionAll(m.select(F.col("u"), F.col("m").alias("v")))
    return out.where(F.col("u") != F.col("v")).distinct()


def connected_components_twophase(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
    max_iters: int = 40,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    steps (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
    "Connected Components in MapReduce and Beyond", ACM SoCC 2014 —
    public): the scale tier of :func:`neardup_components`, which hands
    it every pair list past the driver budget. It converges in O(log d)
    rounds, d being the component diameter, so versioned-boilerplate
    chains (doc v1 ~ v2 ~ ... ~ v50) stay cheap.

    Each round is two star steps; each step is one keyed aggregation
    (per-node neighborhood min) plus one equi-join re-attach — both
    shuffle-partitioned on the node key, no all-pairs stage, edge count
    never grows above the input (large-star emits one edge per
    symmetrized half it keeps; small-star one per oriented edge plus one
    per node). At the fixed point the edge set IS the answer: a disjoint
    union of stars, every non-minimum node pointing at its component
    minimum. Fixpoint detection is exact (count + exceptAll), not a
    checksum — a hash collision here would return wrong labels, and the
    extra exceptAll per round is two scans of a shrinking edge set.
    ``localCheckpoint`` truncates lineage per round, so round N does
    not re-execute rounds 1..N-1.

    Output contract is IDENTICAL to :func:`neardup_components`:
    (id_col, rep_id, is_dup) with rep_id = component min, of the node
    id's type — the driver
    entry pins equality through the same recursive-CTE oracle.

    Raises ``RuntimeError`` if ``max_iters`` rounds pass without the
    fixed point (cannot happen for max_iters >= ~2*log2(n) + 2; the
    guard exists so a logic regression can never silently return
    partial labels)."""
    from pyspark.sql import Observation

    a, b = pairs.columns[0], pairs.columns[1]
    # r12 (guide §1.2 — fewer driver-paced jobs): edge counts ride each
    # checkpoint job as Observation metrics, so a round is ONE job (two
    # star steps + checkpoint) instead of two-to-three (checkpoint, then
    # count(s) over it). The fixpoint test is unchanged: equal counts
    # AND empty difference.
    obs0 = Observation()
    edges = (
        pairs.select(
            F.greatest(F.col(a), F.col(b)).alias("u"),
            F.least(F.col(a), F.col(b)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    prev_count = obs0.get["n"]
    converged = prev_count == 0  # no edges: all singletons, skip the loop
    for _ in range(max_iters):
        if converged:
            break
        obs = Observation()
        new_edges = (
            _cc_small_star(_cc_large_star(edges))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        new_count = obs.get["n"]
        # exact fixpoint test on the oriented-distinct sets: equal counts
        # AND no edge in new \ old (both sets are distinct, so count
        # equality + empty difference <=> set equality)
        if new_count == prev_count and new_edges.exceptAll(edges).isEmpty():
            converged = True
        edges = new_edges
        prev_count = new_count
    if not converged:
        raise RuntimeError(
            f"connected_components_twophase: no fixed point within "
            f"max_iters={max_iters} rounds — raise max_iters (expected "
            "convergence is O(log n) rounds; hitting this indicates a "
            "pathological input or a regression)."
        )
    reps = edges.groupBy("u").agg(F.min("v").alias("rep"))
    return (
        nodes.select(F.col(id_col))
        .join(reps.withColumnRenamed("u", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(
                F.col("rep").cast(nodes.schema[id_col].dataType), F.col(id_col)
            ).alias("rep_id"),
            F.coalesce(F.col("rep") != F.col(id_col), F.lit(False)).alias(
                "is_dup"
            ),
        )
    )


# Width MUST match the token-hash range: poly_hash is mod 2^31-1, so token
# hashes never set bits >= 31 — the per-bit vote for any higher bit is
# always -n_tokens and that fingerprint bit is always 0. A wider
# fingerprint (an earlier draft used 61) yields identical integers BUT
# poisons the pigeonhole candidate join: the all-zero high chunks collide
# for EVERY document pair, silently degrading candidate generation to a
# quadratic scan. 31 bits keeps every chunk informative.
SIMHASH_BITS = 31


def simhash_fingerprint(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash: per-token poly hash; fingerprint bit b is 1 iff the sum of
    (+1/-1 for token-hash bit b) over all tokens is positive. Output
    (id, simhash BIGINT). One explode + one groupBy with SIMHASH_BITS
    conditional-sum aggregates — linear, one shuffle on id.
    """
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    tok = (
        docs.repartition(parallelism)  # spread the CPU-bound hash projection
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
        .withColumn("h", poly_hash(F.col("tok")))
    )
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = tok.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        fp = fp + F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(0)
    return sums.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_dup(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup pairs with hamming(simhash) <= max_hamming.

    Candidate generation is the pigeonhole chunk trick: split the
    SIMHASH_BITS-bit fingerprint into max_hamming+1 chunks; any pair within the hamming
    budget must agree exactly on >= 1 chunk, so candidates come from
    equi-joins on (chunk_id, chunk_value) — no quadratic scan. Output:
    (doc_a, doc_b, hamming).
    """
    nchunks = max_hamming + 1
    width = -(-SIMHASH_BITS // nchunks)
    fp = simhash_fingerprint(docs, text_col, id_col)
    chunks = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("cval"),
                    )
                    for i in range(nchunks)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", F.col("c.chunk").alias("chunk"), F.col("c.cval").alias("cval"))
    a = chunks.toDF("doc_a", "sim_a", "chunk", "cval")
    b = chunks.toDF("doc_b", "sim_b", "chunk", "cval")
    return (
        a.join(b, ["chunk", "cval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(
                F.col("sim_a").bitwiseXOR(F.col("sim_b"))
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", F.col("hamming").cast("int"))
    )


def keep_best(
    components: DataFrame,
    scores: DataFrame,
    id_col: str = "vec_id",
    rep_col: str = "rep_id",
    score_col: str = "quality",
) -> DataFrame:
    """Near-dup collapse with quality-aware survivor selection: per
    connected component (a :func:`neardup_components` output, whichever
    path closed it), keep the single highest-scoring member (score desc,
    id asc tiebreak) — the step every production dedup pipeline runs
    after clustering, because
    "keep the lowest id" (the bare rep_id) throws away the best-written
    duplicate. Deterministic given deterministic scores ->
    oracle-checked.

    Scale shape: one shuffle on the component key shared by the rank
    window and the member count; the score attach is an id equi-join.
    Output (component, kept_id, best_score, n_members).
    """
    from pyspark.sql import Window

    joined = components.select(id_col, rep_col).join(
        scores.select(F.col(id_col), F.col(score_col)), id_col
    )
    w = Window.partitionBy(rep_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    wc = Window.partitionBy(rep_col)
    ranked = joined.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wc)
    )
    return ranked.filter(F.col("_rn") == 1).select(
        F.col(rep_col).alias("component"),
        F.col(id_col).alias("kept_id"),
        F.col(score_col).alias("best_score"),
        F.col("_n").alias("n_members"),
    )
def edit_distance_pairs(
    df: DataFrame,
    string_col: str,
    id_col: str = "id",
    max_dist: int = 1,
) -> DataFrame:
    """Bounded edit-distance similarity join via deletion neighborhoods
    (the FastSS family — Bocek et al., "Fast Similarity Search in Large
    Dictionaries", 2007, public tech report): two strings within
    Levenshtein distance d always share a member of each other's
    up-to-d-deletions neighborhood, so candidates come from an EQUI-JOIN
    on deletion keys and only candidates pay the exact ``levenshtein``
    verify — never an all-pairs comparison.

    Scale shape: each side explodes to at most 1 + L (d=1) or
    ~1 + L + L^2/2 (d=2) keys per string of length L; the key join is a
    plain shuffle equi-join (hot keys are structurally bounded by the
    key length — a deletion key of length L-1 only collides with strings
    of length L-1..L+1), and the verify is Spark's built-in codegen
    ``levenshtein``. The DuckDB oracle runs the brute quadratic form —
    feasible for the oracle's sample, which is exactly why the banded
    form here is the engine path and the brute form is the checker.

    Output: (id_a, id_b, dist) with id_a < id_b, distinct, exact.
    """
    if max_dist not in (1, 2):
        raise ValueError("max_dist must be 1 or 2 (deletion-neighborhood depth)")

    def neighborhood(col: Column) -> Column:
        # the string itself plus every single-character deletion
        idx = F.sequence(F.lit(1), F.greatest(F.length(col), F.lit(0)))
        dels = F.transform(
            idx,
            lambda i: F.concat(
                col.substr(F.lit(1), i - F.lit(1)),
                col.substr(i + F.lit(1), F.length(col)),
            ),
        )
        return F.array_union(F.array(col), F.coalesce(dels, F.array()))

    base = df.select(
        F.col(id_col).alias("_id"), F.col(string_col).alias("_s")
    ).filter(F.col("_s").isNotNull())
    keys = base.select(
        "_id", "_s", F.explode(neighborhood(F.col("_s"))).alias("_k")
    )
    if max_dist == 2:
        keys = keys.unionByName(
            keys.select(
                "_id", "_s", F.explode(neighborhood(F.col("_k"))).alias("_k2")
            ).select("_id", "_s", F.col("_k2").alias("_k"))
        )
    keys = keys.dropDuplicates(["_id", "_k"])
    a = keys.toDF("id_a", "s_a", "_k")
    b = keys.toDF("id_b", "s_b", "_k")
    return (
        a.join(b, "_k")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "s_a", "s_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("dist", F.levenshtein("s_a", "s_b"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


# assign_mode="auto" crossover (measured, BASELINE.md "semantic_dedup"
# 64x table): codegen fold wins small seed sets on startup cost; the
# per-batch numpy matmul wins once the argmin scans "low hundreds" of
# centroids (512 centroids: 5.4x faster at 64x rows). 128 splits the
# measured points on the conservative side.
_BLAS_CROSSOVER_CLUSTERS = 128


def semantic_dedup(
    vectors: DataFrame,
    n_clusters: int = 8,
    eps: float = 0.35,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    assign_mode: str = "auto",
    validate_seeds: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication",
    2023, arXiv:2303.09540): cluster the embedding space with a coarse
    quantizer, then WITHIN each cluster drop every point that has a
    cosine near-duplicate (sim >= eps) ranked before it, where the
    published keep-rule ranks cluster members by distance-to-centroid
    DESCENDING (keep the outliers, drop the redundant core) with id as
    the deterministic tiebreak.

    This is the cluster-then-pairwise shape of the public SemDeDup
    implementation: the pairwise similarity matrix is only ever computed
    per-cluster, never corpus-wide. Determinism: centroids are the data
    rows with ``id < n_clusters`` (the ``ivf_fit_seeded`` seed-row trick)
    so the whole operator is relational algebra an independent SQL engine
    replays bit-for-bit — assignment is euclidean argmin with seed-id
    tiebreak, ranks are windows over rounded distances, and the drop rule
    is one within-cell self-join.

    Scale shape (100 TB): the only joins are (a) the broadcast argmin
    against n_clusters seed rows and (b) a self-equi-join keyed on
    ``cell`` — no corpus cross-join. Per-cluster pair cost is
    (N/n_clusters)^2; SemDeDup's own recipe is to grow n_clusters
    proportionally to N (the paper uses ~50k clusters for LAION-scale)
    so cluster size — and with it the per-key join fanout — stays
    constant and total cost stays linear. The window and the self-join
    share the same hash partitioning on ``cell``, so Spark reuses one
    exchange. The reference has no dedup surface at all; its nearest
    germ is the visited-set pruning inside search
    (`core/hnsw/graph.py:95,105`).

    Output: one row per input vector — (vec_id, cell, cdist, kept) with
    ``kept`` false iff a better-ranked member of the same cluster is a
    near-duplicate. Survivor set = ``WHERE kept``.

    ``assign_mode``: "fold" scores the argmin with codegen expression
    folds — the oracle-portable form; "blas" routes it through
    :func:`~.similarity.assign_to_centroids_blas` (one numpy matmul per
    Arrow batch), the at-scale form once n_clusters follows the paper's
    n_clusters ~ N recipe into the hundreds. "auto" (default) picks by
    the measured crossover: BASELINE.md's 64x table puts it at
    "n_clusters in the low hundreds" (fold wins at n_clusters=8 on
    startup cost — 1.77 s vs 1.89 s at 1x — while at n_clusters=512 the
    blas matmul is 5.4x faster: 11.6 s vs 62.4 s at 64x), so auto takes
    fold below ``_BLAS_CROSSOVER_CLUSTERS`` = 128 centroids and blas at
    or above it. Both modes produce the same output (equality pinned in
    tests on the real testdata), so auto never changes results — only
    the physical assignment kernel.
    """
    from pyspark.sql.window import Window

    from hnsw_vector_db_spark.functions.distance import dot_raw, select_normalized
    from hnsw_vector_db_spark.operators.similarity import (
        assign_to_centroids,
        assign_to_centroids_blas,
    )

    if assign_mode not in ("fold", "blas", "auto"):
        raise ValueError(
            f"assign_mode must be 'fold', 'blas' or 'auto', got {assign_mode!r}"
        )
    if assign_mode == "auto":
        assign_mode = "blas" if n_clusters >= _BLAS_CROSSOVER_CLUSTERS else "fold"
    seeds = vectors.filter(F.col(id_col) < n_clusters).select(
        F.col(id_col).alias("seed_id"), F.col(vector_col).alias("seed_vec")
    )
    # Seed rows come from the id range [0, n_clusters): on a sparse or
    # non-zero-based id space the seed set would be silently partial and
    # the operator would return fewer clusters — fail fast instead
    # (same style as assign_to_centroids_blas's max_seeds check).
    # COST NOTE (r7, from ADVICE): the guard is one eager Spark job —
    # an id-only count behind the pushed-down `id < n_clusters` filter,
    # so it scans one column of a tiny key range, but it IS an extra
    # action before the real query and it raises ValueError on sparse /
    # non-zero-based id spaces that previously returned partial
    # clusterings. Callers on a hot path who already know their id
    # space is dense and zero-based pass validate_seeds=False to skip
    # the job (results are unchanged either way when seeds are dense).
    if validate_seeds:
        n_seeds = seeds.select("seed_id").count()
        if n_seeds < n_clusters:
            raise ValueError(
                f"semantic_dedup: only {n_seeds} of {n_clusters} seed ids "
                f"exist in [0, {n_clusters}) — the id space must be dense "
                "and zero-based, or pass a smaller n_clusters (skip this "
                "check with validate_seeds=False)"
            )
    assign = assign_to_centroids if assign_mode == "fold" else assign_to_centroids_blas
    assigned = assign(
        vectors, seeds, metric="euclidean", id_col=id_col, vector_col=vector_col
    ).select(F.col(id_col), "cell", F.col("dist").alias("cdist"))
    w = Window.partitionBy("cell").orderBy(F.col("cdist").desc(), F.col(id_col))
    normed = select_normalized(
        vectors.select(id_col, vector_col), vector_col, "_nv", id_col
    )
    base = assigned.withColumn("ord", F.row_number().over(w)).join(normed, id_col)
    x = base.select(
        F.col(id_col).alias("_idx"), "cell",
        F.col("ord").alias("_ordx"), F.col("_nv").alias("_vx"),
    )
    y = base.select("cell", F.col("ord").alias("_ordy"), F.col("_nv").alias("_vy"))
    dropped = (
        x.join(y, "cell")
        .filter(F.col("_ordy") < F.col("_ordx"))
        .filter(F.round(dot_raw(F.col("_vx"), F.col("_vy")), 6) >= F.lit(eps))
        .select(F.col("_idx").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        base.join(dropped, id_col, "left")
        .select(
            F.col(id_col), "cell", "cdist", F.col("_dup").isNull().alias("kept")
        )
    )


def span_dedup(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_handles: list | None = None,
) -> DataFrame:
    """Substring-level exact deduplication (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better" family,
    arXiv:2107.06499): find every k-token span that repeats across at
    least ``min_docs`` distinct documents, keep its globally-first
    occurrence, and emit per-document DROP decisions as merged token
    intervals — the span-level excision whole-document dedup cannot
    express (two documents sharing one boilerplate paragraph are not
    near-duplicates, but the paragraph should still appear once in a
    training corpus).

    The paper builds a corpus-wide suffix array; the Spark-native
    equivalent is sliding k-gram hashing, which finds exactly the
    duplicated spans of length >= k (a repeat of length L >= k is
    recovered as its L-k+1 overlapping k-gram hits, which the interval
    merge below reassembles into one [start, end) range):

      1. occurrence stream: posexplode of the sliding k-token windows
         (functions/text.py:word_ngrams — shift-and-zip, no per-element
         re-tokenization) keyed by ``xxhash64(span)`` so the shuffle key
         is a fixed 8 bytes, never the span text (exact_dedup's key
         shape).
      2. duplicated-span detection: one hash-keyed aggregation carrying
         countDistinct(doc), a min/max(span) COLLISION WITNESS, and the
         lexicographically-first (doc, pos) occurrence. Buckets whose
         witness min==max are genuinely one span (the ~2^-64 common
         case); colliding buckets — distinct spans sharing a hash — are
         re-resolved exactly with a span-keyed pass over ONLY the
         colliding rows (broadcast semi-join), so the result is
         bit-identical to grouping on the span text itself.
      3. drop set: occurrences of duplicated spans minus each span's
         canonical first occurrence, one hash-keyed join.
      4. per-document interval merge: overlapping/adjacent dropped
         windows [pos, pos+k) collapse via the classic island scan (one
         window over (doc, pos) — running max of span end, new island
         when a gap appears).

    Scale shape (100 TB): every stage is linear in token count — the
    occurrence stream is narrow (no shuffle), the dup-detection
    aggregation and the drop join shuffle 8-byte keys with map-side
    partial aggregation, and the interval merge shuffles only dropped
    positions (corpus overlap mass, not corpus mass). No suffix array,
    no all-pairs stage, nothing keyed on unbounded text. The df-cut
    (``min_docs``) bounds stage-3 fanout exactly as tf-idf's
    document-frequency cut bounds its term join.

    Returns one row per excised interval: (doc_id, start_tok, end_tok,
    n_tok_dropped, n_spans) with end exclusive, positions 0-based,
    sorted by (doc_id, start_tok). Reference repo has no dedup surface
    at all (SURVEY.md §2) — this is part of the LLM-pipeline tier.
    """
    from pyspark.sql import Window

    from hnsw_vector_db_spark.functions.text import word_ngrams

    if k < 1:
        raise ValueError(f"span length k must be >= 1, got {k}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")

    from pyspark import StorageLevel

    # persisted: the k-gram occurrence stream is the one data-sized
    # table and has THREE consumers (df-cut aggregate, clean-drop join,
    # collision re-resolve) — unpersisted, the tokenize+posexplode pass
    # over the corpus runs three times (the wide_new fork lesson; 64x
    # re-measured in BASELINE.md)
    occ = (
        docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .select(
            F.col(id_col),
            F.posexplode(word_ngrams(tokens(text_col), k)).alias("pos", "_span"),
        )
        .withColumn("_h", F.xxhash64("_span"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # cache lifecycle: the RETURNED lazy DataFrame references this cache
    # for its whole lifetime — pass a list as cache_handles to receive it
    # and .unpersist() once the result is consumed; otherwise a long-
    # lived session holds the storage until ContextCleaner GCs the plan
    if cache_handles is not None:
        cache_handles.append(occ)

    first = F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p")))
    per_hash = occ.groupBy("_h").agg(
        F.countDistinct(id_col).alias("_nd"),
        F.min("_span").alias("_smin"),
        F.max("_span").alias("_smax"),
        first.alias("_first"),
    )
    clean_dups = per_hash.filter(
        (F.col("_nd") >= min_docs) & (F.col("_smin") == F.col("_smax"))
    ).select("_h", "_first")
    collided = per_hash.filter(F.col("_smin") != F.col("_smax")).select("_h")

    not_canonical = ~(
        (F.col(id_col) == F.col("_first.d")) & (F.col("pos") == F.col("_first.p"))
    )
    clean_drops = (
        occ.join(clean_dups, "_h").filter(not_canonical).select(id_col, "pos")
    )
    # rare path: hash-colliding buckets re-resolved on the span text —
    # approximately zero rows at any scale, so the broadcast is bounded
    col_occ = occ.join(F.broadcast(collided), "_h", "left_semi")
    col_dups = (
        col_occ.groupBy("_span")
        .agg(F.countDistinct(id_col).alias("_nd"), first.alias("_first"))
        .filter(F.col("_nd") >= min_docs)
        .select("_span", "_first")
    )
    col_drops = (
        col_occ.join(col_dups, "_span").filter(not_canonical).select(id_col, "pos")
    )
    dropped = clean_drops.unionByName(col_drops)

    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(k)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = dropped.withColumn(
        "_new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    ).withColumn("_isl", F.sum("_new").over(w))
    return (
        islands.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("long").alias("start_tok"),
            (F.max("pos") + F.lit(k)).cast("long").alias("end_tok"),
            F.count(F.lit(1)).alias("n_spans"),
        )
        .select(
            id_col,
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok")).alias("n_tok_dropped"),
            "n_spans",
        )
        .orderBy(id_col, "start_tok")
    )


# ---- incremental dedup against a persisted index ---------------------------

def build_dedup_index(
    docs: DataFrame,
    path: str,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "portable",
    collapse_identical: bool = True,
) -> None:
    """Persist the corpus's dedup INDEX — the artifact that makes dedup
    incremental: ``{path}/bands`` (id, band, band_key) for candidate
    generation and ``{path}/sigs`` (id, mh0..mh{k-1}) for signature
    verification. Once written, future batches are deduped against the
    corpus WITHOUT ever re-reading or re-hashing historical text — the
    index is linear in corpus size (k+bands ints per doc) vs the text's
    hundreds of bytes, the same reason real pipelines snapshot MinHash
    state between crawl drops.

    ``collapse_identical`` (default ON) stores ONE min-id representative
    per distinct signature. This is result-IDENTICAL, not approximate:
    the estimator depends only on the signature (sig-equal docs tie at
    the same est), band keys are a function of the signature (candidate
    coverage preserved), and the best-match tiebreak is min old id —
    which the representative IS within its group, and the cross-group
    argmax winner is always some group's representative. What it buys
    is the tier-0 lesson applied to the index: on a dup-heavy corpus
    (the realistic case) candidates per new doc otherwise multiply by
    the duplication factor — measured 26.4x wall at 64x on the
    64x-replicated corpus, collapsing back to scan-bound with the
    representative index (BASELINE.md r6 table).

    For repeated daily runs, write ``bands`` bucketed by band_key
    (sources/bucketed.save_bucketed) so every future candidate join
    reads co-located buckets and skips the index-side exchange."""
    wide = minhash_signature_wide(docs, k, n, seed, text_col, id_col, hash_fn)
    if collapse_identical:
        mh = [f"mh{i}" for i in range(k)]
        wide = wide.groupBy(*mh).agg(F.min(id_col).alias(id_col)).select(
            id_col, *mh
        )
    wide.write.parquet(f"{path}/sigs", mode="overwrite")
    _band_keys(wide, k, bands, id_col).write.parquet(
        f"{path}/bands", mode="overwrite"
    )


def incremental_dedup(
    new_docs: DataFrame,
    index_sigs: DataFrame,
    index_bands: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "portable",
    cache_handles: list | None = None,
) -> DataFrame:
    """Dedup a NEW batch against a PERSISTED index (build_dedup_index)
    — the production shape: historical text is never touched, only the
    batch is hashed (O(batch)), candidates come from the (band,
    band_key) equi-join against the stored band table, and the verdict
    is the signature-estimated Jaccard (fraction of equal minhash
    components — the estimator banding already relies on; unbiased,
    stderr ~ sqrt(j(1-j)/k)). Exact-Jaccard re-verification is possible
    only if historical text is retained; the estimator tier is what an
    index-only system can promise, and the driver oracle replays it
    exactly.

    Scale shape: batch-side hashing is one explode+groupBy over the
    batch; the candidate join is equi-keyed on (band, band_key) with the
    batch side small (AQE broadcasts it); the verify join touches
    candidate pairs only; the final best-match pick is a per-new-doc
    window over candidates. Nothing scans the historical corpus.

    Output: one row per new doc — (id, best_match, est_jaccard,
    is_dup); best_match = -1 and est_jaccard = 0.0 when no candidate
    (including batch docs too short to shingle)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from pyspark.sql.window import Window as W

    from pyspark import StorageLevel

    # persisted: the wide signature feeds BOTH the band-key branch and
    # the estimate join — without it Spark re-shingles and re-hashes the
    # whole batch TEXT twice (seen in the executed plan). The cache is
    # k+1 ints per batch doc, orders of magnitude under the text bytes;
    # MEMORY_AND_DISK so a huge batch spills instead of recomputing
    # (same lifecycle call as graph.py:pagerank's edge list).
    wide_new = minhash_signature_wide(
        new_docs, k, n, seed, text_col, id_col, hash_fn
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # cache lifecycle: see span_dedup — pass cache_handles to unpersist
    # once the returned verdicts are consumed
    if cache_handles is not None:
        cache_handles.append(wide_new)
    bk_new = _band_keys(wide_new, k, bands, id_col).toDF(
        "new_id", "band", "band_key"
    )
    cand = (
        bk_new.join(index_bands.toDF("old_id", "band", "band_key"),
                    ["band", "band_key"])
        .select("new_id", "old_id")
        .distinct()
    )
    n_eq = sum(
        (F.col(f"a.mh{i}") == F.col(f"b.mh{i}")).cast("int") for i in range(k)
    )
    est = (
        cand.join(wide_new.alias("a"), cand["new_id"] == F.col(f"a.{id_col}"))
        .join(index_sigs.alias("b"), cand["old_id"] == F.col(f"b.{id_col}"))
        .select(
            "new_id", "old_id",
            (n_eq.cast("double") / F.lit(float(k))).alias("est_jaccard"),
        )
    )
    best = (
        est.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("new_id").orderBy(
                    F.col("est_jaccard").desc(), F.col("old_id").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        new_docs.select(F.col(id_col))
        .join(best, new_docs[id_col] == best["new_id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("old_id"), F.lit(-1)).alias("best_match"),
            F.coalesce(F.col("est_jaccard"), F.lit(0.0)).alias("est_jaccard"),
            (F.coalesce(F.col("est_jaccard"), F.lit(0.0)) >= threshold).alias(
                "is_dup"
            ),
        )
    )
