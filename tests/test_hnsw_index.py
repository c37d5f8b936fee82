"""Build-once / search-many contract for the persisted HNSW index.

The reference builds its graph once and serves many searches from it
(`core/hnsw/graph.py:127-189`; persisted via `core/storage/engine.py:23-56`).
These tests lock the Spark-native equivalent: ``hnsw_build`` materializes
the per-cell index as a DataFrame, and ``hnsw_search`` over that artifact
(including a parquet round-trip) returns results identical to the inline
build path — with zero construction work at search time.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hnsw_vector_db_spark.operators import hnsw_partition
from hnsw_vector_db_spark.operators.hnsw_partition import (
    LocalHNSW,
    _cell_topk,
    _index_local,
    _index_row,
    _route_cells,
    _scan_topk,
    hnsw_build,
    hnsw_edges,
    hnsw_search,
    hnsw_topk,
)
from hnsw_vector_db_spark.operators.similarity import ivf_fit
from hnsw_vector_db_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def fitted(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_fit(emb, n_cells=4)
    assigned = assigned.cache()
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return assigned, centroids, queries


def test_state_roundtrip_search_identical():
    """from_state(to_state(idx)) searches bit-identically to the built
    index — the property that makes the persisted artifact trustworthy."""
    rng = np.random.RandomState(7)
    X = rng.randn(500, 16)
    built = LocalHNSW(m=6, ef_construction=32, metric="cosine", seed=0)
    built.build(X)
    st = built.to_state()
    loaded = LocalHNSW.from_state(
        st["n"], st["dim"], st["metric"], st["entry"], st["levels"],
        st["vec_bytes"], st["e_layer"], st["e_src"], st["e_dst"], st["e_prot"],
    )
    assert loaded.protected0 == built.protected0  # trim exemptions survive
    for qi in range(10):
        a = built.search(X[qi], 5, ef=48)
        b = loaded.search(X[qi], 5, ef=48)
        assert a == b


def _assert_batch_equals_search(idx, Q, k, ef):
    """search_batch row b == search(Q[b]): same nodes in the same order,
    distances to 1e-12."""
    nodes, dists = idx.search_batch(Q, k, ef)
    assert nodes.shape == dists.shape == (len(Q), min(k, len(idx.X)))
    for b, q in enumerate(Q):
        want = idx.search(q, k, ef)
        assert [int(x) for x in nodes[b] if x >= 0] == [n for n, _ in want]
        np.testing.assert_allclose(
            dists[b, : len(want)], [d for _, d in want], rtol=0, atol=1e-12
        )


@pytest.mark.parametrize("metric", ["cosine", "dot_product", "euclidean", "manhattan"])
def test_search_batch_equals_search(metric, monkeypatch):
    """The lock-step serving kernel answers exactly like the per-query
    beam search: on a plain cell (without handing any query back to
    search), on a reloaded index (adjacency rebuilt from the stored edge
    arrays), with ef >= n, with k > n, over duplicate vectors whose
    distances tie, on a one-node cell, and in several visited-mask
    chunks."""
    rng = np.random.RandomState(3)
    idx = LocalHNSW(m=6, ef_construction=32, metric=metric)
    idx.build(rng.randn(150, 16))
    Q = rng.randn(60, 16)

    handed_back = []
    search = idx.search
    monkeypatch.setattr(idx, "search", lambda *a: handed_back.append(a) or search(*a))
    idx.search_batch(Q, 10, 24)
    assert handed_back == []
    monkeypatch.undo()

    _assert_batch_equals_search(idx, Q, 10, 24)
    st = idx.to_state()
    loaded = LocalHNSW.from_state(
        st["n"], st["dim"], st["metric"], st["entry"], st["levels"],
        st["vec_bytes"], st["e_layer"], st["e_src"], st["e_dst"], st["e_prot"],
    )
    _assert_batch_equals_search(loaded, Q, 10, 24)
    _assert_batch_equals_search(idx, Q, 5, 400)  # ef >= n
    _assert_batch_equals_search(idx, Q, 200, 8)  # k > n

    X = np.repeat(rng.randn(30, 16), 4, axis=0)
    dup = LocalHNSW(m=6, ef_construction=32, metric=metric)
    dup.build(X[rng.permutation(len(X))])
    _assert_batch_equals_search(dup, np.vstack([X[:20], rng.randn(20, 16)]), 10, 16)

    one = LocalHNSW(metric=metric)
    one.build(rng.randn(1, 16))
    _assert_batch_equals_search(one, Q[:5], 3, 8)

    # 7 queries per chunk: the 60 queries run in 9 chunks
    monkeypatch.setattr(hnsw_partition, "_VISITED_CHUNK_BYTES", 7 * 150)
    _assert_batch_equals_search(idx, Q, 10, 24)


def _cell_row(n: int):
    """An index row (``_index_row``) of one built cell of ``n`` 8-d nodes."""
    local = LocalHNSW(m=6, ef_construction=32)
    local.build(np.random.RandomState(5).randn(n, 8))
    return _index_row(0, np.arange(n) * 3, local)


@pytest.mark.parametrize("k, ef", [(3, 2), (2, 3)])
def test_kernel_rule_scans_up_to_the_bound(monkeypatch, k, ef):
    """Under kernel="auto" a cell of n == _EXACT_SCAN_PER_BEAM * max(ef, k)
    nodes is answered by the exact scan, without rebuilding its graph,
    and a cell one node larger by the lock-step beam; under
    kernel="graph" even a one-node cell walks its graph."""
    bound = hnsw_partition._EXACT_SCAN_PER_BEAM * max(ef, k)
    assert hnsw_partition._scan_max_n(k, ef, "auto") == bound
    Q = np.random.RandomState(9).randn(6, 8)
    for n, kernel, scans in [
        (bound, "auto", True), (bound + 1, "auto", False), (1, "graph", False),
    ]:
        row = _cell_row(n)
        ran = []
        scan, beam = hnsw_partition._scan_topk, LocalHNSW.search_batch
        monkeypatch.setattr(
            hnsw_partition, "_scan_topk", lambda *a: ran.append("scan") or scan(*a)
        )
        monkeypatch.setattr(
            LocalHNSW, "search_batch", lambda *a: ran.append("beam") or beam(*a)
        )
        monkeypatch.setattr(
            hnsw_partition, "_index_local", lambda *a: ran.append("graph") or _index_local(*a)
        )
        nodes, _ = _cell_topk(row, Q, k, max(ef, k), hnsw_partition._scan_max_n(k, ef, kernel))
        monkeypatch.undo()
        assert ran == (["scan"] if scans else ["graph", "beam"]), (n, kernel)
        assert nodes.shape == (len(Q), min(k, n))


@pytest.mark.parametrize("metric", ["cosine", "dot_product", "euclidean", "manhattan"])
def test_scan_topk_is_exact_with_ties_to_the_lower_id(metric, monkeypatch):
    """The exact scan returns each query's top min(k, n) by (dist, id):
    on duplicates that straddle rank k, with ids out of node order, with
    k > n, and across query chunks of a small byte bound. A NaN query
    gets k hits at distance inf instead of failing the cut."""
    rng = np.random.RandomState(4)
    base = rng.randn(40, 6)
    X = np.vstack([base, np.repeat(base[:2], 3, axis=0)])  # 3 more copies each
    ids = rng.permutation(1000)[: len(X)]
    Q = np.vstack([base[:2], rng.randn(10, 6)])
    local = LocalHNSW(metric=metric)
    local.build(X)  # the stored form: unit rows for cosine
    for k in (2, 3, 4, 5, 60):
        for step_bytes in (None, 8 * len(X) * 3):  # 3 queries a chunk; manhattan 1
            if step_bytes:
                monkeypatch.setattr(hnsw_partition, "_VISITED_CHUNK_BYTES", step_bytes)
            nodes, dists = _scan_topk(Q, local.X, ids, k, metric)
            monkeypatch.undo()
            want_n, want_d = _brute_topk(Q, X, ids, k, metric)
            assert [ids[r].tolist() for r in nodes] == want_n
            np.testing.assert_allclose(dists, want_d, rtol=0, atol=1e-9)
    nodes, dists = _scan_topk(np.full((1, 6), np.nan), local.X, ids, 3, metric)
    assert nodes.shape == (1, 3) and np.isinf(dists).all()  # NaN ranks last


def test_hnsw_build_warns_nothing_about_type_hints(fitted):
    """applyInPandas gets an un-hinted function, so PySpark has no eval
    type to (fail to) infer from hints."""
    import warnings

    assigned, _, _ = fitted
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert hnsw_build(assigned).count() > 0
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]


def _cells_frame(spark, n_cells, per_cell=6, dim=8, seed=5):
    """An ``assigned`` frame of ``n_cells`` cells of ``per_cell`` random
    vectors each; ids are not in cell order."""
    rng = np.random.RandomState(seed)
    rows = [
        (c, (c * 7919 + i * 104729) % 1_000_003, rng.randn(dim).tolist())
        for c in range(n_cells)
        for i in range(per_cell)
    ]
    return spark.createDataFrame(rows, "cell int, vec_id long, embedding array<double>")


def _cell_exchanges(plan: str, op: str) -> str:
    """The executed plan below ``op``, the per-cell operator."""
    final = plan.split("== Initial Plan ==")[0]
    return final[final.index(op):]


def test_hnsw_build_cells_run_at_full_parallelism(spark, stage_tasks_in_group):
    """The build's rows are hash-partitioned on cell to defaultParallelism
    partitions and AQE leaves that count alone: below the per-cell
    FlatMapGroupsInPandas there is exactly one exchange, that
    repartition, and no coalesced shuffle read, so the build stage runs
    min(cells, defaultParallelism) tasks (left to AQE it ran as one)."""
    import re

    from hnsw_vector_db_spark.plans.explain import physical_plan

    parts = spark.sparkContext.defaultParallelism
    n_cells = parts + 3
    built = hnsw_build(_cells_frame(spark, n_cells), metric="euclidean")
    rows = []
    tasks = stage_tasks_in_group("hnsw-build", lambda: rows.extend(built.collect()))
    assert sorted(r["cell"] for r in rows) == list(range(n_cells))
    cells = _cell_exchanges(physical_plan(built), "FlatMapGroupsInPandas")
    exchanges = re.findall(r"Exchange (\w+)\((\w+)#\d+, (\d+)\), (\w+)", cells)
    assert exchanges == [("hashpartitioning", "cell", str(parts), "REPARTITION_BY_NUM")], cells
    assert cells.count("Exchange") == 1, cells
    assert "AQEShuffleRead" not in cells, cells
    assert tasks[max(tasks)] == min(n_cells, parts), tasks  # the last stage builds


def test_hnsw_insert_cogroup_runs_at_full_parallelism(spark, fitted, stage_tasks_in_group):
    """Both sides of hnsw_insert's cogroup are repartitioned on cell to
    min(cells, defaultParallelism) partitions, the same count, so the
    cogroup plans no exchange on cell of its own and its stage runs that
    many tasks (left to AQE it ran as one)."""
    import re

    from hnsw_vector_db_spark.operators.hnsw_partition import hnsw_insert
    from hnsw_vector_db_spark.plans.explain import physical_plan

    assigned, centroids, _ = fitted
    parts = min(len(centroids), spark.sparkContext.defaultParallelism)
    index = hnsw_build(assigned).localCheckpoint()
    merged = hnsw_insert(index, assigned.limit(3).select("vec_id", "embedding"), centroids)
    rows = []
    tasks = stage_tasks_in_group("hnsw-insert", lambda: rows.extend(merged.collect()))
    assert len(rows) == index.count()
    cells = _cell_exchanges(physical_plan(merged), "FlatMapCoGroupsInPandas")
    on_cell = [e for e in re.findall(r"Exchange (\w+)\((\w+)#\d+, (\d+)\), (\w+)", cells)
               if e[1] == "cell"]
    assert on_cell == [("hashpartitioning", "cell", str(parts), "REPARTITION_BY_NUM")] * 2, cells
    assert tasks[max(tasks)] == parts, tasks  # the last stage merges


@pytest.mark.parametrize("metric", ["cosine", "dot_product", "euclidean", "manhattan"])
def test_hnsw_build_rows_equal_a_local_build(spark, metric):
    """Each distributed index row is the row an in-process
    LocalHNSW.build of that cell's vectors, in the row's node order,
    gives: placing cells on tasks changes no byte."""
    assigned = _cells_frame(spark, spark.sparkContext.defaultParallelism + 1, per_cell=40)
    vec = {r["vec_id"]: r["embedding"] for r in assigned.collect()}
    rows = hnsw_build(assigned, metric=metric, m=4, ef_construction=16).collect()
    assert len(rows) == spark.sparkContext.defaultParallelism + 1
    for row in rows:
        local = LocalHNSW(m=4, ef_construction=16, metric=metric, seed=0)
        local.build(np.array([vec[i] for i in row["ids"]], dtype=np.float64))
        assert row.asDict() == _index_row(row["cell"], row["ids"], local), row["cell"]


def test_protected_neighbours_are_protected0():
    """The trim-exempt parent edges are kept once, as each node's
    protected neighbours; after a build, a state round trip and an
    insert_batch on the reloaded graph they are exactly what protected0
    lists, from both ends, a spanning tree that no trim dropped, and
    prot_fanin counts each node's protected neighbours above it."""
    rng = np.random.RandomState(13)
    X = rng.randn(300, 8)

    def check(idx):
        want: dict[int, set[int]] = {}
        for a, b in idx.protected0:
            want.setdefault(a, set()).add(b)
            want.setdefault(b, set()).add(a)
        assert idx.protected_nbrs == want
        assert len(idx.protected0) == len(idx.X) - 1  # one parent per non-root node
        for a, nbrs in want.items():
            assert nbrs <= set(idx.adj[0][a])
        fanin = {a: sum(b > a for b in nbrs) for a, nbrs in want.items()}
        assert idx.prot_fanin == {a: f for a, f in fanin.items() if f}

    built = LocalHNSW(m=3, ef_construction=16, metric="euclidean", seed=0)
    built.build(X)
    check(built)
    loaded = _index_local(_index_row(0, np.arange(len(X)), built))
    assert loaded.protected0 == built.protected0
    check(loaded)
    loaded.insert_batch(rng.randn(40, 8))
    check(loaded)


def test_hnsw_search_cells_run_at_full_parallelism(spark, fitted, tmp_path):
    """The probed index rows are repartitioned on cell to min(probed
    cells, defaultParallelism) partitions, and AQE leaves that count
    alone: below the per-cell MapInPandas there is exactly one exchange,
    that repartition, no coalesced shuffle read, and nothing of the
    query side (it is a broadcast variable, not a relation)."""
    import re

    from hnsw_vector_db_spark.plans.explain import physical_plan

    assigned, centroids, queries = fitted
    path = str(tmp_path / "hnsw_index")
    hnsw_build(assigned).write.parquet(path)
    index = spark.read.parquet(path)
    Q = np.array([r["query_vec"] for r in queries.collect()], dtype=np.float64)
    probed = len(np.unique(_route_cells(Q, centroids, 2, "cosine")))
    parts = min(probed, spark.sparkContext.defaultParallelism)

    out = hnsw_search(index, queries, centroids, k=5, nprobe=2)
    assert len(out.collect()) == 5 * len(Q)
    final = physical_plan(out).split("== Initial Plan ==")[0]
    cells = final[final.index("MapInPandas"):]
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)#\d+, (\d+)\), (\w+)", cells)
    assert exchanges == [("cell", str(parts), "REPARTITION_BY_NUM")], cells
    assert cells.count("Exchange") == 1, cells
    assert "AQEShuffleRead" not in cells, cells
    assert "query_vec" not in cells and "LocalTableScan" not in cells, cells


def _brute_dist(Q: np.ndarray, X: np.ndarray, metric: str) -> np.ndarray:
    """(len(Q), len(X)) distances, one (query, vector) pair at a time."""
    def one(q, x):
        if metric == "cosine":
            nq, nx = np.linalg.norm(q), np.linalg.norm(x)
            return 1.0 - float(np.dot(q / nq, x / nx))
        if metric == "dot_product":
            return -float(np.dot(q, x))
        if metric == "manhattan":
            return float(np.abs(q - x).sum())
        return float(np.sqrt(((q - x) ** 2).sum()))

    return np.array([[one(q, x) for x in X] for q in Q])


def _brute_topk(Q, X, ids, k, metric):
    """Each query's top min(k, n) ids by (dist, id), and their distances."""
    D = _brute_dist(Q, X, metric)
    order = [np.lexsort((ids, d))[:k] for d in D]
    return [ids[o].tolist() for o in order], np.array([d[o] for d, o in zip(D, order)])


_DUP_IDS = [250, 7, 170, 40, 210, 90, 130]  # not in id order


def _ann_cells(spark, metric):
    """A materialized four-cell index over 8-d vectors whose values are
    float32-exact (the engine ships queries as float32): cell 0 holds one
    vector seven times (``_DUP_IDS``) among 60 others, cell 1 three
    vectors, its neighbour cell 2 one, and cell 3 forty. Returns (index,
    centroids, members by cell, queries): the repeated vector, cell 1's
    and cell 2's members, then 20 queries near random cells."""
    rng = np.random.RandomState(17)

    def f32(a):
        return a.astype(np.float32).astype(np.float64)

    offsets = np.eye(4, 8) * 6.0
    offsets[2] = offsets[1] + np.eye(8)[2]  # cells 1 and 2 are neighbours
    sizes = {0: 60, 1: 3, 2: 1, 3: 40}
    members, next_id = {}, 1000
    for c, size in sizes.items():
        X = f32(offsets[c] + rng.randn(size, 8))
        members[c] = (np.arange(next_id, next_id + size), X)
        next_id += size
    dup = f32(2.0 * offsets[0] + rng.randn(8))  # the longest vector: nearest to itself by dot
    ids0, X0 = members[0]
    members[0] = (
        np.concatenate([ids0, _DUP_IDS]),
        np.vstack([X0, np.repeat(dup[None], len(_DUP_IDS), axis=0)]),
    )
    rows = [
        (int(i), [float(v) for v in x], c)
        for c, (ids, X) in members.items() for i, x in zip(ids, X)
    ]
    assigned = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cell int"
    )
    index = hnsw_build(assigned, metric=metric, m=4, ef_construction=16).localCheckpoint()
    centroids = np.array([members[c][1].mean(axis=0) for c in sorted(members)])
    Q = np.vstack(
        [dup, members[1][1], members[2][1], f32(offsets[rng.randint(4, size=20)] + rng.randn(20, 8))]
    )
    return index, centroids, members, Q


def _search(spark, index, centroids, Q, metric, **kw):
    queries = spark.createDataFrame(
        [(q, [float(v) for v in x]) for q, x in enumerate(Q)],
        "query_id long, query_vec array<float>",
    )
    got = {}
    for r in sorted(
        hnsw_search(index, queries, centroids, metric=metric, **kw).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    ):
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["dist"]))
    return got


@pytest.mark.parametrize("metric", ["cosine", "dot_product", "euclidean", "manhattan"])
def test_hnsw_search_equals_brute_force_over_probed_cells(spark, metric):
    """Under kernel="auto" every cell of this index is small enough for
    the exact scan, so hnsw_search equals a numpy brute force over
    exactly the probed cells' members: ids by (dist, id), so the
    duplicates straddling rank k come lowest id first, fewer than k hits
    where the probed cells hold fewer, and with ``allowed=`` each cell's
    top k * over_fetch filtered before the final top k."""
    k, nprobe = 5, 2
    index, centroids, members, Q = _ann_cells(spark, metric)
    cells = _route_cells(Q, centroids, nprobe, metric)
    allowed_ids = {int(i) for ids, _ in members.values() for i in ids if i % 2 == 0}
    allowed = spark.createDataFrame([(i,) for i in sorted(allowed_ids)], "vec_id long")
    got = _search(spark, index, centroids, Q, metric, k=k, ef=8, nprobe=nprobe)
    got_f = _search(
        spark, index, centroids, Q, metric, k=k, ef=8, nprobe=nprobe,
        allowed=allowed, over_fetch=2,
    )
    assert [i for i, _ in got[0]] == sorted(_DUP_IDS)[:k]  # the tie, cut at k
    assert len(got[1]) < k  # the 3-node and 1-node cells
    for q, x in enumerate(Q):
        ids = np.concatenate([members[c][0] for c in cells[q]])
        X = np.vstack([members[c][1] for c in cells[q]])
        want_ids, want_d = _brute_topk(x[None], X, ids, k, metric)
        assert [i for i, _ in got[q]] == want_ids[0], q
        np.testing.assert_allclose([d for _, d in got[q]], want_d[0], rtol=0, atol=1.5e-6)
        # allowed=: each cell's top k * over_fetch, then the admissible ones
        cand = []
        for c in cells[q]:
            c_ids, c_d = _brute_topk(x[None], members[c][1], members[c][0], k * 2, metric)
            cand += [(d, i) for i, d in zip(c_ids[0], c_d[0]) if i in allowed_ids]
        assert [i for i, _ in got_f.get(q, [])] == [i for _, i in sorted(cand)[:k]], q


@pytest.mark.parametrize("force", ["kernel", "constant"])
@pytest.mark.parametrize("metric", ["cosine", "euclidean"])
def test_hnsw_search_graph_kernel_is_the_beam(spark, monkeypatch, metric, force):
    """kernel="graph", or _EXACT_SCAN_PER_BEAM = 0 under "auto", answers
    every cell by the beam: with one probed cell per query the hits are
    exactly LocalHNSW.search's nodes, in order. At this narrow ef the
    beam misses some exact neighbours that the default kernel finds."""
    k, ef = 5, 2
    index, centroids, members, Q = _ann_cells(spark, metric)
    Q = Q[1:]  # no seven-way tie
    kw = {"kernel": "graph"}
    if force == "constant":
        monkeypatch.setattr(hnsw_partition, "_EXACT_SCAN_PER_BEAM", 0)
        kw = {}
    got = _search(spark, index, centroids, Q, metric, k=k, ef=ef, nprobe=1, **kw)
    monkeypatch.undo()
    exact = _search(spark, index, centroids, Q, metric, k=k, ef=ef, nprobe=1)
    rows = {r["cell"]: r for r in index.collect()}
    cells = _route_cells(Q, centroids, 1, metric)[:, 0]
    for q, x in enumerate(Q):
        row = rows[int(cells[q])]
        want = [row["ids"][n] for n, _ in _index_local(row.asDict()).search(x, k, ef)]
        assert [i for i, _ in got[q]] == want, q
    assert got != exact


def test_build_once_search_many(spark, fitted, tmp_path):
    """Two searches over ONE materialized (parquet round-tripped) index
    return identical results, and both equal the inline-build path — no
    second build happens (the index rows are plain data; nothing in
    hnsw_search can reconstruct edges it wasn't given)."""
    assigned, centroids, queries = fitted
    path = str(tmp_path / "hnsw_index")
    hnsw_build(assigned).write.parquet(path)
    index = spark.read.parquet(path)

    r1 = sorted(map(tuple, hnsw_search(index, queries, centroids, k=5, ef=64, nprobe=2).collect()))
    r2 = sorted(map(tuple, hnsw_search(index, queries, centroids, k=5, ef=64, nprobe=2).collect()))
    assert r1 == r2 and len(r1) > 0

    inline = sorted(map(tuple, hnsw_topk(queries, assigned, centroids, k=5, ef=64, nprobe=2).collect()))
    assert r1 == inline


def test_edges_derived_from_index_match_fresh_build(spark, fitted):
    assigned, _, _ = fitted
    index = hnsw_build(assigned, m=4, ef_construction=16)
    e_idx = {
        tuple(r) for r in hnsw_edges(assigned, index=index).collect()
    }
    e_fresh = {
        tuple(r) for r in hnsw_edges(assigned, m=4, ef_construction=16).collect()
    }
    # same build params => identical topology; the index= variant avoids
    # the second build entirely
    assert e_idx == e_fresh and len(e_idx) > 0


def test_insert_batch_local_finds_new_rows():
    """Incremental LocalHNSW insert: inserted vectors are their own
    nearest neighbor, old rows stay searchable, and the merge is a pure
    function of (state, batch) — two identical merges agree exactly."""
    rng = np.random.RandomState(11)
    X = rng.randn(300, 16)
    idx = LocalHNSW(m=6, ef_construction=32, metric="cosine", seed=0)
    idx.build(X)
    X_new = rng.randn(20, 16)
    idx.insert_batch(X_new)
    for j in range(20):
        hits = idx.search(X_new[j], 1, ef=48)
        assert hits[0][0] == 300 + j  # exact copy is top-1
    assert idx.search(X[5], 1, ef=48)[0][0] == 5
    # determinism of the merge
    idx2 = LocalHNSW(m=6, ef_construction=32, metric="cosine", seed=0)
    idx2.build(X)
    idx2.insert_batch(X_new)
    assert idx.to_state() == idx2.to_state()


def test_hnsw_insert_touches_only_affected_cells(spark, fitted):
    """Distributed incremental maintenance: cells that receive no new
    vectors pass through BYTE-IDENTICAL (no rebuild), and searches for
    the inserted vectors return them as top-1."""
    from hnsw_vector_db_spark.operators.hnsw_partition import hnsw_insert

    assigned, centroids, _ = fitted
    index = hnsw_build(assigned, metric="cosine").cache()

    # new vectors = copies of three existing ones, offset ids
    base = assigned.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    merged = hnsw_insert(index, base, centroids, metric="cosine").cache()

    # which cells got the new rows?
    before = {r["cell"]: r for r in index.collect()}
    after = {r["cell"]: r for r in merged.collect()}
    assert set(before) == set(after)
    touched = {c for c in after if after[c]["n"] != before[c]["n"]}
    assert touched  # at least one cell grew
    for c in set(after) - touched:
        assert after[c] == before[c]  # untouched rows byte-identical

    # the inserted copies are found as their own nearest neighbor
    queries = base.select(
        (F.col("vec_id")).alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hits = hnsw_search(merged, queries, centroids, k=1, ef=64, nprobe=2)
    got = {r["query_id"]: r["vec_id"] for r in hits.collect()}
    for qid, vid in got.items():
        assert vid in (qid, qid - 1_000_000)  # the copy or its twin (dist 0 tie)


def test_hnsw_delete_compacts_only_affected_cells(spark, fitted, tmp_path):
    """Tombstoned ids vanish from search results, their cells compact
    (n drops, no stranded ids), every other cell row passes through
    byte-identical, and the index never shuffles (single map stage)."""
    from hnsw_vector_db_spark.operators.hnsw_partition import hnsw_delete
    from hnsw_vector_db_spark.plans.explain import physical_plan

    assigned, centroids, queries = fitted
    idx_dir = str(tmp_path / "idx")
    hnsw_build(assigned, metric="cosine").write.parquet(idx_dir)
    index = spark.read.parquet(idx_dir)
    tomb_ids = [r["vec_id"] for r in assigned.limit(3).collect()]
    tomb = spark.createDataFrame([(i,) for i in tomb_ids], "vec_id long")

    compacted = hnsw_delete(index, tomb).cache()
    # over the materialized index the compaction is a single map stage
    assert "Exchange" not in physical_plan(hnsw_delete(index, tomb))

    before = {r["cell"]: r for r in index.collect()}
    after = {r["cell"]: r for r in compacted.collect()}
    tomb_set = set(tomb_ids)
    for c, row in before.items():
        if set(row["ids"]) & tomb_set:
            assert set(after[c]["ids"]) == set(row["ids"]) - tomb_set
            assert after[c]["n"] == row["n"] - len(set(row["ids"]) & tomb_set)
        else:
            assert after[c] == row  # untouched: byte-identical

    hits = hnsw_search(compacted, queries, centroids, k=10, ef=96, nprobe=4)
    got = {r["vec_id"] for r in hits.collect()}
    assert not (got & tomb_set)


def test_hnsw_upsert_last_write_wins(spark, fitted):
    """Upserting an EXISTING id with a new vector leaves exactly one
    version in the index, searches find the new vector (distance 0 to
    the new embedding), and no id appears twice."""
    from pyspark.sql import functions as F

    from hnsw_vector_db_spark.operators.hnsw_partition import hnsw_upsert

    assigned, centroids, _ = fitted
    index = hnsw_build(assigned, metric="cosine").cache()

    # replace vec_id 0's vector with vec_id 1's embedding
    new_vec = assigned.filter(F.col("vec_id") == 1).select(
        F.lit(0).cast("long").alias("vec_id"), "embedding"
    )
    merged = hnsw_upsert(index, new_vec, centroids, metric="cosine").cache()

    all_ids = [i for r in merged.collect() for i in r["ids"]]
    assert all_ids.count(0) == 1  # exactly one version
    assert sorted(all_ids) == sorted(
        i for r in index.collect() for i in r["ids"]
    )  # same id set overall

    q = new_vec.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hits = hnsw_search(merged, q, centroids, k=2, ef=64, nprobe=4).collect()
    by_rank = sorted(hits, key=lambda r: r["rank"])
    # both id 0 (new vector) and id 1 (its source) sit at distance 0
    assert {r["vec_id"] for r in by_rank[:2]} == {0, 1}
    assert all(r["dist"] < 1e-6 for r in by_rank[:2])


def test_hnsw_api_rejects_degenerate_m(spark, fitted):
    """m < 2 fails at the API edge with a clean ValueError, not a
    worker-side traceback (m=1 divides by zero in the level draw)."""
    import numpy as np

    from hnsw_vector_db_spark.operators.hnsw_partition import (
        hnsw_build,
        hnsw_delete,
        hnsw_insert,
    )

    assigned, centroids, _ = fitted
    with pytest.raises(ValueError, match="m must be >= 2"):
        hnsw_build(assigned, m=1)
    idx = hnsw_build(assigned)
    with pytest.raises(ValueError, match="m must be >= 2"):
        hnsw_insert(idx, assigned.limit(1), centroids, m=0)
    with pytest.raises(ValueError, match="m must be >= 2"):
        hnsw_delete(idx, assigned.limit(1).select("vec_id"), m=1)


def test_hnsw_search_prunes_unprobed_cells(spark, fitted, tmp_path):
    """The probed-cell set is pushed down to the index scan: stored
    partitionBy('cell'), a search reads only the probed partitions
    (PartitionFilters in the scan), and results equal the unpartitioned
    path."""
    from hnsw_vector_db_spark.plans.explain import physical_plan

    assigned, centroids, queries = fitted
    flat_dir = str(tmp_path / "flat")
    part_dir = str(tmp_path / "by_cell")
    built = hnsw_build(assigned)
    built.write.parquet(flat_dir)
    built.write.partitionBy("cell").parquet(part_dir)

    flat = spark.read.parquet(flat_dir)
    part = spark.read.parquet(part_dir)
    one_q = queries.limit(1)

    r_flat = sorted(map(tuple, hnsw_search(flat, one_q, centroids, k=5, nprobe=2).collect()))
    r_part = sorted(map(tuple, hnsw_search(part, one_q, centroids, k=5, nprobe=2).collect()))
    assert r_flat == r_part and len(r_part) == 5

    plan = physical_plan(hnsw_search(part, one_q, centroids, k=5, nprobe=2))
    # partition-pruned scan: the cell isin filter reaches PartitionFilters
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200], plan


def test_hnsw_search_filtered_matches_exact_filtered(spark, fitted):
    """Filtered index search (allowed-set semi-join + over-fetch) at
    nprobe=all-cells with a wide beam must equal EXACT filtered kNN:
    every cell is probed and ef >= cell size makes the per-cell beam
    exhaustive over the (strongly connected) layer-0 graph."""
    from hnsw_vector_db_spark.operators.knn import knn_batch
    from hnsw_vector_db_spark.sources.parquet import load_table

    assigned, centroids, queries = fitted
    emb = assigned.select("vec_id", "embedding", "label")
    allowed = emb.filter(F.col("label") % 2 == 0).select("vec_id")
    index = hnsw_build(assigned)
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in hnsw_search(
            index, queries, centroids, k=5, ef=4096, nprobe=4,
            allowed=allowed, over_fetch=1000,
        ).collect()
    }
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in knn_batch(
            queries, emb.filter(F.col("label") % 2 == 0), k=5
        ).collect()
    }
    assert got == exact
    # all returned ids satisfy the predicate (trivially, via the semi-join)
    allowed_ids = {r["vec_id"] for r in allowed.collect()}
    assert set(got.values()) <= allowed_ids


def test_hnsw_search_query_collect_cap(spark, fitted):
    """Oversized query batches fail fast instead of silently collecting."""
    assigned, centroids, queries = fitted
    index = hnsw_build(assigned)
    with pytest.raises(ValueError, match="max_collect_queries"):
        hnsw_search(index, queries, centroids, k=3, max_collect_queries=2)
    # raising the cap restores service
    out = hnsw_search(index, queries, centroids, k=3, max_collect_queries=5)
    assert out.count() > 0


def test_ivf_topk_predicate_equals_exact_filtered(spark, sf_dir):
    """ivf_topk(predicate) at nprobe=n_cells is exactly filtered kNN —
    the predicate applies inside every (i.e. all) probed cells."""
    from hnsw_vector_db_spark.operators.knn import knn_point
    from hnsw_vector_db_spark.operators.similarity import ivf_fit_seeded, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_fit_seeded(emb, n_cells=8)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = [
        (r["vec_id"], round(r["dist"], 6))
        for r in ivf_topk(
            assigned, centroids, qv, k=7, nprobe=8,
            predicate=F.col("label") % 2 == 0,
        ).collect()
    ]
    exact = [
        (r["vec_id"], round(r["dist"], 6))
        for r in knn_point(emb.filter(F.col("label") % 2 == 0), qv, k=7).collect()
    ]
    assert got == exact


def test_ivf_recenter_lloyd_monotone_and_metric_consistency(spark, sf_dir):
    """Recentering + reassignment never increases the total squared
    distance to the assigned centroid (Lloyd's monotonicity; rounded
    means add at most epsilon), and every new_cell is the true argmin of
    the new centroids under the requested metric."""
    import numpy as np

    from hnsw_vector_db_spark.operators.similarity import ivf_fit_seeded, ivf_recenter

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, old_cent = ivf_fit_seeded(emb, n_cells=8)
    moves, new_cent = ivf_recenter(assigned)
    rows = (
        assigned.select("vec_id", "embedding", "cell")
        .join(moves.select("vec_id", "new_cell"), "vec_id")
        .collect()
    )
    X = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    old_sse = sum(
        float(((x - old_cent[r["cell"]]) ** 2).sum()) for x, r in zip(X, rows)
    )
    new_sse = sum(
        float(((x - new_cent[r["new_cell"]]) ** 2).sum()) for x, r in zip(X, rows)
    )
    assert new_sse <= old_sse + 1e-6
    # argmin consistency: new_cell is the nearest new centroid (id tiebreak)
    D = ((X[:, None, :] - new_cent[None, :, :]) ** 2).sum(axis=2)
    expect = D.argmin(axis=1)  # numpy argmin takes first == lowest id on ties
    got = np.array([r["new_cell"] for r in rows])
    assert (got == expect).all()
    # something actually moved on the seeded (unconverged) assignment
    assert moves.filter(F.col("moved")).count() > 0


def test_hnsw_rebalance_touches_only_moved_cells(spark, sf_dir):
    """Rebalance preserves every vector, relocates exactly the moved
    ids, and leaves cells with no moved vectors byte-identical."""
    from hnsw_vector_db_spark.operators.hnsw_partition import hnsw_rebalance
    from hnsw_vector_db_spark.operators.similarity import ivf_fit_seeded

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = ivf_fit_seeded(emb, n_cells=4)
    index = hnsw_build(assigned, metric="euclidean").cache()
    new_index, new_cent, moves = hnsw_rebalance(index, assigned, metric="euclidean")
    new_index = new_index.cache()
    assert index.agg(F.sum("n")).first()[0] == new_index.agg(F.sum("n")).first()[0]
    moved = {
        (r["vec_id"], r["old_cell"], r["new_cell"])
        for r in moves.filter(F.col("moved")).collect()
    }
    assert moved  # seeded assignment is unconverged -> something moves
    touched = {c for _, o, n in moved for c in (o, n)}
    before = {r["cell"]: r for r in index.collect()}
    after = {r["cell"]: r for r in new_index.collect()}
    for cell, row in after.items():
        if cell not in touched:
            assert bytes(row["vec_bytes"]) == bytes(before[cell]["vec_bytes"])
            assert row["ids"] == before[cell]["ids"]
    # every moved id lives in exactly its new cell now
    placement = {vid: c for c, r in after.items() for vid in r["ids"]}
    for vid, _o, n in moved:
        assert placement[vid] == n


def test_ivf_recenter_empty_cell_inherits_or_fails_fast(spark):
    """A memberless cell must keep positional == cell id: inherit the
    old centroid when provided, fail loudly otherwise — never silently
    compact positions (which would mis-route every later cell)."""
    import numpy as np

    from hnsw_vector_db_spark.operators.similarity import ivf_recenter

    # cells 0 and 2 populated; cell 1 empty
    assigned = spark.createDataFrame(
        [(0, [0.0, 0.0], 0), (1, [1.0, 1.0], 0), (10, [9.0, 9.0], 2)],
        "vec_id long, embedding array<double>, cell int",
    )
    with pytest.raises(ValueError, match="no members"):
        ivf_recenter(assigned)
    old = np.array([[0.0, 0.0], [5.0, 5.0], [9.0, 9.0]])
    moves, cent = ivf_recenter(assigned, old_centroids=old)
    assert cent.shape == (3, 2)
    assert list(cent[1]) == [5.0, 5.0]  # inherited, position preserved
    assert list(cent[2]) == [9.0, 9.0]  # the cell-2 member's own mean
    got = {r["vec_id"]: r["new_cell"] for r in moves.collect()}
    assert got[10] == 2  # still routed by true cell id, not position
