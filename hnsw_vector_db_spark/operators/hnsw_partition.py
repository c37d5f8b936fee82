"""Partition-local HNSW: the reference's graph index, Spark-distributed.

The reference builds ONE global in-memory HNSW under a lock
(`core/hnsw/graph.py:66-70`) — bounded by one node's RAM (hard cap
1,000,000, `graph.py:54`). The Spark-native form shards the corpus into
cells (IVF/KMeans — the coarse analog of the reference's upper layers),
builds an independent small-world graph *per cell* inside
``applyInPandas`` workers, and routes each query to its nprobe nearest
cells. Per-cell indexes are the unbounded-scale path: 100 TB = many cells,
each cell a few hundred MB that fits one executor's memory; build is
embarrassingly parallel; a cell rebuild (after deletes, `graph.py:191-207`'s
stranded-edge problem) touches one cell, not the corpus.

Every per-cell stage (:func:`hnsw_build`'s ``applyInPandas``,
:func:`hnsw_insert`'s cogroup, :func:`hnsw_search`'s ``mapInPandas``)
sits behind one rule, :func:`_on_cells`: a hash repartition on ``cell``
with an explicit partition count, at most ``defaultParallelism``. AQE
coalesces an implicit shuffle by its bytes, and a whole corpus of small
cells is a few MB, so left to it every cell would be built in one task;
an explicit count it leaves alone, so the CPU-bound cells run on every
core. A built index is one parquet file per non-empty partition.

``LocalHNSW`` is an original implementation of the published HNSW
algorithm (Malkov & Yashunin, arXiv:1603.09320): geometric level
assignment, greedy descent with ef=1 above the base layer, beam search at
the base layer. It differs deliberately from the reference implementation:
distances are evaluated as vectorized numpy batches over a neighbor
frontier (not per-node scalar calls) and vectors live in one contiguous
matrix.

Two graph kernels share one beam-search rule. :meth:`LocalHNSW.search`
runs one query with Python heaps and a ``set`` of visited nodes; inserts
use it, and it is the reference the serving kernel is tested against.
:meth:`LocalHNSW.search_batch` serves every query routed to a cell in
lock step: per layer a padded ``(n, max_degree)`` adjacency matrix, a
``(B, n)`` boolean visited mask and one ``(dist, node)``-sorted beam per
query, and each iteration expands every live query's nearest unexpanded
beam member at once. The queries go through in chunks whose visited
masks stay under ``_VISITED_CHUNK_BYTES``. A query whose distances come
within rounding error of a tie is answered by ``search`` instead, so
both kernels return the same nodes in the same order.

:func:`hnsw_search` picks each probed cell's kernel by cost
(:func:`_cell_topk`). A cell of ``n <= _EXACT_SCAN_PER_BEAM * max(ef,
k)`` nodes is answered by :func:`_scan_topk`, an exact block scan of the
stored vectors: one distance block per chunk of queries and a per-row
top-k by ``(dist, id)``, with no graph to rebuild. At the sizes where
the scan wins (the constant's comment has the measured table) the beam
visits most of the cell anyway, and every lock-step iteration sorts its
whole beam. Larger cells keep ``search_batch``; ``kernel="graph"``
forces it everywhere.

Connectivity guarantee (the reference's documented stranded-edge defect,
`core/hnsw/graph.py:158-168` re-prune and `:191-207` delete, does NOT
recur here): every inserted node designates its nearest layer-0 neighbor
at insert time as its *parent*, and the bidirectional parent edge pair is
exempt from degree-cap trimming (a provable-connectivity form of the
paper's keepPrunedConnections). The protected edges form a bidirectional
spanning tree over insertion order, so the layer-0 digraph stays strongly
connected from ANY entry point — with ef >= n the beam search therefore
visits every node and top-1 is exact. Average degree overhead is +1 edge
per node, and protected FAN-IN is capped at m per node (a child whose m0
nearest candidates all sit at the cap falls back to its nearest anyway —
connectivity over economy), so worst-case layer-0 out-degree is bounded
by 2M (unprotected) + M + 1 (protected) outside that pathological
fallback; the cap still bounds the unprotected neighbors exactly.
"""

from __future__ import annotations

import heapq

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hnsw_vector_db_spark.functions.distance import (
    METRICS,
    block_distances,
    unit_rows,
    vector_matrix,
)
from hnsw_vector_db_spark.operators.knn import top_k_per_query

# Byte bound on a serving kernel's largest per-chunk temporary:
# search_batch's (B, n) boolean visited masks and the exact scan's (B, n)
# float64 distances (manhattan: its (B, n, dim) difference block).
_VISITED_CHUNK_BYTES = 16 * 1024 * 1024
# hnsw_search answers a cell of n nodes by an exact scan when
# n <= _EXACT_SCAN_PER_BEAM * max(ef, k), and by the lock-step beam above.
# Per-query time of search_batch / the scan in microseconds, one thread
# on a shared 4-core x86 host, dim 64, cosine, k 10, 256 random-normal
# queries per cell of random-normal vectors (m 8, ef_construction 32):
#   n       ef 10       ef 32       ef 128
#   256     91 / 12     263 / 17    1112 / 11
#   512     146 / 20    259 / 34    1276 / 24
#   1024    120 / 50    237 / 47    1186 / 48
#   2048    126 / 123   359 / 137   2045 / 112
#   4096    142 / 197   379 / 243   2028 / 190
#   8192    187 / 435   473 / 425   2093 / 405
# The beam breaks even near n = 200 * ef at ef 10 and n = 256 * ef at
# ef 32, and loses on every row at ef 128 (n <= 64 * ef), so 64 stays at
# or below every break-even the table shows.
_EXACT_SCAN_PER_BEAM = 64


def _check_build_params(m: int, ef_construction: int, metric: str | None = None) -> None:
    """Raise ``ValueError`` naming a graph-build parameter that cannot
    work: ``m < 2`` (ml = 1/log(m) needs m > 1, and a 1-regular graph
    cannot hold the small-world invariants), ``ef_construction < 1`` (an
    insert's beam would hold no candidate to link to) or a ``metric``
    that :data:`~..functions.distance.METRICS` does not know (the graph
    kernels would silently fall back to euclidean)."""
    if m < 2:
        raise ValueError(f"m must be >= 2, got {m}")
    if ef_construction < 1:
        raise ValueError(f"ef_construction must be >= 1, got {ef_construction}")
    if metric is not None and metric not in METRICS:
        raise ValueError(f"metric must be one of {sorted(METRICS)}, got {metric!r}")


def _pad_layers(n: int, n_layers: int, la, sa, da) -> list[np.ndarray]:
    """Per-layer ``(n, max_degree)`` int64 neighbor matrices, -1 padded,
    each row in its adjacency-list order, from flat (layer, src, dst)
    edge arrays listed in that order."""
    la = np.asarray(la, dtype=np.int64)
    sa = np.asarray(sa, dtype=np.int64)
    da = np.asarray(da, dtype=np.int64)
    order = np.lexsort((sa, la))  # stable: keeps each list's own order
    la, sa, da = la[order], sa[order], da[order]
    key = la * max(n, 1) + sa
    pos = np.arange(len(key)) - np.searchsorted(key, key, side="left")
    out = []
    for lv in range(n_layers):
        on = la == lv
        width = int(pos[on].max()) + 1 if on.any() else 0
        A = np.full((n, width), -1, dtype=np.int64)
        A[sa[on], pos[on]] = da[on]
        out.append(A)
    return out


class LocalHNSW:
    """In-memory HNSW over a dense matrix; one instance per Spark cell."""

    def __init__(
        self,
        m: int = 8,
        ef_construction: int = 64,
        metric: str = "cosine",
        seed: int = 0,
    ) -> None:
        _check_build_params(m, ef_construction, metric)
        self.m = m
        self.m0 = 2 * m
        self.efc = ef_construction
        self.metric = metric
        self.rng = np.random.RandomState(seed)
        self.ml = 1.0 / np.log(m)
        self.X: np.ndarray | None = None
        self.levels: np.ndarray | None = None
        # adjacency: level -> {node -> list of neighbors}
        self.adj: list[dict[int, list[int]]] = []
        self.entry: int = -1
        # layer-0 parent edges exempt from trimming — the bidirectional
        # spanning tree that guarantees strong connectivity at the base
        # layer (module docstring) — as each node's protected neighbors,
        # stored from both ends; ``protected0`` lists them as pairs.
        self.protected_nbrs: dict[int, set[int]] = {}
        # protected fan-in per node (children that picked it as parent):
        # capped at m so a hub's worst-case layer-0 degree stays bounded
        # (<= m0 unprotected + 1 own-parent + m protected children); a
        # child whose nearest candidates are ALL at the cap still gets a
        # parent (connectivity beats the bound in that pathological
        # case — nearest-full fallback, cap then exceeded by 1 per such
        # child, which needs every one of its m0 nearest hubs saturated).
        self.prot_fanin: dict[int, int] = {}
        # padded per-layer adjacency for search_batch; None until first
        # use and after every graph change
        self._pad: list[np.ndarray] | None = None

    @property
    def protected0(self) -> set[tuple[int, int]]:
        """The layer-0 parent edges as unordered ``(lo, hi)`` pairs."""
        return {(a, b) for a, nbrs in self.protected_nbrs.items() for b in nbrs if a < b}

    def _protect(self, a: int, b: int) -> None:
        """Exempt the layer-0 edge pair ``a <-> b`` from trimming."""
        self.protected_nbrs.setdefault(a, set()).add(b)
        self.protected_nbrs.setdefault(b, set()).add(a)

    # -- distance: batch row-block vs one query ---------------------------
    def _dist(self, q: np.ndarray, idx: np.ndarray) -> np.ndarray:
        block = self.X[idx]
        if self.metric == "cosine":
            # X rows pre-normalized at build; q normalized at query time
            return 1.0 - block @ q
        if self.metric == "dot_product":
            return -(block @ q)
        diff = block - q
        if self.metric == "manhattan":
            return np.abs(diff).sum(axis=1)
        return np.sqrt((diff * diff).sum(axis=1))  # euclidean

    def _dist_pairs(self, Q: np.ndarray, idx: np.ndarray) -> np.ndarray:
        """Distance from each query row ``Q[p]`` to node ``idx[p]``:
        :meth:`_dist` for many (query, node) pairs at once."""
        block = self.X[idx]
        if self.metric == "cosine":
            return 1.0 - np.einsum("pd,pd->p", block, Q)
        if self.metric == "dot_product":
            return -np.einsum("pd,pd->p", block, Q)
        diff = block - Q
        if self.metric == "manhattan":
            return np.abs(diff).sum(axis=1)
        return np.sqrt((diff * diff).sum(axis=1))  # euclidean

    def _search_level(
        self, q: np.ndarray, entries: list[int], ef: int, level: int
    ) -> list[tuple[float, int]]:
        """Beam search on one level; returns up to ef (dist, node) pairs."""
        visited = set(entries)
        dists = self._dist(q, np.array(entries))
        frontier = [(d, n) for d, n in zip(dists, entries)]
        heapq.heapify(frontier)
        # keep the ef SMALLEST distances = the ef LARGEST negated keys
        # (nsmallest here would seed the beam with the worst candidates —
        # latent only, since callers pass <= ef entry points, but wrong)
        best: list[tuple[float, int]] = heapq.nlargest(
            ef, ((-d, n) for d, n in frontier)
        )
        heapq.heapify(best)
        graph = self.adj[level]
        while frontier:
            d, node = heapq.heappop(frontier)
            if best and d > -best[0][0] and len(best) >= ef:
                break
            fresh = [x for x in graph.get(node, ()) if x not in visited]
            if not fresh:
                continue
            visited.update(fresh)
            fd = self._dist(q, np.array(fresh))
            for dd, nn in zip(fd, fresh):
                if len(best) < ef or dd < -best[0][0]:
                    heapq.heappush(best, (-dd, nn))
                    if len(best) > ef:
                        heapq.heappop(best)
                    heapq.heappush(frontier, (dd, nn))
        return sorted((-nd, n) for nd, n in best)

    def build(self, X: np.ndarray) -> None:
        """Sequential insert of all rows (per-cell => parallel across cells)."""
        X = np.ascontiguousarray(X, dtype=np.float64)
        if self.metric == "cosine":
            X = unit_rows(X)
        self.X = X
        n = X.shape[0]
        self.levels = np.minimum(
            (-np.log(self.rng.uniform(1e-12, 1.0, size=n)) * self.ml).astype(int), 32
        )
        top = int(self.levels.max()) if n else 0
        self.adj = [dict() for _ in range(top + 1)]
        self.entry = 0
        self.protected_nbrs = {}
        self.prot_fanin = {}
        self._pad = None
        for i in range(n):
            self._insert(i)

    def _select(self, cands: list[tuple[float, int]], m: int) -> list[int]:
        return [n for _, n in sorted(cands)[:m]]

    def _trim(self, c: int, lst: list[int], cap: int, lv: int) -> list[int]:
        """Trim node ``c``'s adjacency to ~cap, never dropping a protected
        layer-0 parent edge (connectivity invariant, module docstring).
        Unprotected neighbors are kept nearest-first."""
        nbrs = self.protected_nbrs.get(c) if lv == 0 else None
        if nbrs:
            prot = [x for x in lst if x in nbrs]
            free = [x for x in lst if x not in nbrs]
        else:
            prot, free = [], lst
        room = max(cap - len(prot), 0)
        if len(free) > room:
            d = self._dist(self.X[c], np.array(free))
            keep = np.argsort(d, kind="stable")[:room]
            free = [free[j] for j in keep]
        return prot + free

    def _insert(self, i: int) -> None:
        q = self.X[i]
        li = int(self.levels[i])
        if i == 0:
            for lv in range(li + 1):
                self.adj[lv][i] = []
            self.entry = i
            return
        ep = [self.entry]
        top = int(self.levels[self.entry])
        for lv in range(top, li, -1):
            ep = [self._search_level(q, ep, 1, lv)[0][1]]
        for lv in range(min(li, top), -1, -1):
            cands = self._search_level(q, ep, self.efc, lv)
            m = self.m0 if lv == 0 else self.m
            chosen = self._select(cands, m)
            self.adj[lv][i] = list(chosen)
            if lv == 0:
                # nearest neighbor at insert time (with protected fan-in
                # below the cap) becomes i's parent; the bidirectional
                # pair is never trimmed (spanning tree). Fallback to the
                # nearest regardless when every candidate is saturated —
                # connectivity is the invariant, the cap the economy.
                parent = next(
                    (c for c in chosen if self.prot_fanin.get(c, 0) < self.m),
                    chosen[0],
                )
                self._protect(i, parent)
                self.prot_fanin[parent] = self.prot_fanin.get(parent, 0) + 1
            for c in chosen:
                lst = self.adj[lv].setdefault(c, [])
                lst.append(i)
                if len(lst) > m:
                    self.adj[lv][c] = self._trim(c, lst, m, lv)
            ep = [n for _, n in cands] or chosen
        for lv in range(top + 1, li + 1):
            self.adj[lv][i] = []
        if li > int(self.levels[self.entry]):
            self.entry = i

    def insert_batch(self, X_new: np.ndarray, seed: int | None = None) -> None:
        """Incremental insert — the reference's online ``insert`` path
        (`core/hnsw/graph.py:127-173`) without a rebuild: append rows,
        draw their levels from a seed derived from the CURRENT size (so
        the result is a pure function of (existing state, batch), not of
        rng history), extend the layer list if the new max level exceeds
        the old top, then run the standard `_insert` per new row."""
        X_new = np.ascontiguousarray(X_new, dtype=np.float64)
        if self.metric == "cosine":
            X_new = unit_rows(X_new)
        n0 = int(self.X.shape[0]) if self.X is not None and self.X.size else 0
        if n0 == 0:
            self.build(X_new)
            return
        rng = np.random.RandomState((seed if seed is not None else 0) + n0)
        k_new = X_new.shape[0]
        new_levels = np.minimum(
            (-np.log(rng.uniform(1e-12, 1.0, size=k_new)) * self.ml).astype(int), 32
        )
        self.X = np.vstack([self.X, X_new])
        self.levels = np.concatenate([self.levels, new_levels])
        top_needed = int(self.levels.max())
        while len(self.adj) <= top_needed:
            self.adj.append(dict())
        self._pad = None
        for i in range(n0, n0 + k_new):
            self._insert(i)

    def search(self, q: np.ndarray, k: int, ef: int = 64) -> list[tuple[int, float]]:
        """Top-k (row_index, dist); ef = max(ef, k) like the reference's
        `graph.py:180-181` knob."""
        if self.X is None or not len(self.X):
            return []
        q = np.asarray(q, dtype=np.float64)
        if self.metric == "cosine":
            nq = np.linalg.norm(q)
            if nq > 0:
                q = q / nq
        ef = max(ef, k)
        ep = [self.entry]
        for lv in range(int(self.levels[self.entry]), 0, -1):
            ep = [self._search_level(q, ep, 1, lv)[0][1]]
        res = self._search_level(q, ep, ef, 0)
        return [(n, d) for d, n in res[:k]]

    def _layers(self) -> list[np.ndarray]:
        """Padded adjacency matrices (:func:`_pad_layers`) of this graph."""
        if self._pad is None:
            st = self.to_state()
            self._pad = _pad_layers(
                st["n"], len(self.adj), st["e_layer"], st["e_src"], st["e_dst"]
            )
        return self._pad

    def _beam_batch(
        self, Q: np.ndarray, entry: np.ndarray, ef: int, A: np.ndarray,
        tol: np.ndarray, tied: np.ndarray,
    ) -> tuple[np.ndarray, np.ndarray]:
        """:meth:`_search_level` for every row of ``Q`` in lock step, each
        row from its own single entry node over the adjacency matrix ``A``.

        Returns the beams, ``(B, min(ef, n))`` nodes (-1 padded) and
        distances (inf padded), sorted by ``(dist, node)``. A row whose
        distances come within ``tol`` of one another is flagged in
        ``tied`` and dropped: its sequential result turns on ties, or on
        the last bits of differently summed dot products, so only
        ``search`` reproduces it.

        Why the lock step equals the heap loop: the sequential beam is the
        ``ef`` nearest of every node admitted so far, and a candidate is
        admitted iff fewer than ``ef`` of the beam and of the candidates
        evaluated before it in the same expansion lie at or below its
        distance (the ef-th smallest of that multiset is the beam's worst
        distance at its turn). With no ties, every node the frontier heap
        pops before the stop rule fires is the nearest unexpanded beam
        member, and the loop stops when there is none.
        """
        B, n = len(Q), self.X.shape[0]
        W = min(ef, n)
        out_n = np.full((B, W), -1, dtype=np.int64)
        out_d = np.full((B, W), np.inf)
        rows = np.flatnonzero(~tied)  # state below holds these rows only
        Q, tol, entry = Q[rows], tol[rows], entry[rows]
        L = len(rows)
        bd = np.full((L, W), np.inf)
        bn = np.full((L, W), -1, dtype=np.int64)
        done = np.ones((L, W), dtype=bool)  # expanded, or an empty slot
        bd[:, 0] = self._dist_pairs(Q, entry)
        bn[:, 0] = entry
        done[:, 0] = False
        visited = np.zeros((L, n), dtype=bool)
        visited[np.arange(L), entry] = True
        while L:
            j = np.argmin(done, axis=1)  # nearest unexpanded member
            stop = done[np.arange(L), j]  # none left
            if stop.any():
                out_n[rows[stop]], out_d[rows[stop]] = bn[stop], bd[stop]
                go = ~stop
                rows, Q, tol, j = rows[go], Q[go], tol[go], j[go]
                bd, bn, done, visited = bd[go], bn[go], done[go], visited[go]
                L = len(rows)
                if not L:
                    break
            ar = np.arange(L)
            done[ar, j] = True
            nbr = A[bn[ar, j]]
            fresh = nbr >= 0
            fresh &= ~visited[ar[:, None], np.where(fresh, nbr, 0)]
            m = int(fresh.sum(axis=1).max()) if fresh.size else 0
            if m == 0:
                continue
            # each row's fresh neighbors, packed left in adjacency order
            r, c = np.nonzero(fresh)
            slot = (np.cumsum(fresh, axis=1) - 1)[r, c]
            cand = nbr[r, c]
            visited[r, cand] = True
            d = np.full((L, m), np.inf)
            d[r, slot] = self._dist_pairs(Q[r], cand)
            cn = np.full((L, m), -1, dtype=np.int64)
            cn[r, slot] = cand
            # beam and candidates sorted together: a near tie is two
            # neighbors in that order, and a candidate's rank counts the
            # beam members and candidates nearer than it
            K = W + m
            md = np.concatenate([bd, d], axis=1)
            flat = np.argsort(md, axis=1, kind="stable") + (ar * K)[:, None]
            sd = md.ravel()[flat]
            with np.errstate(invalid="ignore"):  # inf - inf
                near = (np.diff(sd, axis=1) <= tol[:, None]).any(axis=1)
            rank = np.empty(L * K, dtype=np.int64)
            rank[flat.ravel()] = np.tile(np.arange(K), L)
            later = np.triu(d[:, None, :] < d[:, :, None], 1).sum(axis=2)
            admit = (cn >= 0) & (rank.reshape(L, K)[:, W:] - later < ef)
            kept = np.concatenate([bn >= 0, admit], axis=1).ravel()[flat]
            pos = np.cumsum(kept, axis=1) - 1
            kept &= pos < W
            kr, kc = np.nonzero(kept)
            src, dst = flat[kr, kc], kr * W + pos[kr, kc]
            bd.ravel()[dst] = sd[kr, kc]
            bn.ravel()[dst] = np.concatenate([bn, cn], axis=1).ravel()[src]
            done.ravel()[dst] = np.concatenate(
                [done, np.zeros((L, m), dtype=bool)], axis=1
            ).ravel()[src]
            if near.any():
                tied[rows[near]] = True
                go = ~near
                rows, Q, tol = rows[go], Q[go], tol[go]
                bd, bn, done, visited = bd[go], bn[go], done[go], visited[go]
                L = len(rows)
        return out_n, out_d

    def search_batch(
        self, Q: np.ndarray, k: int, ef: int = 64
    ) -> tuple[np.ndarray, np.ndarray]:
        """:meth:`search` for every row of ``Q`` at once.

        Returns ``(nodes, dists)``, each ``(B, min(k, n))``: row ``b``
        holds ``search(Q[b], k, ef)`` in order, padded with -1 / inf when
        the beam found fewer than ``k`` nodes. Node ids are always equal
        to ``search``'s; distances agree to rounding error (summation
        order differs from the one-query BLAS call).
        """
        Q = np.asarray(Q, dtype=np.float64)
        n = 0 if self.X is None else len(self.X)
        kk = min(k, n)
        nodes = np.full((len(Q), kk), -1, dtype=np.int64)
        dists = np.full((len(Q), kk), np.inf)

        def by_search(b: int) -> None:
            res = self.search(Q[b], k, ef)
            nodes[b], dists[b] = -1, np.inf
            nodes[b, : len(res)] = [node for node, _ in res]
            dists[b, : len(res)] = [dist for _, dist in res]

        if not n or not len(Q):
            return nodes, dists
        Qs = Q
        if self.metric == "cosine":  # row by row, exactly as search() does
            Qs = np.array([q / nq if (nq := np.linalg.norm(q)) > 0 else q for q in Q])
        ef = max(ef, k)
        A = self._layers()
        top = int(self.levels[self.entry])
        # bound on |_dist_pairs - _dist|: both sum dim products of size at
        # most |x|_1 |q|_1 (L1 norms bound every metric's terms)
        eps = np.finfo(np.float64).eps
        x1 = float(np.abs(self.X).sum(axis=1).max())
        tol = 4 * self.X.shape[1] * eps * (1 + np.abs(Qs).sum(axis=1)) * (1 + x1)
        step = max(1, _VISITED_CHUNK_BYTES // n)
        for s in range(0, len(Q), step):
            Qc, tc = Qs[s:s + step], tol[s:s + step]
            tied = np.zeros(len(Qc), dtype=bool)
            ep = np.full(len(Qc), self.entry, dtype=np.int64)
            for lv in range(top, 0, -1):
                ep = self._beam_batch(Qc, ep, 1, A[lv], tc, tied)[0][:, 0]
            bn, bd = self._beam_batch(Qc, ep, ef, A[0], tc, tied)
            nodes[s:s + step] = bn[:, :kk]
            dists[s:s + step] = bd[:, :kk]
            for b in s + np.flatnonzero(tied):
                by_search(b)
        return nodes, dists

    # -- serialization: build once, search many ---------------------------
    def to_state(self) -> dict:
        """Flatten to plain arrays/bytes for a DataFrame row — the
        build-once/search-many split the reference gets from its snapshot
        files (`core/storage/engine.py:23-56`). Vectors are stored
        post-normalization (cosine), so a reloaded index searches
        bit-identically to the freshly built one."""
        e_layer: list[int] = []
        e_src: list[int] = []
        e_dst: list[int] = []
        e_prot: list[bool] = []
        empty: set[int] = set()
        for layer, adj in enumerate(self.adj):
            for src in sorted(adj):
                nbrs = self.protected_nbrs.get(src, empty) if layer == 0 else empty
                for dst in adj[src]:
                    e_layer.append(layer)
                    e_src.append(src)
                    e_dst.append(dst)
                    e_prot.append(dst in nbrs)
        return {
            "n": int(self.X.shape[0]),
            "dim": int(self.X.shape[1]) if self.X.size else 0,
            "metric": self.metric,
            "entry": int(self.entry),
            "levels": self.levels.astype(np.int32).tolist(),
            "vec_bytes": np.ascontiguousarray(self.X, dtype=np.float64).tobytes(),
            "e_layer": e_layer,
            "e_src": e_src,
            "e_dst": e_dst,
            "e_prot": e_prot,
        }

    @classmethod
    def from_state(
        cls,
        n: int,
        dim: int,
        metric: str,
        entry: int,
        levels,
        vec_bytes: bytes,
        e_layer,
        e_src,
        e_dst,
        e_prot=None,
    ) -> "LocalHNSW":
        """Reconstruct a searchable index from :meth:`to_state` output —
        O(edges) with numpy group-slicing, no graph CONSTRUCTION work
        (no distance evaluations, no neighbor selection). ``e_prot``
        restores the trim-exempt parent edges so incremental
        :meth:`insert_batch` on the reloaded index keeps the layer-0
        connectivity invariant."""
        idx = cls(metric=metric)
        idx.X = np.frombuffer(vec_bytes, dtype=np.float64).reshape(n, dim)
        idx.levels = np.asarray(levels, dtype=np.int64)
        idx.entry = int(entry)
        if e_prot is not None:
            pa = np.asarray(e_prot, dtype=bool)
            sp = np.asarray(e_src, dtype=np.int64)[pa]
            dp = np.asarray(e_dst, dtype=np.int64)[pa]
            for s, d in zip(sp.tolist(), dp.tolist()):
                idx._protect(s, d)
            # parent of a pair is the LOWER index (parents are chosen
            # among already-inserted nodes, and insert order == row
            # order, also for insert_batch appends) — rebuild the fan-in
            # counts so incremental inserts keep honoring the cap
            for lo, _hi in idx.protected0:
                idx.prot_fanin[lo] = idx.prot_fanin.get(lo, 0) + 1
        la = np.asarray(e_layer, dtype=np.int64)
        sa = np.asarray(e_src, dtype=np.int64)
        da = np.asarray(e_dst, dtype=np.int64)
        top = int(idx.levels.max()) if n else 0
        idx.adj = [dict() for _ in range(top + 1)]
        idx._pad = _pad_layers(n, top + 1, la, sa, da)
        if len(la):
            order = np.lexsort((sa, la))
            la, sa, da = la[order], sa[order], da[order]
            # group boundaries of the (layer, src) runs
            brk = np.flatnonzero((np.diff(la) != 0) | (np.diff(sa) != 0)) + 1
            starts = np.concatenate(([0], brk))
            ends = np.concatenate((brk, [len(la)]))
            for s, e in zip(starts, ends):
                idx.adj[int(la[s])][int(sa[s])] = da[s:e].tolist()
        # isolated nodes (no out-edges) still own an empty adjacency slot
        for i in range(n):
            for lv in range(int(idx.levels[i]) + 1):
                idx.adj[lv].setdefault(int(i), [])
        return idx


# One row per cell: the whole per-cell index as plain columns. Written to
# parquet this IS the persisted index artifact (build once, search many).
INDEX_SCHEMA = (
    "cell int, n int, dim int, metric string, entry int, "
    "ids array<long>, levels array<int>, vec_bytes binary, "
    "e_layer array<int>, e_src array<int>, e_dst array<int>, e_prot array<boolean>"
)
INDEX_COLUMNS = tuple(f.split()[0] for f in INDEX_SCHEMA.split(", "))


def _index_row(cell: int, ids, local: LocalHNSW) -> dict:
    """One cell's index row (``INDEX_COLUMNS``): the cell id, its vector
    ids in node order, and the graph's :meth:`LocalHNSW.to_state`."""
    st = local.to_state()
    st["cell"] = int(cell)
    st["ids"] = np.asarray(ids, dtype=np.int64).tolist()
    return {c: st[c] for c in INDEX_COLUMNS}


def _index_local(row) -> LocalHNSW:
    """The searchable graph stored in one index row (:func:`_index_row`)."""
    return LocalHNSW.from_state(
        int(row["n"]), int(row["dim"]), row["metric"], int(row["entry"]),
        row["levels"], row["vec_bytes"], row["e_layer"], row["e_src"], row["e_dst"],
        row.get("e_prot"),  # None for legacy pre-e_prot artifacts
    )


def _scan_topk(
    Q: np.ndarray, X: np.ndarray, ids: np.ndarray, k: int, metric: str
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-``min(k, n)`` of every row of ``Q`` over a cell's stored
    vectors ``X`` (unit rows for cosine, as :meth:`LocalHNSW.build` keeps
    them), ordered by ``(dist, ids[node])`` so ties go to the lower id.

    Returns ``(nodes, dists)`` like :meth:`LocalHNSW.search_batch`, with
    no padding. The queries go through in chunks whose largest
    temporary stays under ``_VISITED_CHUNK_BYTES``. Each chunk takes the
    k-th smallest distance per row by ``np.partition``, keeps what lies
    below it plus the lowest-id rows at it, and sorts only those.
    """
    n = len(X)
    kk = min(k, n)
    nodes = np.empty((len(Q), kk), dtype=np.int64)
    dists = np.empty((len(Q), kk))
    if not kk:
        return nodes, dists
    by_id = np.argsort(ids, kind="stable")
    X = X[by_id]  # a position is now an id rank
    row_bytes = 8 * n * (X.shape[1] if metric == "manhattan" else 1)
    step = max(1, _VISITED_CHUNK_BYTES // row_bytes)
    for s in range(0, len(Q), step):
        D = block_distances(Q[s:s + step], X, metric)
        D[np.isnan(D)] = np.inf  # a NaN vector ranks last instead of breaking the cut
        if kk < n:
            kth = np.partition(D, kk - 1, axis=1)[:, kk - 1:kk]
            below, at = D < kth, D == kth
            room = kk - below.sum(axis=1, keepdims=True)
            cols = np.nonzero(below | (at & (np.cumsum(at, axis=1) <= room)))[1]
            cols = cols.reshape(len(D), kk)
        else:
            cols = np.broadcast_to(np.arange(n), D.shape)
        d = np.take_along_axis(D, cols, axis=1)
        order = np.argsort(d, axis=1, kind="stable")
        nodes[s:s + step] = by_id[np.take_along_axis(cols, order, axis=1)]
        dists[s:s + step] = np.take_along_axis(d, order, axis=1)
    return nodes, dists


def _scan_max_n(k: int, ef: int, kernel: str) -> int:
    """The largest cell :func:`hnsw_search` answers by an exact scan:
    ``_EXACT_SCAN_PER_BEAM * max(ef, k)`` under ``kernel="auto"``, and
    -1 (none; every cell walks its graph) under ``kernel="graph"``."""
    return _EXACT_SCAN_PER_BEAM * max(ef, k) if kernel == "auto" else -1


def _cell_topk(
    row, Q: np.ndarray, k: int, ef: int, scan_max_n: int
) -> tuple[np.ndarray, np.ndarray]:
    """``(nodes, dists)`` of every row of ``Q`` in the cell of one index
    row (:func:`_index_row`): an exact :func:`_scan_topk` of the stored
    vectors when the cell has at most ``scan_max_n`` nodes, otherwise
    :meth:`LocalHNSW.search_batch` over the stored graph."""
    n = int(row["n"])
    if n <= scan_max_n:
        X = np.frombuffer(row["vec_bytes"], dtype=np.float64).reshape(n, int(row["dim"]))
        return _scan_topk(Q, X, np.asarray(row["ids"], dtype=np.int64), k, row["metric"])
    return _index_local(row).search_batch(Q, k, ef)


def _on_cells(df: DataFrame, n_cells: int | None = None) -> DataFrame:
    """``df`` hash-partitioned on ``cell`` into ``max(1, min(n_cells,
    defaultParallelism))`` partitions (``defaultParallelism`` when the
    cell count is unknown). The explicit count plans a
    ``REPARTITION_BY_NUM`` exchange, which AQE does not coalesce: the
    per-cell stage after it is CPU-bound Python while its shuffle is
    small, and left to AQE a shuffle of a few MB becomes one task."""
    parts = df.sparkSession.sparkContext.defaultParallelism
    if n_cells is not None:
        parts = min(n_cells, parts)
    return df.repartition(max(1, parts), "cell")


def hnsw_build(
    assigned: DataFrame,
    metric: str = "cosine",
    m: int = 8,
    ef_construction: int = 64,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Build the per-cell HNSW graphs ONCE and materialize them as an
    index DataFrame (one row per cell, ``INDEX_SCHEMA``) — the reference's
    build-once/search-many lifecycle (`core/hnsw/graph.py:127-189` builds,
    `core/storage/engine.py:23-56` persists) in Spark-native form. Write
    the result to parquet (or ``.persist()`` it) and every subsequent
    :func:`hnsw_search` pays ZERO construction cost. Build is per-cell
    inside ``applyInPandas``, deterministic for a fixed seed, and
    embarrassingly parallel: the rows are hash-partitioned on ``cell``
    into ``defaultParallelism`` partitions (:func:`_on_cells`), the
    only shuffle, so the cells are built on every core (left to AQE,
    the ~1.5 MB shuffle of 3,000 64-d vectors is coalesced into one
    partition, and one task builds every cell). The index is written
    as one file per non-empty partition.

    ``m < 2``, ``ef_construction < 1`` or a metric outside
    :data:`~..functions.distance.METRICS` raise ``ValueError`` here, on
    the driver.
    """
    _check_build_params(m, ef_construction, metric)
    import pandas as pd

    from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard

    ensure_package_shipped(assigned.sparkSession)

    def per_cell(key, pdf):
        install_zip_guard()
        if pdf.empty:
            return pd.DataFrame(columns=INDEX_COLUMNS)
        X = vector_matrix(pdf[vector_col], vector_col)
        index = LocalHNSW(m=m, ef_construction=ef_construction, metric=metric, seed=0)
        index.build(X)
        return pd.DataFrame([_index_row(key[0], pdf[id_col].to_numpy(), index)])

    return (
        _on_cells(assigned.select("cell", id_col, vector_col))
        .groupBy("cell")
        .applyInPandas(per_cell, INDEX_SCHEMA)
    )


def hnsw_insert(
    index: DataFrame,
    new_vectors: DataFrame,
    centroids: np.ndarray,
    metric: str = "cosine",
    m: int = 8,
    ef_construction: int = 64,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Incremental index maintenance: merge a batch of new vectors into a
    MATERIALIZED per-cell index, touching ONLY the cells that receive new
    rows — every other index row passes through untouched (no
    deserialization, no distance evaluations, no rebuild).

    New rows are routed to cells by the existing centroids (broadcast
    argmin — no KMeans refit), then a cogroup pairs each affected cell's
    stored state with its new rows: reconstruct (O(edges) slicing), run
    the incremental `LocalHNSW.insert_batch`, re-serialize. A cell with
    new rows but no existing state is built fresh. This is the
    reference's online insert (`core/hnsw/graph.py:127-173`) — but
    batched, parallel across cells, and lock-free, where the reference
    serializes every insert under one global lock.

    Both sides of the cogroup are hash-partitioned on ``cell`` into
    ``min(len(centroids), defaultParallelism)`` partitions
    (:func:`_on_cells`), so the touched cells are rebuilt on every core
    instead of in one AQE-coalesced task.

    Returns the new index DataFrame (same INDEX_SCHEMA); write it back to
    the index location to commit. Deterministic: level draws are seeded
    by (cell state size, batch), so re-running the same merge yields an
    identical index. Bad ``m``, ``ef_construction`` or ``metric`` raise
    ``ValueError`` on the driver, as in :func:`hnsw_build`.
    """
    _check_build_params(m, ef_construction, metric)
    import pandas as pd

    from hnsw_vector_db_spark.operators.similarity import assign_to_centroids
    from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard

    ensure_package_shipped(index.sparkSession)

    cent_df = index.sparkSession.createDataFrame(
        [(i, [float(x) for x in centroids[i]]) for i in range(len(centroids))],
        "seed_id int, seed_vec array<double>",
    )
    routed = (
        assign_to_centroids(
            new_vectors, cent_df, metric=metric, id_col=id_col, vector_col=vector_col
        )
        .select(id_col, "cell")
        .join(new_vectors.select(id_col, vector_col), id_col)
    )

    def per_cell(idx_pdf: pd.DataFrame, new_pdf: pd.DataFrame) -> pd.DataFrame:
        install_zip_guard()
        if new_pdf.empty:
            # untouched cell: pass the stored row through byte-identical
            # (reindex, not [], so legacy pre-e_prot rows emit null e_prot
            # instead of KeyError-ing the whole merge)
            return idx_pdf.reindex(columns=INDEX_COLUMNS) if not idx_pdf.empty else (
                pd.DataFrame(columns=INDEX_COLUMNS)
            )
        X_new = vector_matrix(new_pdf[vector_col], vector_col)
        new_ids = new_pdf[id_col].to_numpy().astype(np.int64)
        order = np.argsort(new_ids, kind="stable")  # deterministic insert order
        X_new, new_ids = X_new[order], new_ids[order]
        if idx_pdf.empty:
            local = LocalHNSW(m=m, ef_construction=ef_construction, metric=metric, seed=0)
            local.build(X_new)
            ids = new_ids
            cell = int(new_pdf["cell"].iloc[0])
        else:
            st = idx_pdf.iloc[0]
            local = _index_local(st)
            local.m, local.m0, local.efc = m, 2 * m, ef_construction
            # keep the level-draw geometric distribution consistent with a
            # fresh build at this m (from_state leaves the default ml)
            local.ml = 1.0 / np.log(m)
            local.insert_batch(X_new)
            ids = np.concatenate([np.asarray(st["ids"], dtype=np.int64), new_ids])
            cell = int(st["cell"])
        return pd.DataFrame([_index_row(cell, ids, local)])

    n_cells = len(centroids)
    return (
        _on_cells(index, n_cells).groupBy("cell")
        .cogroup(_on_cells(routed, n_cells).groupBy("cell"))
        .applyInPandas(lambda ik, qk: per_cell(ik, qk), INDEX_SCHEMA)
    )


def hnsw_delete(
    index: DataFrame,
    tombstones: DataFrame,
    m: int = 8,
    ef_construction: int = 64,
) -> DataFrame:
    """Compaction delete: rebuild ONLY the cells that contain tombstoned
    ids; every other index row passes through untouched.

    The tombstone set is collected driver-side (it is small by nature,
    like `table.delete_ids`' broadcast) and shipped as a plain set; the
    index itself never shuffles — one mapInPandas over the cell rows.
    Affected cells rebuild from their STORED vectors minus the deleted
    rows, so the result is a clean graph with no stranded edges — the
    reference's delete leaves dangling neighbors in every other node's
    lists (`core/hnsw/graph.py:191-207`, its documented flaw); a rebuild
    per affected cell is how Spark-scale compaction actually works
    (rewrite the files you touch, leave the rest).

    Cells whose every vector is deleted disappear from the index (their
    row is dropped); searches simply never probe them.
    """
    _check_build_params(m, ef_construction)
    import pandas as pd

    from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard

    ensure_package_shipped(index.sparkSession)
    tomb = np.array(
        sorted({int(r[0]) for r in tombstones.select(tombstones.columns[0]).collect()}),
        dtype=np.int64,
    )

    def per_rows(batches):
        install_zip_guard()
        for pdf in batches:
            out = []
            for _, st in pdf.iterrows():
                ids = np.asarray(st["ids"], dtype=np.int64)
                mask = ~np.isin(ids, tomb)
                if mask.all():
                    out.append({c: st.get(c) for c in INDEX_COLUMNS})
                    continue
                if not mask.any():
                    continue  # whole cell deleted -> drop the row
                n, dim = int(st["n"]), int(st["dim"])
                X = np.frombuffer(st["vec_bytes"], dtype=np.float64).reshape(n, dim)[mask]
                local = LocalHNSW(
                    m=m, ef_construction=ef_construction, metric=st["metric"], seed=0
                )
                local.build(X)
                out.append(_index_row(st["cell"], ids[mask], local))
            yield pd.DataFrame(out, columns=INDEX_COLUMNS)

    return index.mapInPandas(per_rows, INDEX_SCHEMA)


def hnsw_upsert(
    index: DataFrame,
    rows: DataFrame,
    centroids: np.ndarray,
    metric: str = "cosine",
    m: int = 8,
    ef_construction: int = 64,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Index-tier upsert — the reference's overwrite-by-external-id
    (`core/hnsw/graph.py:131-139`) against the persisted index: compact
    any existing versions of the incoming ids out (:func:`hnsw_delete`),
    then merge the new rows in (:func:`hnsw_insert`). Cells touched =
    cells holding an old version plus cells the new vectors route to;
    everything else passes through both stages untouched. Last write
    wins, exactly once, no duplicate ids in the result (asserted in
    tests)."""
    compacted = hnsw_delete(
        index, rows.select(id_col), m=m, ef_construction=ef_construction
    )
    return hnsw_insert(
        compacted, rows, centroids, metric=metric, m=m,
        ef_construction=ef_construction, id_col=id_col, vector_col=vector_col,
    )


def hnsw_rebalance(
    index: DataFrame,
    assigned: DataFrame,
    metric: str = "cosine",
    m: int = 8,
    ef_construction: int = 64,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    cell_col: str = "cell",
    old_centroids: np.ndarray | None = None,
):
    """Drift maintenance for the persisted per-cell index: one Lloyd
    recentering step (:func:`~.similarity.ivf_recenter`) over the
    current membership, then MOVE only the vectors whose nearest
    centroid changed — compact them out of their old cells and insert
    them into their new ones (the :func:`hnsw_upsert` composition, which
    rebuilds only touched cells; untouched cells pass through
    byte-identical). The reference freezes its coarse structure at build
    time (`core/hnsw/graph.py:49-63` — parameters and layers never
    adapt); this keeps cell quality tracking the data at a cost of
    O(moved vectors + touched cells), never O(index).

    Returns ``(new_index, new_centroids, moves)`` — moves as in
    ``ivf_recenter``; search against the new index must use
    ``new_centroids`` (cell ids are stable, centroid VECTORS changed).
    Pass ``old_centroids`` when you have them so a cell that loses every
    member keeps its old centroid (Lloyd's no-members-no-update rule)
    instead of failing the recenter step.
    """
    from hnsw_vector_db_spark.operators.similarity import ivf_recenter

    moves, centroids = ivf_recenter(
        assigned, id_col=id_col, vector_col=vector_col, cell_col=cell_col,
        metric=metric, old_centroids=old_centroids,
    )
    # r12 (guide §5): ``moves`` is consumed THREE times — the delete
    # stage's tombstone collect, the insert stage's routing join, and by
    # the caller (the maintenance report) — and each lazy consumer
    # re-ran the full reassignment argmin over the membership. One eager
    # checkpoint of the (id, old_cell, new_cell, moved) table — four
    # narrow columns, O(index rows) — computes it once.
    moves = moves.localCheckpoint()
    moved_rows = assigned.join(
        moves.filter(F.col("moved")).select(id_col), id_col, "left_semi"
    ).select(id_col, vector_col)
    new_index = hnsw_upsert(
        index, moved_rows, centroids, metric=metric, m=m,
        ef_construction=ef_construction, id_col=id_col, vector_col=vector_col,
    )
    return new_index, centroids, moves


def hnsw_edges(
    assigned: DataFrame,
    metric: str = "cosine",
    m: int = 8,
    ef_construction: int = 64,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    index: DataFrame | None = None,
) -> DataFrame:
    """Per-cell HNSW topology as an edges DataFrame (cell, layer, src,
    dst) — the Spark-native form of the reference's in-memory adjacency
    dicts (`core/hnsw/graph.py:15,66`). Derived by exploding the
    materialized index (``index=`` reuses an existing :func:`hnsw_build`
    output; otherwise one is built), with local edge endpoints mapped back
    to global vector ids via the stored ``ids`` array.
    """
    if index is None:
        index = hnsw_build(assigned, metric, m, ef_construction, id_col, vector_col)
    # legacy pre-e_prot artifacts: a parquet written before the column
    # existed has NO e_prot at all (F.col would fail analysis) and one
    # written with it may carry nulls — add the column when absent, then
    # coalesce to all-False so arrays_zip doesn't null out (and explode
    # drop) the edges
    if "e_prot" not in index.columns:
        index = index.withColumn("e_prot", F.lit(None).cast("array<boolean>"))
    prot_arr = F.coalesce(
        F.col("e_prot"), F.transform("e_src", lambda _: F.lit(False))
    )
    exploded = index.select(
        "cell",
        "ids",
        F.explode(
            F.arrays_zip("e_layer", "e_src", "e_dst", prot_arr.alias("e_prot"))
        ).alias("e"),
    )
    return exploded.select(
        "cell",
        F.col("e.e_layer").alias("layer"),
        F.element_at("ids", F.col("e.e_src") + 1).alias("src"),
        F.element_at("ids", F.col("e.e_dst") + 1).alias("dst"),
        # trim-exempt parent edge (connectivity spanning tree) — excluded
        # from the degree-cap invariant, which bounds UNPROTECTED edges
        F.col("e.e_prot").alias("prot"),
    )


def hnsw_graph_stats(edges: DataFrame) -> DataFrame:
    """Per-layer graph statistics — the reference's ``get_stats``
    explode-then-group loop (`core/hnsw/graph.py:209-234`) as one
    two-level aggregation: per-(layer, node) out-degree, then per-layer
    node count / avg / max degree. Two narrow shuffles on small keys.
    Output: (layer, n_nodes, n_edges, avg_out_degree, max_out_degree).
    """
    deg = edges.groupBy("layer", "src").agg(F.count(F.lit(1)).alias("deg"))
    return (
        deg.groupBy("layer")
        .agg(
            F.countDistinct("src").alias("n_nodes"),
            F.sum("deg").alias("n_edges"),
            F.round(F.avg("deg"), 6).alias("avg_out_degree"),
            F.max("deg").alias("max_out_degree"),
        )
        .orderBy("layer")
    )


def _route_cells(
    Q: np.ndarray, C: np.ndarray, nprobe: int, metric: str
) -> np.ndarray:
    """nprobe nearest cell ids per query row, (B, nb) int array. ONE
    (B x dim) @ (dim x n_cells) matmul + one stable argsort per call —
    deterministic min-cell-id tiebreak. :func:`hnsw_search` routes its
    collected query batch with it on the driver."""
    nb = min(nprobe, C.shape[0])
    if metric == "cosine":
        D = -(unit_rows(Q) @ unit_rows(C).T)  # (B, n_cells); smaller = nearer
    else:
        # argsort of ||c||^2 - 2 c.q == argsort of euclidean dist
        D = (C * C).sum(axis=1)[None, :] - 2.0 * (Q @ C.T)
    return np.argsort(D, axis=1, kind="stable")[:, :nb]


def hnsw_search(
    index: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    ef: int = 64,
    nprobe: int = 4,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    max_collect_queries: int = 100_000,
    allowed: DataFrame | None = None,
    over_fetch: int = 4,
    kernel: str = "auto",
) -> DataFrame:
    """Search a MATERIALIZED per-cell index (:func:`hnsw_build` output —
    persisted, cached, or read back from parquet) without rebuilding
    anything. The reference builds once and searches many
    (`core/hnsw/graph.py:127-189`); this is that lifecycle on Spark.

    Output (query_id, vec_id, dist, rank). Each probed cell answers all
    of its routed queries at once. Under ``kernel="auto"`` a cell of
    ``n <= _EXACT_SCAN_PER_BEAM * max(ef, k)`` nodes is answered by an
    exact block scan of its stored vectors, so within it the answer is
    the true top-k, ties to the lower id; a larger cell reconstructs its
    graph from the stored state (O(edges) array slicing, no distance
    evaluations) and runs :meth:`LocalHNSW.search_batch` (the same
    results as one :meth:`LocalHNSW.search` per query).
    ``kernel="graph"`` runs the beam on every cell, for callers that
    measure the graph at a given ``ef``. Per-cell candidate output is
    nprobe*k rows per query, so the final rank window is tiny. ``k`` is
    checked against the REST bound (:func:`~.table.validate_k`);
    ``nprobe < 1``, ``ef < 1`` or another ``kernel`` raise
    ``ValueError`` naming the parameter.

    Routing: the query batch is collected ONCE (bounded by
    ``max_collect_queries`` — exceeding it fails fast with guidance
    rather than silently collecting an unbounded batch) and routed
    DRIVER-SIDE against the local centroid matrix (:func:`_route_cells`
    — zero extra Spark jobs). The query ids, the query vectors rounded
    to float32 and the routing ship as one ``SparkContext.broadcast``
    that lives as long as the lazy plan; each index row picks its own
    queries from it. The union of probed cells — at most n_queries *
    nprobe ids — is pushed as an ``isin`` filter on the index, so the
    scan touches only the probed cells' rows, and the cells answer the
    SAME literal routing the filter was derived from. With the index
    stored ``partitionBy("cell")`` that filter becomes real partition
    pruning (asserted in tests/test_hnsw_index.py): a 100k-cell index
    serves a 5-query search by reading ~nprobe*5 partitions, not the
    index. For query batches beyond the cap, chunk the batch
    caller-side (the twophase-kNN pattern) or raise the cap explicitly.

    Partitioning: the probed index rows are hash-repartitioned on
    ``cell`` to ``max(1, min(probed cells, defaultParallelism))``
    partitions (:func:`_on_cells`) and answered by one ``mapInPandas``;
    only the index rows shuffle. AQE does not coalesce a repartition
    with an explicit count, so the CPU-bound graph-kernel cells run on
    every core even though their shuffle is small (left to AQE, a 2 MB shuffle became 2
    tasks on 4 cores).

    Filtered ANN: ``allowed`` (a DataFrame of admissible ``id_col``
    values — compute it with any metadata predicate, e.g.
    ``vectors.filter(F.col("lang") == "en").select("vec_id")``) restricts
    results to that set. The graph traversal itself is UNfiltered — a
    predicate-aware beam would have to walk through inadmissible nodes
    anyway to keep the graph connected — instead each cell over-fetches
    ``k * over_fetch`` candidates (ef inflated to match) and the
    admissibility semi-join prunes AFTER the cell kernels, before the
    final rank window; recall then depends on over_fetch vs the
    predicate's selectivity (checked against exact filtered kNN by the
    hnsw_filtered_recall driver entry). The reference can only echo
    metadata back per hit (`api/rest/server.py:174`), never filter on
    it."""
    import pandas as pd

    from hnsw_vector_db_spark.operators.table import validate_k
    from hnsw_vector_db_spark.session import (
        bounded_collect,
        ensure_package_shipped,
        install_zip_guard,
    )

    validate_k(k)
    for name, value in (("nprobe", nprobe), ("ef", ef)):
        if value < 1:
            raise ValueError(f"hnsw_search: {name} must be >= 1, got {value!r}")
    if kernel not in ("auto", "graph"):
        raise ValueError(f"hnsw_search: kernel must be 'auto' or 'graph', got {kernel!r}")
    spark = queries.sparkSession
    ensure_package_shipped(spark)
    qin = bounded_collect(
        queries.select(query_id_col, query_vec_col),
        max_collect_queries,
        f"hnsw_search collects the query batch for probed-cell routing; "
        f"got > {max_collect_queries} queries. Chunk the batch and union "
        f"results, or pass max_collect_queries= explicitly.",
    )
    Q = vector_matrix([r[query_vec_col] for r in qin], query_vec_col)
    C = np.asarray(centroids, dtype=np.float64)
    if qin and Q.shape[1] != C.shape[1]:
        raise ValueError(
            f"hnsw_search: {query_vec_col!r} vectors have width {Q.shape[1]}, "
            f"the centroids width {C.shape[1]}"
        )
    cells = _route_cells(Q, C, nprobe, metric) if qin else np.zeros((0, 1), dtype=np.int64)
    probed = np.unique(cells).tolist()
    qids = np.array([r[query_id_col] for r in qin], dtype=np.int64)
    bc = spark.sparkContext.broadcast((qids, Q.astype(np.float32), cells))

    # filtered search over-fetches per cell so enough admissible
    # candidates survive the post-traversal semi-join
    k_fetch = k * max(over_fetch, 1) if allowed is not None else k
    ef_eff = max(ef, k_fetch)
    scan_max_n = _scan_max_n(k_fetch, ef_eff, kernel)

    def per_cell(batches):
        install_zip_guard()
        b_qids, b_Q, b_cells = bc.value
        # the routed (query, cell) pairs grouped by cell, once per task
        by_cell = np.argsort(b_cells, axis=None, kind="stable")
        sorted_cells = b_cells.reshape(-1)[by_cell]
        for pdf in batches:
            for _, st in pdf.iterrows():
                cell = int(st["cell"])
                lo, hi = np.searchsorted(sorted_cells, [cell, cell + 1])
                rows = by_cell[lo:hi] // b_cells.shape[1]
                Q = b_Q[rows].astype(np.float64)
                if Q.shape[1] != int(st["dim"]):
                    raise ValueError(
                        f"hnsw_search: {query_vec_col!r} vectors have width {Q.shape[1]}, "
                        f"the index of cell {cell} width {int(st['dim'])}"
                    )
                nodes, dists = _cell_topk(st, Q, k_fetch, ef_eff, scan_max_n)
                hit = nodes >= 0  # each row's hits come first, nearest first
                ids = np.asarray(st["ids"], dtype=np.int64)
                yield pd.DataFrame(
                    {
                        query_id_col: np.repeat(b_qids[rows], hit.sum(axis=1)),
                        id_col: ids[nodes[hit]],
                        "dist": dists[hit],
                    }
                )

    candidates = (
        _on_cells(index.filter(F.col("cell").isin(probed)), len(probed))
        .mapInPandas(per_cell, f"{query_id_col} long, {id_col} long, dist double")
    )
    if allowed is not None:
        candidates = candidates.join(
            allowed.select(id_col), id_col, "left_semi"
        )
    # rank on the unrounded distance; round only the output
    return top_k_per_query(candidates, k, query_id_col, id_col).withColumn(
        "dist", F.round("dist", 6)
    )


def hnsw_topk(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    ef: int = 64,
    nprobe: int = 4,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    index: DataFrame | None = None,
) -> DataFrame:
    """Distributed ANN over per-cell HNSW graphs. With ``index=`` (a
    :func:`hnsw_build` artifact) this is pure search — the build cost was
    paid once; without it a throwaway index is built inline (convenience
    for one-shot queries; any repeated caller should build and persist).
    """
    if index is None:
        index = hnsw_build(
            assigned, metric=metric, id_col=id_col, vector_col=vector_col
        )
    return hnsw_search(
        index, queries, centroids, k, ef, nprobe, metric,
        query_id_col, query_vec_col, id_col,
    )
