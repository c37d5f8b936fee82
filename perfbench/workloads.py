"""The workloads. Each is a closed loop with one client: the next call is
sent only after the previous reply has been collected.

A workload is made of parts (``ann_serve``; ``table_ops`` with
``corpus_pipeline`` halfway through its timed ops). Every part sets
itself up ``SETUP_REPEATS`` times (the last set-up is the one it uses;
the serving parts first run one small untimed set-up that pays the
first-call costs), then calls the engine in whole units (a query batch,
a block of ops, a pipeline pass) until its timed engine calls add up to
``seconds`` and at least ``min_units`` units are timed; the serving
parts run untimed warm-up work first. Every reply, the warm-up's included, is checked against a
numpy model or the planted truth; a wrong reply counts as a failed op.
Check time is never part of a timing.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from perfbench import inputs
from perfbench.latency import summarise
from perfbench.tracing import BENCH, Tracer

SETUP_REPEATS = 2


@dataclass
class Run:
    """State shared by a workload run: session, tracer, tallies, results."""

    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    attempted: int = 0
    failed: int = 0
    # set-up time of each repeat, summed over the workload's parts
    setup_s: list = field(default_factory=lambda: [0.0] * SETUP_REPEATS)
    loop_s: float = 0.0  # wall time of the timed loops, checks included
    report: dict = field(default_factory=dict)  # {name: (value, unit)}

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong result: {what}", file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def more(self, timed_s: float, units: int, min_units: int) -> bool:
        """Whether a part's timed loop goes on for another unit."""
        return timed_s < self.seconds or units < min_units


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def data_files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


def _vectors_df(spark, ids, X, id_col: str, vec_col: str):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({id_col: ids, vec_col: list(X)}),
        f"{id_col} long, {vec_col} array<double>",
    )


def _normalise(X: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.where(n == 0, 1.0, n)


def cosine_dist(Q: np.ndarray, X: np.ndarray) -> np.ndarray:
    """(len(Q), len(X)) cosine distances, the engine's definition."""
    return 1.0 - _normalise(Q) @ _normalise(X).T


def topk_ids(D: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Per row, the ``k`` ids with smallest distance, ties to the lower id."""
    order = np.lexsort((np.broadcast_to(ids, D.shape), D))
    return ids[order[:, :k]]


def _by_query(rows, qcol="query_id", idcol="vec_id") -> dict[int, list]:
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r[qcol], r["rank"])):
        out.setdefault(int(r[qcol]), []).append((int(r[idcol]), float(r["dist"])))
    return out


def exact_ok(got: list, want_ids: np.ndarray, d_row: np.ndarray, tol: float = 1e-9) -> bool:
    """An exact top-k reply: ids in order, or a reordering only among
    distances equal within ``tol``; every distance must be right."""
    if len(got) != len(want_ids):
        return False
    if any(abs(d - d_row[i]) > tol for i, d in got):
        return False
    return [i for i, _ in got] == want_ids.tolist() or all(
        abs(d - d_row[w]) <= tol for (_, d), w in zip(got, want_ids)
    )


def ann_ok(got: list, k: int, d_row: np.ndarray, tol: float = 1e-5) -> bool:
    """An approximate reply: k distinct ids in distance order, each with
    its true distance (the engine ships queries as float32, 6 dp)."""
    ids = [i for i, _ in got]
    return (
        len(got) == k
        and len(set(ids)) == k
        and all(abs(d - d_row[i]) <= tol for i, d in got)
        and all(a[1] <= b[1] for a, b in zip(got, got[1:]))
    )


# -- ann-serve -----------------------------------------------------------------
# batch * n must exceed 5e6 so knn_auto takes its two-phase (BLAS) route.
# The warm-up is a small unit, which pays the first-call costs, then one
# full-size unit: both paths' times still fall over their first few calls
# while the JVM compiles their hot code.
ANN = dict(
    n=3000, prewarm=200, cells=16, ivf_iters=5, batch=1700, warm=100, min_units=5,
    k=10, m=8, efc=32, ef=32, nprobe=2, replace=4, new=4,
)


def ann_serve(run: Run) -> None:
    """Index build, then ANN and exact top-k batches, then one upsert."""
    from pyspark.sql import functions as F

    from hnsw_vector_db_spark.operators.hnsw_partition import (
        hnsw_build,
        hnsw_search,
        hnsw_upsert,
    )
    from hnsw_vector_db_spark.operators.knn import knn_auto, knn_batch_twophase
    from hnsw_vector_db_spark.operators.similarity import ivf_fit

    spark, tr, seed, c = run.spark, run.tracer, run.seed, ANN
    n, k = c["n"], c["k"]
    ids, X = inputs.ann_corpus(seed, n)

    def set_up(path: str, m: int):
        """Load the first ``m`` vectors, fit the IVF cells, build the index."""
        with tr.span(BENCH, "load_corpus"):
            _vectors_df(spark, ids[:m], X[:m], "vec_id", "embedding").write.parquet(
                os.path.join(path, "corpus")
            )
        vec = spark.read.parquet(os.path.join(path, "corpus"))
        with tr.span("operators.similarity", "ivf_fit"):
            assigned, centroids = ivf_fit(vec, n_cells=c["cells"], max_iter=c["ivf_iters"])
        with tr.span("operators.hnsw_partition", "hnsw_build"):
            hnsw_build(assigned, m=c["m"], ef_construction=c["efc"]).write.parquet(
                os.path.join(path, "index")
            )
        return vec, centroids, os.path.join(path, "index")

    set_up(run.path("prewarm"), c["prewarm"])  # first-call costs, untimed
    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        vec, centroids, index_dir = set_up(run.path(f"setup{rep}"), n)
        run.setup_s[rep] += time.perf_counter() - t0
    tr.count("hnsw.index_bytes", dir_bytes(index_dir))
    tr.count("hnsw.vector_bytes", n * inputs.DIM * 8)
    index = spark.read.parquet(index_dir)

    def query_batch(b: int, size: int):
        """One batch through ANN and then exact search; returns their times
        and the ANN recall."""
        Q = inputs.ann_queries(seed, b, size)
        qids = np.arange(len(Q), dtype=np.int64)
        with tr.span(BENCH, "load_queries", request=b):
            qdf = _vectors_df(spark, qids, Q, "query_id", "query_vec")
        t0 = time.perf_counter()
        with tr.span("operators.hnsw_partition", "hnsw_search", request=b):
            ann = hnsw_search(
                index, qdf, centroids, k=k, ef=c["ef"], nprobe=c["nprobe"]
            ).collect()
        t1 = time.perf_counter()
        with tr.span("operators.knn", "knn_auto", request=b):
            if b:
                exact = knn_auto(qdf, vec, k=k, corpus_rows=n, query_rows=len(Q)).collect()
            else:  # the warm-up batch is too small for knn_auto's BLAS route
                exact = knn_batch_twophase(qdf, vec, k=k).collect()
        t2 = time.perf_counter()
        tr.count("knn.hits", len(Q) * k)
        D = cosine_dist(Q, X)
        D32 = cosine_dist(Q.astype(np.float32).astype(np.float64), X)
        want = topk_ids(D, ids, k)
        got_exact, got_ann = _by_query(exact), _by_query(ann)
        run.op(
            all(exact_ok(got_exact.get(q, []), want[q], D[q]) for q in range(len(Q))),
            f"knn_auto batch {b}",
        )
        run.op(
            all(ann_ok(got_ann.get(q, []), k, D32[q]) for q in range(len(Q))),
            f"hnsw_search batch {b}",
        )
        hits = sum(
            len(set(want[q].tolist()) & {i for i, _ in got_ann.get(q, [])})
            for q in range(len(Q))
        )
        return t1 - t0, t2 - t1, hits / (len(Q) * k)

    query_batch(0, c["warm"])  # warm-up, untimed
    query_batch(1, c["batch"])
    ann_t, exact_t, recall = [], [], []
    loop0 = time.perf_counter()
    while run.more(sum(ann_t) + sum(exact_t), len(exact_t), c["min_units"]):
        ta, te, rc = query_batch(len(exact_t) + 2, c["batch"])
        ann_t.append(ta)
        exact_t.append(te)
        recall.append(rc)
    run.loop_s += time.perf_counter() - loop0

    up_ids, up_X = inputs.ann_upsert(seed, n, c["replace"], c["new"])
    up_dir = run.path("index-upserted")
    rows = _vectors_df(spark, up_ids, up_X, "vec_id", "embedding")
    t0 = time.perf_counter()
    with tr.span("operators.hnsw_partition", "hnsw_upsert"):
        hnsw_upsert(
            index, rows, centroids, m=c["m"], ef_construction=c["efc"]
        ).write.parquet(up_dir)
    t_up = time.perf_counter() - t0
    # checks: every id exactly once, and each upserted vector finds itself
    upserted = spark.read.parquet(up_dir)
    held = Counter(r[0] for r in upserted.select(F.explode("ids")).collect())
    expect = set(range(n)) | set(up_ids.tolist())
    qdf = _vectors_df(spark, up_ids, up_X, "query_id", "query_vec")
    top1 = {
        r["query_id"]: r["vec_id"]
        # every cell, and a beam wider than a cell: exhaustive, not approximate
        for r in hnsw_search(upserted, qdf, centroids, k=1, ef=4 * n, nprobe=c["cells"])
        .collect()
    }
    run.op(
        set(held) == expect
        and max(held.values()) == 1
        and all(top1.get(i) == i for i in up_ids.tolist()),
        "hnsw_upsert",
    )

    queries = len(exact_t) * c["batch"]
    ann_qps, exact_qps = queries / sum(ann_t), queries / sum(exact_t)
    run.report.update(
        ann_qps=(ann_qps, "1/s"),
        exact_qps=(exact_qps, "1/s"),
        ann_recall_at_10=(statistics.fmean(recall), "ratio"),
        index_upsert_rows_per_s=(len(up_ids) / t_up, "1/s"),
        ann_batch=(summarise([t * 1000 for t in ann_t]), "ms"),
        exact_batch=(summarise([t * 1000 for t in exact_t]), "ms"),
        # one gated number per path, each from the median batch: the exact
        # path's rate and the ANN batch's latency
        throughput_per_s=(c["batch"] / statistics.median(exact_t), "1/s"),
        latency_p50_ms=(statistics.median(ann_t) * 1000, "ms"),
    )


# -- driver-paced: the REST mix ---------------------------------------------------
TABLE = dict(n=1000, prewarm=50, k=10, compact_every=4, min_units=1)


class Shadow:
    """The numpy model of the table: id -> (vector, metadata json)."""

    def __init__(self, ids, X, meta):
        self.rows = {int(i): (x, m) for i, x, m in zip(ids, X, meta)}

    def topk(self, q: np.ndarray, k: int):
        ids = np.fromiter(self.rows, dtype=np.int64, count=len(self.rows))
        X = np.stack([self.rows[i][0] for i in ids.tolist()])
        d = cosine_dist(q[None, :], X)[0]
        order = np.lexsort((ids, d))[:k]
        return [(int(ids[j]), float(d[j]), self.rows[int(ids[j])][1]) for j in order]


def search_ok(got, q: np.ndarray, shadow: Shadow, want, tol: float = 1e-9) -> bool:
    """Every hit is a live row with its true distance and metadata, in the
    model's order; ids may differ from the model's only where distances
    tie within ``tol``."""
    if len(got) != len(want) or len({g[0] for g in got}) != len(got):
        return False
    for (gid, gd, gm), (_, wd, _) in zip(got, want):
        row = shadow.rows.get(gid)
        if row is None or gm != row[1] or abs(gd - wd) > tol:
            return False
        if abs(gd - cosine_dist(q[None, :], row[0][None, :])[0, 0]) > tol:
            return False
    return True


def table_ops(run: Run):
    """The reference's REST mix against one VectorTable. A generator that
    pauses once, halfway through its first timed block, so that the
    caller's other work runs there: the timed ops then span a longer
    stretch of the run, and a short burst of load from other tenants of
    the host reaches fewer of them."""
    from hnsw_vector_db_spark.api import VectorTable

    spark, tr, seed, c = run.spark, run.tracer, run.seed, TABLE
    n, k = c["n"], c["k"]
    ids, X = inputs.table_rows(seed, n)
    meta = [json.dumps({"tag": int(i) % 97}) for i in ids]

    def set_up(path: str, m: int) -> VectorTable:
        """A new table holding the first ``m`` rows."""
        import pandas as pd

        with tr.span(BENCH, "load_rows"):
            rows = spark.createDataFrame(
                pd.DataFrame({"id": ids[:m], "vector": list(X[:m]), "metadata": meta[:m]}),
                "id long, vector array<double>, metadata string",
            )
        with tr.span("api", "batch_insert"):
            vt = VectorTable.create(spark, path, dim=inputs.DIM, metric="cosine")
            res = vt.batch_insert(rows)
        run.op(res == {"inserted": m, "failed": 0}, f"batch_insert {res}")
        return vt

    set_up(run.path("table-prewarm"), c["prewarm"])  # first-call costs, untimed
    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        vt = set_up(run.path(f"table{rep}"), n)
        run.setup_s[rep] += time.perf_counter() - t0
    shadow = Shadow(ids, X, meta)

    blocks = inputs.table_blocks(seed, n, c["compact_every"])
    lat: dict[str, list[float]] = {"search": [], "insert": [], "delete": [], "compact": []}
    space_amp: list[float] = []

    def do(i: int, op: inputs.TableOp, sample: bool = True) -> float:
        if op.kind == "compact" and sample:
            live_bytes = len(shadow.rows) * inputs.DIM * 8
            space_amp.append(dir_bytes(vt.path) / live_bytes)
            tr.gauge_max("api.log_files_max", data_files(vt.path))
        md = {"tag": op.tag}
        t0 = time.perf_counter()
        with tr.span("api", op.kind, request=i):
            if op.kind == "search":
                got = [(r["id"], r["dist"], r["metadata"]) for r in vt.search(op.vector, k=k).collect()]
            elif op.kind == "insert":
                got = vt.insert(op.vector, external_id=op.id, metadata=md)
            elif op.kind == "delete":
                got = vt.delete([op.id])
            else:
                got = vt.compact()
        dt = time.perf_counter() - t0
        if op.kind == "search":
            run.op(search_ok(got, op.vector, shadow, shadow.topk(op.vector, k)), f"search op {i}")
        elif op.kind == "insert":
            shadow.rows[op.id] = (op.vector, json.dumps(md))
            run.op(got == op.id, f"insert op {i}")
        elif op.kind == "delete":
            run.op(got == 1 and shadow.rows.pop(op.id, None) is not None, f"delete op {i}")
        else:
            run.op(got == len(shadow.rows), f"compact op {i}")
        return dt

    # warm-up, untimed, so first-call costs stay out: searches, then one
    # write of each kind
    for i, op in enumerate(inputs.table_warmup(seed)):
        do(-1 - i, op, sample=False)
    engine_s, loop0, i, n_blocks = 0.0, time.perf_counter(), 0, 0
    while run.more(engine_s, n_blocks, c["min_units"]):
        n_blocks += 1
        for op in next(blocks):
            if i == len(inputs.BLOCK) // 2:
                run.loop_s += time.perf_counter() - loop0
                yield
                loop0 = time.perf_counter()
            dt = do(i, op)
            engine_s += dt
            lat[op.kind].append(dt)
            i += 1
    run.loop_s += time.perf_counter() - loop0

    # durability: a fresh handle reads exactly the acknowledged writes
    back = {
        r["id"]: (r["vector"], r["metadata"])
        for r in VectorTable.open(spark, vt.path).table().collect()
    }
    run.op(
        back.keys() == shadow.rows.keys()
        and all(
            np.array_equal(np.asarray(v), shadow.rows[i][0]) and m == shadow.rows[i][1]
            for i, (v, m) in back.items()
        ),
        "reopen",
    )

    writes = lat["insert"] + lat["delete"] + lat["compact"]
    n_ops = len(lat["search"]) + len(writes)
    run.report.update(
        search=(summarise([t * 1000 for t in lat["search"]]), "ms"),
        write=(summarise([t * 1000 for t in writes]), "ms"),
        table_ops_per_s=(n_ops / engine_s, "1/s"),
        space_amp=(statistics.median(space_amp), "ratio"),
    )


# -- driver-paced: the corpus chain -----------------------------------------------
CORPUS = dict(
    docs=300, min_units=1, k=16, bands=8, threshold=0.7,
    merges=50, seq_len=128, shards=8,
)


def corpus_pipeline(run: Run) -> None:
    """Near-dup collapse, tokenizer, packing and shards, pass after pass
    over one loaded document batch."""
    import pandas as pd
    from pyspark.sql import functions as F

    from hnsw_vector_db_spark.operators import bpe
    from hnsw_vector_db_spark.operators.corpus import epoch_manifest, pack_token_ids
    from hnsw_vector_db_spark.operators.dedup import (
        keep_best,
        minhash_lsh_near_dup,
        neardup_components,
    )
    from hnsw_vector_db_spark.sources.token_shards import (
        read_token_shards,
        write_token_shards,
    )

    spark, tr, seed, c = run.spark, run.tracer, run.seed, CORPUS
    cb = inputs.corpus_batch(seed, 0, c["docs"], 0)
    for rep in range(SETUP_REPEATS):
        docs_dir = run.path(f"docs{rep}")
        t0 = time.perf_counter()
        with tr.span(BENCH, "load_docs"):
            spark.createDataFrame(
                pd.DataFrame({"doc_id": cb.doc_ids, "text": cb.texts, "quality": cb.quality}),
                "doc_id long, text string, quality double",
            ).write.parquet(docs_dir)
        run.setup_s[rep] += time.perf_counter() - t0

    recalls, precisions = [], []

    def one_pass(b: int) -> tuple[float, float]:
        """One pass; returns the near-dup collapse's time and the token
        chain's time."""
        out_dir = run.path("shards", str(b))
        t0 = time.perf_counter()
        docs = spark.read.parquet(docs_dir)
        with tr.span("operators.dedup", "minhash_lsh_near_dup", request=b):
            pairs = minhash_lsh_near_dup(
                docs, k=c["k"], bands=c["bands"], threshold=c["threshold"]
            ).localCheckpoint()
            found = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
        with tr.span("operators.dedup", "neardup_components", request=b):
            comps = neardup_components(docs, pairs, id_col="doc_id")
        with tr.span("operators.dedup", "keep_best", request=b):
            kept = [r["kept_id"] for r in keep_best(comps, docs, id_col="doc_id").collect()]
        t1 = time.perf_counter()
        with tr.span(BENCH, "select_kept", request=b):
            kept_docs = docs.join(
                spark.createDataFrame([(i,) for i in kept], "doc_id long"),
                "doc_id",
                "left_semi",
            )
        with tr.span("operators.bpe", "bpe_train", request=b):
            merges = bpe.bpe_train(kept_docs, n_merges=c["merges"])
        with tr.span("operators.bpe", "bpe_token_ids", request=b):
            ids_df, vocab = bpe.bpe_token_ids(kept_docs, merges)
            ids_df = ids_df.localCheckpoint()
        with tr.span("operators.corpus", "pack_token_ids", request=b):
            packed = pack_token_ids(
                ids_df, seq_len=c["seq_len"], n_shards=c["shards"], pad_id=len(vocab) + 1
            ).localCheckpoint()
        with tr.span("sources.token_shards", "write_token_shards", request=b):
            written = write_token_shards(ids_df, out_dir, n_shards=c["shards"]).collect()
        with tr.span("operators.corpus", "epoch_manifest", request=b):
            manifest = epoch_manifest(packed, epoch=0, n_shards=c["shards"]).collect()
        with tr.span("sources.token_shards", "read_token_shards", request=b):
            back = {
                r["doc_id"]: r["n_tokens"]
                for r in read_token_shards(spark, out_dir).select("doc_id", "n_tokens").collect()
            }
        t2 = time.perf_counter()

        truth = cb.true_pairs()
        recalls.append(len(found & truth) / len(truth) if truth else 1.0)
        precisions.append(len(found & truth) / len(found) if found else 1.0)
        run.op(set(kept) == cb.best_members(), f"kept docs, pass {b}")
        lengths = {
            r[0]: r[1] for r in ids_df.select("doc_id", F.size("ids")).collect()
        }
        run.op(back == lengths and back.keys() == set(kept), f"token shards, pass {b}")
        seqs = [(r["shard"], r["seq_id"]) for r in packed.select("shard", "seq_id").collect()]
        listed = Counter((r["shard"], r["seq_id"]) for r in manifest)
        run.op(
            set(listed) == set(seqs)
            and max(listed.values()) == 1
            and len({r["global_pos"] for r in manifest}) == len(manifest),
            f"epoch manifest, pass {b}",
        )
        tr.count("shards.bytes", sum(r["n_bytes"] for r in written))
        tr.count("shards.tokens", sum(lengths.values()))
        return t1 - t0, t2 - t1

    # No warm-up pass: the chain is a batch job, run once per process, so
    # its first-call costs are part of what a caller pays for it.
    dedup_s, token_s = [], []
    loop0 = time.perf_counter()
    while run.more(sum(dedup_s) + sum(token_s), len(dedup_s), c["min_units"]):
        td, tt = one_pass(len(dedup_s) + 1)
        dedup_s.append(td)
        token_s.append(tt)
    run.loop_s += time.perf_counter() - loop0
    n_docs = len(dedup_s) * len(cb.doc_ids)
    n_kept = len(dedup_s) * len(cb.best_members())

    run.report.update(
        pipeline_docs_per_s=(n_docs / (sum(dedup_s) + sum(token_s)), "1/s"),
        neardup_recall=(statistics.fmean(recalls), "ratio"),
        neardup_precision=(statistics.fmean(precisions), "ratio"),
        dedup=(summarise([t * 1000 for t in dedup_s]), "ms"),
        token_chain_docs_per_s=(n_kept / sum(token_s), "1/s"),
    )


def driver_paced(run: Run) -> None:
    """The REST mix with the corpus chain halfway through its timed ops, in
    one session: both are made of many small Spark jobs, so job launch and
    planning set their time."""
    rest = table_ops(run)
    next(rest)  # set-up, warm-up, the first half of the timed block
    corpus_pipeline(run)
    next(rest, None)  # the rest of the timed ops, the checks, the report
    run.report.update(
        latency_p50_ms=(run.report["search"][0]["p50"], "ms"),
        throughput_per_s=run.report["pipeline_docs_per_s"],
    )


WORKLOADS = {
    "ann-serve": ann_serve,
    "driver-paced": driver_paced,
}
