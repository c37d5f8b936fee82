"""Migration source/sink for the reference engine's on-disk snapshot format.

The reference persists an index as three files (`core/storage/engine.py:19-21`):

- ``index.msgpack`` — graph params + per-node topology, each node carrying a
  ``vector_offset`` into the matrix file (`engine.py:25-56`);
- ``vectors.bin`` — an 8-byte ``struct 'II'`` (rows, cols) header followed by
  a dense row-major float64 matrix (`engine.py:52-56`);
- ``metadata.json`` — free-form JSON; the single-node server stores its
  metadata dict under the ``"metadata_store"`` key plus summary counters
  (`api/rest/server.py:115-118`, `engine.py:58-66`).

This module owns that format. ``read_snapshot_vectors`` /
``read_snapshot_edges`` land a snapshot as DataFrames so an existing
VectorFlow deployment can move its data into this engine with one call.
They are ``spark.read.format("vectorflow")`` (:mod:`.vectorflow_datasource`),
whose tasks each seek-read one slab of the matrix, so the vectors never
pass through the driver. ``write_layout`` is the one writer of the three
files: ``write_snapshot`` (vectors plus an edges table) and the
``format("vectorflow")`` sink (vectors only) both end in it. Writing is
driver-side by design: the format is one dense offset-addressed matrix,
and the reference hard-caps an index at 1,000,000 vectors in one
process's RAM (`core/hnsw/graph.py:54`), so a snapshot is at most a few
GB — a one-shot migration artifact, not a scan path. Both writers enforce
that cap (``max_elements``). Once imported, data lives in parquet and
scales with the cluster.

The msgpack codec below implements the subset of the public MessagePack
spec (github.com/msgpack/msgpack, spec.md) that the reference's payloads
use — nil/bool/int/float64/str/bin/array/map — because the container
doesn't ship the msgpack library. It is NOT a general-purpose codec.
"""

from __future__ import annotations

import json
import os
import struct
import warnings
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession

INDEX_FILE = "index.msgpack"
VECTORS_FILE = "vectors.bin"
METADATA_FILE = "metadata.json"

# the reference's hard capacity (`core/hnsw/graph.py:54`)
DEFAULT_MAX_ELEMENTS = 1_000_000


# --------------------------------------------------------------------------
# Minimal MessagePack codec (public spec subset)
# --------------------------------------------------------------------------

def msgpack_encode(obj: Any) -> bytes:
    out = bytearray()
    _enc(obj, out)
    return bytes(out)


def _enc(o: Any, out: bytearray) -> None:
    if o is None:
        out.append(0xC0)
    elif o is True:
        out.append(0xC3)
    elif o is False:
        out.append(0xC2)
    elif isinstance(o, int):
        if 0 <= o <= 0x7F:
            out.append(o)
        elif -32 <= o < 0:
            out.append(0x100 + o)
        elif 0 <= o <= 0xFF:
            out += bytes((0xCC, o))
        elif 0 <= o <= 0xFFFF:
            out.append(0xCD)
            out += o.to_bytes(2, "big")
        elif 0 <= o <= 0xFFFFFFFF:
            out.append(0xCE)
            out += o.to_bytes(4, "big")
        elif 0 <= o:
            out.append(0xCF)
            out += o.to_bytes(8, "big")
        elif -0x80 <= o:
            out.append(0xD0)
            out += o.to_bytes(1, "big", signed=True)
        elif -0x8000 <= o:
            out.append(0xD1)
            out += o.to_bytes(2, "big", signed=True)
        elif -0x80000000 <= o:
            out.append(0xD2)
            out += o.to_bytes(4, "big", signed=True)
        else:
            out.append(0xD3)
            out += o.to_bytes(8, "big", signed=True)
    elif isinstance(o, float):
        out.append(0xCB)
        out += struct.pack(">d", o)
    elif isinstance(o, str):
        b = o.encode("utf-8")
        n = len(b)
        if n <= 31:
            out.append(0xA0 | n)
        elif n <= 0xFF:
            out += bytes((0xD9, n))
        elif n <= 0xFFFF:
            out.append(0xDA)
            out += n.to_bytes(2, "big")
        else:
            out.append(0xDB)
            out += n.to_bytes(4, "big")
        out += b
    elif isinstance(o, (bytes, bytearray)):
        n = len(o)
        if n <= 0xFF:
            out += bytes((0xC4, n))
        elif n <= 0xFFFF:
            out.append(0xC5)
            out += n.to_bytes(2, "big")
        else:
            out.append(0xC6)
            out += n.to_bytes(4, "big")
        out += bytes(o)
    elif isinstance(o, (list, tuple)):
        n = len(o)
        if n <= 15:
            out.append(0x90 | n)
        elif n <= 0xFFFF:
            out.append(0xDC)
            out += n.to_bytes(2, "big")
        else:
            out.append(0xDD)
            out += n.to_bytes(4, "big")
        for x in o:
            _enc(x, out)
    elif isinstance(o, dict):
        n = len(o)
        if n <= 15:
            out.append(0x80 | n)
        elif n <= 0xFFFF:
            out.append(0xDE)
            out += n.to_bytes(2, "big")
        else:
            out.append(0xDF)
            out += n.to_bytes(4, "big")
        for k, v in o.items():
            _enc(k, out)
            _enc(v, out)
    else:
        raise TypeError(f"msgpack subset cannot encode {type(o)}")


def msgpack_decode(buf: bytes) -> Any:
    obj, pos = _dec(buf, 0)
    if pos != len(buf):
        raise ValueError(f"trailing bytes after msgpack object at {pos}")
    return obj


def _dec(b: bytes, p: int) -> tuple[Any, int]:
    t = b[p]
    p += 1
    if t <= 0x7F:
        return t, p
    if t >= 0xE0:
        return t - 0x100, p
    if 0x80 <= t <= 0x8F:
        return _dec_map(b, p, t & 0x0F)
    if 0x90 <= t <= 0x9F:
        return _dec_arr(b, p, t & 0x0F)
    if 0xA0 <= t <= 0xBF:
        n = t & 0x1F
        return b[p : p + n].decode("utf-8"), p + n
    if t == 0xC0:
        return None, p
    if t == 0xC2:
        return False, p
    if t == 0xC3:
        return True, p
    if t in (0xC4, 0xC5, 0xC6):
        w = (1, 2, 4)[t - 0xC4]
        n = int.from_bytes(b[p : p + w], "big")
        p += w
        return bytes(b[p : p + n]), p + n
    if t == 0xCA:
        return struct.unpack_from(">f", b, p)[0], p + 4
    if t == 0xCB:
        return struct.unpack_from(">d", b, p)[0], p + 8
    if t in (0xCC, 0xCD, 0xCE, 0xCF):
        w = 1 << (t - 0xCC)
        return int.from_bytes(b[p : p + w], "big"), p + w
    if t in (0xD0, 0xD1, 0xD2, 0xD3):
        w = 1 << (t - 0xD0)
        return int.from_bytes(b[p : p + w], "big", signed=True), p + w
    if t in (0xD9, 0xDA, 0xDB):
        w = (1, 2, 4)[t - 0xD9]
        n = int.from_bytes(b[p : p + w], "big")
        p += w
        return b[p : p + n].decode("utf-8"), p + n
    if t in (0xDC, 0xDD):
        w = (2, 4)[t - 0xDC]
        n = int.from_bytes(b[p : p + w], "big")
        return _dec_arr(b, p + w, n)
    if t in (0xDE, 0xDF):
        w = (2, 4)[t - 0xDE]
        n = int.from_bytes(b[p : p + w], "big")
        return _dec_map(b, p + w, n)
    raise ValueError(f"msgpack subset: unsupported type byte 0x{t:02x}")


def _dec_arr(b: bytes, p: int, n: int) -> tuple[list, int]:
    out = []
    for _ in range(n):
        v, p = _dec(b, p)
        out.append(v)
    return out, p


def _dec_map(b: bytes, p: int, n: int) -> tuple[dict, int]:
    out = {}
    for _ in range(n):
        k, p = _dec(b, p)
        v, p = _dec(b, p)
        out[k] = v
    return out, p


# --------------------------------------------------------------------------
# Snapshot read / write
# --------------------------------------------------------------------------

def snapshot_params(path: str) -> dict:
    """Index construction params from the snapshot header — dim, M,
    ef_construction, ef_search, ml, max_elements, entry_point, current_id.
    Note the reference itself DROPS distance_metric on reload
    (`engine.py:84-91` vs `graph.py:53`) — a cosine index silently reloads
    as euclidean; our engine keys the metric per query instead."""
    with open(os.path.join(path, INDEX_FILE), "rb") as f:
        graph_data = msgpack_decode(f.read())
    return {k: v for k, v in graph_data.items() if k != "nodes"}


def _read(spark: SparkSession, path: str, table: str) -> DataFrame:
    # imported here: the data source module imports this one
    from hnsw_vector_db_spark.sources.vectorflow_datasource import register

    register(spark)
    return spark.read.format("vectorflow").option("table", table).load(path)


def read_snapshot_vectors(spark: SparkSession, path: str) -> DataFrame:
    """(id, vector, level, metadata): the snapshot's vector records, with
    each node's JSON metadata (``metadata_store`` side-dict,
    `api/rest/server.py:75,115-118`) attached as a JSON string column —
    the dict-lookup join the reference does at search time
    (`server.py:174`) becomes a plain column."""
    return _read(spark, path, "vectors")


def read_snapshot_edges(spark: SparkSession, path: str) -> DataFrame:
    """(src, dst, layer): the HNSW adjacency lists flattened to an edges
    table — `HNSWNode.connections` (`core/hnsw/graph.py:15`) in the layout
    SURVEY.md §1.1 prescribes."""
    return _read(spark, path, "edges")


def check_capacity(n: int, max_elements: int) -> None:
    """Refuse an export past ``max_elements``, the reference's one-process
    capacity (`core/hnsw/graph.py:54`)."""
    if n > max_elements:
        raise ValueError(
            f"snapshot export of {n} vectors exceeds max_elements="
            f"{max_elements} (the reference's one-process capacity, "
            "core/hnsw/graph.py:54); a table this size belongs in parquet"
        )


def write_layout(
    path: str,
    ids,
    levels,
    X: np.ndarray,
    store: dict,
    connections: dict | None = None,
    params: dict | None = None,
) -> None:
    """Write the reference's three files (`engine.py:23-68`) for ``ids``
    (int), their HNSW ``levels`` and the float64 matrix ``X`` (row i is
    the vector of ``ids[i]``). ``store`` maps ``str(id)`` to the node's
    decoded JSON metadata. ``connections`` maps id -> {layer: [dst ids]};
    a node without an entry, or every node when it is None, gets an
    empty layer 0. ``params`` overrides the header defaults below.

    Nodes are written in id order, ``vector_offset`` = rank. The entry
    point defaults to the reference's invariant choice, a node of MAXIMUM
    level (`core/hnsw/graph.py:170-173` moves entry_point up whenever a
    higher-level node is inserted), with min-id tiebreak. Raises before
    writing anything on a duplicated id or more than ``max_elements``
    rows. An empty table writes a ``(0, 0)`` matrix header."""
    ids = np.asarray(ids, dtype=np.int64)
    levels = np.asarray(levels, dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    ids, levels, X = ids[order], levels[order], X[order]
    if ids.size != np.unique(ids).size:
        raise ValueError("duplicate id in snapshot export")
    n = int(ids.size)
    dim = int(X.shape[1]) if n else 0
    p = {
        "dim": dim,
        "M": 16,
        "ef_construction": 200,
        "ef_search": 50,
        "ml": 1.4426950408889634,
        "max_elements": DEFAULT_MAX_ELEMENTS,
        "entry_point": int(ids[np.lexsort((ids, -levels))[0]]) if n else None,
        "current_id": int(ids.max()) + 1 if n else 0,
        **(params or {}),
    }
    check_capacity(n, p["max_elements"])
    if connections is None:
        warnings.warn(
            "snapshot written without edges (empty adjacency): a VectorFlow "
            "node loading it can only ever reach the entry point. Pass "
            "write_snapshot(..., edges=hnsw_edges(...)) for a searchable "
            "snapshot.",
            stacklevel=3,
        )
        connections = {}
    empty = {0: []}
    p["nodes"] = {
        str(nid): {
            "id": nid,
            "level": int(lv),
            "connections": {
                str(layer): list(dsts)
                for layer, dsts in connections.get(nid, empty).items()
            },
            "vector_offset": i,
        }
        for i, (nid, lv) in enumerate(zip(ids.tolist(), levels))
    }
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, INDEX_FILE), "wb") as f:
        f.write(msgpack_encode(p))
    with open(os.path.join(path, VECTORS_FILE), "wb") as f:
        f.write(struct.pack("II", n, dim))
        f.write(np.ascontiguousarray(X, dtype=np.float64).tobytes())
    meta = {
        "metadata_store": {k: store[k] for k in p["nodes"] if k in store},
        "total_nodes": n,
        "dimension": dim,
        "total_searches": 0,
        "total_insertions": n,
    }
    with open(os.path.join(path, METADATA_FILE), "w") as f:
        json.dump(meta, f, indent=2)


def write_snapshot(
    path: str,
    vectors: DataFrame,
    edges: DataFrame | None = None,
    params: dict | None = None,
) -> None:
    """Export a vectors table (id, vector[, level][, metadata]) back into
    the reference's exact three-file layout so a VectorFlow node can load
    it (`engine.py:70-115`; see :func:`write_layout`). Collects to the
    driver, capped at ``params["max_elements"]`` (default the reference's
    own 1M-vector capacity) before the collect: this is a migration sink.

    With ``edges=None`` every node is written with empty connections; the
    reference loads such a snapshot but its search can only ever reach the
    entry point, so we warn loudly — pass the ``hnsw_edges`` output (or
    ``read_snapshot_edges`` of another snapshot) for a searchable export."""
    from hnsw_vector_db_spark.functions.distance import vector_matrix
    from hnsw_vector_db_spark.session import bounded_collect

    cap = int((params or {}).get("max_elements", DEFAULT_MAX_ELEMENTS))
    cols = vectors.columns
    data = bounded_collect(
        vectors,
        cap,
        f"write_snapshot collects the vectors table; got more than "
        f"max_elements={cap} rows (the reference's one-process capacity, "
        "core/hnsw/graph.py:54); a table this size belongs in parquet",
    )
    adj = None
    if edges is not None:
        adj = {}
        for r in edges.collect():
            adj.setdefault(int(r["src"]), {}).setdefault(int(r["layer"]), []).append(
                int(r["dst"])
            )
    has_level, has_meta = "level" in cols, "metadata" in cols
    write_layout(
        path,
        [int(r["id"]) for r in data],
        [int(r["level"]) if has_level and r["level"] is not None else 0 for r in data],
        vector_matrix([r["vector"] for r in data], "vector"),
        {
            str(int(r["id"])): json.loads(r["metadata"])
            for r in data
            if has_meta and r["metadata"]
        },
        adj,
        params,
    )
