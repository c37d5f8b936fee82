"""`spark.read.format("vectorflow")` — the snapshot codec as a first-class
Spark data source (PySpark 4 Python DataSource API).

:mod:`.vectorflow_snapshot` owns the reference's three-file on-disk layout
(`core/storage/engine.py:19-21`); this module plugs it into Spark's
source/sink registry so the snapshot participates in the normal
reader/writer surface::

    from hnsw_vector_db_spark.sources.vectorflow_datasource import register
    register(spark)
    vecs  = spark.read.format("vectorflow").load("/path/to/snapshot")
    edges = spark.read.format("vectorflow").option("table", "edges").load(p)
    df.write.format("vectorflow").mode("overwrite").save(p)

Scale shape:

- **Read** is the engine's only snapshot reader (``read_snapshot_vectors``
  / ``read_snapshot_edges`` call it). It parses only ``index.msgpack``
  (topology + per-node offsets) on the driver, then hands each input
  partition a slice of nodes sorted by ``vector_offset``; every executor
  task seek-reads ONLY its contiguous slab of the dense float64 matrix in
  ``vectors.bin`` (`engine.py:52-56`'s 8-byte ``struct 'II'`` header +
  row-major rows). The vector payload — the dominant bytes — never lands
  on the driver.
- **Write** stages per-task ``.npz`` spills next to the target, then a
  driver-side commit assembles them and hands them to
  :func:`.vectorflow_snapshot.write_layout`, the one writer of the
  layout. Each task refuses a partition past ``max_elements`` and the
  commit refuses a total past it before loading any spill, so a 100 TB
  table cannot be exported by accident.

The written snapshot has EMPTY adjacency (a vectors-only export): Spark's
writer interface ships one DataFrame, and topology is a second table. The
reference loads such a snapshot fine but can then only ever reach the entry
point, so ``write_layout`` warns loudly — use
:func:`.vectorflow_snapshot.write_snapshot` with an ``edges=`` frame for a
searchable export.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import uuid
from dataclasses import dataclass

import numpy as np
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from hnsw_vector_db_spark.functions.distance import vector_matrix
from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard
from hnsw_vector_db_spark.sources.vectorflow_snapshot import (
    DEFAULT_MAX_ELEMENTS,
    INDEX_FILE,
    METADATA_FILE,
    VECTORS_FILE,
    check_capacity,
    msgpack_decode,
    write_layout,
)

VECTORS_SCHEMA = "id long, vector array<double>, level int, metadata string"
EDGES_SCHEMA = "src long, dst long, layer int"


def _require_path(options) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("vectorflow source requires a path: .load('/snapshot')")
    return path


@dataclass
class _NodeSlice(InputPartition):
    """One task's slice of the node table, sorted by vector_offset so the
    matrix read is a single contiguous seek+read."""

    path: str
    # (id, vector_offset, level, metadata_json | None)
    nodes: list
    want_vectors: bool


class VectorFlowReader(DataSourceReader):
    def __init__(self, options, table: str):
        self.path = _require_path(options)
        self.table = table
        self.n_partitions = int(options.get("numpartitions", 8))

    def partitions(self):
        with open(os.path.join(self.path, INDEX_FILE), "rb") as f:
            graph = msgpack_decode(f.read())
        store = {}
        mfile = os.path.join(self.path, METADATA_FILE)
        if self.table == "vectors" and os.path.exists(mfile):
            with open(mfile) as f:
                store = json.load(f).get("metadata_store", {}) or {}
        nodes = []
        for nid_str, nd in graph["nodes"].items():
            if self.table == "edges":
                # edges partitions carry the adjacency itself — tiny next
                # to the vectors the vectors table deliberately skips
                nodes.append((int(nid_str), nd["connections"]))
            else:
                md = store.get(nid_str)
                nodes.append(
                    (
                        int(nid_str),
                        int(nd["vector_offset"]),
                        int(nd["level"]),
                        json.dumps(md, separators=(",", ":")) if md is not None else None,
                    )
                )
        if self.table == "vectors":
            nodes.sort(key=lambda t: t[1])  # offset-contiguous slices
        else:
            nodes.sort(key=lambda t: t[0])
        n = max(1, min(self.n_partitions, len(nodes)) if nodes else 1)
        step = -(-len(nodes) // n) if nodes else 1
        return [
            _NodeSlice(self.path, nodes[i : i + step], self.table == "vectors")
            for i in range(0, max(len(nodes), 1), step)
        ]

    def read(self, partition: _NodeSlice):
        install_zip_guard()
        if not partition.nodes:
            return
        if not partition.want_vectors:
            for src, conns in partition.nodes:
                for layer_str, dsts in conns.items():
                    for dst in dsts:
                        yield (src, int(dst), int(layer_str))
            return
        offs = [t[1] for t in partition.nodes]
        lo, hi = offs[0], offs[-1]
        with open(os.path.join(partition.path, VECTORS_FILE), "rb") as f:
            rows, cols = struct.unpack("II", f.read(8))
            if hi >= rows:
                raise ValueError(
                    f"snapshot corrupt: vector_offset {hi} >= matrix rows {rows}"
                )
            f.seek(8 + lo * cols * 8)
            slab = np.frombuffer(
                f.read((hi - lo + 1) * cols * 8), dtype=np.float64
            ).reshape(hi - lo + 1, cols)
        for nid, off, level, md in partition.nodes:
            yield (nid, [float(x) for x in slab[off - lo]], level, md)


@dataclass
class _SpillMessage(WriterCommitMessage):
    file: str
    count: int


class VectorFlowWriter(DataSourceWriter):
    def __init__(self, options, schema, overwrite: bool):
        self.path = _require_path(options)
        self.params = {
            k: int(options[k])
            for k in ("M", "ef_construction", "ef_search", "max_elements")
            if k in options
        }
        self.max_elements = self.params.get("max_elements", DEFAULT_MAX_ELEMENTS)
        names = [f.name for f in schema.fields]
        if "id" not in names or "vector" not in names:
            raise ValueError(
                f"vectorflow sink needs (id, vector[, level][, metadata]); got {names}"
            )
        self.has_level = "level" in names
        self.has_meta = "metadata" in names
        self.staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex[:12]}")
        if os.path.exists(os.path.join(self.path, INDEX_FILE)) and not overwrite:
            raise ValueError(
                "vectorflow sink cannot append to an existing snapshot — the "
                "format is one dense offset-addressed matrix; use "
                "mode('overwrite'), or stream appends into parquet and export "
                "a fresh snapshot"
            )
        os.makedirs(self.staging, exist_ok=True)

    def write(self, iterator) -> _SpillMessage:
        from pyspark import TaskContext

        install_zip_guard()
        pid = TaskContext.get().partitionId()
        ids, levels, vecs, meta = [], [], [], {}
        for row in iterator:
            # fail fast: a single partition past the cap proves the table
            # can't fit the format — stop before spilling the rest (the
            # cross-partition total is still enforced at commit, which a
            # many-small-partitions write only reaches after staging)
            if len(ids) >= self.max_elements:
                raise ValueError(
                    f"partition {pid} alone exceeds max_elements="
                    f"{self.max_elements} (the reference's one-process "
                    "capacity, core/hnsw/graph.py:54); a table this size "
                    "belongs in parquet"
                )
            ids.append(int(row["id"]))
            levels.append(
                int(row["level"])
                if self.has_level and row["level"] is not None
                else 0
            )
            vecs.append(row["vector"])
            if self.has_meta and row["metadata"]:
                meta[str(int(row["id"]))] = row["metadata"]
        fname = os.path.join(self.staging, f"part-{pid:05d}.npz")
        np.savez(
            fname,
            ids=np.asarray(ids, dtype=np.int64),
            levels=np.asarray(levels, dtype=np.int64),
            X=vector_matrix(vecs, "vector"),
            meta=json.dumps(meta),
        )
        return _SpillMessage(file=fname, count=len(ids))

    def commit(self, messages) -> None:
        try:
            # the total is known before any spill is loaded
            check_capacity(sum(m.count for m in messages), self.max_elements)
            parts, store = [], {}
            for m in sorted(messages, key=lambda m: m.file):
                with np.load(m.file, allow_pickle=False) as z:
                    if z["ids"].size:
                        parts.append((z["ids"], z["levels"], z["X"]))
                        store.update(
                            (k, json.loads(v))
                            for k, v in json.loads(str(z["meta"])).items()
                        )
            ids, levels, X = (
                map(np.concatenate, zip(*parts))
                if parts
                else (np.zeros(0), np.zeros(0), np.zeros((0, 0)))
            )
            write_layout(self.path, ids, levels, X, store, params=self.params)
        finally:
            shutil.rmtree(self.staging, ignore_errors=True)

    def abort(self, messages) -> None:
        shutil.rmtree(self.staging, ignore_errors=True)


class VectorFlowDataSource(DataSource):
    """``format("vectorflow")``: the reference's snapshot layout in Spark's
    source/sink registry. Options: ``table`` = vectors (default) | edges,
    ``numPartitions`` (read), ``max_elements`` / ``M`` / ``ef_construction``
    / ``ef_search`` (write)."""

    @classmethod
    def name(cls) -> str:
        return "vectorflow"

    def schema(self) -> str:
        table = self.options.get("table", "vectors")
        if table == "edges":
            return EDGES_SCHEMA
        if table != "vectors":
            raise ValueError(f"unknown table {table!r}: 'vectors' or 'edges'")
        return VECTORS_SCHEMA

    def reader(self, schema) -> VectorFlowReader:
        return VectorFlowReader(self.options, self.options.get("table", "vectors"))

    def writer(self, schema, overwrite: bool) -> VectorFlowWriter:
        if self.options.get("table", "vectors") != "vectors":
            raise ValueError("vectorflow sink writes the vectors table only")
        return VectorFlowWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Idempotent registration: ``spark.dataSource.register`` keyed by name.

    Also ships this package to executor Python workers (the reader/writer
    classes are cloudpickled by reference, so the worker must be able to
    import the module — same deployment story as every mapInPandas
    operator here)."""
    ensure_package_shipped(spark)
    spark.dataSource.register(VectorFlowDataSource)
