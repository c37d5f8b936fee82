"""format("vectorflow"): the snapshot codec in Spark's source/sink registry
(PySpark 4 Python DataSource API). Reference layout: three files,
`core/storage/engine.py:19-21`."""

import json
import os
import struct
import warnings

import pytest
from pyspark.sql import functions as F

from hnsw_vector_db_spark.sources.vectorflow_datasource import register
from hnsw_vector_db_spark.sources.vectorflow_snapshot import (
    msgpack_decode,
    read_snapshot_edges,
    read_snapshot_vectors,
    write_snapshot,
)


def _files(path):
    """(decoded index.msgpack, vectors.bin bytes, decoded metadata.json)."""
    with open(os.path.join(path, "index.msgpack"), "rb") as f:
        graph = msgpack_decode(f.read())
    with open(os.path.join(path, "vectors.bin"), "rb") as f:
        vbin = f.read()
    with open(os.path.join(path, "metadata.json")) as f:
        meta = json.load(f)
    return graph, vbin, meta


@pytest.fixture(scope="module")
def vectors(spark):
    register(spark)
    return spark.range(100).select(
        F.col("id"),
        F.array(*[(F.col("id") * (i + 1)).cast("double") for i in range(4)]).alias(
            "vector"
        ),
        (F.col("id") % 3).cast("int").alias("level"),
        F.to_json(F.struct((F.col("id") % 5).alias("tag"))).alias("metadata"),
    )


@pytest.fixture()
def snapshot(spark, vectors, tmp_path):
    edges = spark.createDataFrame(
        [(0, 1, 0), (1, 0, 0), (1, 2, 1)], "src long, dst long, layer int"
    )
    write_snapshot(str(tmp_path), vectors, edges=edges)
    return str(tmp_path)


def test_read_matches_function_reader(spark, snapshot):
    ds = spark.read.format("vectorflow").option("numPartitions", "5").load(snapshot)
    assert ds.rdd.getNumPartitions() == 5
    a = sorted(map(tuple, ds.collect()))
    b = sorted(map(tuple, read_snapshot_vectors(spark, snapshot).collect()))
    assert a == b and len(a) == 100


def test_read_edges_table(spark, snapshot):
    ds = spark.read.format("vectorflow").option("table", "edges").load(snapshot)
    a = sorted(map(tuple, ds.collect()))
    b = sorted(map(tuple, read_snapshot_edges(spark, snapshot).collect()))
    assert a == b == [(0, 1, 0), (1, 0, 0), (1, 2, 1)]


def test_write_roundtrip_exact(spark, vectors, tmp_path):
    dst = str(tmp_path / "out")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        vectors.write.format("vectorflow").mode("overwrite").option(
            "ef_search", "64"
        ).save(dst)
    back = spark.read.format("vectorflow").load(dst)
    a = sorted((r["id"], tuple(r["vector"]), r["level"], r["metadata"]) for r in back.collect())
    b = sorted((r["id"], tuple(r["vector"]), r["level"], r["metadata"]) for r in vectors.collect())
    assert a == b
    # the written layout is the reference's own: params + dense matrix +
    # metadata_store, entry_point a max-level node with min-id tiebreak
    graph, vbin, meta = _files(dst)
    assert struct.unpack("II", vbin[:8]) == (100, 4) and len(vbin) == 8 + 100 * 4 * 8
    assert graph["entry_point"] == 2  # ids with level==2: 2, 5, 8, ...
    assert meta["metadata_store"]["7"] == {"tag": 2}
    assert graph["current_id"] == 100 and graph["dim"] == 4
    assert graph["ef_search"] == 64 and graph["M"] == 16


def test_both_writers_write_the_same_files(spark, vectors, tmp_path):
    a, b = str(tmp_path / "fn"), str(tmp_path / "sink")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        write_snapshot(a, vectors)
        vectors.write.format("vectorflow").mode("overwrite").save(b)
    assert _files(a) == _files(b)


def test_write_snapshot_rejects_duplicate_id(spark, vectors, tmp_path):
    dst = str(tmp_path / "dup")
    with pytest.raises(ValueError, match="duplicate id"):
        write_snapshot(dst, vectors.union(vectors.filter("id = 7")))
    assert not os.path.exists(os.path.join(dst, "index.msgpack"))


def test_write_snapshot_capacity_guard(spark, vectors, tmp_path):
    dst = str(tmp_path / "cap")
    with pytest.raises(ValueError, match="max_elements=10"):
        write_snapshot(dst, vectors, params={"max_elements": 10})
    assert not os.path.exists(os.path.join(dst, "index.msgpack"))


def test_empty_table_roundtrip(spark, vectors, tmp_path):
    """Both writers write all three files for an empty table, with a
    (0, 0) matrix header, and it reads back empty."""
    empty = vectors.limit(0)
    a, b = str(tmp_path / "fn"), str(tmp_path / "sink")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        write_snapshot(a, empty)
        empty.write.format("vectorflow").mode("overwrite").save(b)
    graph, vbin, meta = _files(a)
    assert _files(b) == (graph, vbin, meta)
    assert vbin == struct.pack("II", 0, 0)
    assert graph["nodes"] == {} and graph["entry_point"] is None
    assert graph["current_id"] == 0 and meta["total_nodes"] == 0
    assert read_snapshot_vectors(spark, a).count() == 0
    assert read_snapshot_edges(spark, a).count() == 0


def test_append_to_existing_snapshot_rejected(spark, vectors, snapshot):
    with pytest.raises(Exception, match="append|existing"):
        vectors.write.format("vectorflow").mode("append").save(snapshot)


def test_capacity_guard(spark, vectors, tmp_path):
    dst = str(tmp_path / "cap")
    with pytest.raises(Exception, match="max_elements"):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            vectors.write.format("vectorflow").mode("overwrite").option(
                "max_elements", "10"
            ).save(dst)


def test_read_tolerates_offset_holes(spark, tmp_path):
    """Offsets need not be dense (the reference writes them densely, but a
    third-party tool deleting rows could leave holes): each partition
    seek-reads the [min, max] slab of ITS slice and indexes relative
    offsets, so gaps must come back with the right vectors, not shifted
    ones."""
    import json as _json
    import struct

    import numpy as np

    from hnsw_vector_db_spark.sources.vectorflow_datasource import register
    from hnsw_vector_db_spark.sources.vectorflow_snapshot import msgpack_encode

    register(spark)
    X = np.arange(18, dtype=np.float64).reshape(6, 3)  # 6 rows, 3 used
    nodes = {
        "10": {"id": 10, "level": 0, "connections": {"0": []}, "vector_offset": 0},
        "11": {"id": 11, "level": 0, "connections": {"0": []}, "vector_offset": 2},
        "12": {"id": 12, "level": 0, "connections": {"0": []}, "vector_offset": 5},
    }
    (tmp_path / "index.msgpack").write_bytes(
        msgpack_encode({"dim": 3, "entry_point": 10, "current_id": 13, "nodes": nodes})
    )
    with open(tmp_path / "vectors.bin", "wb") as f:
        f.write(struct.pack("II", 6, 3))
        f.write(X.tobytes())
    (tmp_path / "metadata.json").write_text(_json.dumps({"metadata_store": {}}))
    got = {
        r["id"]: r["vector"]
        for r in spark.read.format("vectorflow")
        .option("numPartitions", "2")
        .load(str(tmp_path))
        .collect()
    }
    assert got == {10: [0.0, 1.0, 2.0], 11: [6.0, 7.0, 8.0], 12: [15.0, 16.0, 17.0]}


def test_unknown_table_rejected(spark, snapshot):
    with pytest.raises(Exception, match="unknown table"):
        spark.read.format("vectorflow").option("table", "nope").load(snapshot).collect()
