"""VectorTable facade: the reference's REST surface end-to-end.

Each test mirrors a server behavior by file:line (see api.py's table);
together they prove a reference user can switch by swapping HTTP calls
for method calls.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hnsw_vector_db_spark.api import VectorTable


@pytest.fixture()
def vt(spark, tmp_path):
    return VectorTable.create(spark, str(tmp_path / "vt"), metric="euclidean")


def test_insert_infers_dim_and_rejects_mismatch(vt):
    vid = vt.insert([1.0, 2.0, 3.0])
    assert vid == 0
    assert vt.meta["dim"] == 3  # server.py:140-141 first-insert inference
    with pytest.raises(ValueError, match="dimension mismatch"):
        vt.insert([1.0, 2.0])  # server.py:142-146 -> 400
    assert vt.count() == 1


def test_insert_overwrite_by_external_id_is_upsert(vt):
    vt.insert([0.0, 0.0], external_id=7, metadata={"v": "a"})
    vt.insert([1.0, 1.0], external_id=7, metadata={"v": "b"})
    rows = vt.table().collect()
    assert len(rows) == 1  # graph.py:139 silent overwrite -> explicit LWW
    assert json.loads(rows[0]["metadata"]) == {"v": "b"}
    assert rows[0]["vector"] == [1.0, 1.0]
    # auto ids continue past the external id (graph.py:131-136 counter)
    assert vt.insert([2.0, 2.0]) == 8


def test_batch_insert_partial_success(spark, vt):
    rows = spark.createDataFrame(
        [
            Row(vector=[1.0, 0.0]),
            Row(vector=[0.0, 1.0]),
            Row(vector=[1.0, 2.0, 3.0]),  # wrong dim after inference
            Row(vector=None),
        ]
    )
    out = vt.batch_insert(rows)
    assert out == {"inserted": 2, "failed": 2}  # server.py:202-230 contract
    assert vt.count() == 2


def test_delete_tombstones_and_reports_existing(vt):
    vt.insert([1.0, 0.0], external_id=1)
    vt.insert([0.0, 1.0], external_id=2)
    assert vt.delete([2, 99]) == 1  # only id 2 existed (server.py:188-200)
    ids = {r["id"] for r in vt.table().collect()}
    assert ids == {1}


def test_search_shape_metadata_echo_and_filter(vt):
    vt.insert([0.0, 0.0], external_id=0, metadata={"lang": "en"})
    vt.insert([1.0, 0.0], external_id=1, metadata={"lang": "de"})
    vt.insert([5.0, 5.0], external_id=2, metadata={"lang": "en"})
    hits = vt.search([0.1, 0.0], k=2).collect()
    assert [r["id"] for r in hits] == [0, 1]  # ascending distance
    assert json.loads(hits[0]["metadata"]) == {"lang": "en"}  # server.py:174
    # filtered search — beyond the reference's surface
    en_only = vt.search(
        [0.1, 0.0], k=2,
        where=F.get_json_object("metadata", "$.lang") == "en",
    ).collect()
    assert [r["id"] for r in en_only] == [0, 2]
    with pytest.raises(ValueError, match="k must be"):
        vt.search([0.0, 0.0], k=0)  # server.py:33 bound


def test_capacity_cap(spark, tmp_path):
    vt = VectorTable.create(spark, str(tmp_path / "cap"), max_elements=2)
    vt.insert([1.0])
    vt.insert([2.0])
    with pytest.raises(RuntimeError, match="full"):
        vt.insert([3.0])  # graph.py:129-130


def test_compact_preserves_resolved_table(vt):
    vt.insert([1.0, 0.0], external_id=1, metadata={"k": "a"})
    vt.insert([9.0, 9.0], external_id=1, metadata={"k": "b"})  # overwrite
    vt.insert([0.0, 1.0], external_id=2)
    vt.delete([2])
    before = sorted(map(tuple, vt.table().collect()))
    n = vt.compact()
    assert n == 1
    assert sorted(map(tuple, vt.table().collect())) == before


def test_index_lifecycle_and_staleness_guard(spark, vt, sf_dir):
    from hnsw_vector_db_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vector"),
        F.to_json(F.struct("label")).alias("metadata"),
    )
    vt.batch_insert(emb)
    with pytest.raises(RuntimeError, match="no index"):
        vt.search_approx([0.0] * 64)
    vt.build_index(n_cells=4)
    q = emb.filter(F.col("id") == 5).first()["vector"]
    hits = vt.search_approx(q, k=1, ef=64, nprobe=4).collect()
    assert hits[0]["id"] == 5 and hits[0]["dist"] < 1e-6
    # filtered approx: restrict to odd labels; id 5 has some label — just
    # assert every hit satisfies the predicate
    odd = vt.search_approx(
        q, k=3, ef=96, nprobe=4,
        where=F.get_json_object("metadata", "$.label").cast("int") % 2 == 1,
    ).collect()
    assert odd
    allowed = {
        r["id"]
        for r in vt.table()
        .filter(F.get_json_object("metadata", "$.label").cast("int") % 2 == 1)
        .collect()
    }
    assert {r["id"] for r in odd} <= allowed
    # any mutation makes the index stale -> refuse silently-wrong serving
    vt.insert([0.5] * 64)
    with pytest.raises(RuntimeError, match="stale"):
        vt.search_approx(q)


def test_snapshot_roundtrip_via_reference_format(spark, vt, tmp_path):
    vt.insert([1.0, 2.0], external_id=3, metadata={"tag": "x"})
    vt.insert([4.0, 5.0], external_id=9)
    snap = str(tmp_path / "snap")
    vt.save_snapshot(snap)
    vt2 = VectorTable.from_snapshot(
        spark, snap, str(tmp_path / "vt2"), metric="euclidean"
    )
    a = {r["id"]: (r["vector"], json.loads(r["metadata"] or "{}"))
         for r in vt.table().collect()}
    b = {r["id"]: (r["vector"], json.loads(r["metadata"] or "{}"))
         for r in vt2.table().collect()}
    assert a == b


def test_batch_insert_minted_ids_never_collide_with_explicit(spark, vt):
    rows = spark.createDataFrame(
        [Row(id=1, vector=[1.0, 0.0]), Row(id=None, vector=[0.0, 1.0]),
         Row(id=None, vector=[1.0, 1.0])]
    )
    out = vt.batch_insert(rows)
    assert out == {"inserted": 3, "failed": 0}
    ids = sorted(r["id"] for r in vt.table().collect())
    assert len(ids) == 3 and len(set(ids)) == 3
    assert 1 in ids and min(i for i in ids if i != 1) > 1  # minted above


def test_batch_insert_null_first_vector_still_partial_success(spark, vt):
    rows = spark.createDataFrame(
        [Row(vector=None), Row(vector=[1.0, 2.0])]
    )
    out = vt.batch_insert(rows)
    assert out == {"inserted": 1, "failed": 1}
    assert vt.meta["dim"] == 2  # inferred from the first NON-null row


def test_batch_insert_rejects_intra_batch_duplicate_ids(spark, vt):
    rows = spark.createDataFrame(
        [Row(id=5, vector=[1.0]), Row(id=5, vector=[2.0])]
    )
    with pytest.raises(ValueError, match="duplicate id"):
        vt.batch_insert(rows)


def test_batch_insert_enforces_capacity(spark, tmp_path):
    vt = VectorTable.create(spark, str(tmp_path / "cap2"), max_elements=2)
    rows = spark.createDataFrame(
        [Row(id=i, vector=[float(i)]) for i in range(4)]
    )
    out = vt.batch_insert(rows)
    assert out == {"inserted": 2, "failed": 2}  # lowest ids admitted
    assert sorted(r["id"] for r in vt.table().collect()) == [0, 1]
    # overwriting an EXISTING id at the cap is allowed (doesn't grow)
    out2 = vt.batch_insert(
        spark.createDataFrame([Row(id=0, vector=[9.0])])
    )
    assert out2 == {"inserted": 1, "failed": 0}
    assert vt.count() == 2
    # point insert with a NEW external id at the cap is refused
    with pytest.raises(RuntimeError, match="full"):
        vt.insert([7.0], external_id=42)
    vt.insert([8.0], external_id=1)  # overwrite passes at the cap


def test_compact_removes_superseded_generation(spark, vt):
    import os

    vt.insert([1.0, 2.0])
    old_dir = vt._log_dir()
    vt.compact()
    assert not os.path.exists(old_dir)
    assert vt.count() == 1


def _brute(rows, q, metric, k, keep=lambda vid, md: True):
    """Numpy top-k over {id: (vector, metadata)} for the reference metrics."""
    import numpy as np

    live = [(i, np.asarray(v)) for i, (v, md) in sorted(rows.items()) if keep(i, md)]
    q = np.asarray(q)
    scored = []
    for i, v in live:
        if metric == "euclidean":
            d = float(np.linalg.norm(v - q))
        elif metric == "manhattan":
            d = float(np.abs(v - q).sum())
        elif metric == "dot_product":
            d = float(-(v @ q))
        else:
            nv, nq = np.linalg.norm(v), np.linalg.norm(q)
            d = 1.0 if nv == 0 or nq == 0 else float(1.0 - (v @ q) / (nv * nq))
        scored.append((d, i))
    return sorted(scored)[:k]


@pytest.mark.parametrize("metric", ["cosine", "euclidean", "manhattan", "dot_product"])
def test_search_after_each_write_matches_brute_force(spark, tmp_path, metric):
    import numpy as np

    rng = np.random.default_rng(11)
    vt = VectorTable.create(spark, str(tmp_path / metric), dim=6, metric=metric)
    model = {}

    def put(i):
        v = rng.standard_normal(6).tolist()
        model[i] = (v, json.dumps({"tag": i % 3}))
        return Row(id=i, vector=v, metadata=model[i][1])

    vt.batch_insert(spark.createDataFrame([put(i) for i in range(20)]))
    even = F.get_json_object("metadata", "$.tag").cast("int") % 2 == 0

    def check(step):
        q = rng.standard_normal(6).tolist()
        for where, keep in (
            (None, lambda i, md: True),
            (even, lambda i, md: json.loads(md)["tag"] % 2 == 0),
        ):
            got = vt.search(q, k=5, where=where).collect()
            want = _brute(model, q, metric, 5, keep)
            assert [r["id"] for r in got] == [i for _, i in want], step
            assert [r["dist"] for r in got] == pytest.approx([d for d, _ in want], abs=1e-9)
            assert all(r["metadata"] == model[r["id"]][1] for r in got)

    check("batch_insert")
    v = rng.standard_normal(6).tolist()
    vt.insert(v, external_id=3, metadata={"tag": 7})  # overwrite
    model[3] = (v, json.dumps({"tag": 7}))
    check("insert")
    assert vt.delete([5, 8]) == 2
    del model[5], model[8]
    check("delete")
    out = vt.batch_insert(spark.createDataFrame([put(i) for i in (1, 30, 31)]))
    assert out == {"inserted": 3, "failed": 0}
    check("batch_insert again")
    assert vt.compact() == len(model)
    check("compact")


def test_warm_search_is_one_job_without_shuffle(spark, tmp_path, jobs_in_group):
    from hnsw_vector_db_spark.plans.explain import physical_plan

    vt = VectorTable.create(spark, str(tmp_path / "t"), metric="cosine")
    vt.batch_insert(
        spark.createDataFrame([Row(id=i, vector=[float(i), 1.0, -2.0]) for i in range(50)])
    )
    vt.insert([1.0, 2.0, 3.0], external_id=7)
    vt.search([1.0, 0.0, 0.0], k=3).collect()  # the first read of the version
    hits = []

    def warm_search():
        hits.append(vt.search([0.0, 1.0, 0.0], k=3))
        hits[0].collect()

    assert jobs_in_group("warm-search", warm_search) == 1
    plan = physical_plan(hits[0])
    assert "Exchange" not in plan and "Window" not in plan, plan


def test_reader_handle_follows_the_commit_record(spark, tmp_path):
    path = str(tmp_path / "t")
    writer = VectorTable.create(spark, path, metric="euclidean")
    writer.insert([0.0, 0.0], external_id=1)
    reader = VectorTable.open(spark, path)
    assert reader.count() == 1
    writer.insert([3.0, 4.0], external_id=2)
    assert reader.count() == 2
    writer.compact()  # removes the generation the reader last scanned
    assert reader.count() == 2
    assert [r["id"] for r in reader.search([3.0, 4.0], k=2).collect()] == [2, 1]
    writer.delete([1])
    assert [r["id"] for r in reader.search([0.0, 0.0], k=2).collect()] == [2]
    # the reader's own write mints past the writer's ids
    assert reader.insert([1.0, 1.0]) == 3
    assert writer.count() == 2


def test_snapshots_are_released_when_replaced(spark, tmp_path):
    jsc = spark.sparkContext._jsc.sc()

    def persisted():
        ids = jsc.getPersistentRDDs().keys().mkString(",")
        return {int(x) for x in ids.split(",")} if ids else set()

    base = persisted()
    vt = VectorTable.create(spark, str(tmp_path / "t"), metric="euclidean")
    vt.insert([0.0, 1.0])
    held = set()
    for i in range(10):
        vt.insert([float(i), 2.0])
        vt.search([0.0, 0.0], k=2).collect()
        new = persisted() - base
        held.add(vt._snap[2].id())
        # exactly one snapshot held: this version's, none of the replaced
        assert new == {vt._snap[2].id()}, (i, new, held)
    assert len(held) == 10
