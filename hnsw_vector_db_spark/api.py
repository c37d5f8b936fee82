"""VectorTable — the reference's serving surface as a library facade.

A user of the reference talks to six endpoints: POST /insert, POST
/search, POST /delete, POST /batch_insert, GET /stats, GET /health
(`api/rest/server.py:136-254`). This class maps that surface 1:1 onto
the engine's operators so switching is mechanical:

| reference endpoint | here | parity notes |
|---|---|---|
| POST /insert (`server.py:136-157`) | :meth:`insert` | dim inferred on first insert (`server.py:140-141`), dim mismatch raises (the 400 analog, `server.py:142-146`), auto id from a persisted counter (`graph.py:131-136` — but deterministic, no guess-the-id race), re-used external id overwrites (`graph.py:139` — here an explicit last-write-wins) |
| POST /batch_insert (`server.py:202-230`) | :meth:`batch_insert` | set-oriented, partial success: returns {"inserted", "failed"} like the reference's per-item failure count |
| POST /search (`server.py:159-186`) | :meth:`search` | k validated to [1, 1000] (`server.py:33`), per-hit metadata echo (`server.py:174`); PLUS a ``where`` predicate the reference cannot express |
| POST /delete (`server.py:188-200`) | :meth:`delete` | returns how many of the ids existed |
| GET /stats (`server.py:232-246`) | :meth:`stats` | one-row DataFrame |
| GET /health (`server.py:248-254`) | :meth:`health` | plain dict |
| save/load on lifespan (`core/storage/engine.py:23-126`) | :meth:`save_snapshot` / :meth:`from_snapshot` | reads/writes the reference's actual on-disk format — the migration path |

Storage is LOG-STRUCTURED (the Spark-native answer to the reference's
Raft command log, `distributed/raft/node.py:26-31`): every mutation
appends parquet rows stamped with a monotonically increasing version
from ``_meta.json``; :meth:`compact` folds the log into a fresh
generation. Mutations are SINGLE-WRITER by contract — exactly the
reference's model, whose every index op serializes under one global
RLock (`core/hnsw/graph.py:70`).

Reads follow the commit record: every read re-reads ``_meta.json``
(about 100 bytes), so a handle opened before another handle's write or
:meth:`compact` reads the committed version from the live generation.
The log is resolved ONCE per committed version: the first read of a
version runs the last-write-wins + tombstone window (one keyed window)
and materializes the result with ``localCheckpoint()``; the handle holds
that snapshot, and every later read at that version (search, count,
the write paths' existence and capacity checks, stats, compact,
search_approx) scans it. A replaced snapshot's blocks are released
explicitly, so a frame returned at one version must be collected before
the handle reads a later one (reading it after that fails: its blocks
are gone); an empty log is not materialized. ``cache()`` is not used:
Spark's cache manager would match a later read of the same log
directory against the cached plan and serve the old version.

Scale: appends are blind writes; the resolve window shuffles on the id
key only, once per version; search is the zero-shuffle ``knn_point``
scan of the held snapshot, one job (or the persisted-index ANN path via
:meth:`build_index` / :meth:`search_approx` for corpora where a scan is
too slow).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hnsw_vector_db_spark.operators.table import validate_k, validate_vectors

_LOG_SCHEMA = "id long, vector array<double>, metadata string, _version long, _op string"
_TABLE_SCHEMA = "id long, vector array<double>, metadata string"


class VectorTable:
    """One vector table rooted at a directory; see module docstring."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._meta_path = os.path.join(path, "_meta.json")
        if not os.path.exists(self._meta_path):
            raise FileNotFoundError(
                f"not a VectorTable (no _meta.json): {path}; use VectorTable.create"
            )
        self._refresh()
        # (version, resolved rows, the materialized RDD or None) of the
        # held snapshot
        self._snap: tuple[int, DataFrame, object] | None = None

    # -- lifecycle ---------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        dim: int | None = None,
        metric: str = "cosine",
        max_elements: int = 1_000_000,
    ) -> "VectorTable":
        """New empty table. ``dim=None`` defers to first-insert inference,
        the reference's behavior (`server.py:140-141`); ``max_elements``
        mirrors its capacity cap (`graph.py:54,129-130`)."""
        os.makedirs(path, exist_ok=True)
        meta = {
            "dim": dim,
            "metric": metric,
            "max_elements": max_elements,
            "version": 0,
            "next_id": 0,
            "log_gen": 0,
        }
        with open(os.path.join(path, "_meta.json"), "w") as f:
            json.dump(meta, f)
        return cls(spark, path)

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "VectorTable":
        return cls(spark, path)

    @classmethod
    def from_snapshot(
        cls, spark: SparkSession, snapshot_dir: str, path: str, metric: str = "cosine"
    ) -> "VectorTable":
        """MIGRATION: build a table from the reference's own snapshot
        files (index.msgpack + vectors.bin + metadata.json,
        `core/storage/engine.py:19-21`). Note the metric is caller-given:
        the reference's loader silently loses it (`engine.py:84-91`
        reloads any index as euclidean — SURVEY §1.3); we refuse to
        reproduce that by requiring it explicitly."""
        from hnsw_vector_db_spark.sources.vectorflow_snapshot import (
            read_snapshot_vectors,
        )

        vectors = read_snapshot_vectors(spark, snapshot_dir)
        dim = len(vectors.select("vector").first()["vector"])
        vt = cls.create(spark, path, dim=dim, metric=metric)
        vt.batch_insert(vectors)
        return vt

    def _refresh(self) -> None:
        """Re-read the commit record."""
        with open(self._meta_path) as f:
            self.meta = json.load(f)

    def _save_meta(self) -> None:
        with open(self._meta_path, "w") as f:
            json.dump(self.meta, f)

    def _log_dir(self) -> str:
        return os.path.join(self.path, f"log-{self.meta['log_gen']}")

    def _resolve(self) -> tuple[DataFrame, object]:
        """The log resolved at the committed version: last write per id
        wins, tombstones drop the id. One keyed window, materialized; an
        empty log gives an empty frame and no RDD."""
        d = self._log_dir()
        if not (os.path.exists(d) and any(f.endswith(".parquet") for f in os.listdir(d))):
            return self.spark.createDataFrame([], _TABLE_SCHEMA), None
        log = self.spark.read.schema(_LOG_SCHEMA).parquet(d)
        w = Window.partitionBy("id").orderBy(F.col("_version").desc())
        snap = (
            log.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .filter(F.col("_op") != "delete")
            .select("id", "vector", "metadata")
            .localCheckpoint()
        )
        return snap, snap._jdf.queryExecution().analyzed().rdd()

    def _append(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self._log_dir())

    # -- reads -------------------------------------------------------------
    def table(self) -> DataFrame:
        """The resolved current state (id, vector, metadata) at the
        committed version: the held snapshot, built on the first read of
        a version and released when a later version replaces it."""
        self._refresh()
        version = self.meta["version"]
        if self._snap is None or self._snap[0] != version:
            if self._snap is not None and self._snap[2] is not None:
                self._snap[2].unpersist(False)
            self._snap = (version, *self._resolve())
        return self._snap[1]

    def count(self) -> int:
        return self.table().count()

    # -- writes ------------------------------------------------------------
    def insert(self, vector, external_id: int | None = None, metadata: dict | None = None) -> int:
        """Single-vector insert, the POST /insert shape. Returns the id.
        Point writes pay a Spark job each — use :meth:`batch_insert` for
        real ingest (the reference's batch endpoint is itself a loop of
        these, `server.py:208-220`; ours is genuinely set-oriented)."""
        vec = [float(x) for x in vector]
        self._refresh()
        dim = self.meta["dim"]
        if dim is None:
            dim = len(vec)  # first-insert inference
        if len(vec) != dim:
            raise ValueError(f"dimension mismatch: expected {dim}, got {len(vec)}")
        # capacity guard (graph.py:129-130) — an overwrite of an EXISTING
        # external id doesn't grow the table, so it passes at the cap
        current = self.table()
        if current.count() >= self.meta["max_elements"]:
            grows = external_id is None or (
                current.filter(F.col("id") == int(external_id)).count() == 0
            )
            if grows:
                raise RuntimeError("index is full (max_elements reached)")
        self.meta["dim"] = dim
        vid = int(external_id) if external_id is not None else self.meta["next_id"]
        self.meta["next_id"] = max(self.meta["next_id"], vid + 1)
        self.meta["version"] += 1
        row = [(vid, vec, json.dumps(metadata or {}), self.meta["version"], "upsert")]
        self._append(self.spark.createDataFrame(row, _LOG_SCHEMA))
        self._save_meta()
        return vid

    def batch_insert(
        self,
        rows: DataFrame,
        id_col: str = "id",
        vector_col: str = "vector",
        metadata_col: str | None = "metadata",
    ) -> dict:
        """Set-oriented batch insert with the reference's partial-success
        contract (`server.py:202-230`): invalid rows (null / wrong dim)
        and rows beyond the remaining ``max_elements`` capacity
        (`graph.py:129-130`, lowest-id-first admitted) are counted as
        failed, the rest land in ONE append. Rows without an id get
        deterministic fresh ids from the persisted counter, minted ABOVE
        both the counter and the batch's explicit ids so a minted id can
        never collide with a caller-supplied one. Duplicate explicit ids
        WITHIN one batch are rejected up front (a DataFrame has no row
        order, so "last write wins" is undefined inside a single
        version; the reference's loop semantics need an ordered stream —
        send ordered duplicates as separate batches)."""
        src = rows
        self._refresh()
        dim = self.meta["dim"]
        if dim is None:
            first = src.filter(F.col(vector_col).isNotNull()).select(vector_col).first()
            if first is None:  # nothing inferable: every row is a reject
                return {"inserted": 0, "failed": src.count()}
            dim = len(first[0])
        cols = [F.col(vector_col).cast("array<double>").alias("vector")]
        if id_col in src.columns:
            cols.insert(0, F.col(id_col).cast("long").alias("id"))
        else:
            cols.insert(0, F.lit(None).cast("long").alias("id"))
        if metadata_col and metadata_col in src.columns:
            cols.append(F.col(metadata_col).cast("string").alias("metadata"))
        else:
            cols.append(F.lit("{}").alias("metadata"))
        src = src.select(*cols)
        valid, _rejects = validate_vectors(src, dim, "vector")
        # ONE job answers every up-front question the old code asked with
        # three (dup witness, src count, valid agg — r12, guide §1.2): a
        # per-id partial aggregate (validity is a row-level flag, so it
        # folds into the same pass), then one global aggregate over it.
        _vok = (
            F.col("vector").isNotNull()
            & (F.size("vector") == dim)
        ).cast("long")
        per_id = src.groupBy("id").agg(
            F.count(F.lit(1)).alias("_c"),
            F.sum(_vok).alias("_v"),
        )
        stats = per_id.agg(
            F.sum("_c").alias("n_src"),
            F.sum("_v").alias("n_valid"),
            F.sum(F.when(F.col("id").isNull(), F.col("_v"))).alias("n_new"),
            F.max(
                F.when(
                    F.col("id").isNotNull() & (F.col("_v") > 0), F.col("id")
                )
            ).alias("batch_max"),
            F.max(
                F.when(
                    F.col("id").isNotNull() & (F.col("_c") > 1), F.col("id")
                )
            ).alias("dup_id"),
        ).first()
        if stats["dup_id"] is not None:
            raise ValueError(
                f"duplicate id {stats['dup_id']} within one batch: last-write-"
                f"wins is undefined inside a single version — split the batch"
            )
        n_src = int(stats["n_src"] or 0)
        n_valid, n_new = int(stats["n_valid"] or 0), int(stats["n_new"] or 0)
        batch_max = stats["batch_max"]
        n_failed = n_src - n_valid
        # mint ids for id-less rows STRICTLY above every id in play
        need_ids = valid.filter(F.col("id").isNull())
        have_ids = valid.filter(F.col("id").isNotNull())
        start = max(
            self.meta["next_id"],
            (int(batch_max) + 1) if batch_max is not None else 0,
        )
        if n_new:
            w = Window.orderBy(F.monotonically_increasing_id())
            need_ids = need_ids.withColumn(
                "id", F.row_number().over(w) + F.lit(start - 1)
            )
        batch = have_ids.unionByName(need_ids)
        # capacity: existing ids overwrite in place; only NEW ids grow the
        # table, and only `room` of them are admitted (lowest id first).
        # ONE full-outer id join answers both counts the old code asked
        # with two jobs (how big is the table; how many batch ids are new
        # — r12, guide §1.2).
        current = self.table().select("id")
        cap = (
            current.withColumn("_cur", F.lit(1))
            .join(batch.select("id").withColumn("_bat", F.lit(1)), "id", "full")
            .agg(
                F.sum("_cur").alias("n_current"),
                F.sum(
                    F.when(F.col("_cur").isNull(), F.col("_bat"))
                ).alias("n_growing"),
            )
            .first()
        )
        n_current = int(cap["n_current"] or 0)
        growing = batch.join(current, "id", "left_anti")
        replacing = batch.join(current, "id", "left_semi")
        room = max(self.meta["max_elements"] - n_current, 0)
        n_overflow = max(int(cap["n_growing"] or 0) - room, 0)
        wr = Window.orderBy(F.col("id"))
        admitted = (
            growing.withColumn("_rn", F.row_number().over(wr))
            .filter(F.col("_rn") <= room)
            .drop("_rn")
        )
        batch = replacing.unionByName(admitted)
        self.meta["dim"] = dim
        self.meta["version"] += 1
        out = batch.select(
            "id",
            "vector",
            "metadata",
            F.lit(self.meta["version"]).alias("_version"),
            F.lit("upsert").alias("_op"),
        )
        n_ok = n_valid - n_overflow
        self._append(out)
        # next_id advances past every id the batch NAMED (admitted or not:
        # an id refused for capacity must not be re-minted later) and past
        # the minted block — the reference's current_id counter likewise
        # only grows and tolerates holes (`graph.py:131-136`)
        top = start + n_new - 1 if n_new else (batch_max if batch_max is not None else None)
        if batch_max is not None:
            top = max(int(top), int(batch_max))
        if top is not None:
            self.meta["next_id"] = max(self.meta["next_id"], int(top) + 1)
        self._save_meta()
        return {"inserted": n_ok, "failed": n_failed + n_overflow}

    def delete(self, ids) -> int:
        """Tombstone the ids (POST /delete). Returns how many existed."""
        ids = [int(i) for i in ids]
        existing = self.table().filter(F.col("id").isin(ids)).count()
        self.meta["version"] += 1
        rows = [
            (i, None, None, self.meta["version"], "delete") for i in ids
        ]
        self._append(self.spark.createDataFrame(rows, _LOG_SCHEMA))
        self._save_meta()
        return existing

    def compact(self) -> int:
        """Fold the log into a fresh generation (resolved rows only) —
        the small-files/compaction maintenance the log-structured layout
        needs; readers see an identical table before and after, and the
        superseded generation's files are REMOVED once the new one is
        fully written (single-writer contract — don't compact while a
        long-running reader still scans the old generation). The held
        snapshot stays: compaction does not change the version or the
        rows, so the next read does not resolve again."""
        import shutil

        resolved = self.table()
        old_dir = self._log_dir()
        self.meta["log_gen"] += 1
        out = resolved.select(
            "id",
            "vector",
            "metadata",
            F.lit(self.meta["version"]).alias("_version"),
            F.lit("upsert").alias("_op"),
        )
        out.write.mode("overwrite").parquet(self._log_dir())
        self._save_meta()  # new generation is live before the old one goes
        shutil.rmtree(old_dir, ignore_errors=True)
        return resolved.count()

    # -- queries -----------------------------------------------------------
    def search(self, query, k: int = 10, where=None) -> DataFrame:
        """Exact top-k (POST /search): (id, dist, metadata), ascending
        distance under the table's metric — the reference's result shape
        (`server.py:170-183`) with recall 1.0 by construction (its HNSW
        path is approximate-in-fact). ``where`` is a boolean Column over
        (id, metadata) — filtered search, which the reference cannot do
        (`server.py:174` only echoes metadata). No ``ef`` knob here:
        exactness needs none; the approximate path with its ef/nprobe
        dials is :meth:`search_approx`."""
        from hnsw_vector_db_spark.operators.knn import with_distance

        validate_k(k)
        t = self.table()
        if where is not None:
            t = t.filter(where)
        # single pass over the held snapshot: the knn_point plan (project
        # distance -> TakeOrderedAndProject) with metadata carried
        # through, one job and no shuffle at an unchanged version
        scored = with_distance(
            t, [float(x) for x in query], self.meta["metric"], "vector"
        )
        return (
            scored.select("id", "dist", "metadata")
            .orderBy(F.col("dist").asc(), F.col("id").asc())
            .limit(k)
        )

    def build_index(self, n_cells: int = 8, m: int = 8, ef_construction: int = 64) -> None:
        """Materialize the per-cell HNSW index for :meth:`search_approx`
        (build-once/search-many, the reference's lifecycle)."""
        from hnsw_vector_db_spark.operators.hnsw_partition import hnsw_build
        from hnsw_vector_db_spark.operators.similarity import ivf_fit

        assigned, centroids = ivf_fit(
            self.table(), n_cells=n_cells, id_col="id", vector_col="vector"
        )
        idx_dir = os.path.join(self.path, "hnsw_index")
        hnsw_build(
            assigned, metric=self.meta["metric"], m=m,
            ef_construction=ef_construction, id_col="id", vector_col="vector",
        ).write.mode("overwrite").parquet(idx_dir)
        self.meta["centroids"] = [[float(x) for x in c] for c in centroids]
        self.meta["index_version"] = self.meta["version"]
        self._save_meta()

    def search_approx(
        self, query, k: int = 10, ef: int = 64, nprobe: int = 2, where=None
    ) -> DataFrame:
        """ANN search over the materialized index — the reference's
        actual search path (`core/hnsw/graph.py:175-189`), with its ef
        knob (`server.py:34`) plus nprobe, and optional filtered search
        (``where`` over the table, applied via the allowed-set
        semi-join). The approximation is in the routing only: each of
        the ``nprobe`` probed cells small enough for
        :func:`~.operators.hnsw_partition.hnsw_search`'s exact scan
        (``n <= 64 * max(ef, k)`` nodes, every cell at typical sizes)
        returns its true top-k, and only a larger cell walks its graph
        with ``ef``. Requires :meth:`build_index`; raises if the index
        predates the latest write (stale index = silent wrong results,
        which the reference happily serves — we refuse)."""
        from hnsw_vector_db_spark.operators.hnsw_partition import hnsw_search

        current = self.table()
        if "centroids" not in self.meta:
            raise RuntimeError("no index: call build_index() first")
        if self.meta.get("index_version") != self.meta["version"]:
            raise RuntimeError(
                "index is stale (table mutated since build_index); rebuild"
            )
        validate_k(k)
        index = self.spark.read.parquet(os.path.join(self.path, "hnsw_index"))
        queries = self.spark.createDataFrame(
            [(0, [float(x) for x in query])], "query_id long, query_vec array<float>"
        )
        allowed = None
        if where is not None:
            allowed = current.filter(where).select(F.col("id"))
        hits = hnsw_search(
            index, queries, np.array(self.meta["centroids"], dtype=np.float64),
            k=k, ef=ef, nprobe=nprobe, metric=self.meta["metric"], id_col="id",
            allowed=allowed,
        )
        return (
            hits.select(F.col("id"), F.col("dist"))
            .join(current.select("id", "metadata"), "id", "left")
            .orderBy(F.col("dist").asc(), F.col("id").asc())
        )

    # -- introspection / persistence ----------------------------------------
    def stats(self) -> DataFrame:
        """GET /stats analog: one row of table-level facts."""
        return self.table().agg(
            F.count(F.lit(1)).alias("total_vectors"),
            F.lit(self.meta["dim"]).alias("dim"),
            F.lit(self.meta["metric"]).alias("metric"),
            F.lit(self.meta["max_elements"]).alias("max_elements"),
            F.lit(self.meta["version"]).alias("version"),
        )

    def health(self) -> dict:
        """GET /health analog."""
        return {"status": "healthy", "total_vectors": self.count()}

    def save_snapshot(self, snapshot_dir: str) -> None:
        """Export to the reference's on-disk snapshot layout — round-trips
        through `core/storage/engine.py`'s format."""
        from hnsw_vector_db_spark.sources.vectorflow_snapshot import write_snapshot

        write_snapshot(snapshot_dir, self.table())
