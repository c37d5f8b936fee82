"""SparkSession construction with scale-appropriate defaults, and the
executor-side setup every engine Python UDF shares.

The reference boots one process per node with a global lock
(`core/hnsw/graph.py:70`); our unit of deployment is a SparkSession whose
configs are chosen for a many-executor cluster and merely exercised on
local[N] here.

Zip-directory guard (``install_zip_guard``). PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task. On CPython
<= 3.12 that makes each cached ``zipimporter`` re-parse its archive's
whole central directory: a worker holds 17 of them (12 over
``pyspark.zip``, 2 over the 5,359-entry spark-core jar, 2 over py4j and
1 over this package's shipped zip), about 26,700 entries per task. On a
4-core x86 host that measured 146-284 ms per task (48 tasks, median
214 ms) against a median of 0.14 ms with the guard. The guard replaces ``zipimporter.invalidate_caches`` inside a
worker with one that re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since this process last read it, and
otherwise re-points the importer at the shared cached directory; an
archive it cannot stat goes to the stdlib method. It is skipped on
Python >= 3.13, whose ``zipimport`` already invalidates lazily, and it
never patches the driver process. Plans, jobs and results do not change.

The guard must be reached from inside each UDF, not from the package
``__init__``: cloudpickle ships a closure such as ``knn``'s
``topk_block`` by value, so a worker can run engine UDFs for a whole
session without ever importing this package. Every engine UDF therefore
calls ``install_zip_guard()`` first; its first task in a worker pays the
old cost once and every later task in that worker skips it.

Row-capped collects (``bounded_collect``). Every pull of a small side to
the driver (a BPE histogram, a query batch, a seed table, the pairwise
kernel's right side, a snapshot export) is one ``limit(cap + 1)``
collect, which runs no job on a local relation. Past the cap it raises
an error naming the caller's cap parameter, or returns None so the
caller takes its distributed path. Only a kNN query batch past its
``chunk_size`` streams through a local iterator (one job per partition).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import DataFrame, SparkSession

# Defaults sized for the test harness (local[32], 128 GiB). On a real
# cluster these come from spark-submit; everything here is safe to override.
_DEFAULTS = {
    # AQE re-plans shuffles at runtime: coalesces small partitions, splits
    # skewed ones, and converts sort-merge joins to broadcast when a side
    # turns out small — all critical at 100 TB where static planning guesses
    # wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow makes pandas_udf / applyInPandas / toPandas batch-columnar
    # instead of row-pickled (~10-100x on the Python boundary).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Shuffle width for the local harness; on a cluster AQE coalesces from
    # a deliberately-high initial number instead.
    "spark.sql.shuffle.partitions": "32",
    # 128 MiB scan splits: big enough to amortize task overhead, small
    # enough that a 100 TB table still yields ~800k parallel splits.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Operators built on applyInPandas/mapInPandas close over classes and
    functions from this package; cloudpickle serializes those by
    *reference*, so the worker must be able to import the module. A host
    session (e.g. the verify driver) won't have the repo on PYTHONPATH —
    ship the package once per SparkContext via addPyFile (a zip of the
    package travels with every task's file server fetch, exactly how
    spark-submit --py-files deploys to a real cluster).
    """
    import os
    import tempfile
    import zipfile

    sc = spark.sparkContext
    if getattr(sc, "_hnsw_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"hnsw_vector_db_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
    sc.addPyFile(zpath)
    sc._hnsw_pkg_shipped = True


_STDLIB_ZIP_INVALIDATE = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when this process last read it
_zip_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads a changed archive only."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _STDLIB_ZIP_INVALIDATE(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _zip_stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stat before the read: a write racing the read leaves an older stamp,
    # so the next invalidation reads again
    _STDLIB_ZIP_INVALIDATE(self)
    _zip_stamps[self.archive] = stamp


def install_zip_guard() -> None:
    """Install the zip-directory guard in this PySpark worker (see the
    module docstring). Idempotent; a no-op on the driver, on Python >= 3.13
    and when ``zipimporter.invalidate_caches`` is already replaced."""
    if sys.version_info >= (3, 13):
        return
    if zipimport.zipimporter.invalidate_caches is not _STDLIB_ZIP_INVALIDATE:
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def bounded_collect(df: DataFrame, cap: int | None, error: str | None) -> list | None:
    """Collect ``df`` to the driver under a row cap with one
    ``limit(cap + 1)`` collect: a table past the cap is detected without
    collecting all of it. Over the cap this raises ``ValueError(error)``,
    which should name the caller's cap parameter, or returns None when
    ``error`` is None (the caller keeps a distributed path). ``cap=None``
    collects without a cap."""
    if cap is None:
        return df.collect()
    rows = df.limit(cap + 1).collect()
    if len(rows) <= cap:
        return rows
    if error is None:
        return None
    raise ValueError(error)


def get_spark(app_name: str = "hnsw_vector_db_spark", **overrides: str) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Master resolves from ``SPARK_GRAFT_CPUS`` (default ``local[*]``) so the
    same code path runs under the driver harness and on a cluster (where
    ``--master`` wins because an active session already exists).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf.update({k: str(v) for k, v in overrides.items()})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
