"""The executor-side zip-directory guard (``session.install_zip_guard``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; on CPython <= 3.12 that re-parses every cached zip archive's
directory. The guard makes a worker re-read an archive only when its
(mtime, size) changed. These tests pin that a changed archive is still
re-read, an unchanged one is not, the driver is never patched, every
engine UDF reaches the installer, and Python >= 3.13 is left alone.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import textwrap
import zipimport
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _run(script: str, timeout: int = 120) -> subprocess.CompletedProcess:
    """Run ``script`` in a fresh interpreter with the repo importable."""
    done = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=REPO,
        env=dict(os.environ, PYTHONPATH=str(REPO)),
        capture_output=True, text=True, timeout=timeout,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    return done


# a PySpark worker is told apart from the driver by its TaskContext;
# these subprocesses fake one so the installer acts as it would in a task
_FAKE_WORKER = """
from pyspark import TaskContext
TaskContext._getOrCreate()
from hnsw_vector_db_spark import session
"""


def test_changed_archive_is_reread_and_unchanged_one_is_not(tmp_path):
    """A rewritten archive loads its new module body; an unchanged one is
    never re-read; an archive that vanished goes to the stdlib method."""
    done = _run(_FAKE_WORKER + f"""
import importlib, os, sys, zipfile, zipimport

session.install_zip_guard()
assert zipimport.zipimporter.invalidate_caches is session._invalidate_if_changed

zp = {str(tmp_path / "mods.zip")!r}
def write(v):
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("m.py", f"v = {{v}}\\n")

write(1)
sys.path.insert(0, zp)
import m
assert m.v == 1
write(22)  # one byte longer, so the size changes whatever the mtime does
importlib.invalidate_caches()
del sys.modules["m"]
import m
assert m.v == 22, m.v

reads = []
real = zipimport._read_directory
def counted(path):
    reads.append(path)
    return real(path)
zipimport._read_directory = counted
for _ in range(5):
    importlib.invalidate_caches()
assert reads == [], reads

os.remove(zp)
importlib.invalidate_caches()
assert zp not in zipimport._zip_directory_cache
print("ok")
""")
    assert done.stdout.strip() == "ok"


def test_driver_keeps_stdlib_invalidate():
    """Importing the package, or calling the installer outside a task,
    leaves the driver's zipimporter untouched."""
    import hnsw_vector_db_spark  # noqa: F401
    from hnsw_vector_db_spark import session

    session.install_zip_guard()
    assert zipimport.zipimporter.invalidate_caches is session._STDLIB_ZIP_INVALIDATE
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_installer_skips_python_313():
    """On Python >= 3.13 (lazy zipimport invalidation) nothing is patched."""
    done = _run(_FAKE_WORKER + """
import sys, zipimport

real = sys.version_info
sys.version_info = (3, 13, 0, "final", 0)
session.install_zip_guard()
assert zipimport.zipimporter.invalidate_caches is session._STDLIB_ZIP_INVALIDATE
sys.version_info = real
print("ok")
""")
    assert done.stdout.strip() == "ok"


def test_guard_reaches_every_worker_of_a_knn_session():
    """``knn_batch_twophase``'s UDF is shipped by value, so only a call
    inside it installs the guard: after it runs, a plain probe UDF that
    never imports the engine sees the guard in every worker it lands on."""
    done = _run("""
from pyspark.sql import SparkSession

from hnsw_vector_db_spark.operators.knn import knn_batch_twophase

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
vectors = spark.createDataFrame(
    [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(64)],
    "vec_id long, embedding array<double>",
).repartition(4)
queries = spark.createDataFrame(
    [(q, [float(q), 1.0, 0.5]) for q in range(3)],
    "query_id long, query_vec array<double>",
)
for _ in range(2):
    assert knn_batch_twophase(queries, vectors, k=3).count() == 9


def probe(batches):
    import os
    import zipimport

    import pandas as pd

    fn = zipimport.zipimporter.invalidate_caches
    for _ in batches:
        pass
    yield pd.DataFrame({"pid": [os.getpid()], "guard": [fn.__module__]})


rows = spark.range(0, 2, 1, 2).mapInPandas(probe, "pid long, guard string").collect()
print(sorted({(r.pid, r.guard) for r in rows}))
assert rows and all(r.guard == "hnsw_vector_db_spark.session" for r in rows)
spark.stop()
""", timeout=300)
    assert "hnsw_vector_db_spark.session" in done.stdout


# ---------------------------------------------------------------------------
# static coverage: every engine UDF body calls install_zip_guard() first

_UDF_METHODS = {
    "mapInPandas", "applyInPandas", "applyInPandasWithState",
    "mapInArrow", "applyInArrow", "mapPartitions",
}
# Python data source classes: the method each runs inside a task
_WORKER_METHODS = {"DataSourceReader": "read", "DataSourceWriter": "write"}


def _calls_guard_first(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if (
        isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]
    for stmt in body:
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            continue
        return (
            isinstance(stmt, ast.Expr)
            and isinstance(stmt.value, ast.Call)
            and getattr(stmt.value.func, "id", None) == "install_zip_guard"
        )
    return False


def _udf_bodies(tree: ast.Module) -> list[ast.FunctionDef]:
    """The function definitions a module hands to Spark as Python UDFs."""
    defs: dict[str, list[ast.FunctionDef]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            defs.setdefault(node.name, []).append(node)

    names: set[str] = set()

    def add_arg(arg: ast.AST) -> None:
        if isinstance(arg, ast.Name):
            names.add(arg.id)
        elif isinstance(arg, ast.Lambda):  # lambda ik, qk: per_cell(ik, qk)
            for c in ast.walk(arg.body):
                if isinstance(c, ast.Call) and isinstance(c.func, ast.Name):
                    names.add(c.func.id)
        elif isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name):
            # a factory such as _session_fn(gap_us): its nested defs
            for factory in defs.get(arg.func.id, []):
                for inner in factory.body:
                    if isinstance(inner, ast.FunctionDef):
                        names.add(inner.name)

    out: list[ast.FunctionDef] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr in _UDF_METHODS and node.args:
                add_arg(node.args[0])
            elif getattr(f, "id", None) == "pandas_udf" and node.args:
                add_arg(node.args[0])
        elif isinstance(node, ast.FunctionDef):
            for d in node.decorator_list:
                target = d.func if isinstance(d, ast.Call) else d
                if getattr(target, "id", None) == "pandas_udf":
                    out.append(node)
        elif isinstance(node, ast.ClassDef):
            decorated = any(
                getattr(d.func if isinstance(d, ast.Call) else d, "id", None) == "udtf"
                for d in node.decorator_list
            )
            bases = [getattr(b, "id", None) for b in node.bases]
            method = "eval" if decorated else next(
                (_WORKER_METHODS[b] for b in bases if b in _WORKER_METHODS), None
            )
            out.extend(
                m for m in node.body
                if isinstance(m, ast.FunctionDef) and m.name == method
            )
    for name in names:
        out.extend(defs.get(name, []))
    return out


def test_every_engine_udf_installs_the_guard():
    sources = sorted((REPO / "hnsw_vector_db_spark").rglob("*.py"))
    sources.append(REPO / "__spark_entry__.py")
    checked, missing = 0, []
    for path in sources:
        tree = ast.parse(path.read_text())
        for fn in _udf_bodies(tree):
            checked += 1
            if not _calls_guard_first(fn):
                missing.append(f"{path.relative_to(REPO)}:{fn.lineno} {fn.name}")
    assert not missing, missing
    # every UDF site a grep finds today (a shrinking count means the
    # scan above lost track of a call shape, not that sites vanished)
    assert checked >= 40, checked
