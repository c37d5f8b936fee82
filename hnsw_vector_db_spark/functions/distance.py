"""Distance metrics as pure Column expressions over ``ARRAY<numeric>``.

Reference parity: the four metrics of ``core/hnsw/graph.py:23-43``
(euclidean :24-26, cosine-as-1-minus-sim with zero-norm guard :28-35,
manhattan :37-39, negated dot product :41-43) and the name-string dispatch
of ``graph.py:53,65``. All metrics sort ascending = most similar first,
exactly as the reference arranges (cosine returned as 1-sim, dot negated).

Spark-first design: these are built from the array higher-order functions
(``zip_with`` + ``aggregate``), NOT Python UDFs — the expressions stay
JVM-side inside whole-stage codegen, so a distance over a 100 TB vector
column never crosses the Python boundary. Inputs are cast elementwise to
DOUBLE first (the reference computes in float64 too, `engine.py:82`), which
also makes results bit-comparable with a DuckDB oracle casting ``::DOUBLE[]``.

The distance from a named column to a constant query vector, which every
single-query search projects, is :func:`distance_to_const`: the same tree
as the builders, written as one SQL text and parsed by one ``F.expr``.
:func:`lit_double_array` writes its constant arrays the same way,
non-finite values included.

Every decode of a vector column into numpy is :func:`vector_matrix`. The
two operators that broadcast a small side to numpy blocks (the BLAS kNN
and centroid assignment) share :func:`block_distances`, the same four
metrics over float64 matrices.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(c: Column | str) -> Column:
    """Column-ize and cast to array<double> so arithmetic is float64."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("array<double>")


def _double_sql(v: float) -> str:
    """One DOUBLE as SQL text. Finite values are ``repr`` (the shortest
    round-trip form, which the parser converts IEEE-exactly) with a ``D``
    suffix: a bare ``0.0`` parses as DECIMAL. NaN and the infinities have
    no literal, so they are string casts, which constant folding turns
    into the same double literals."""
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return "CAST('Infinity' AS DOUBLE)" if v > 0 else "CAST('-Infinity' AS DOUBLE)"
    return f"{v!r}D"


def _double_array_sql(vals: list[float]) -> str:
    return "array(" + ",".join(_double_sql(v) for v in vals) + ")"


def lit_double_array(values) -> Column:
    """``array(<double literals>)`` built in ONE py4j round-trip.

    r12 optimization round (guide §1.2, driver cost): the idiomatic
    ``F.array(*[F.lit(float(v)) for v in vs])`` pays ~2 py4j calls per
    element — ~0.25 s per 64-dim query vector and ~1 s for a dim-1024
    table, per CALL, on the driver. One ``F.expr`` parse of the literal
    text (:func:`_double_sql` per element, non-finite values included)
    collects to the same doubles, -0.0, NaN and the infinities too."""
    vals = [float(v) for v in values]
    if not vals:
        return F.array()
    return F.expr(_double_array_sql(vals))


def lit_long_array(values) -> Column:
    """``array(<bigint literals>)`` in one round-trip — the integer twin
    of :func:`lit_double_array`."""
    vals = [int(v) for v in values]
    if not vals:
        return F.array()
    return F.expr("array(" + ",".join(f"{v}L" for v in vals) + ")")


def dot_raw(a: Column | str, b: Column | str) -> Column:
    """Plain (un-negated) dot product — building block for cosine/dot."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str) -> Column:
    """L2 norm of a vector column."""
    return F.sqrt(dot_raw(a, a))


def normalize(a: Column | str) -> Column:
    """Unit-normalize a vector (zero vector passes through unchanged).

    Pre-normalizing the corpus once turns every cosine query into a plain
    dot product — at scale this halves the flops and, done at write time,
    amortizes to zero. (The reference recomputes both norms per comparison,
    ``graph.py:30-32``.)

    NOTE: as a single Column expression the norm aggregate sits inside
    the per-element lambda and the generated code re-evaluates it per
    element (~2.8x slower, measured sf0.1). In a hot path prefer
    :func:`select_normalized`, which projects the norm to a plain column
    first.
    """
    a = _d(a)
    n = norm(a)
    return F.when(n == 0.0, a).otherwise(F.transform(a, lambda x: x / n))


def select_normalized(df, vector_col: str, out_col: str, *keep: str):
    """``df.select(*keep, normalize(vector_col) AS out_col)`` with the
    norm projected to a plain column BEFORE the per-element division —
    the codegen'd lambda then reads a scalar instead of re-running the
    aggregate per element (2.8x faster at 64 dims, measured sf0.1)."""
    base = df.select(*keep, _d(vector_col).alias("_nv")).select(
        *keep, "_nv", norm("_nv").alias("_nn")
    )
    unit = F.when(F.col("_nn") == 0.0, F.col("_nv")).otherwise(
        F.transform("_nv", lambda x: x / F.col("_nn"))
    )
    return base.select(*keep, unit.alias(out_col))


def squared_euclidean(a: Column | str, b: Column | str) -> Column:
    """Squared L2 — same ordering as euclidean, no sqrt; use for top-k."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def euclidean(a: Column | str, b: Column | str) -> Column:
    """L2 distance (reference `graph.py:24-26`)."""
    return F.sqrt(squared_euclidean(a, b))


def manhattan(a: Column | str, b: Column | str) -> Column:
    """L1 distance (reference `graph.py:37-39`)."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine distance = 1 - cosine similarity, with the reference's
    zero-norm guard returning 1.0 (`graph.py:33-34`)."""
    na, nb = norm(a), norm(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(1.0)).otherwise(
        F.lit(1.0) - dot_raw(a, b) / (na * nb)
    )


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Negated dot product so ascending sort = most similar first
    (reference `graph.py:41-43`)."""
    return -dot_raw(a, b)


METRICS = {
    "euclidean": euclidean,
    "cosine": cosine,
    "manhattan": manhattan,
    "dot_product": dot_product,
    "squared_euclidean": squared_euclidean,
}


def distance(a: Column | str, b: Column | str, metric: str = "euclidean") -> Column:
    """Name-string metric dispatch (reference `graph.py:53,65`
    ``getattr(DistanceMetric, distance_metric)``)."""
    return _metric_fn(metric)(a, b)


def _metric_fn(metric: str):
    try:
        return METRICS[metric]
    except KeyError:
        raise ValueError(
            f"unknown metric {metric!r}; one of {sorted(METRICS)}"
        ) from None


def _sql_name(name: str) -> str:
    """A column name as SQL text, read the way ``F.col`` reads it: dots
    separate nested fields unless the caller already back-quoted it."""
    if "`" in name:
        return name
    return ".".join(f"`{part}`" for part in name.split("."))


def _sum_sql(a: str, b: str, term: str) -> str:
    """``aggregate(zip_with(a, b, term), 0.0D, +)``: the text of
    :func:`dot_raw` and its siblings, left-to-right like theirs."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> {term}), 0.0D, (acc, v) -> acc + v)"


def distance_to_const(vector_col: str, query, metric: str = "euclidean") -> Column:
    """Distance from the named array column to a constant query vector,
    as ONE SQL text parsed by one ``F.expr``.

    The tree is the one the Column builders above make for
    ``distance(F.col(vector_col), lit_double_array(query), metric)``,
    operation for operation, so the collected doubles are equal (a row of
    another length gives null, as there). Built through the Column API
    a 64-dim query's cosine tree cost 36-44 ms of driver time per call in
    py4j round trips on a 4-core x86 host; as text it costs 0.4 ms. For
    cosine the query norm is computed here on the driver (Catalyst does
    not constant-fold ``aggregate`` over a literal array, so it would
    re-reduce the query per row), with the reference's zero-norm guard
    (`graph.py:33-34`): a zero query is 1.0 for every row."""
    _metric_fn(metric)  # an unknown name raises here
    vals = [float(v) for v in query]
    a = f"CAST({_sql_name(vector_col)} AS ARRAY<DOUBLE>)"
    q = f"CAST({_double_array_sql(vals)} AS ARRAY<DOUBLE>)"
    if metric == "cosine":
        qn = math.sqrt(sum(v * v for v in vals))
        if qn == 0.0:
            return F.lit(1.0)
        na = f"sqrt({_sum_sql(a, a, 'x * y')})"
        text = (
            f"CASE WHEN {na} = 0.0D THEN 1.0D "
            f"ELSE 1.0D - {_sum_sql(a, q, 'x * y')} / ({na} * {_double_sql(qn)}) END"
        )
    elif metric == "dot_product":
        text = f"-({_sum_sql(a, q, 'x * y')})"
    elif metric == "manhattan":
        text = _sum_sql(a, q, "abs(x - y)")
    else:
        text = _sum_sql(a, q, "(x - y) * (x - y)")
        if metric == "euclidean":
            text = f"sqrt({text})"
    return F.expr(text)


def vector_matrix(values, col: str) -> np.ndarray:
    """Decode a vector column's cells (collected Row fields, or a pandas
    Series inside a UDF) into the C-contiguous float64 ``(n, d)`` matrix
    every exact and ANN kernel reads; ``(0, 0)`` for no rows. A null
    vector or vectors of different lengths raise ``ValueError`` naming
    ``col``, not numpy's nameless shape error."""
    vals = list(values)
    lens = [-1 if v is None else len(v) for v in vals]
    if -1 in lens:
        raise ValueError(f"vector column {col!r} has a null vector at row {lens.index(-1)}")
    if len(set(lens)) > 1:
        i = next(i for i, n in enumerate(lens) if n != lens[0])
        raise ValueError(
            f"vector column {col!r} mixes dimensions: row 0 has {lens[0]}, row {i} has {lens[i]}"
        )
    return np.array(vals, dtype=np.float64) if vals else np.zeros((0, 0))


def unit_rows(X: np.ndarray) -> np.ndarray:
    """Rows of ``X`` scaled to unit L2 norm; zero rows stay zero (so their
    cosine distance is 1.0, the reference's zero-norm guard)."""
    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.where(n == 0, 1.0, n)


def block_distances(X: np.ndarray, Y: np.ndarray, metric: str) -> np.ndarray:
    """The ``(len(X), len(Y))`` distance matrix between float64 row blocks,
    in numpy/BLAS form, for the operators that broadcast one side to the
    executors (``knn_batch_twophase``, ``assign_to_centroids_blas``). For
    cosine, ``Y`` must already be :func:`unit_rows` (callers normalize
    the broadcast side once on the driver). Euclidean is
    ``||x||^2 - 2x.y + ||y||^2``, which can differ from the Column
    expressions' sum of squares in the last ulp. Any other metric name
    is euclidean. Blocks of different widths raise ``ValueError`` giving
    both widths."""
    if X.shape[1] != Y.shape[1]:
        raise ValueError(
            f"vector width mismatch: rows of width {X.shape[1]} against "
            f"broadcast vectors of width {Y.shape[1]}"
        )
    if metric == "cosine":
        return 1.0 - unit_rows(X) @ Y.T
    if metric == "dot_product":
        return -(X @ Y.T)
    if metric == "manhattan":
        return np.abs(X[:, None, :] - Y[None, :, :]).sum(axis=2)
    return np.sqrt(
        np.maximum(
            (X * X).sum(1)[:, None] - 2.0 * (X @ Y.T) + (Y * Y).sum(1)[None, :],
            0.0,
        )
    )
