"""Distance builders vs numpy ground truth + metric axioms (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import importlib

D = importlib.import_module("hnsw_vector_db_spark.functions.distance")

RNG = np.random.RandomState(7)


def _pairs(n=20, dim=16):
    return [
        (RNG.randn(dim).tolist(), RNG.randn(dim).tolist()) for _ in range(n)
    ]


@pytest.fixture(scope="module")
def pair_df(spark):
    return spark.createDataFrame(
        _pairs(), "a array<double>, b array<double>"
    ).cache()


def _np_dist(metric, a, b):
    a, b = np.asarray(a), np.asarray(b)
    if metric == "euclidean":
        return float(np.linalg.norm(a - b))
    if metric == "manhattan":
        return float(np.abs(a - b).sum())
    if metric == "dot_product":
        return float(-np.dot(a, b))
    na, nb = np.linalg.norm(a), np.linalg.norm(b)
    if na == 0 or nb == 0:
        return 1.0
    return float(1.0 - np.dot(a, b) / (na * nb))


@pytest.mark.parametrize("metric", ["euclidean", "cosine", "manhattan", "dot_product"])
def test_matches_numpy(pair_df, metric):
    rows = pair_df.withColumn("d", D.distance("a", "b", metric)).collect()
    for r in rows:
        assert r["d"] == pytest.approx(_np_dist(metric, r["a"], r["b"]), abs=1e-9)


def test_zero_norm_guard(spark):
    """Reference graph.py:33-34: cosine vs zero vector -> 1.0."""
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0])], "a array<double>, b array<double>"
    )
    r = df.select(
        D.cosine("a", "b").alias("c1"), D.cosine("b", "a").alias("c2")
    ).first()
    assert r["c1"] == 1.0 and r["c2"] == 1.0


@pytest.mark.parametrize("metric", ["euclidean", "manhattan", "cosine"])
def test_symmetry_and_identity(pair_df, metric):
    rows = pair_df.select(
        D.distance("a", "b", metric).alias("ab"),
        D.distance("b", "a", metric).alias("ba"),
        D.distance("a", "a", metric).alias("aa"),
    ).collect()
    for r in rows:
        assert r["ab"] == pytest.approx(r["ba"], abs=1e-9)
        assert r["aa"] == pytest.approx(0.0, abs=1e-9)


def test_triangle_inequality(spark):
    trips = [
        (RNG.randn(8).tolist(), RNG.randn(8).tolist(), RNG.randn(8).tolist())
        for _ in range(30)
    ]
    df = spark.createDataFrame(trips, "a array<double>, b array<double>, c array<double>")
    for metric in ["euclidean", "manhattan"]:
        rows = df.select(
            D.distance("a", "b", metric).alias("ab"),
            D.distance("b", "c", metric).alias("bc"),
            D.distance("a", "c", metric).alias("ac"),
        ).collect()
        for r in rows:
            assert r["ac"] <= r["ab"] + r["bc"] + 1e-9


def test_normalize(spark):
    df = spark.createDataFrame([([3.0, 4.0],), ([0.0, 0.0],)], "a array<double>")
    rows = df.select(D.normalize("a").alias("n")).collect()
    assert rows[0]["n"] == pytest.approx([0.6, 0.8])
    assert rows[1]["n"] == [0.0, 0.0]
    # pre-normalized cosine == plain dot distance
    a, b = RNG.randn(8).tolist(), RNG.randn(8).tolist()
    df2 = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    r = df2.select(
        D.cosine("a", "b").alias("cos"),
        (F.lit(1.0) - D.dot_raw(D.normalize("a"), D.normalize("b"))).alias("dotn"),
    ).first()
    assert r["cos"] == pytest.approx(r["dotn"], abs=1e-9)


def test_unknown_metric_raises():
    with pytest.raises(ValueError, match="unknown metric"):
        D.distance("a", "b", "chebyshev")


def test_squared_euclidean_ordering(pair_df):
    rows = pair_df.select(
        D.euclidean("a", "b").alias("e"), D.squared_euclidean("a", "b").alias("se")
    ).collect()
    for r in rows:
        assert r["se"] == pytest.approx(r["e"] ** 2, rel=1e-9)


METRIC_NAMES = ["cosine", "euclidean", "manhattan", "dot_product", "squared_euclidean"]


@pytest.fixture(scope="module")
def const_rows(spark):
    """Random rows, a zero row, a wrong-length row and a null row."""
    rows = [(i, RNG.randn(8).tolist()) for i in range(12)]
    rows += [(12, [0.0] * 8), (13, [1.0] * 5), (14, None)]
    return spark.createDataFrame(rows, "id long, v array<double>")


@pytest.mark.parametrize("metric", METRIC_NAMES)
@pytest.mark.parametrize("query", ["random", "zero"])
@pytest.mark.parametrize("elem", ["double", "float"])
def test_sql_text_distance_equals_column_builders(const_rows, metric, query, elem):
    q = RNG.randn(8).tolist() if query == "random" else [0.0] * 8
    df = const_rows.withColumn("v", F.col("v").cast(f"array<{elem}>"))
    rows = df.select(
        "id",
        D.distance_to_const("v", q, metric).alias("text"),
        D.distance(F.col("v"), D.lit_double_array(q), metric).alias("cols"),
    ).collect()
    assert len(rows) == 15
    for r in rows:
        assert r["text"] == r["cols"], (r["id"], r["text"], r["cols"])
    wrong_length = next(r for r in rows if r["id"] == 13)
    if not (metric == "cosine" and query == "zero"):
        assert wrong_length["text"] is None


def test_sql_text_distance_unknown_metric_raises():
    with pytest.raises(ValueError, match="unknown metric"):
        D.distance_to_const("v", [1.0], "chebyshev")


def test_lit_double_array_non_finite_is_one_text(spark, monkeypatch):
    import math

    vals = [float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 5e-324, 1.5]
    ref = F.array(*[F.lit(v) for v in vals])
    # one F.expr parse, no per-element F.lit path
    monkeypatch.setattr(D.F, "lit", None)
    text = D.lit_double_array(vals)
    monkeypatch.undo()
    r = spark.range(1).select(text.alias("t"), ref.alias("r")).first()
    assert len(r["t"]) == len(vals)
    for a, b in zip(r["t"], r["r"]):
        assert (math.isnan(a) and math.isnan(b)) or (
            a == b and math.copysign(1.0, a) == math.copysign(1.0, b)
        )
