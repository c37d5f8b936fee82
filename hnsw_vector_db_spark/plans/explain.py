"""Plan-inspection helpers: make physical-plan properties testable.

The reference has no optimizer to inspect (SURVEY.md §4); for us the
optimizer IS the engine, so plan shape is part of the contract and gets
asserted in tests: filters reach the parquet scan, small sides broadcast,
top-k plans as TakeOrderedAndProject, nothing silently cross-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def shuffle_count(df: DataFrame) -> int:
    """Number of exchanges in the physical plan — the scale metric that
    matters most; assert it doesn't regress."""
    return physical_plan(df).count("Exchange")


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Assert each fragment appears in PushedFilters of some scan."""
    plan = physical_plan(df)
    lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    blob = "\n".join(lines)
    for frag in fragments:
        assert frag in blob, f"filter {frag!r} not pushed; scans: {blob or plan}"


def assert_no_cartesian(df: DataFrame) -> None:
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, f"unexpected cartesian product:\n{plan}"


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in physical_plan(df)


def broadcast_join_count(df: DataFrame) -> int:
    """Joins executed with a broadcast side (hash or nested-loop — the
    latter is what an intentional broadcast cartesian plans as)."""
    plan = physical_plan(df)
    return plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")


def node_class(node) -> str:
    """Simple class name of a JVM plan node (logical or physical)."""
    return node.getClass().getSimpleName()


def iter_tree(node):
    """Depth-first walk of a JVM plan tree (logical or physical — both
    expose children() the same way). Shared by the lint and rewrite
    modules so tree-traversal fixes land once."""
    yield node
    for i in range(node.children().size()):
        yield from iter_tree(node.children().apply(i))
