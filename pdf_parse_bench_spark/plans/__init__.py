"""Physical-plan audit helpers — assertions about the plans we ship.

Used by tests to pin the properties that matter at 100 TB: filters reaching
the parquet scan, narrow ReadSchema (column pruning), broadcast joins for
small dimensions, and no accidental cartesian products.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # same as .explain()
        df._jdf.queryExecution(), "formatted"
    )


def assert_read_schema_only(df: DataFrame, columns: set[str]) -> None:
    """The parquet ReadSchema must contain exactly these columns."""
    plan = formatted_plan(df)
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, f"no ReadSchema in plan:\n{plan}"
    for s in schemas:
        got = {c.split(":")[0].strip() for c in s.split(",") if c.strip()}
        assert got <= columns, (
            f"scan reads {got - columns} beyond {columns};\n{plan}"
        )


def assert_broadcast_join(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"expected a broadcast join;\n{plan}"
    )


def assert_no_cartesian(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, f"cartesian product!\n{plan}"
