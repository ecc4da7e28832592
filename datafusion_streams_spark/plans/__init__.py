"""Physical-plan inspection helpers.

The reference's custom node blocks optimization (``with_new_children``
and ``statistics()`` are ``todo!()`` — `/root/reference/src/kafka/
execution.rs:55-60,114-116`); our operators must do the opposite:
*prove* the optimizer saw through them. These helpers let tests assert
pushdown/broadcast/codegen properties on ``explain('formatted')``
output, which is also the per-operator scale checklist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names the parquet scan actually reads (pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema:" in line:
            schema = line.split("ReadSchema:", 1)[1].strip()
            inner = schema[schema.find("<") + 1 : schema.rfind(">")]
            for fieldspec in inner.split(","):
                if ":" in fieldspec:
                    cols.append(fieldspec.split(":")[0].strip())
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)
