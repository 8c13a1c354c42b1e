"""Role/tool lookup dimensions for broadcast-join enrichment (SURVEY §2.6).

The reference joins nothing; the north rule adds broadcast hash joins of
parsed turns against small lookup dims. One literal ``VALUES`` text feeds
the DuckDB oracle CTE and Spark, where it plans as a driver-local
``LocalTableScan``: no Python worker runs, unlike a ``createDataFrame`` dim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ROLE_COLS = ("role", "role_group", "is_agent")  # string, string, boolean
ROLE_DIM = [
    ("user", "human", False),
    ("assistant", "agent", True),
    ("system", "control", False),
    ("tool", "agent", True),
]

TOOL_COLS = ("tool", "tool_family", "is_side_effecting")  # string, string, boolean
TOOL_DIM = [
    ("bash", "shell", True),
    ("search", "retrieval", False),
    ("python", "runtime", True),
    ("browser", "web", False),
]


def role_dim(spark: SparkSession) -> DataFrame:
    return spark.sql("SELECT * FROM " + _values_cte(ROLE_DIM, ROLE_COLS))


def tool_dim(spark: SparkSession) -> DataFrame:
    return spark.sql("SELECT * FROM " + _values_cte(TOOL_DIM, TOOL_COLS))


def _values_cte(rows, cols) -> str:
    def fmt(v):
        return str(v).lower() if isinstance(v, bool) else f"'{v}'"
    vals = ", ".join("(" + ", ".join(fmt(v) for v in r) + ")" for r in rows)
    return f"(SELECT * FROM (VALUES {vals}) AS t({', '.join(cols)}))"


def duckdb_role_dim_cte() -> str:
    return "role_dim AS " + _values_cte(ROLE_DIM, ROLE_COLS)


def duckdb_tool_dim_cte() -> str:
    return "tool_dim AS " + _values_cte(TOOL_DIM, TOOL_COLS)
