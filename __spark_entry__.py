"""Driver contract of the engine's query registry (PySpark target).

``entry(spark)`` runs the flagship pricing-summary aggregation on sf0.001;
``queries()`` / ``oracle_sql()`` expose the engine's oracle-checked registry
(agent_data_wrangler_spark/queryset*.py) — one entry per implemented operator
from SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from agent_data_wrangler_spark.queryset import QUERIES

    return QUERIES["a1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (relational tier in
    queryset.py, LLM-data-pipeline tier in queryset_nstar.py), in registration
    order."""
    from agent_data_wrangler_spark.queryset import QUERIES as Q1
    from agent_data_wrangler_spark.queryset_nstar import QUERIES as Q2

    return {**Q1, **Q2}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable SQL equivalent for each registered query; every query
    carries one (tests/test_oracle_parity.py). Engine-hash paths such as the
    n5/n7/n8/n9 near-duplicate and ANN queries carry verdict oracles: the
    invariant (recall vs exact, subset/containment) is computed in Spark and
    emitted as verdict booleans next to hard values DuckDB recomputes from
    scratch."""
    from agent_data_wrangler_spark.queryset import ORACLE
    from agent_data_wrangler_spark.queryset_nstar import ORACLE as NSTAR

    return {**ORACLE, **NSTAR}
