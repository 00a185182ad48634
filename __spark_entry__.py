"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship frontier-scheduling round (SURVEY §7 minimum
  slice) over sf0.001 testdata — synthesized frontier → skew-safe per-host
  budgeted selection → deterministic fetch order.
- ``queries()`` / ``oracle_sql()``: one entry per implemented operator
  family from SURVEY §2 plus the training-data pipeline operators
  (dedup / text analysis / similarity search / multimodal plumbing).
  All pairs live in ``web_crawler_spark.plans.analytics`` so library code
  and the driver contract stay in one place.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from web_crawler_spark.plans.analytics import REGISTRY, q_frontier_schedule


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_frontier_schedule(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted entries get the
    driver's weaker rows-only check).

    The read_parquet oracles (crawl, Bloom, render, zip, media) compare
    against expected parquet that independent pure-Python twins write; it
    is materialized here (no Spark needed), the only place that builds it,
    so those oracles run whichever side executes first."""
    from web_crawler_spark.plans.analytics import ensure_expected_outputs

    ensure_expected_outputs()
    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None}
