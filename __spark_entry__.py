"""Query catalogue contract (PySpark target).

``entry(spark)`` runs the flagship one-pass profiling query at sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2 (plus
the net-new scale operators) as ``(spark, sf_dir) -> DataFrame``, in
registration order; ``oracle_sql()`` gives the DuckDB-equivalent SQL for
each (omitted only for genuinely non-SQL-expressible ops, which get
rows-only checks). ``tests/test_entry_oracle.py`` runs both sides and
compares them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from thoth_spark import entry_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: full default profiling
    surface of the events table in one pass."""
    return entry_queries.QUERIES["profile_events_exact"](
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(entry_queries.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(entry_queries.ORACLES)
