"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

``queries()`` and ``oracle_sql()`` list names in registration order:
module by module, as ``openweathermapapi_etl_spark/plans/__init__.py``
imports them. Consumers look queries up by name; none depends on that
order.

Contract note — ``rows_only_by_design()``: the three queries absent
from ``oracle_sql()`` are oracle-less DELIBERATELY, not by omission
(arrival-order / hash-implementation dependence; each has a pytest
semantic pin). The driver renders a no-oracle query as an
``err:no_oracle`` row, which reads red in an otherwise green run;
``rows_only_by_design()`` returns ``{name: reason}`` so any consumer of
the driver's results can pass the justification through instead.

All real logic lives in ``openweathermapapi_etl_spark`` (see
SURVEY.md §2 for the operator inventory this exports).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from openweathermapapi_etl_spark.plans import (  # noqa: E402
    ORACLES,
    QUERIES,
    ROWS_ONLY_BY_DESIGN,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q3-shaped join+agg+sort+limit) on sf0.001."""
    return QUERIES["flagship_q3"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB twins; queries absent here get the rows-only check."""
    return dict(ORACLES)


def rows_only_by_design() -> dict[str, str]:
    """``{query_name: reason}`` for every query DELIBERATELY lacking an
    oracle — see the module docstring. Always a subset of ``queries()``
    and disjoint from ``oracle_sql()`` (enforced at registration)."""
    return dict(ROWS_ONLY_BY_DESIGN)
