"""Registry plumbing for oracle-checked queries.

Each query is a named callable ``(spark, sf_dir) -> DataFrame`` plus the
ANSI-SQL oracle string that DuckDB runs on the same parquet tables.
The driver compares row-count + schema + order-insensitive value hash
(columns sorted by name), so:

- every computed column is aliased identically in both the Spark plan and
  the oracle SQL;
- float aggregations accumulate in *exact integer* space (scaled-bigint
  sums, one final division) so the two engines produce bit-identical
  doubles regardless of FP summation order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str  # ANSI SQL for DuckDB
    survey_ref: str  # SURVEY.md §2 operator ids this query covers
    doc: str


QUERIES: dict[str, Query] = {}


def query(name: str, survey_ref: str, oracle: str) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as an oracle-checked query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = Query(
            name=name,
            fn=fn,
            oracle=oracle.strip(),
            survey_ref=survey_ref,
            doc=(fn.__doc__ or "").strip(),
        )
        return fn

    return deco


def query_map() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_map() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items()}
