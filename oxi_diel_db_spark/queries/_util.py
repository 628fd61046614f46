"""Shared helpers for oracle-matched queries.

Cross-engine determinism for floating point:

* A per-row arithmetic expression (``a * (1 - b)``) is bit-identical in
  Spark and DuckDB — both are IEEE-754 binary64 with left-assoc
  evaluation — so raw projected doubles hash-match.
* An *aggregated* double (SUM/AVG) is NOT: accumulation order differs
  across engines/partitions. Exact pattern: scale to integer cents,
  ``SUM(CAST(ROUND(x*100) AS BIGINT))`` — integer sums are
  order-independent — then divide once at the end.
* Statistics (corr/stddev/percentile) cannot be made exact; they are
  ROUND()ed well below their FP noise floor in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from oxi_diel_db_spark import tables

    return tables.load(spark, name, sf_dir)


def r6(col: Column, alias: str) -> Column:
    """ROUND(x, 6) + 0 — the +0 canonicalizes IEEE −0.0 to +0.0 (Spark's
    round already returns +0.0, DuckDB's keeps −0.0; the SQL twin adds
    + 0 as well so both engines emit identical bits)."""
    return (F.round(col, 6) + F.lit(0.0)).alias(alias)


def cents(col: Column | str) -> Column:
    """Exact order-independent money representation: ROUND(x*100)→BIGINT."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100, 0).cast("bigint")


def sum_money(col: Column | str, alias: str) -> Column:
    """SUM(double) with deterministic cross-engine value (via cent-sum)."""
    return (F.sum(cents(col)) / 100.0).alias(alias)


def avg_money(col: Column | str, alias: str) -> Column:
    """AVG(double), deterministic: exact cent-sum / count."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(cents(c)) / 100.0 / F.count(c)).alias(alias)


# SQL-side twins (DuckDB syntax == ANSI here)
SQL_CENTS = "CAST(ROUND({x} * 100, 0) AS BIGINT)"


def sql_sum_money(x: str) -> str:
    return f"SUM({SQL_CENTS.format(x=x)}) / 100.0"


def sql_avg_money(x: str) -> str:
    return f"SUM({SQL_CENTS.format(x=x)}) / 100.0 / COUNT({x})"
