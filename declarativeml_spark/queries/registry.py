"""Registry of named queries and their DuckDB oracle SQL.

Every operator the engine claims (SURVEY.md §2) registers here: a
Spark callable ``(spark, sf_dir) -> DataFrame`` and, when the
semantics are ANSI-SQL-expressible, an equivalent DuckDB SQL string.
The driver hash-compares both at sf0.01.

Float-determinism convention (critical for value-hash parity):
  * per-row arithmetic stays in ``double`` — IEEE ops are
    bit-identical across Spark and DuckDB;
  * aggregation of doubles goes through ``DECIMAL(38,6)`` so the sum
    is exact and order-independent (Spark shuffles, DuckDB doesn't);
  * the final value is cast back to ``double``.
Ordering ties are always broken by a unique key so LIMIT/topk picks
identical rows in both engines.
"""

from __future__ import annotations

from collections.abc import Callable
from decimal import ROUND_HALF_UP, Context, Decimal
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None):
    """Decorator: register a query and (optionally) its oracle SQL."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent sum of a double expression via exact decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(38,6)")).cast("double").alias(alias)


# DECIMAL(38, s) arithmetic: Spark's widest decimal precision
DEC38 = Context(prec=38, rounding=ROUND_HALF_UP)


def spark_decimal(x: float, scale: int) -> Decimal:
    """``CAST(x AS DECIMAL(38, scale))`` as Spark computes it, on the
    driver: the decimal digits of ``Double.toString(x)``, rounded
    HALF_UP at ``scale``. ``repr`` gives the shortest round-trip
    digits; a JVM before 19 may print a longer string for a rare
    double, which changes the result only if that string crosses a
    rounding boundary. Sum the results under ``DEC38`` and ``float()``
    the sum to mirror a DECIMAL sum cast back to double (both round
    correctly)."""
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), context=DEC38)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent average: exact decimal sum / count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast("decimal(38,6)")).cast("double") / F.count(c)
    ).alias(alias)


def sround(col: Column | str, digits: int = 6) -> Column:
    """Half-up round in pure IEEE double ops — bit-identical across
    Spark and DuckDB (see ``operators.textops.stable_round``; native
    round() disagrees on last-ulp half boundaries)."""
    c = F.col(col) if isinstance(col, str) else col
    p = float(10**digits)
    return F.floor(c * F.lit(p) + F.lit(0.5)).cast("double") / F.lit(p)


# SQL-side equivalents for oracle strings.
def sql_sround(expr: str, digits: int = 6) -> str:
    from declarativeml_spark.operators.textops import stable_round

    return stable_round(expr, digits)


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )
