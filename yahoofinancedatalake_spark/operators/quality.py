"""Declarative data-quality checks over DataFrames.

A training-data pipeline gates every landing on expectations (null
rates, ranges, uniqueness, referential membership). These run as ONE
aggregation pass per table — each rule compiles to a conditional
aggregate, so a 100-rule suite over 100 TB costs a single scan with
map-side partial aggregation, not 100 scans.

The reference's only validation is ad-hoc ``dropna``/isna handling at
indexing time (to_elasticsearch.py:83-109); this makes the checks a
first-class, testable operator.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """One expectation: ``name`` + a boolean Column ``ok`` that must
    hold per row (``violations`` = rows where it doesn't)."""

    name: str
    ok: Column


def not_null(col: str) -> Rule:
    return Rule(f"not_null_{col}", F.col(col).isNotNull())


def in_range(col: str, lo, hi) -> Rule:
    """Closed range; null fails (range implies presence)."""
    c = F.col(col)
    return Rule(f"range_{col}", c.isNotNull() & (c >= lo) & (c <= hi))


def one_of(col: str, values: list) -> Rule:
    c = F.col(col)
    return Rule(f"one_of_{col}", c.isNotNull() & c.isin(values))


def check(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate all rules in one aggregation pass.

    Returns one row per rule: (rule, n_rows, n_violations,
    violation_rate). A single scan — every rule is a
    ``count_if(NOT ok)`` conditional aggregate, partially aggregated
    map-side like any count.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for r in rules:
        aggs.append(F.count_if(~r.ok).alias(r.name))
    row = df.agg(*aggs)
    per_rule = F.array(
        *[
            F.struct(
                F.lit(r.name).alias("rule"),
                F.col(r.name).alias("n_violations"),
            )
            for r in rules
        ]
    )
    return (
        row.select("n_rows", F.explode(per_rule).alias("r"))
        .select(
            F.col("r.rule").alias("rule"),
            "n_rows",
            F.col("r.n_violations").alias("n_violations"),
            # exact IEEE quotient — cross-engine deterministic; nullif
            # guards the empty-table case (ANSI mode raises
            # DIVIDE_BY_ZERO otherwise) → null rate on zero rows
            (
                F.col("r.n_violations").cast("double")
                / F.nullif(F.col("n_rows").cast("double"), F.lit(0.0))
            ).alias("violation_rate"),
        )
    )

