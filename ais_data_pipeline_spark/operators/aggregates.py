"""Aggregation operators (reference A1-A6) plus the grouped layer the
reference lacks (SURVEY §2.5 "Absent": Spark built-ins, exposed here).

The per-column profiling aggregates batch EVERY column into ONE ``agg``
so each profile is a single partial+final aggregation pass over the
data — one scan, no shuffle beyond the final combine, exactly how a
100 TB profile must run. Keep HyperLogLog (``approx_count_distinct``)
out of an aggregate that something waits on when it can ride a pass
that runs anyway: it is an imperative aggregate, so Spark drops
whole-stage code generation for the whole ``agg`` it appears in.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def distinct_count_aggs(columns: list[str], approx: bool = False) -> list[Column]:
    """One ``<column>__nd`` distinct count per column — the aggregates
    behind ``distinct_ratios``, for a caller that adds them to a pass it
    already runs (an ``Observation`` on a write) beside its own row
    count; ``ratios_from`` turns the result into ratios."""
    cd = F.approx_count_distinct if approx else F.count_distinct
    return [cd(F.col(c)).alias(f"{c}__nd") for c in columns]


def ratios_from(metrics, columns: list[str], n_rows: int) -> dict[str, float]:
    """Distinct ratios from a ``distinct_count_aggs`` result (a Row or an
    ``Observation``'s dict) over ``n_rows`` rows; no rows reads as one,
    so every ratio is 0."""
    n = n_rows or 1
    return {c: metrics[f"{c}__nd"] / n for c in columns}


def distinct_ratios(df: DataFrame, columns: list[str], approx: bool = False) -> dict[str, float]:
    """Distinct-count / row-count per column, all in one aggregation
    (reference A2, notebooks/preprocessing_with_polars.ipynb:1858-1862).

    ``approx=True`` swaps in HyperLogLog (``approx_count_distinct``) —
    the right call at 100 TB since the consumer is a 0.1/0.01 threshold
    rule that tolerates approximation (SURVEY §2.5 A2).
    """
    row = df.agg(
        *distinct_count_aggs(columns, approx), F.count(F.lit(1)).alias("__n")
    ).first()
    return ratios_from(row, columns, row["__n"])


def min_max(df: DataFrame, columns: list[str]) -> dict[str, tuple]:
    """Min+max for every column in one batched agg (reference A3,
    notebooks/0_preprocessing.ipynb:3385-3390)."""
    aggs = []
    for c in columns:
        aggs.append(F.min(F.col(c)).alias(f"{c}__min"))
        aggs.append(F.max(F.col(c)).alias(f"{c}__max"))
    row = df.agg(*aggs).first()
    return {c: (row[f"{c}__min"], row[f"{c}__max"]) for c in columns}


def salted_grouped(
    df: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str],
    buckets: int = 16,
    count_alias: str = "n",
) -> DataFrame:
    """Skew-resistant grouped count+sum: phase 1 aggregates on
    (keys, random salt) so one hot key spreads over ``buckets``
    reducers; phase 2 merges the partials on the true keys.

    The merge input is |keys|×buckets rows — negligible — so the
    expensive shuffle is the salted one, which is balanced by
    construction. Sum columns must be exact types (decimal/int): the
    two-phase reassociation reorders additions, which only equals the
    single-phase result for associative exact arithmetic, not doubles.
    """
    salt = (F.rand(seed=7) * buckets).cast("int")
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(
            F.count(F.lit(1)).alias("__pn"),
            *[F.sum(c).alias(f"__ps_{a}") for c, a in sum_cols.items()],
        )
    )
    return partial.groupBy(*keys).agg(
        F.sum("__pn").alias(count_alias),
        *[F.sum(f"__ps_{a}").alias(a) for a in sum_cols.values()],
    )
