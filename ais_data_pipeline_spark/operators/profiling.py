"""Profiling + type-tightening pass (SURVEY §4's one genuinely custom
engine component; reference §3.2 lifecycle).

The reference alternates plan mutation with sampled execution: estimate
in-memory size from a row sample (M4), measure per-column distinct
ratios and cast low-cardinality columns to categorical at thresholds
0.10 (strings) / 0.01 (numerics) (A2/T2/T3), measure min/max and
downcast integers with out-of-range rows quarantined (A3/T4-T6/P4/K4).

Spark-first shape: a driver-side planner that runs batched aggregation
actions (one agg per profile kind — single pass each) and then emits
ordinary DataFrame casts for Catalyst to execute. Zero custom optimizer
rules (SURVEY §4 conclusion). The pass a caller waits on profiles only
what the cast plan depends on; string distinct ratios decide no cast,
so callers measure them on a pass that already runs and apply
``categorical_strings`` afterwards. At 100 TB the distinct profile uses
HyperLogLog sketches and the sample estimator reads a bounded number of
rows — profiling cost is independent of table size.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ais_data_pipeline_spark.functions.numeric import smallest_int_type
from ais_data_pipeline_spark.operators.aggregates import distinct_ratios, min_max
from ais_data_pipeline_spark.operators.filters import fits_int32_or_null

#: Reference thresholds (notebooks/preprocessing_with_polars.ipynb:1862,2726).
STRING_CATEGORICAL_THRESHOLD = 0.10
NUMERIC_CATEGORICAL_THRESHOLD = 0.01


def estimate_size(df: DataFrame, n_rows: int | None = None, sample_rows: int = 50_000) -> dict:
    """Sampled memory estimate (reference M4, ``estimate_size``,
    notebooks/preprocessing_with_polars.ipynb:296-356): pull k rows to
    pandas, measure deep memory per column, extrapolate to n_rows.

    Uses ``limit(k)`` like the reference (with its documented
    first-rows bias caveat); the Arrow path keeps the transfer cheap.
    Returns {column: est_total_bytes} plus totals.
    """
    if n_rows is None:
        n_rows = df.count()
    sample = df.limit(sample_rows).toPandas()
    k = max(len(sample), 1)
    mem = sample.memory_usage(deep=True, index=False)
    per_col = {c: int(mem[c] / k * n_rows) for c in sample.columns}
    total = sum(per_col.values())
    return {
        "n_rows": n_rows,
        "sample_rows": k,
        "per_column_bytes": per_col,
        "est_total_bytes": total,
        "est_total_mib": total / (1024 * 1024),
    }


@dataclass
class TighteningPlan:
    """The decisions the pass made — inspectable before application."""

    categorical_strings: list[str] = field(default_factory=list)
    categorical_numerics: list[str] = field(default_factory=list)
    downcasts: dict[str, T.DataType] = field(default_factory=dict)
    quarantine_columns: list[str] = field(default_factory=list)


def plan_tightening(
    df: DataFrame,
    numeric_threshold: float = NUMERIC_CATEGORICAL_THRESHOLD,
    approx: bool = True,
) -> TighteningPlan:
    """Profile ``df`` and decide everything the written schema depends
    on: downcasts, quarantine columns and numeric categoricals.

    One min/max aggregate over the integer columns decides the
    downcasts; it carries no HyperLogLog, so it runs whole-stage
    code-generated. A narrowed column is never categorical, so distinct
    ratios are measured — in a second, small aggregate — only for the
    integer columns that do not narrow, and only when one exists.
    ``categorical_strings`` is left empty: it decides no cast, and the
    caller fills it from ratios measured on a pass it already runs.
    """
    int_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType, T.ByteType))
    ]
    plan = TighteningPlan()
    if not int_cols:
        return plan
    ranges = min_max(df, int_cols)
    for c in int_cols:
        lo, hi = ranges[c]
        target = smallest_int_type(lo, hi, allow_boolean=True)
        current = df.schema[c].dataType
        if _width(target) < _width(current):
            plan.downcasts[c] = target
        if isinstance(current, T.LongType) and (
            (lo is not None and lo < -(2**31)) or (hi is not None and hi > 2**31 - 1)
        ):
            plan.quarantine_columns.append(c)
    wide = [c for c in int_cols if c not in plan.downcasts]
    if wide:
        ratios = distinct_ratios(df, wide, approx=approx)
        plan.categorical_numerics = [c for c in wide if ratios[c] <= numeric_threshold]
    return plan


def categorical_strings(
    ratios: dict[str, float], threshold: float = STRING_CATEGORICAL_THRESHOLD
) -> list[str]:
    """The string columns of ``ratios`` (column → distinct ratio) that
    count as categorical (reference T2). The decision casts nothing —
    ``apply_tightening`` keeps them StringType — so the ratios can come
    from any pass over the same rows, such as the write's Observation."""
    return [c for c, r in ratios.items() if r <= threshold]


def _width(t: T.DataType) -> int:
    order = {T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4, T.LongType: 8}
    return order.get(type(t), 16)


def apply_tightening(df: DataFrame, plan: TighteningPlan) -> DataFrame:
    """Emit the casts the plan decided — one projection, no shuffle.

    Categorical columns stay StringType logically (numeric categoricals
    are stringified, reference T3); Parquet dictionary encoding supplies
    the physical win (SURVEY §1.2 Categorical row).
    """
    exprs = {}
    for c in plan.categorical_numerics:
        exprs[c] = F.col(c).cast("string")
    for c, t in plan.downcasts.items():
        exprs[c] = F.col(c).cast(t)
    return df.withColumns(exprs) if exprs else df


def int32_admission_predicate(columns: list[str]):
    """AND of per-column fits-int32-or-null predicates — the main-output
    admission rule whose complement is the quarantine set (reference
    notebooks/0_preprocessing.ipynb:3446-3468)."""
    from ais_data_pipeline_spark.operators.filters import all_horizontal

    return all_horizontal([fits_int32_or_null(c) for c in columns])
