"""Column transforms / scalar functions (reference T1-T8).

Everything is a built-in-functions projection — JVM-side, codegen'd, no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def parse_date_lenient(df: DataFrame, columns: list[str], fmt: str | None = None) -> DataFrame:
    """String→Date with unparseable → null (reference T1,
    ``str.strptime(pl.Date, strict=False)``, notebooks/
    preprocessing_with_polars.ipynb:1490-1494). ``try_to_date`` nulls
    on failure under ANSI too, where ``to_date`` raises
    CAST_INVALID_INPUT; without ANSI both optimize to the same plan."""
    out = df
    for c in columns:
        out = out.withColumn(c, F.try_to_date(F.col(c), fmt))
    return out


def ranged_downcast(col: str, target: T.DataType, lo: int, hi: int) -> Column:
    """Reference T4: ``when(in-range OR null) cast(target) otherwise
    null`` — out-of-range becomes null instead of erroring (reference
    notebooks/0_preprocessing.ipynb:3414-3419)."""
    c = F.col(col)
    return (
        F.when(c.isNull() | c.between(lo, hi), c.cast(target))
        .otherwise(F.lit(None).cast(target))
        .alias(col)
    )


def snapshot_diff(old, new, keys: list[str], compare_cols: list[str] | None = None):
    """Change-data-capture diff between two table snapshots: full outer
    join on the key, classify each key as added / removed / changed
    (any compared column differs, null-safely) — unchanged rows drop.
    The ETL regression-diff and incremental-sync primitive; one
    co-partitioned shuffle on the key, no collect.
    """
    from pyspark.sql import functions as F

    compare_cols = compare_cols or [c for c in old.columns if c not in keys]
    # presence must be judged on the join sides, not a nullable value
    # column — use a sentinel from each side
    o = old.select(*keys, F.lit(1).alias("__old"), *[F.col(c).alias(f"old_{c}") for c in compare_cols])
    n = new.select(*keys, F.lit(1).alias("__new"), *[F.col(c).alias(f"new_{c}") for c in compare_cols])
    j = o.join(n, keys, "full_outer")
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(F.col("__old").isNull(), F.lit("added"))
        .when(F.col("__new").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type") != "unchanged")
        .select(*keys, "change_type")
    )
