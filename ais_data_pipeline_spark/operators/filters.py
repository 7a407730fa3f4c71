"""Filter predicates (reference P5-P8).

Each returns a plain Catalyst expression for ``DataFrame.filter``, so
it pushes down to the Parquet scan (row-group stats) and stays inside
whole-stage codegen.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def all_horizontal(conditions: list[Column]) -> Column:
    """Boolean AND across a condition list (reference P7
    ``pl.all_horizontal``, notebooks/0_preprocessing.ipynb:3468)."""
    return reduce(operator.and_, conditions)


def any_horizontal(conditions: list[Column]) -> Column:
    """Boolean OR across a condition list (reference P7
    ``pl.any_horizontal``, notebooks/0_preprocessing.ipynb:3454)."""
    return reduce(operator.or_, conditions)


def in_range(col: str, lo, hi) -> Column:
    """Closed-interval range predicate (reference P5
    ``is_between(..., closed="both")``)."""
    return F.col(col).between(lo, hi)


def fits_int32_or_null(col: str) -> Column:
    """The reference's Int32-downcast admission predicate: value in
    [-2^31, 2^31-1] or null (reference notebooks/0_preprocessing
    .ipynb:3464-3468)."""
    return F.col(col).isNull() | F.col(col).between(-(2**31), 2**31 - 1)
