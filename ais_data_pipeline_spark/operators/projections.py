"""Projection operators (reference P1/P2, T8).

All are pure column-pruning projections — Catalyst pushes them into the
scan (`ReadSchema` shrinks), so at 100 TB the dropped columns are never
read off disk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def exclude_substring(df: DataFrame, needle: str) -> DataFrame:
    """Drop columns whose name CONTAINS ``needle``.

    This reproduces the reference's quirk faithfully: its follow-up
    substring pass ``"_ar" not in c`` drops ``actual_area`` too (it
    contains ``_ar``), yielding the observed 27-column result (SURVEY
    §2.3 P1; reference notebooks/preprocessing_with_polars.ipynb:1020-1022).
    """
    keep = [c for c in df.columns if needle not in c]
    return df.select(*keep)


def project(df: DataFrame, columns: list[str]) -> DataFrame:
    """Keep an explicit column list (reference P2)."""
    return df.select(*columns)


def rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Bulk alias (reference T8)."""
    return df.withColumnsRenamed(mapping)
