"""JSON-lines source with BOUNDED schema inference and a quarantine
path for malformed records.

Spark's built-in JSON inference scans the ENTIRE input before the
real read (or re-reads a samplingRatio slice) — at 100 TB that is a
full extra pass. This source mirrors the CSV source's contract
(sources/csv.py): infer from the first ``infer_schema_length`` lines
only (a LocalLimit stops the scan), then lock the schema and read
once. Records that don't parse land in a ``_corrupt_record``-style
side output instead of silently vanishing (K4 quarantine parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ais_data_pipeline_spark.checkpointing import materialize

CORRUPT_COL = "_corrupt_record"


def infer_jsonl_schema(
    spark: SparkSession, path: str, infer_schema_length: int = 1000
) -> T.StructType:
    """Schema from the first ``infer_schema_length`` lines: read them
    as text (LocalLimit — bounded no matter the file size), then let
    the JSON parser infer over just that sample via the JVM
    ``Dataset[String]`` overload — no Python lambda even for the
    bounded sample (r16 verdict nit: the previous ``lines.rdd.map``
    routed the rows through a pickled Python RDD)."""
    from pyspark.sql import DataFrame as _DF

    lines = spark.read.text(path).limit(infer_schema_length)
    jds = getattr(lines._jdf, "as")(
        spark._jvm.org.apache.spark.sql.Encoders.STRING()
    )
    sample = _DF(spark._jsparkSession.read().json(jds), spark)
    return sample.schema


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    infer_schema_length: int | None = 1000,
) -> DataFrame:
    """JSON-lines read with a locked schema (caller-provided, else
    bounded inference). Malformed lines surface in ``_corrupt_record``
    (PERMISSIVE) so callers can split them off with
    ``split_corrupt``."""
    if schema is None:
        if infer_schema_length is None:
            raise ValueError("either schema or infer_schema_length is required")
        schema = infer_jsonl_schema(spark, path, infer_schema_length)
    if CORRUPT_COL not in schema.fieldNames():
        schema = schema.add(T.StructField(CORRUPT_COL, T.StringType()))
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine): clean rows drop the corrupt column;
    quarantine keeps the raw malformed line for replay — the same
    side-output contract as the CSV pipeline's quarantine sink.

    The input is pinned first (``checkpointing.materialize``): Spark
    refuses a query that reads ONLY ``_corrupt_record`` from a raw JSON
    scan (the parser would need the other columns to decide
    corruption), and the two outputs share one parse this way — the
    same pin-then-split shape as the CSV pipeline's quarantine. The pin
    is left to the GC, which reclaims it once both outputs are dropped."""
    df = materialize(df)
    corrupt = F.col(CORRUPT_COL).isNotNull()
    clean = df.filter(~corrupt).drop(CORRUPT_COL)
    quarantine = df.filter(corrupt).select(F.col(CORRUPT_COL).alias("raw_line"))
    return clean, quarantine
