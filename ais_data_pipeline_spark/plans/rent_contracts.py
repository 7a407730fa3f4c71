"""The reference's flagship pipeline, Spark-first (reference §3.2).

Polars notebook dataflow (reference notebooks/preprocessing_with_polars
.ipynb): scan_csv → drop ``_ar`` columns (P1, with the documented
``actual_area`` quirk) → lenient date parse (T1) → profile distinct
ratios → categorical casts (T2/T3) → min/max-driven downcast with
quarantine (variant notebook 0_preprocessing.ipynb:3385-3473) →
collect → parquet/brotli.

Spark shape: the parse is pinned once as rows with
``checkpointing.materialize`` (no compressed columnar cache to build
and decode) and released as soon as both writes return; the profiling
pass (driver-side decisions, executor-side batched aggs) and the two
writes — a partitioned zstd parquet write plus the quarantine
side-write, one file when it is small — read the pin. Bounded memory at
any scale — nothing ever collects to the driver except the profile
aggregates. The profile the writes wait on is the min/max pass the
casts depend on; the string distinct ratios (which decide no cast) ride
the main write's Observation.

Invariants reproduced (SURVEY §5): 27-column output (no ``_ar``, no
``actual_area``), unparseable dates → null, rows_out + rows_quarantined
= rows_in — rows_in is counted on the pin job and a mismatch raises.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ais_data_pipeline_spark.checkpointing import materialize_counted, release
from ais_data_pipeline_spark.observability import Stopwatch, log, overlap
from ais_data_pipeline_spark.operators import util
from ais_data_pipeline_spark.operators.aggregates import distinct_count_aggs, ratios_from
from ais_data_pipeline_spark.operators.profiling import (
    TighteningPlan,
    apply_tightening,
    categorical_strings,
    estimate_size,
    int32_admission_predicate,
    plan_tightening,
)
from ais_data_pipeline_spark.operators.projections import exclude_substring
from ais_data_pipeline_spark.operators.transforms import parse_date_lenient
from ais_data_pipeline_spark.sources.csv import read_csv

DATE_COLUMNS = ["contract_start_date", "contract_end_date"]


@dataclass
class PipelineResult:
    rows_in: int = 0
    rows_out: int = 0
    rows_quarantined: int = 0
    columns_out: list[str] = field(default_factory=list)
    est_size: dict = field(default_factory=dict)
    elapsed_sec: float = 0.0
    plan: TighteningPlan = field(default_factory=TighteningPlan)


def run_pipeline(
    spark: SparkSession,
    csv_path: str,
    out_path: str,
    quarantine_path: str,
    schema: T.StructType | None = None,
    date_columns: list[str] | None = None,
    estimate: bool = False,
) -> PipelineResult:
    sw = Stopwatch()
    date_columns = DATE_COLUMNS if date_columns is None else date_columns

    df = read_csv(spark, csv_path, schema=schema)
    log("pipeline_scan", path=csv_path, n_cols=len(df.columns))

    # P1 (with the reference's substring quirk: drops actual_area too)
    df = exclude_substring(df, "_ar")
    # T1 lenient date parse
    df = parse_date_lenient(df, [c for c in date_columns if c in df.columns])

    # Reference order: quarantine int32-violating rows FIRST (on the raw
    # Long values), then profile + tighten the surviving rows — so the
    # downcast decisions aren't polluted by outliers and the admission
    # predicate never sees a stringified categorical column.
    long_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.LongType)]
    result = PipelineResult()

    if long_cols:
        # Pin the parse once for the profile and both writes: an eager
        # checkpoint that keeps the rows as they are (a persist's
        # compressed columnar cache cost about a quarter of the run's
        # executor time to build and decode). The pin job counts rows
        # in, so the accounting below can catch a lost row instead of
        # defining rows_in as the sum of the writes' counts.
        good_pred = int32_admission_predicate(long_cols)
        tagged, result.rows_in = materialize_counted(
            df.withColumn("__good", F.coalesce(good_pred.cast("boolean"), F.lit(False)))
        )
        good = tagged.filter(F.col("__good")).drop("__good")
        bad = tagged.filter(~F.col("__good")).drop("__good")
        if result.rows_in <= util.SINGLE_FILE_MAX_ROWS:
            # one quarantine file per run, not one per pinned partition;
            # the bound is on rows in because the one writer task scans
            # every pinned row to find the quarantined ones
            bad = bad.coalesce(1)
    else:
        tagged, good, bad = None, df, None

    try:
        # profiling pass → downcast/numeric-categorical decisions (one
        # min/max agg, plus a distinct-ratio agg only for integer columns
        # that do not narrow)
        plan = plan_tightening(good)
        tightened = apply_tightening(good, plan)
        string_cols = [
            f.name for f in good.schema.fields if isinstance(f.dataType, T.StringType)
        ]
        result.columns_out = tightened.columns
        if estimate:
            result.est_size = estimate_size(tightened)

        # Row accounting rides on the write itself (df.observe) —
        # re-reading the just-written output for a .count() would add a
        # full extra scan of the table per sink at 100 TB.
        obs_out = Observation("rows_out")

        def write_main() -> None:
            (
                tightened.observe(
                    obs_out,
                    F.count(F.lit(1)).alias("n"),
                    # HyperLogLog sketches of the string columns: they
                    # decide only plan.categorical_strings, which casts
                    # nothing
                    *distinct_count_aggs(string_cols, approx=True),
                )
                .write.mode("overwrite")
                .option("compression", "zstd")
                .parquet(out_path)
            )

        obs_bad = Observation("rows_quarantined")

        def write_bad() -> None:
            (
                bad.observe(obs_bad, F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite")
                .option("compression", "zstd")
                .parquet(quarantine_path)
            )

        # The main and quarantine writes are independent jobs over the
        # same pinned parse — overlap them (guide §2.6) so the (tiny)
        # quarantine write rides the main write's tail instead of
        # serializing after it.
        overlap(spark, write_main, *([write_bad] if bad is not None else []))
        metrics = obs_out.get
        result.rows_out = metrics["n"]
        if bad is not None:
            result.rows_quarantined = obs_bad.get["n"]
        plan.categorical_strings = categorical_strings(
            ratios_from(metrics, string_cols, result.rows_out)
        )
        result.plan = plan
        log(
            "tightening_plan",
            categorical_strings=plan.categorical_strings,
            categorical_numerics=plan.categorical_numerics,
            downcasts={c: str(t) for c, t in plan.downcasts.items()},
            quarantine_columns=plan.quarantine_columns,
        )
    finally:
        if tagged is not None:
            release(tagged)
    if bad is None:
        result.rows_in = result.rows_out  # no split: nothing to lose
    if result.rows_in != result.rows_out + result.rows_quarantined:
        raise RuntimeError(
            f"row accounting: {result.rows_in} rows in, {result.rows_out} written "
            f"+ {result.rows_quarantined} quarantined"
        )

    result.elapsed_sec = sw.elapsed()
    log(
        "pipeline_done",
        rows_in=result.rows_in,
        rows_out=result.rows_out,
        rows_quarantined=result.rows_quarantined,
        elapsed_sec=round(result.elapsed_sec, 2),
    )
    return result
