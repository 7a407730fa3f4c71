"""Watermarked event-time windows + sessionization (streaming layer —
all absent in the reference, SURVEY §2.8; built on Structured
Streaming primitives).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_size: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling/sliding event-time window aggregation with a watermark
    bounding state for late data. Works for both readStream inputs
    (stateful, late rows dropped past the watermark) and batch inputs
    (watermark is a no-op, same results)."""
    w = (
        F.window(F.col(ts_col), window_size, slide)
        if slide
        else F.window(F.col(ts_col), window_size)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(w.alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal accumulation, double OUTPUT (cross-engine hash
            # parity — see queries.py header determinism rules)
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def check_window_key_skew(
    df: DataFrame,
    key_col: str,
    threshold: float = 0.25,
    fraction: float = 0.05,
    seed: int = 42,
    hint: str | None = None,
) -> dict | None:
    """Guard for the genuinely skew-vulnerable shape: a window
    partitioned by a hot key needs the WHOLE key in one task — no
    partial agg absorbs it, no AQE split rescues it (tools/
    skew_probe.py measured 3.36x degradation at a 50%-hot key). This
    makes the engine's bounded-cardinality-window-key convention
    enforceable: sample the key distribution (one cheap job over a
    ``fraction`` sample) and emit an M1 warning record when the top
    key's share exceeds ``threshold``. Returns the warning record, or
    None when the distribution is safe. Opt-in from the windowed
    helpers (``check_skew=True``) — zero behavior change otherwise."""
    from ais_data_pipeline_spark.observability import log

    top = (
        df.sample(fraction=fraction, seed=seed)
        .groupBy(key_col)
        .count()
        .agg(
            F.max_by(key_col, "count").alias("top_key"),
            F.max("count").alias("top_n"),
            F.sum("count").alias("total"),
        )
        .first()
    )
    if top is None or top["total"] is None or top["total"] == 0:
        return None
    share = top["top_n"] / top["total"]
    if share < threshold:
        return None
    return log(
        "hot_window_key",
        level="warning",
        key_col=key_col,
        top_key=top["top_key"],
        share=round(share, 4),
        sampled_rows=top["total"],
        hint=hint
        or (
            "window partitioned by a hot key serializes on one task "
            "(measured 3.36x at 50% hot); re-key to a bounded-"
            "cardinality composite (e.g. key+day) or pre-aggregate"
        ),
    )


def sessionize_batch(
    events: DataFrame,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    key_col: str = "user_id",
    check_skew: bool = False,
) -> DataFrame:
    """Batch sessionization via lag + cumulative gap-count window (the
    classic composition; one shuffle on the key). Session id = number
    of gap-exceeding jumps at or before the row; deterministic given a
    total per-key order (ts, then event_id tie-break if present).
    ``check_skew=True`` runs the sampled hot-key probe
    (``check_window_key_skew``) before planning the window."""
    if check_skew:
        check_window_key_skew(events, key_col)
    from pyspark.sql import Window

    order_cols = [F.col(ts_col)]
    if "event_id" in events.columns:
        order_cols.append(F.col("event_id"))
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev_ts) > gap_seconds),
        1,
    ).otherwise(0)
    with_flag = events.withColumn("__new_sess", is_new)
    sess_id = F.sum("__new_sess").over(
        Window.partitionBy(key_col).orderBy(*order_cols).rowsBetween(Window.unboundedPreceding, 0)
    )
    return with_flag.withColumn("session_id", sess_id).drop("__new_sess")
