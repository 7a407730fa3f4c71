"""Streaming ingest of a landing zone (reference §2.8 reshaped).

The reference's "stream": a Lambda re-invoked periodically, writing
date-partitioned CSV into S3 (reference lambda_handler.py:273,293-305).
Spark-first: the landing prefix becomes a Structured Streaming file
source with ``availableNow`` trigger — each run incrementally processes
exactly the files not seen before (checkpointed), which is the same
contract with exactly-once bookkeeping for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_upsert_sink(
    stream_df: DataFrame,
    table_path: str,
    key_cols: list[str],
    checkpoint_path: str,
    order_col: str | None = None,
    delete_col: str | None = None,
) -> None:
    """Streaming MERGE sink: each micro-batch upserts into a plain
    parquet table via ``foreachBatch`` + ``upsert_parquet`` — the CDC /
    latest-state-per-key sink where an append sink would accumulate
    stale versions.

    Exactly-once effect comes from the two halves composing: the
    checkpoint guarantees each batch is delivered at-least-once with a
    stable batch id, and the MERGE is IDEMPOTENT (same batch replayed
    → same keys overwrite to the same values), so replays after a
    crash cannot duplicate rows. That idempotence-not-transactions
    recipe is the standard exactly-once story for non-transactional
    sinks.

    ``delete_col`` names a boolean tombstone column for full CDC
    I/U/D streams: a key whose latest version in the batch is a
    tombstone is removed (or, in the bootstrap batch, never lands);
    the column itself never reaches the table.

    The table commits through the generation pointer (round 15):
    merges stage under hidden ``_gNNNNN`` dirs and flip one pointer
    write, so maintenance runs unchanged on s3a://-class stores; read
    the table back through ``sinks.parquet.read_parquet_table``. The
    bootstrap test is ``table_has_data`` — live-generation parquet
    presence through the IO seam, so a crashed merge's leftover stage
    can't masquerade as an initialized table."""
    from ais_data_pipeline_spark.sinks.parquet import table_has_data, upsert_parquet

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not table_has_data(table_path):
            # Bootstrap write must use the SAME latest-wins-by-order_col
            # semantics as every later merge: if the first micro-batch
            # carries multiple versions of a key, an arbitrary
            # dropDuplicates pick could persist a stale version.
            first = batch_df
            if order_col is not None:
                from pyspark.sql import Window

                w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
                first = (
                    batch_df.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                )
            else:
                first = batch_df.dropDuplicates(key_cols)
            if delete_col is not None:
                # a key whose LATEST first-batch version is a tombstone
                # never lands — same CDC semantics as later merges
                first = first.filter(
                    ~F.coalesce(F.col(delete_col), F.lit(False))
                ).drop(delete_col)
            # a rebuild writes the FLAT (generation-0) layout, so any
            # stale pointer / stage leftovers from a previous life of
            # this path must go first — else the still-published
            # pointer would never resolve to the bootstrap data
            from ais_data_pipeline_spark import fsutil

            fsutil.reset_generations(table_path)
            first.write.mode("overwrite").parquet(table_path)
            return
        upsert_parquet(
            spark, table_path, batch_df, key_cols,
            order_col=order_col, delete_col=delete_col,
        )

    q = (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
