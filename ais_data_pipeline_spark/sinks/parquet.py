"""Parquet sinks (reference K1-K4).

- K1 (S3 multipart): Spark's committer does multipart automatically on
  ``df.write`` — nothing to port; object metadata (``source_url``,
  ``ingestion_time``) becomes a ``_manifest.json`` sidecar.
- K2 (date-partitioned layout): ``partitionBy("ingest_date")``.
- K3 (compact Parquet): zstd in place of the reference's brotli
  (reference notebooks/preprocessing_with_polars.ipynb:4038-4039;
  deviation recorded in BASELINE.md).
- K4 (quarantine side-output): Spark batch has no single-pass
  multi-sink, so the CSV pipeline (``plans.rent_contracts``) pins the
  parse once and writes main + quarantine as two filtered writes
  (reference notebooks/0_preprocessing.ipynb:3457).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ais_data_pipeline_spark import fsutil


def table_root(path: str, io: "fsutil.FsIO | None" = None) -> str:
    """Live data root of a maintenance-managed parquet table: the path
    itself until the first ``upsert_parquet``/``compact_parquet``
    rewrite, a hidden ``_gNNNNN`` generation child after (the same
    pointer protocol the dedup/IVF indexes commit through —
    ``fsutil.current_root``). Every reader of a table that maintenance
    may rewrite resolves through this."""
    return fsutil.current_root(path, io)


def read_parquet_table(spark, path: str, io: "fsutil.FsIO | None" = None) -> DataFrame:
    """``spark.read.parquet`` through the generation pointer."""
    return spark.read.parquet(table_root(path, io))


def table_has_data(path: str, io: "fsutil.FsIO | None" = None) -> bool:
    """True when the LIVE generation of ``path`` holds at least one
    parquet file. Unlike a bare existence check this ignores failed
    stage dirs (a crashed rewrite's ``_gNNNNN`` leftovers must not
    make a never-bootstrapped table look initialized) and runs through
    the IO seam, so it works on object stores."""
    io = io or fsutil.io_for(path)
    gen = fsutil.current_generation(path, io)
    root = fsutil.generation_root(path, gen)
    for rel, _size in io.lister(root):
        head = rel.split("/", 1)[0]
        if gen == 0 and head.startswith("_g") and head[2:].isdigit():
            continue  # stage dirs are not generation-0 data
        if rel.endswith(".parquet"):
            return True
    return False


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "zstd",
    partition_by: list[str] | None = None,
    manifest: dict | None = None,
) -> None:
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    if manifest is not None:
        sidecar = dict(manifest)
        sidecar.setdefault("written_at", time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
        with open(os.path.join(path, "_manifest.json"), "w") as f:
            json.dump(sidecar, f, indent=2, default=str)


def write_date_partitioned(
    df: DataFrame,
    path: str,
    date_col: str = "ingest_date",
    mode: str = "overwrite",
) -> DataFrame:
    """Stamp the UTC ingest date and write Hive-partitioned by it —
    the engine's version of the reference's ``{prefix}/Y/M/D/`` object
    layout (reference lambda_handler.py:273,281). Partition pruning on
    ``ingest_date`` is then free for every downstream reader."""
    stamped = df.withColumn(date_col, F.current_date()) if date_col not in df.columns else df
    write_parquet(stamped, path, mode=mode, partition_by=[date_col])
    return stamped


def compact_parquet(
    spark,
    path: str,
    target_file_mb: int = 128,
    compression: str = "zstd",
    io: "fsutil.FsIO | None" = None,
) -> dict:
    """Small-file compaction: rewrite a parquet directory into files of
    ~target size. Millions of KB-sized files are the classic slow death
    of a 100 TB lake (open/seek cost dominates, driver planning chokes
    on the file listing); periodic compaction keeps scans sequential.

    Commit protocol (round 15 — object-store-safe, zero renames of
    data directories, the same generation pointer the dedup/IVF
    indexes adopted in r14): the rewrite stages under the NEXT hidden
    ``_gNNNNN`` child, the commit point is one small
    ``fsutil.publish_generation`` write, failed stages are collected
    on entry and the superseded generation one maintenance cycle
    later (``keep_prev`` — a reader that resolved the old root just
    before the flip keeps its files to end-of-scan). Readers resolve
    the live root via ``table_root``/``read_parquet_table``.
    Single-writer maintenance, as for the indexes.
    """
    io = io or fsutil.io_for(path)
    cur = fsutil.current_generation(path, io)
    # entry GC: failed stages from a crashed rewrite; the generation
    # (or flat legacy data) superseded by the PREVIOUS rewrite
    fsutil.gc_generations(path, cur, legacy_auto=True, io=io)
    src = fsutil.generation_root(path, cur)
    files = [
        (rel, size)
        for rel, size in io.lister(src)
        if rel.endswith(".parquet")
        and not (cur == 0 and rel.split("/", 1)[0].startswith("_g"))
    ]
    total_bytes = sum(size for _rel, size in files)
    n_out = max(1, round(total_bytes / (target_file_mb * 2**20)))
    if len(files) <= n_out:
        return {"files_in": len(files), "files_out": len(files), "skipped": True}

    dst = fsutil.generation_root(path, cur + 1)
    (
        spark.read.parquet(src)
        .repartition(n_out)
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(dst)
    )
    fsutil.publish_generation(path, cur + 1, io)
    fsutil.gc_generations(path, cur + 1, legacy_auto=True, io=io, keep_prev=True)
    return {"files_in": len(files), "files_out": n_out, "skipped": False}


def upsert_parquet(
    spark,
    path: str,
    updates: "DataFrame",
    key_cols: list[str],
    compression: str = "zstd",
    order_col: str | None = None,
    delete_col: str | None = None,
    io: "fsutil.FsIO | None" = None,
) -> dict:
    """MERGE-style upsert for plain parquet (no table format): rows in
    ``updates`` replace existing rows with the same key; new keys
    append. Implemented as existing LEFT ANTI updates-keys + union,
    committed through the generation pointer (round 15; see
    ``compact_parquet`` — zero data-directory renames, object-store
    safe, superseded generation GC'd one maintenance cycle later).

    Semantics:
    - ``updates`` is deduplicated on ``key_cols`` first (latest-wins by
      ``order_col`` when given, else an arbitrary single survivor) so a
      batch carrying the same key twice can't double-insert.
    - ``delete_col`` names a boolean tombstone column: after the
      latest-wins dedup, a surviving delete row REMOVES its key from
      the table and inserts nothing (full CDC I/U/D apply — WHEN
      MATCHED AND tombstone THEN DELETE). Deleting an absent key is a
      no-op; the tombstone column itself never lands in the table;
      replaying the batch is still idempotent.
    - Rows whose key columns contain NULL are never *replaced* (SQL
      join semantics: NULL keys match nothing); an update row with a
      NULL key simply appends. Model missing keys explicitly upstream.
    - The merged table stages under the next hidden ``_gNNNNN`` child
      and commits via one ``fsutil.publish_generation`` write — a
      crash anywhere leaves either the old or the new generation
      fully live, and a reader never observes a missing or partial
      table. Read back through ``read_parquet_table``/``table_root``.

    This is the compacting-rewrite fallback where Delta/Iceberg aren't
    available; at scale, partition the table and restrict the rewrite
    to touched partitions (pass the partition predicate into the read).
    """
    from pyspark.sql import Observation, Window

    if order_col is not None:
        # deterministic latest-wins: on an EXACT order_col tie,
        # row_number alone picks a partition-order-dependent winner —
        # a crash replay could then survive a DIFFERENT row and the
        # "replay is idempotent" contract silently breaks (round-12
        # hardening sweep; same class as the r11 as-of tie-break). The
        # content hash is a pure function of the row, so the winner is
        # identical on any partitioning/replay; ties between IDENTICAL
        # rows are harmless by construction.
        tie = F.xxhash64(*[F.col(c) for c in updates.columns])
        w = Window.partitionBy(*key_cols).orderBy(
            F.col(order_col).desc(), tie.desc()
        )
        updates = (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        updates = updates.dropDuplicates(key_cols)

    io = io or fsutil.io_for(path)
    cur = fsutil.current_generation(path, io)
    # entry GC: a stage a crashed upsert left behind, plus the
    # generation the PREVIOUS upsert superseded (kept one cycle)
    fsutil.gc_generations(path, cur, legacy_auto=True, io=io)
    existing = spark.read.parquet(fsutil.generation_root(path, cur))
    # anti-join on ALL touched keys (inserts, updates, AND deletes):
    # a deleted key drops out of `keep` and nothing re-inserts it
    keep = existing.join(updates.select(*key_cols), key_cols, "left_anti")
    if delete_col is not None:
        updates = updates.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    merged = keep.unionByName(updates)
    # count during the write (observe) — no post-write re-scan
    obs = Observation("upsert_rows")
    merged = merged.observe(obs, F.count(F.lit(1)).alias("n"))
    dst = fsutil.generation_root(path, cur + 1)
    merged.write.mode("overwrite").option("compression", compression).parquet(dst)
    n = obs.get["n"]
    fsutil.publish_generation(path, cur + 1, io)
    fsutil.gc_generations(path, cur + 1, legacy_auto=True, io=io, keep_prev=True)
    return {"rows_after": n}
