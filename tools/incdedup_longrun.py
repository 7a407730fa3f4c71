#!/usr/bin/env python
"""Incremental-dedup LONG-HORIZON probe (round-10 verdict item 7): the
flat-probe table proves O(batch) latency vs index SIZE and SCALING.md's
throughput table prices batch SIZE — this probe covers the third axis,
batch COUNT. A 100 TB ingest runs thousands of micro-batches;
each appends one ``src_batch=`` slice per index table, every probe
scans every slice, and the design claim is that periodic
``compact_dedup_index`` keeps BOTH probe latency and index file count
flat over an arbitrarily long run (the crash-safe generation-commit
contract, measured rather than pytest-only).

Method: build a seed index, then drive ``dedup_and_append_batch`` (the
exact foreachBatch sink body) for N_BATCHES batches of BATCH_DOCS docs
(10% exact copies of indexed history -> the drop path stays hot),
compacting under the THRESHOLD policy (round 12 — the production
trigger: ``maybe_compact_dedup_index``'s geometric bytes ratio +
file-count guard, replacing the fixed every-K cadence whose rewrite
cost per ingested byte grows with history). Per batch: probe+append
seconds and the index parquet-file count; per compaction: trigger,
seconds, slice/history bytes at the trigger point, and rewrite cost
per accreted MiB — the number that must stay FLAT while the gaps
between compactions stretch.

Emits one JSON line:
  {"metric": "incdedup_longrun", "batches": [...], "compactions":
   [...], "probe_sec_first10_mean": .., "probe_sec_last10_mean": ..}

Usage: python tools/incdedup_longrun.py
(env: INCDEDUP_LONGRUN_BATCHES default 50, INCDEDUP_LONGRUN_DOCS
 default 2000, INCDEDUP_LONGRUN_SEED_DOCS default 20000,
 INCDEDUP_LONGRUN_RATIO default 0.25 — the geometric trigger,
 INCDEDUP_LONGRUN_MIN_MIB default 1 — floor scaled to the fixture,
 INCDEDUP_LONGRUN_MAX_FILES default 256)
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BATCHES = int(os.environ.get("INCDEDUP_LONGRUN_BATCHES", 50))
BATCH_DOCS = int(os.environ.get("INCDEDUP_LONGRUN_DOCS", 2000))
SEED_DOCS = int(os.environ.get("INCDEDUP_LONGRUN_SEED_DOCS", 20000))
# threshold policy (production defaults in fsutil.py use a
# 64 MiB floor; the fixture index is ~tens of MiB so the floor scales
# down to keep the GEOMETRIC trigger the active one being measured)
RATIO = float(os.environ.get("INCDEDUP_LONGRUN_RATIO", 0.25))
MIN_MIB = float(os.environ.get("INCDEDUP_LONGRUN_MIN_MIB", 1))
MAX_FILES = int(os.environ.get("INCDEDUP_LONGRUN_MAX_FILES", 256))


def _index_files(index_path: str) -> int:
    """Parquet files of the live generation only: the superseded one a
    compaction keeps for one cycle (``keep_prev``) is not read by any
    probe."""
    from ais_data_pipeline_spark import fsutil

    root = fsutil.current_root(index_path)
    return len(glob.glob(os.path.join(root, "**/*.parquet"), recursive=True))


def _mean(xs: list[float]) -> float | None:
    return round(sum(xs) / len(xs), 2) if xs else None


def main() -> None:
    from pyspark.sql import functions as F

    from ais_data_pipeline_spark.fsutil import slice_accretion
    from ais_data_pipeline_spark.session import get_spark
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_dedup_index,
        dedup_and_append_batch,
        maybe_compact_dedup_index,
    )
    from tools.curation_at_scale import generate_corpus

    spark = get_spark(app_name="incdedup_longrun")
    spark.sparkContext.setLogLevel("ERROR")

    pool = SEED_DOCS + N_BATCHES * BATCH_DOCS
    corpus_path = os.path.join(
        tempfile.gettempdir(), f"ais_incdedup_longrun_corpus_{pool}"
    )
    if not glob.glob(os.path.join(corpus_path, "*.parquet")):
        generate_corpus(spark, corpus_path, pool)
    docs = spark.read.parquet(corpus_path)

    root = tempfile.mkdtemp(prefix="ais_incdedup_longrun_")
    idx = os.path.join(root, "index")
    out = os.path.join(root, "survivors")
    t0 = time.perf_counter()
    build_dedup_index(docs.filter(F.col("doc_id") < SEED_DOCS), idx)
    build_sec = round(time.perf_counter() - t0, 1)

    dup = BATCH_DOCS // 10  # 10% exact copies of seed history per batch
    batches: list[dict] = []
    compactions: list[dict] = []
    for b in range(N_BATCHES):
        lo = SEED_DOCS + b * BATCH_DOCS
        fresh = docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + BATCH_DOCS - dup)
        )
        copies = docs.filter(F.col("doc_id") < dup).withColumn(
            "doc_id", F.col("doc_id") + 2_000_000_000 + b * BATCH_DOCS
        )
        batch = fresh.unionByName(copies).localCheckpoint(eager=True)
        t0 = time.perf_counter()
        n_in, n_kept = dedup_and_append_batch(
            batch, b, idx, out, max_bucket_size=1000
        )
        dt = time.perf_counter() - t0
        batches.append(
            {
                "batch": b,
                "sec": round(dt, 2),
                "kept": n_kept,
                "dropped": n_in - n_kept,
                "index_files": _index_files(idx),
            }
        )
        res = maybe_compact_dedup_index(
            spark, idx,
            slice_ratio=RATIO,
            max_slice_files=MAX_FILES,
            min_slice_bytes=int(MIN_MIB * 2**20),
        )
        if res is not None:
            prev = compactions[-1]["after_batch"] if compactions else -1
            accreted_mib = round(res["slice_bytes"] / 2**20, 2)
            compactions.append(
                {
                    "after_batch": b,
                    "batches_since_prev": b - prev,
                    "trigger": res["trigger"],
                    "sec": res["compact_sec"],
                    "slice_mib_at_trigger": accreted_mib,
                    "history_mib_at_trigger": round(
                        res["history_bytes"] / 2**20, 2
                    ),
                    # the amortization claim: rewrite seconds per
                    # accreted MiB must stay flat while the gaps grow
                    "sec_per_accreted_mib": round(
                        res["compact_sec"] / max(accreted_mib, 0.01), 2
                    ),
                    "index_files": _index_files(idx),
                }
            )

    probe_secs = [x["sec"] for x in batches]
    print(
        json.dumps(
            {
                "metric": "incdedup_longrun",
                "seed_docs": SEED_DOCS,
                "batch_docs": BATCH_DOCS,
                "n_batches": N_BATCHES,
                "policy": {
                    "slice_ratio": RATIO,
                    "min_slice_mib": MIN_MIB,
                    "max_slice_files": MAX_FILES,
                },
                "final_accretion": slice_accretion(idx),
                "index_build_sec": build_sec,
                "probe_sec_first10_mean": _mean(probe_secs[:10]),
                "probe_sec_last10_mean": _mean(probe_secs[-10:]),
                "max_index_files": max(x["index_files"] for x in batches),
                "files_after_final_compaction": compactions[-1]["index_files"]
                if compactions
                else None,
                "batches": batches,
                "compactions": compactions,
            }
        )
    )
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
