#!/usr/bin/env python
"""Incremental-dedup THROUGHPUT vs batch size: SCALING.md's flat-probe
table fixes the batch at 500–1000 docs and grows the index — proving
O(batch) latency. A 100 TB ingest also cares about the other axis: how
many MiB/s of batch text one driver sustains as batches grow, against a
fixed large index. This probe builds a 500k-doc index once, then times
``dedup_batch_against_index`` for batches of 1k / 10k / 100k docs
(half exact copies of history → exercise the drop path, half fresh →
exercise the survive path) and reports per-batch seconds and MiB/s.

Batch sizes straddle ``util.PUSHDOWN_LIMIT`` (10k) deliberately: 1k/10k use
the literal IN-filter + bloom row-group-skip path, 100k flips to the
broadcast-semi-join path — the probe prices both probe strategies.

Usage: python tools/incdedup_throughput.py
(env: SPARK_GRAFT_INCDEDUP_INDEX_DOCS default 500_000,
 SPARK_GRAFT_INCDEDUP_BATCHES default "1000,10000,100000")
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

INDEX_DOCS = int(os.environ.get("SPARK_GRAFT_INCDEDUP_INDEX_DOCS", 500_000))
BATCHES = [
    int(x)
    for x in os.environ.get(
        "SPARK_GRAFT_INCDEDUP_BATCHES", "1000,10000,100000"
    ).split(",")
]


def main() -> None:
    from pyspark.sql import functions as F

    from ais_data_pipeline_spark.session import get_spark
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_dedup_index,
        dedup_batch_against_index,
    )
    from tools.curation_at_scale import generate_corpus

    spark = get_spark(app_name="incdedup_throughput")
    spark.sparkContext.setLogLevel("ERROR")

    # Corpus: the curation tool's xxhash generator — per-doc UNIQUE
    # text (token = xxhash64(doc, pos) over a 30k vocab) with 2% exact
    # + 2% near planted dups. (tools/scaling_probe.gen_documents is
    # unusable here: its text is a pure function of id % 1000, so a
    # 500k-doc "corpus" holds only 1000 distinct texts and every probe
    # batch collapses into degenerate all-dup buckets.) The extra
    # batch-pool tail past INDEX_DOCS provides fresh never-indexed
    # docs for the survive path.
    pool = max(BATCHES)
    corpus_path = f"/tmp/ais_incdedup_tp_corpus_{INDEX_DOCS}_{pool}"
    import glob as _glob

    if not _glob.glob(os.path.join(corpus_path, "*.parquet")):
        generate_corpus(spark, corpus_path, INDEX_DOCS + pool)
    docs = spark.read.parquet(corpus_path)

    root = tempfile.mkdtemp(prefix="ais_incdedup_tp_")
    idx = os.path.join(root, "index")
    t0 = time.perf_counter()
    build_dedup_index(docs.filter(F.col("doc_id") < INDEX_DOCS), idx)
    build_sec = round(time.perf_counter() - t0, 1)

    results = []
    for b in BATCHES:
        # half the batch copies indexed texts (ids 0..b/2 → drop via
        # the index probe), half is fresh never-indexed text (ids
        # INDEX_DOCS.. → survive, minus the generator's own ~4%
        # planted within-batch dups); doc_ids offset past any real id
        # so survivor accounting is unambiguous
        half = b // 2
        batch = (
            docs.filter(
                (F.col("doc_id") < half)
                | (
                    (F.col("doc_id") >= INDEX_DOCS)
                    & (F.col("doc_id") < INDEX_DOCS + (b - half))
                )
            )
            .withColumn("doc_id", F.col("doc_id") + 1_000_000_000)
            .localCheckpoint(eager=True)  # fixture cost out of the timing
        )
        text_bytes = batch.agg(F.sum(F.length("text"))).first()[0]
        t0 = time.perf_counter()
        # max_bucket_size: the documented quadratic-blowup guard stays
        # on in any production probe (exact dups still drop via the
        # hash probe; the cap only skips degenerate boilerplate
        # buckets in the near-dup stage).
        survivors = dedup_batch_against_index(
            batch, idx, max_bucket_size=1000
        ).count()
        dt = time.perf_counter() - t0
        results.append(
            {
                "batch_docs": b,
                "survivors": survivors,
                "text_mib": round(text_bytes / 2**20, 1),
                "sec": round(dt, 1),
                "text_mib_per_sec": round(text_bytes / 2**20 / dt, 1),
            }
        )

    print(
        json.dumps(
            {
                "metric": "incdedup_batch_throughput",
                "index_docs": INDEX_DOCS,
                "index_build_sec": build_sec,
                "batches": results,
            }
        )
    )
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
