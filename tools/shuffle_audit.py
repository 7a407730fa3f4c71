#!/usr/bin/env python
"""Shuffle-volume audit: measured shuffle bytes per representative
query, complementing PLANS.md's static exchange COUNTS with the actual
wire VOLUME. The scale question a plan audit can't answer is "the plan
has 2 exchanges — but do they carry the table or just group keys?";
this tool answers it with the Spark status-store numbers.

Method: each query runs to completion; the per-stage
`shuffleWriteBytes` total is read from the in-process status store
(`statusStore().stageList`, kept with the UI off, the same store
`perfbench/spans.py` reads) before and after, and the delta attributed
to the query. A total over all stages, not over the query's job group:
a streaming query runs its micro-batch jobs under its own run-id job
group, so the streaming legs' shuffles would not be counted. (The
status store's `inputBytes` counter is NOT used:
for local-filesystem parquet it only captures footer reads —
measured 17 KiB for a full 10 MiB lineitem scan — so the input base
is the on-disk size of each query's declared source tables instead:
an upper bound on bytes scanned, since column pruning reads less.)

Shuffle volume is deterministic for a fixed plan + data (unlike
wall-clock), so the audit is stable round-over-round — a query whose
shuffle/input ratio grows has a real plan regression, not box noise.

Emits one JSON line:
  {"metric": "shuffle_audit", "sf_dir": ..., "queries": {name:
    {"tables_mib": .., "shuffle_write_mib": .., "pct_of_input": ..}}}

Usage: python tools/shuffle_audit.py [names...]  (default: the
representative set below; names must be keys of AUDIT)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ais_data_pipeline_spark.session import get_spark

#: query -> source tables (input base). Representative shapes:
#: scan-bound text ops (shuffle ~0% of input), grouped aggs (group-key
#: partials only), star joins, LSH banding (per-doc constant bytes,
#: text never shuffles), sessionization (O(rows) compact keys), and
#: the composed curation/pretraining plans.
AUDIT: dict[str, list[str]] = {
    "q1_pricing_summary": ["lineitem"],
    "revenue_by_nation": ["customer", "orders", "lineitem", "supplier", "nation", "region"],
    "token_counts": ["documents"],
    "gopher_quality_filter": ["documents"],
    "dedup_exact": ["documents"],
    "minhash_near_dup": ["documents"],
    "sessionize_events": ["events"],
    "curation_pipeline_stats": ["documents"],
    "semdedup_stats": ["embeddings"],
    "source_overlap_matrix": ["documents"],
    "pretraining_pipeline_stats": ["documents"],
    # the heavy tier (round-9 verdict item 6): the most expensive plans
    # in the extended bench, audited with the same per-doc normalization
    "incremental_dedup_stats": ["documents"],
    "ivfpq_rerank_topk": ["embeddings"],
    # the round-10-hardened streaming paths (round-10 verdict item 6):
    # probe-partition exclusion, the measured single-file default, and
    # the IVF compaction watermark all changed real I/O shapes — a
    # silent funnel or a probe that re-shuffles history shows up here
    "incremental_embedding_dedup_stats": ["embeddings"],
    "streaming_ivf_ingest_topk": ["embeddings"],
    # the round-11 native-decode queries: mapInPandas scans whose only
    # exchanges are the parallelism spread + final sort — a ceiling
    # trip means the decode path grew a data-sized shuffle
    "image_pixel_stats_jpeg_progressive": ["documents"],
    "audio_pcm_stats": ["documents"],
    # the round-12 container-parse queries: same zero-shuffle decode
    # shape (spread + final sort only)
    "video_container_meta": ["documents"],
    "frame_sample_fanout": ["documents"],
    # the round-9 distributed-rank rewrites (round-10 verdict item 5):
    # a revert to the single-task global window has a DIFFERENT shuffle
    # profile (one range exchange of the full table into few tasks vs
    # the bucketed form's key-only exchanges), so ceilings here trip CI
    # on that class of regression
    "rank_distribution": ["orders"],
    "order_price_deciles": ["orders"],
    "skyline_orders": ["orders"],
}


def _shuffle_total(spark) -> int:
    """Shuffle bytes written by every stage the status store holds."""
    sc = spark.sparkContext
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0),
        sc._jvm.java.util.ArrayList(),
    )
    return sum(stages.apply(i).shuffleWriteBytes() for i in range(stages.size()))


def main() -> None:
    names = sys.argv[1:] or list(AUDIT)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(
        app_name="ais_shuffle_audit",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            # the audit reads post-run totals; retention must outlive a
            # multi-job query like the curation plan
            "spark.ui.retainedStages": "5000",
            "spark.ui.retainedJobs": "5000",
        },
    )

    from ais_data_pipeline_spark.queries import registry

    by_name = {q.name: q for q in registry()}

    out: dict = {}
    for name in names:
        q = by_name[name]
        tables_b = sum(
            os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
            for t in AUDIT[name]
        )
        before = _shuffle_total(spark)
        rows = q.fn(spark, sf_dir).collect()
        assert rows is not None
        time.sleep(0.5)  # let the status store settle the last stage
        d_sh = _shuffle_total(spark) - before
        out[name] = {
            "tables_mib": round(tables_b / 2**20, 2),
            "shuffle_write_mib": round(d_sh / 2**20, 2),
            "pct_of_input": round(100.0 * d_sh / tables_b, 1),
        }

    spark.stop()
    print(json.dumps({"metric": "shuffle_audit", "sf_dir": sf_dir, "queries": out}))


if __name__ == "__main__":
    main()
