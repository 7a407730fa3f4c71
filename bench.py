#!/usr/bin/env python
"""Headline benchmark: run the engine's representative queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion (collect) so the full plan —
scan, shuffle, agg — is measured, not just plan construction.

Besides the query suite, the bench runs the reference's flagship
CSV→Parquet preprocessing pipeline (BASELINE.md acceptance targets:
bounded memory, ≥20× size reduction) on a generated rent_contracts-
shaped CSV and reports throughput + compression under a
``pipeline_csv_to_parquet`` key plus a ``pipeline`` detail object.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
# executor python workers import the package too (pandas UDFs /
# foreachBatch closures); PYTHONPATH must carry it even when the bench
# is launched from another cwd
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from ais_data_pipeline_spark.session import get_spark  # noqa: E402
from ais_data_pipeline_spark.queries import registry  # noqa: E402

#: The headline subset: one per engine layer (scan/filter, profile agg,
#: grouped agg, star join, fact-fact join, correlated subquery, window,
#: range join, event-time window, sessionization, dedup (exact+LSH),
#: text, vector search).
HEADLINE = [
    "scan_project_filter",
    "profile_min_max",
    "q1_pricing_summary",
    "revenue_by_nation",
    "priority_revenue",
    "top_customer_per_nation",
    "small_qty_revenue",
    "rollup_region_nation",
    "moving_avg_customer",
    "event_pairs_5min",
    "events_hourly",
    "session_windows_native",
    "latest_event_per_user",
    "dedup_exact",
    "minhash_near_dup",
    "token_counts",
    "text_normalize",
    "embedding_topk",
]

#: Heavier flagship operators timed once each (no reps) under their own
#: `extended` keys — NOT part of the headline total, which must stay
#: comparable round-over-round. One per advanced tier: end-to-end
#: curation, IR ranking, graph (PageRank + triangles), exact substring
#: dedup, k-means quantizer, strict packing.
EXTENDED = [
    "curation_pipeline_stats",
    "bm25_top_docs",
    "part_pagerank",
    "supplier_triangles",
    "cross_doc_repeated_spans",
    "kmeans_ivf_centroids",
    "sequence_packing_strict",
    "pq_adc_topk",
    "incremental_dedup_stats",
    "ivfpq_rerank_topk",
    "mmr_diverse_topk",
    "training_shard_manifest",
    "semdedup_stats",
    "frame_embedding_topk",
    "dsir_domain_scores",
    "pretraining_pipeline_stats",
    "source_overlap_matrix",
    # near_dup_cluster_sizes retired r11 (registry swap); its heavy
    # work — the same minhash LSH + connected components — stays
    # benched through the star-contraction variant
    "near_dup_clusters_star",
    # the r12 container-parse tier: MP4 metadata + keyframe offsets
    # (both zero-shuffle mapInPandas walks; byte-gate-protected, these
    # rows make regressions visible in wall-clock too)
    "video_container_meta",
    "frame_sample_fanout",
    # the r14 decode tier: the FLAC Rice-loop row (the one new Python
    # bit-loop on the hot list — wall-clock regressions must be
    # visible here, not just in the throughput probe) and the
    # container-agnostic frame fan-out through its mixed MP4+AVI
    # corpus with per-frame JPEG decode
    "flac_pcm_stats",
    "frame_pixel_stats",
    # r16: the WARC/WET ingest tier — fixture shard pack + the
    # streaming one-task-per-file record parse (gzip members + framed
    # payloads through Arrow batches); this leg keeps wall-clock
    # regressions visible
    "warc_record_stats",
    # r16: the CCNet-style bigram LM (train + score in two corpus
    # passes — vocab top-k, lag window, bigram self-join); the text
    # tier's heaviest new op
    "bigram_lm_scores",
    # r17: the raw-WARC tier — HTTP response splitting inside the
    # reader's Arrow batches (fixture pack + per-record Python split:
    # THE wall-clock-sensitive Python stage of the web-corpus plan)
    # and the codegen HTML->text extraction leg
    "warc_http_response_stats",
    "html_text_extract",
    # r17: multi-class hashed language ID (explode + broadcast weight
    # join + argmax — the model-served lang tier)
    "lang_id_classifier",
    # r17: streaming web ingestion (two availableNow drains + index
    # probe writes at fn() time — the web tier's incremental leg,
    # wall-clock-visible like incremental_dedup_stats)
    "streaming_web_ingest_stats",
]

#: 1-min load average above which the bench artifact flags itself and
#: re-runs the extended legs once after the main pass drains (round-10
#: verdict item 4: BENCH_r10 recorded 1.35/1.31/1.15 extended ratios
#: at load 6.04 that the quiet-box re-measure contradicted — the
#: artifact must carry its own load context instead of leaving the
#: truth in SCALING.md prose). Quiet rounds measure ~1.3 on this box;
#: driver-contended ones 6+.
LOAD_FLAG_MAX = float(os.environ.get("SPARK_GRAFT_LOAD_FLAG_MAX", 3.0))

#: A new run may displace the persisted bench_detail.json (the NEXT
#: run's extended_ratio_vs_prev baseline) only if its start load is
#: within this margin of the record it would overwrite. Round-16
#: lesson: the driver's contended run (load 2.58, per-leg 2.2-17.7)
#: overwrote the quiet record (load 1.09) without tripping
#: LOAD_FLAG_MAX, and the committed baseline would have made every
#: r17 leg look spuriously fast. Ratios vs the QUIETER record are
#: conservative — they can only make regressions more visible.
DETAIL_LOAD_MARGIN = float(os.environ.get("SPARK_GRAFT_DETAIL_LOAD_MARGIN", 1.0))


def _should_persist_detail(prev: dict | None, new: dict) -> bool:
    """Quiet-box persist gate for bench_detail.json: keep the existing
    record when the new run is materially more contended at the same
    sf. Always persist when there is no prior record, the sf differs
    (never compare across scales), the prior record was itself
    load-flagged, or SPARK_GRAFT_FORCE_DETAIL=1."""
    if os.environ.get("SPARK_GRAFT_FORCE_DETAIL") == "1":
        return True
    if not isinstance(prev, dict):
        return True
    if prev.get("sf") != new.get("sf"):
        return True
    if prev.get("load_flagged", False):
        return True
    try:
        prev_load = float(prev["load_avg_start"][0])
        new_load = float(new["load_avg_start"][0])
    except (KeyError, IndexError, TypeError, ValueError):
        return True
    return new_load <= prev_load + DETAIL_LOAD_MARGIN

#: Pipeline fixture size (rows). ~170 B/row of CSV → ~170 MiB at 1M.
PIPELINE_ROWS = int(os.environ.get("SPARK_GRAFT_PIPELINE_ROWS", 1_000_000))


#: (name, arabic-ish prefix, english pool) for the `_ar`/`_en` mirror
#: pairs that make the raw CSV as wide as the reference's 40-column
#: export (12 `_ar` columns; all dropped by P1 before the write).
_MIRROR_FIELDS = [
    ("property_usage", "سكني", ["Residential", "Commercial", "Industrial"]),
    ("property_type", "شقة", ["Flat", "Villa", "Office", "Shop"]),
    ("tenant_type", "فرد", ["Person", "Company"]),
    ("master_project", "مشروع", ["Marina Heights", "Palm Gardens", "Creek View"]),
    ("nearest_landmark", "برج", ["Burj Area", "Airport", "Expo Site", "Old Town"]),
    ("nearest_metro", "محطة", ["Red Line 1", "Red Line 2", "Green Line 1"]),
    ("nearest_mall", "مركز", ["Grand Mall", "City Centre", "Marina Mall"]),
]


def _rent_contracts_schema():
    from pyspark.sql import types as T

    fields = [
        T.StructField("contract_id", T.StringType()),
        T.StructField("contract_reg_type_id", T.LongType()),
        T.StructField("contract_reg_type_ar", T.StringType()),
        T.StructField("contract_reg_type_en", T.StringType()),
        T.StructField("contract_start_date", T.StringType()),
        T.StructField("contract_end_date", T.StringType()),
        T.StructField("contract_amount", T.LongType()),
        T.StructField("annual_amount", T.LongType()),
        T.StructField("area_id", T.LongType()),
        T.StructField("area_name_ar", T.StringType()),
        T.StructField("area_name_en", T.StringType()),
        T.StructField("actual_area", T.LongType()),
        T.StructField("project_number", T.StringType()),
    ]
    for name, _, _ in _MIRROR_FIELDS:
        fields.append(T.StructField(f"{name}_ar", T.StringType()))
        fields.append(T.StructField(f"{name}_en", T.StringType()))
    return T.StructType(fields)


def _generate_pipeline_csv(spark, path: str, rows: int) -> None:
    """Rent_contracts-shaped CSV generated BY the engine (parallel
    write): low-cardinality name pools, `_ar` mirror columns, lenient-
    parse garbage dates, int32-overflowing amounts, multi-token nulls —
    the same hazards the reference data carries (FIXTURES.md F1)."""
    from pyspark.sql import functions as F

    df = (
        spark.range(rows)
        .withColumn("reg", (F.col("id") % 2 + 1))
        .withColumn("area", (F.col("id") % 40))
        .select(
            F.format_string("CRT%08d", F.col("id")).alias("contract_id"),
            F.col("reg").alias("contract_reg_type_id"),
            F.format_string("عقد%d", F.col("reg")).alias("contract_reg_type_ar"),
            F.when(F.col("reg") == 1, "New").otherwise("Renew").alias("contract_reg_type_en"),
            F.format_string(
                "20%02d-%02d-%02d",
                F.col("id") % 5 + 18,
                F.col("id") % 12 + 1,
                F.col("id") % 28 + 1,
            ).alias("contract_start_date"),
            F.when(F.col("id") % 97 == 0, "garbage-date").otherwise(
                F.format_string(
                    "20%02d-%02d-%02d",
                    F.col("id") % 5 + 19,
                    F.col("id") % 12 + 1,
                    F.col("id") % 28 + 1,
                )
            ).alias("contract_end_date"),
            F.when(F.col("id") % 5000 == 7, F.lit(5_000_000_000)).otherwise(
                (F.col("id") % 800) * 500 + 20_000
            ).alias("contract_amount"),
            ((F.col("id") % 800) * 500 + 20_000).alias("annual_amount"),
            F.col("area").alias("area_id"),
            F.format_string("منطقة%d", F.col("area")).alias("area_name_ar"),
            F.format_string("Area %d", F.col("area")).alias("area_name_en"),
            (F.col("id") % 900 + 100).alias("actual_area"),
            F.when(F.col("id") % 10 == 0, "None")
            .when(F.col("id") % 11 == 0, F.lit(None).cast("string"))
            .otherwise((F.col("id") % 30).cast("string"))
            .alias("project_number"),
            *[
                e
                for i, (name, ar_prefix, pool) in enumerate(_MIRROR_FIELDS)
                for e in (
                    F.format_string(
                        f"{ar_prefix} %d رقم", F.col("id") % len(pool) + i
                    ).alias(f"{name}_ar"),
                    F.element_at(
                        F.array(*[F.lit(p) for p in pool]),
                        (F.col("id") % len(pool) + 1).cast("int"),
                    ).alias(f"{name}_en"),
                )
            ],
        )
    )
    df.repartition(8).write.mode("overwrite").option("header", True).csv(path)


def _dir_bytes(path: str, suffix: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, f"**/*{suffix}"), recursive=True)
    )


def bench_pipeline(spark, reps: int = 1) -> tuple[float, dict]:
    """Time the flagship CSV→Parquet pipeline (BASELINE.md targets).

    Best-of-``reps`` with the output dirs deleted between reps, plus a
    per-leg load record (round-12 verdict item 1): this leg was the
    ONE single-shot number in the artifact and it twice recorded a
    phantom 2.26× regression (BENCH_r11 7.547 s vs a standalone-
    verified 3.35 s on a git-identical code path) because it runs
    after ~37 queries' residual load. The rep cost is seconds; the
    first run is reported alongside the best, like every other leg."""
    import shutil

    from ais_data_pipeline_spark.plans.rent_contracts import run_pipeline

    base = f"/tmp/ais_bench_pipeline_{PIPELINE_ROWS}"
    csv_dir = os.path.join(base, "csv")
    if not os.path.isdir(csv_dir) or not glob.glob(os.path.join(csv_dir, "*.csv")):
        _generate_pipeline_csv(spark, csv_dir, PIPELINE_ROWS)
    csv_bytes = _dir_bytes(csv_dir, ".csv")

    # Same two fixes the at-scale leg needed (SCALING.md round-8
    # root-cause): (a) the ~272 MiB CSV packs into ~3 partitions at the
    # default 128 MiB split size — 3 parse tasks on a 32-core session;
    # split so every core gets ~2 waves. (b) the pipeline's codegen
    # classes compile on first execution; a 50k-row same-shape warmup
    # moves that one-time cost out of the timed section. maxPartition-
    # Bytes is a runtime SQL conf; restored after the leg.
    cores = spark.sparkContext.defaultParallelism
    split = max(4 * 1024 * 1024, csv_bytes // max(cores * 2, 1))
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    warm_dir = os.path.join(base, "warmup_csv")
    if not glob.glob(os.path.join(warm_dir, "*.csv")):
        _generate_pipeline_csv(spark, warm_dir, 50_000)
    run_pipeline(
        spark,
        warm_dir,
        os.path.join(base, "warmup_out"),
        os.path.join(base, "warmup_quarantine"),
        schema=_rent_contracts_schema(),
    )

    out, quar = os.path.join(base, "out"), os.path.join(base, "quarantine")
    load_before = [round(x, 2) for x in os.getloadavg()]
    best = first = best_load = None
    res = parquet_bytes = None
    try:
        for i in range(max(reps, 1)):
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(quar, ignore_errors=True)
            rep_load = round(os.getloadavg()[0], 2)
            t0 = time.perf_counter()
            r = run_pipeline(
                spark, csv_dir, out, quar, schema=_rent_contracts_schema()
            )
            dt = time.perf_counter() - t0
            if i == 0:
                first = dt
            if best is None or dt < best:
                best, best_load, res = dt, rep_load, r
                parquet_bytes = _dir_bytes(out, ".parquet")
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
    return round(best, 3), {
        "rows_in": res.rows_in,
        "rows_out": res.rows_out,
        "rows_quarantined": res.rows_quarantined,
        "csv_mib": round(csv_bytes / 2**20, 2),
        "parquet_mib": round(parquet_bytes / 2**20, 2),
        "compression_ratio": round(csv_bytes / max(parquet_bytes, 1), 1),
        "mib_per_sec": round(csv_bytes / 2**20 / best, 1),
        "reps": max(reps, 1),
        "first_run_sec": round(first, 3),
        "load_avg_before": load_before,
        "load_at_best_rep": best_load,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf_num = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf_num = None
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(
        app_name="ais_data_pipeline_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    # JVM warmup outside the measured section
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Cool-down gate (round-13 verdict item 4): BENCH_r12 and BENCH_r13
    # both started at 1-min load >5 — residual decay from the previous
    # round's verify/pytest wrap-up, not concurrent work (ps on a
    # flagged box shows it idle). The 1-min load average decays with a
    # ~1-min time constant, so a bounded idle wait converts a flagged
    # artifact into a clean one at a one-time cost of O(minutes). The
    # wait is recorded (`cooldown_sec`) and bounded
    # (SPARK_GRAFT_COOLDOWN_MAX_SEC, default 300; 0 disables); the gate
    # targets 0.9x the flag threshold so the flag can't re-trip on
    # rounding. If the box is genuinely busy the gate times out and the
    # existing load_flagged machinery takes over exactly as before.
    cooldown_max = float(os.environ.get("SPARK_GRAFT_COOLDOWN_MAX_SEC", 300))
    _t_cd = time.monotonic()
    while (
        os.getloadavg()[0] > LOAD_FLAG_MAX * 0.9
        and time.monotonic() - _t_cd < cooldown_max
    ):
        time.sleep(5)
    cooldown_sec = round(time.monotonic() - _t_cd, 1)

    load_start = os.getloadavg()
    by_name = {q.name: q for q in registry()}
    # Per query, BOTH timings are reported (round-4 verdict ask —
    # rounds stay comparable whatever an earlier round measured):
    #   first_run — cold-ish first execution (codegen/JIT compile in);
    #   best      — min over N reps, the stable plan-cost estimate once
    #               warm (scheduler noise dominates sub-second legs).
    # `queries` carries the best; `queries_first_run` the first run.
    # The pipeline leg stays single-shot: it writes real files.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", 2))
    # Sub-second-leg variance guard (round-15; r14 verdict "what's
    # wrong" #1): three unchanged sub-second legs roughly DOUBLED on an
    # UNFLAGGED r14 record — scheduler noise dominates legs this short,
    # and best-of-2 gives one noisy rep a 50% shot at capping the best.
    # Legs whose best is still under SUBSEC_THRESHOLD after the
    # standard reps keep repeating (cheap — they're sub-2s by
    # definition) up to SUBSEC_REPS total, and EVERY rep's wall-clock
    # is recorded per leg (`queries_rep_times`), so a +16% headline
    # can be attributed mechanically: a tight rep spread = a real
    # change, a wild spread = the box.
    subsec_reps = int(os.environ.get("SPARK_GRAFT_BENCH_SUBSEC_REPS", 5))
    subsec_threshold = float(os.environ.get("SPARK_GRAFT_BENCH_SUBSEC_SEC", 2.0))
    timings: dict[str, float] = {}
    first_runs: dict[str, float] = {}
    # 1-min load at the moment each leg's BEST rep started (round-12
    # verdict item 7): lets a ratio reader mechanically discard a
    # contaminated best instead of consulting SCALING.md prose.
    headline_load: dict[str, float] = {}
    headline_rep_times: dict[str, list[float]] = {}
    for name in HEADLINE:
        q = by_name[name]
        best = None
        rep_times: list[float] = []
        i = 0
        while True:
            rep_load = round(os.getloadavg()[0], 2)
            t0 = time.perf_counter()
            rows = q.fn(spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            assert rows is not None
            rep_times.append(round(dt, 3))
            if i == 0:
                first_runs[name] = round(dt, 3)
            if best is None or dt < best:
                best, headline_load[name] = dt, rep_load
            i += 1
            if i >= max(reps, 1) and (best >= subsec_threshold or i >= subsec_reps):
                break
        timings[name] = round(best, 3)
        headline_rep_times[name] = rep_times

    # The heavy tier gets the SAME honesty treatment as the headline
    # suite (round-5 verdict ask): best-of-N + recorded first run +
    # a ratio against the previous round's bench file, so regressions
    # here are as visible as headline ones. reps=3 (round-7 verdict
    # item 5): with 2 reps a single noisy rep caps the best-of signal —
    # 12/15 heavies drifted 1.04-1.16x in the r7 driver run while plans
    # were unchanged; a third rep separates box noise from regressions.
    ext_reps = int(os.environ.get("SPARK_GRAFT_BENCH_EXT_REPS", 3))
    extended: dict[str, float] = {}
    extended_first: dict[str, float] = {}
    extended_load: dict[str, float] = {}
    for name in EXTENDED:
        q = by_name[name]
        best = None
        for i in range(max(ext_reps, 1)):
            rep_load = round(os.getloadavg()[0], 2)
            t0 = time.perf_counter()
            rows = q.fn(spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            assert rows is not None
            if i == 0:
                extended_first[name] = round(dt, 3)
            if best is None or dt < best:
                best, extended_load[name] = dt, rep_load
        extended[name] = round(best, 3)

    # Load-trust pass (round-10 verdict item 4; widened to HEADLINE in
    # round 12 — BENCH_r11's headline rows read 1.2-1.6× under load
    # while a quiet box read 0.9×): when the bench STARTED on a
    # contended box, re-run every headline and extended leg once more
    # after the main pass has drained (the contention source —
    # typically the driver's own verify sweep — has usually finished by
    # now) and keep the best-of. The flag itself is recorded either
    # way, so a ratio reader can tell a measured regression from a
    # busy box without consulting SCALING.md prose.
    load_flagged = load_start[0] > LOAD_FLAG_MAX
    if load_flagged:
        for name in HEADLINE:
            q = by_name[name]
            rep_load = round(os.getloadavg()[0], 2)
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            if dt < timings[name]:
                timings[name] = round(dt, 3)
                headline_load[name] = rep_load
        for name in EXTENDED:
            q = by_name[name]
            rep_load = round(os.getloadavg()[0], 2)
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            if dt < extended[name]:
                extended[name] = round(dt, 3)
                extended_load[name] = rep_load

    # ratio vs the newest BENCH_r*.json carrying an extended section
    # (best-over-best; the prior rounds' extended was single-shot = its
    # first run, so the first ratio row after a format change is
    # conservative — later rounds compare like-for-like)
    def _prev_extended() -> dict:
        import re

        # newest-first: bench_detail.json (the full detail object this
        # script persists at the end of every run — from round 10 the
        # driver's BENCH tail carries only the compact summary, so the
        # per-query extended map lives here), then the driver's
        # recorded BENCH_r*.json artifacts
        prior = [os.path.join(_REPO, "bench_detail.json")] + sorted(
            glob.glob(
                os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_r*.json")
            ),
            reverse=True,
        )
        for path in prior:
            try:
                with open(path) as f:
                    prev = json.load(f)
                # driver-recorded files wrap the bench line under
                # "parsed"; when the driver recorded parsed=null (r6),
                # the extended dict still survives inside the raw
                # "tail" string — it is flat (name: float), so a
                # non-nested regex recovers it
                inner = prev.get("parsed") or prev
                # like-for-like only: a local sf0.01 iteration run must
                # not become the ratio baseline for a driver sf0.1 run.
                # Conservative: an UNKNOWN sf on either side is not a
                # confirmed match — skip it rather than risk a
                # cross-scale ratio (round-10 review)
                prev_sf = prev.get("sf", inner.get("sf"))
                if (
                    prev_sf is None
                    or sf_num is None
                    or float(prev_sf) != sf_num
                ):
                    continue
                ext = inner.get("extended")
                if not ext:
                    m = re.search(r'"extended": ({[^{}]*})', prev.get("tail", ""))
                    ext = json.loads(m.group(1)) if m else None
                if ext:
                    return ext
            except Exception:  # noqa: BLE001 - ratios are best-effort decoration
                continue
        return {}

    prev_ext = _prev_extended()
    ext_ratio = {
        n: round(extended[n] / prev_ext[n], 2) for n in extended if prev_ext.get(n)
    }

    pipeline_sec, pipeline_detail = bench_pipeline(spark, reps=max(reps, 2))
    timings["pipeline_csv_to_parquet"] = pipeline_sec
    first_runs["pipeline_csv_to_parquet"] = pipeline_detail["first_run_sec"]
    headline_load["pipeline_csv_to_parquet"] = pipeline_detail["load_at_best_rep"]

    # Reference-scale leg (round-5 parity ask): prove the pipeline at
    # the reference's actual input size (≥4.2 GiB) under a capped heap,
    # with measured peak memory. Runs in its OWN JVM via subprocess so
    # the 4g cap is real (this session's driver heap is 16g). Reported
    # under its own key — NOT added to the suite total, which must stay
    # comparable round-over-round. Skip with SPARK_GRAFT_SCALE_PIPELINE=0.
    def _scale_leg(tool: str) -> dict | None:
        import subprocess

        proc = None
        try:
            proc = subprocess.run(
                [sys.executable, os.path.join(_REPO, "tools", tool)],
                capture_output=True,
                text=True,
                timeout=1800,
            )
            line = [
                ln for ln in proc.stdout.strip().splitlines() if ln.startswith("{")
            ][-1]
            return json.loads(line)
        except Exception as e:  # noqa: BLE001 - bench must still emit its line
            # Diagnosable failure object (round-6 verdict: a bare
            # IndexError from the stdout parse hid a subprocess OOM) —
            # carry the child's exit code and stderr tail, not just the
            # parse error.
            err: dict = {"error": repr(e)[:200]}
            if proc is not None:
                err["returncode"] = proc.returncode
                if proc.stderr:
                    err["stderr_tail"] = proc.stderr[-500:]
            return err

    # The scale legs run in their OWN capped JVMs; stop this session's
    # (16g-heap) JVM first so the capped runs are measured on a quiet
    # box — the round-6 pipeline_at_scale regression (174.6 -> 133.6
    # MiB/s, unchanged code path) tracked to contention with the bench
    # JVM + corpus generation, not the plan.
    spark.stop()

    scale_detail = None
    if os.environ.get("SPARK_GRAFT_SCALE_PIPELINE", "1") != "0":
        scale_detail = _scale_leg("pipeline_at_scale.py")

    # Curation tier at reference scale (round-5 verdict ask): 3M-doc /
    # ~4.3 GiB generated corpus through exact dedup -> LSH near-dup ->
    # quality under a capped 4g heap, in its own JVM. The corpus caches
    # under /tmp, so per-round cost is the curation run itself (~6.5 min
    # measured). Skip with SPARK_GRAFT_SCALE_CURATION=0.
    curation_detail = None
    if os.environ.get("SPARK_GRAFT_SCALE_CURATION", "1") != "0":
        curation_detail = _scale_leg("curation_at_scale.py")

    total = round(sum(timings.values()), 3)
    total_first = round(sum(first_runs.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    detail = {
        "metric": "headline_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_first_run": first_runs,
        "first_run_total": total_first,
        # 1-min load at each leg's best rep (round-12 verdict item 7)
        "queries_load": headline_load,
        # every rep's wall-clock per headline leg (round-15: sub-2s
        # legs run up to SUBSEC_REPS reps; the spread attributes a
        # swing to box noise vs a real plan change mechanically)
        "queries_rep_times": headline_rep_times,
        "extended": extended,
        "extended_first_run": extended_first,
        "extended_load": extended_load,
        "extended_ratio_vs_prev": ext_ratio,
        "extended_total": round(sum(extended.values()), 3),
        "sf": float(sf) if sf else None,
        # box-contention context (round-7 verdict item 5): the
        # 1/5/15-min load averages at bench start and end let a
        # round-over-round timing drift be attributed to a busy
        # driver box instead of guessing
        "load_avg_start": [round(x, 2) for x in load_start],
        # idle seconds spent in the pre-measurement cool-down gate
        # (0.0 = box was already quiet)
        "cooldown_sec": cooldown_sec,
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
        # True when load_avg_start[0] exceeded LOAD_FLAG_MAX: extended
        # bests then include one post-drain re-run, and any surviving
        # >1x extended_ratio_vs_prev still deserves suspicion
        "load_flagged": load_flagged,
        "pipeline": pipeline_detail,
        "pipeline_at_scale": scale_detail,
        "curation_at_scale": curation_detail,
    }
    # Two lines, detail FIRST, compact summary LAST (round-10 verdict
    # item 1): the driver keeps only the final ~2000 chars of stdout
    # and parses the tail, so the single giant detail line lost its
    # headline block to truncation in r8 and r9 (BENCH_r0{8,9}.json
    # both recorded "parsed": null). The last line is now a compact,
    # size-bounded record carrying everything the round-over-round
    # comparison needs; the full detail survives one line above it
    # (and in SCALING.md).
    # quiet-box persist gate (r16 verdict item 3): decide BEFORE the
    # print so the decision rides the artifact itself
    detail_path = os.path.join(_REPO, "bench_detail.json")
    prev_detail = None
    try:
        with open(detail_path) as f:
            prev_detail = json.load(f)
    except (OSError, ValueError):
        pass
    detail["detail_persisted"] = _should_persist_detail(prev_detail, detail)
    print(json.dumps(detail))
    print(json.dumps(compact_summary(detail)))
    # persist the full detail for the NEXT run's ratio baseline (the
    # driver's artifact keeps only the compact tail); committed with
    # the round, so the per-query record survives in git history.
    # Skipped when this run was materially more contended than the
    # record on disk (_should_persist_detail) — the stdout artifact
    # still carries the full detail either way.
    if detail["detail_persisted"]:
        try:
            with open(detail_path, "w") as f:
                json.dump(detail, f)
        except OSError:
            pass  # a read-only checkout still benches fine


#: compact_summary output must stay within the driver's stdout-tail
#: capture (measured 2000 chars in BENCH_r09.json) with headroom
COMPACT_BUDGET = 1900


def compact_summary(detail: dict) -> dict:
    """The size-bounded final-line record: headline per-query timings
    (the driver contract's ``queries`` key) + suite totals + one-number
    summaries of the pipeline and at-scale legs. Keys are dropped
    lowest-value-first if the encoded line would ever exceed
    COMPACT_BUDGET, so the driver's tail capture always ends with one
    complete JSON object."""
    pipe = detail.get("pipeline") or {}
    scale = detail.get("pipeline_at_scale") or {}
    cur = detail.get("curation_at_scale") or {}

    def _pick(d: dict, keys: list[str]) -> dict:
        return {k: d[k] for k in keys if k in d}

    out = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": detail["unit"],
        "queries": detail["queries"],
        # per-leg load at each best rep + the worst rep-spread ratio
        # (r15: the driver keeps only this compact tail, so the
        # variance evidence must survive here, not just in
        # bench_detail.json)
        "queries_load": detail.get("queries_load", {}),
        "max_rep_spread": max(
            (
                round(max(ts) / max(min(ts), 1e-9), 2)
                for ts in detail.get("queries_rep_times", {}).values()
                if ts
            ),
            default=None,
        ),
        "first_run_total": detail["first_run_total"],
        "extended_total": detail["extended_total"],
        "sf": detail["sf"],
        "load_avg_start": detail["load_avg_start"],
        "load_avg_end": detail["load_avg_end"],
        "load_flagged": detail.get("load_flagged", False),
        "cooldown_sec": detail.get("cooldown_sec", 0.0),
        "pipeline": _pick(
            pipe, ["wall_clock_sec", "mib_per_sec", "compression_ratio"]
        ),
        "pipeline_at_scale": _pick(
            scale,
            ["mib_per_sec", "elapsed_sec", "peak_heap_mib", "gc_frac", "error"],
        ),
        "curation_at_scale": _pick(
            cur, ["elapsed_sec", "text_mib_per_sec", "peak_heap_mib", "error"]
        ),
    }
    # headline count is fixed (18 names, ~1.1 KiB encoded) so this
    # never trips today; the guard makes the budget structural
    droppable = [
        "queries_load",
        "load_avg_end",
        "load_avg_start",
        "curation_at_scale",
        "pipeline_at_scale",
        "pipeline",
    ]
    while len(json.dumps(out)) > COMPACT_BUDGET and droppable:
        out.pop(droppable.pop(0), None)
    return out


if __name__ == "__main__":
    main()
