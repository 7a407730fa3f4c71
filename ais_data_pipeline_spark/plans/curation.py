"""End-to-end corpus curation pipeline as a first-class plan.

The training-data counterpart of ``plans.rent_contracts``: one call
takes a raw document table through the standard curation chain —
exact dedup → MinHash-LSH near-dup removal → composite quality filter
— and writes the kept corpus, with per-stage accounting and
structured log events (reference M1 contract).

Built in the bounded-memory shape proven at 4.3 GiB under a 4 GiB
heap (``tools/curation_at_scale.py``, SCALING.md): each stage computes
its small DROP id-set — duplicates are a few percent of any real
corpus — which BROADCASTS into an anti-join against the raw scan, so
document text never shuffles and never pins in checkpoint blocks.
Stage semantics match the oracle-verified ``curation_pipeline_stats``
registry query (the near-dup stage uses the LSH path, whose verified
output equals the brute-force oracle at these banding parameters).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ais_data_pipeline_spark.observability import log, overlap
from ais_data_pipeline_spark.operators.dedup import minhash_near_dup
from ais_data_pipeline_spark.operators.text import quality_col
from ais_data_pipeline_spark.checkpointing import materialize
from ais_data_pipeline_spark.operators.util import gated_broadcast


@dataclass(frozen=True)
class CurationResult:
    n_total: int
    n_after_exact: int
    n_after_near_dup: int
    n_kept: int
    #: per-stage whitespace-token totals (same stage keys as
    #: ``stage_counts``); populated when ``count_tokens=True``
    token_counts: dict[str, int] | None = None

    @property
    def stage_counts(self) -> dict[str, int]:
        return {
            "00_total": self.n_total,
            "01_exact_dedup": self.n_after_exact,
            "02_near_dup": self.n_after_near_dup,
            "03_quality": self.n_kept,
        }


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str,
    quality_threshold: float = 0.65,
    jaccard_threshold: float = 0.5,
    n_hashes: int = 32,
    bands: int = 16,
    max_bucket_size: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    count_tokens: bool = False,
) -> CurationResult:
    """Run the curation chain and write the kept documents to
    ``out_path`` (zstd parquet via the session's codec conf). Returns
    per-stage survivor counts; rows_in − rows_out is fully attributed
    across the three stages.

    ``max_bucket_size`` is the boilerplate guard for the LSH stage —
    leave None for exact parity with the brute-force oracle, set it on
    corpora with degenerate near-identical clusters.

    ``count_tokens=True`` additionally reports per-stage whitespace-
    token totals (``CurationResult.token_counts``) — the unit a
    pretraining budget is written in. Cost: the count() each stage
    already pays becomes a two-column agg on the same scan (map-side
    partial, no extra pass)."""
    from ais_data_pipeline_spark.operators.text import token_count

    def measure(df: DataFrame) -> tuple[int, int | None]:
        if not count_tokens:
            return df.count(), None
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(token_count(F.col(text_col)).cast("long")).alias("t"),
        ).first()
        return row["n"], (row["t"] or 0)

    def stage1() -> tuple[DataFrame, int]:
        # stage 1: exact — only the ~few-% non-min ids materialize
        hashed = docs.select(id_col, F.md5(F.col(text_col).cast("binary")).alias("__h"))
        keep_min = hashed.groupBy("__h").agg(F.min(id_col).alias("__keep"))
        drop_exact = (
            hashed.join(keep_min, "__h")
            .filter(F.col(id_col) != F.col("__keep"))
            .select(id_col)
            .transform(materialize)  # small: dup ids only
        )
        return drop_exact, drop_exact.count()

    # the input measurement and the stage-1 drop-set computation are
    # independent jobs over the same scan — overlap them (r18, guide
    # §2.6)
    (n_total, tok_total), (drop_exact, n_drop_exact) = overlap(
        spark, lambda: measure(docs), stage1
    )
    # size-gated (r17): real corpora can carry drop-sets past broadcast
    # size; above the threshold AQE picks a keys-only shuffled anti-join
    s1 = docs.join(gated_broadcast(drop_exact, n_drop_exact), id_col, "left_anti")
    log("curation_exact_dedup", rows_in=n_total, rows_dropped=n_drop_exact)

    # stage 2: LSH near-dup on survivors, drop the higher id per pair
    drop_near = (
        minhash_near_dup(
            s1,
            threshold=jaccard_threshold,
            n_hashes=n_hashes,
            bands=bands,
            text_col=text_col,
            id_col=id_col,
            max_bucket_size=max_bucket_size,
        )
        .select(F.col("doc_b").alias(id_col))
        .distinct()
        .transform(materialize)
    )
    n_drop_near = drop_near.count()
    s2 = s1.join(gated_broadcast(drop_near, n_drop_near), id_col, "left_anti")
    log("curation_near_dup", rows_in=n_total - n_drop_exact, rows_dropped=n_drop_near)

    # stage 3: quality filter as a map-side column expression on the
    # full-width frame (no (id, quality) projection + re-join — kept
    # docs are MOST of the corpus, so neither side broadcasts) + the
    # single write. Counting rides the write via Observation (r15,
    # the quarantine-sink recipe): the r14 shape re-read the whole
    # kept corpus back just to count it — a full extra scan of ~96%
    # of the documents.
    # round(…,5) replicates quality_score's decision boundary exactly
    from pyspark.sql import Observation

    kept = s2.filter(F.round(quality_col(F.col(text_col)), 5) >= quality_threshold)
    obs = Observation("curation_kept")
    obs_aggs = [F.count(F.lit(1)).alias("n")]
    if count_tokens:
        obs_aggs.append(
            F.sum(token_count(F.col(text_col)).cast("long")).alias("t")
        )
    kept = kept.observe(obs, *obs_aggs)
    kept.write.mode("overwrite").parquet(out_path)
    n_kept = obs.get["n"]
    tok_kept = (obs.get["t"] or 0) if count_tokens else None
    log(
        "curation_quality",
        rows_in=n_total - n_drop_exact - n_drop_near,
        rows_kept=n_kept,
    )
    token_counts = None
    if count_tokens:
        # Survivor-stage token sums via the DROP sides (r18): the r17
        # shape re-scanned and re-tokenized s1 AND s2 — two passes over
        # ~the whole corpus for sums that are derivable by exact
        # integer subtraction, Σ(survivors) = Σ(total) − Σ(dropped).
        # One inner join against the (tiny, already-materialized,
        # stage-tagged) drop sets tokenizes only the few-percent
        # dropped docs in a single pass.
        tagged = drop_exact.withColumn("__st", F.lit(1)).unionByName(
            drop_near.withColumn("__st", F.lit(2))
        )
        n_drops = n_drop_exact + n_drop_near
        tok = token_count(F.col(text_col)).cast("long")
        row = (
            docs.join(gated_broadcast(tagged, n_drops), id_col)
            .agg(
                F.sum(F.when(F.col("__st") == 1, tok)).alias("t1"),
                F.sum(F.when(F.col("__st") == 2, tok)).alias("t2"),
            )
            .first()
        )
        tok_s1 = tok_total - (row["t1"] or 0)
        tok_s2 = tok_s1 - (row["t2"] or 0)
        token_counts = {
            "00_total": tok_total,
            "01_exact_dedup": tok_s1,
            "02_near_dup": tok_s2,
            "03_quality": tok_kept,
        }
    return CurationResult(
        n_total=n_total,
        n_after_exact=n_total - n_drop_exact,
        n_after_near_dup=n_total - n_drop_exact - n_drop_near,
        n_kept=n_kept,
        token_counts=token_counts,
    )
