"""Similarity search over embedding columns (engine extension layer —
the reference has no vector ops; this is the training-data-pipeline
surface mandated by the north star).

Two tiers:

- ``cosine_topk`` — brute-force exact top-k against one query vector.
  All math runs JVM-side through higher-order array functions
  (``zip_with`` + ``aggregate``): no Python per row, whole-stage
  codegen'd, and the top-k compiles to TakeOrderedAndProject (each
  partition retains k rows). At 100 TB this is one scan, no shuffle.
- ``cosine_topk_lsh`` — approximate top-k via random-hyperplane LSH:
  each vector hashes to a ``n_planes``-bit signature; candidates =
  vectors sharing the query's bucket (optionally with multi-probe on
  neighboring buckets); exact cosine re-ranks the candidates. The
  bucket column is also the natural partition/bucketing key for a
  persisted ANN index table.
- ``pairwise_topk_per_vector`` — all-pairs k-NN on a (small) vector set
  via a bucketed self-join; the scale path for all-pairs is LSH
  bucketing first, exact re-rank within buckets.
"""

from __future__ import annotations

import math
import os
import random
import uuid

import pandas as pd  # module-level: pandas_udf type hints resolve from module globals

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ais_data_pipeline_spark import fsutil
from ais_data_pipeline_spark.localrel import local_df
from ais_data_pipeline_spark.checkpointing import materialize


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, array order (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# -- SQL-string expression builders (r18 optimization round) ----------------
#
# Plan CONSTRUCTION was the dominant cost of every centroid-literal
# operator (kmeans assignment, PQ encode/train, ADC lookup tables):
# the k×m loops build hundreds of Column objects, and each PySpark
# Column/functions call is one-or-more py4j round-trips (~1.5 ms on
# the bench box) — pq_topk spent 4.7 s building its DataFrame before
# Spark saw the first byte (r18 profile; guide §1.2 "per-task work"
# applied to the DRIVER). One F.expr(...) parses an arbitrarily large
# expression in a single round-trip, and the parsed tree resolves to
# the IDENTICAL Catalyst operators (ArrayAggregate/ZipWith/CaseWhen/
# Literal…) with the identical evaluation order, so results stay
# bit-for-bit and the unrolled SQL oracles replay unchanged. These
# helpers render the same expressions the Column builders above
# produce, as SQL text.


def _sql_dbl(x: float) -> str:
    """Exact SQL double literal: repr() is the shortest round-trip
    decimal, and Spark's literal parse (Java parseDouble) returns the
    identical IEEE double. Non-finite values go through a CAST that
    constant-folds to the same Literal."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _sql_vec(v: list[float]) -> str:
    """array(<doubles>) — parses to the same CreateArray-of-Literals
    tree `_lit_vec` used to build element-wise (then constant-folds)."""
    return "array(" + ", ".join(_sql_dbl(float(x)) for x in v) + ")"


def _sql_dot(a: str, b: str) -> str:
    """``_dot`` as SQL text — same ArrayAggregate(ZipWith(...)) fold,
    same left-to-right accumulation."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def _sql_l2sq_pre(aa: str, a: str, b: list[float]) -> str:
    """``_l2sq_pre`` as SQL text: (aa - 2·dot(a, b)) + dot(b, b), with
    dot(b,b) folded driver-side exactly like the Column form."""
    return f"(({aa} - 2.0D * {_sql_dot(a, _sql_vec(b))}) + {_sql_dbl(_self_dot(b))})"


def _as_double_array(col: Column) -> Column:
    return col.cast("array<double>")


def cosine_similarity_col(vec_col: Column, query: list[float]) -> Column:
    """Cosine(vec, literal query) as a Catalyst expression.

    Mirrors the oracle formula exactly: dot/(sqrt(dot_aa)*sqrt(dot_qq)),
    accumulation in array order — bit-identical across engines. A
    zero-norm vector or query scores NULL (``try_divide``), under ANSI
    too.
    """
    v = _as_double_array(vec_col)
    q = _lit_vec(query)
    qq = 0.0
    for x in query:
        qq += float(x) * float(x)
    return F.try_divide(_dot(v, q), F.sqrt(_dot(v, v)) * F.lit(math.sqrt(qq)))


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact brute-force cosine top-k (the ANN correctness baseline)."""
    sim = cosine_similarity_col(F.col(vec_col), query)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        df.select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for signed-random-projection
    LSH (SimHash family for vectors)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket_col(vec_col: str, planes: list[list[float]]) -> Column:
    """Pack sign(v·plane) bits into a long bucket id — pure JVM
    expression, usable as a join / partition key.

    Takes the vector COLUMN NAME: the whole n_planes-term expression
    builds as one parsed SQL string (r18 — a Column-built tree costs
    two HOF-lambda constructions per plane, ~30 ms each on a slow py4j
    link)."""
    v_sql = "CAST(`{}` AS ARRAY<DOUBLE>)".format(vec_col.replace("`", "``"))
    terms = ["CAST(0 AS BIGINT)"]
    for i, plane in enumerate(planes):
        dot = _sql_dot(v_sql, _sql_vec(plane))
        terms.append(
            f"((CASE WHEN {dot} >= 0 THEN CAST(1 AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END) * CAST({2 ** i} AS BIGINT))"
        )
    return F.expr(" + ".join(terms))


def bucket_of(vec: list[float], planes: list[list[float]]) -> int:
    """Driver-side LSH bucket of one vector (same bit layout as
    ``lsh_bucket_col``)."""
    b = 0
    for i, plane in enumerate(planes):
        dot = sum(x * y for x, y in zip(vec, plane))
        if dot >= 0:
            b |= 1 << i
    return b


def probe_buckets(
    query: list[float], planes: list[list[float]], multiprobe_bits: int = 1
) -> list[int]:
    """Query bucket plus all buckets within ``multiprobe_bits``
    bit-flips (multi-probe LSH: recover near-misses on the hyperplane
    boundaries without extra tables)."""
    from itertools import combinations

    n_planes = len(planes)
    qb = bucket_of(query, planes)
    probes = {qb}
    # general r-bit flips (round-10 review: the old hand-unrolled form
    # silently capped at 2, so multiprobe_bits >= 3 delivered less
    # recall than configured with no error); identical sets for 1/2
    for r in range(1, min(multiprobe_bits, n_planes) + 1):
        for flips in combinations(range(n_planes), r):
            mask = 0
            for i in flips:
                mask |= 1 << i
            probes.add(qb ^ mask)
    return sorted(probes)


def cosine_topk_lsh(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
    multiprobe_bits: int = 1,
    round_digits: int | None = 4,
) -> DataFrame:
    """Approximate cosine top-k: restrict to the query's LSH bucket
    (plus buckets within ``multiprobe_bits`` bit-flips), then exact
    re-rank. The candidate filter is a pushdown-able equality/IN
    predicate on a precomputable bucket column — the persisted form is
    ``build_ann_index`` + ``cosine_topk_indexed``, where the probe
    prunes partitions instead of scanning."""
    planes = random_hyperplanes(len(query), n_planes, seed)
    probes = probe_buckets(query, planes, multiprobe_bits)
    bucketed = df.withColumn("__bucket", lsh_bucket_col(vec_col, planes))
    candidates = bucketed.filter(F.col("__bucket").isin(*probes))
    return cosine_topk(
        candidates, query, k=k, vec_col=vec_col, id_col=id_col, round_digits=round_digits
    )


def _probe_dim(df: DataFrame, vec_col: str):
    """Vector dimension from the first NON-NULL row, or None when the
    frame is empty / every vector NULL. ``first()[...]`` on the raw
    frame was a TypeError on empty inputs and read ``size(NULL)`` (-1
    non-ANSI) on a NULL head row — the round-10 review's silent
    corrupted-index builder."""
    head = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(_as_double_array(F.col(vec_col))).alias("d"))
        .first()
    )
    return None if head is None else head["d"]


#: sidecar-consistency token: a build stamps the SAME id into the main
#: table dir and every sidecar dir (underscore-prefixed files are
#: invisible to Spark's listing); readers compare and fail LOUDLY on a
#: mismatch — the crash window between the main overwrite and the
#: sidecar write previously left a silently mis-routing index
#: (round-10 review). Indexes built before tokens existed have none on
#: either side and pass unchecked (legacy).
_BUILD_TOKEN = "_ais_build_id"


def _stamp_index(token: str, *dirs: str) -> None:
    for d in dirs:
        with open(os.path.join(d, _BUILD_TOKEN), "w") as f:
            f.write(token)


def _check_index_sidecars(main: str, *sidecars: str) -> None:
    def rd(d: str):
        try:
            with open(os.path.join(d, _BUILD_TOKEN)) as f:
                return f.read()
        except OSError:
            return None

    toks = [rd(main)] + [rd(s) for s in sidecars]
    present = [t for t in toks if t is not None]
    if not present:
        return  # legacy pre-token index
    if len(present) != len(toks) or len(set(present)) != 1:
        raise ValueError(
            "IVF index main table and sidecar(s) come from different "
            "builds (interrupted rebuild?) — probing would silently "
            "mis-route; rebuild the index"
        )


def build_ann_index(
    df: DataFrame,
    path: str,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> None:
    """Materialize a persisted ANN index: the LSH bucket becomes a
    PARTITION column of a parquet table, so an index probe reads only
    the probed ``bucket=`` directories (partition pruning — asserted in
    tests/test_plans.py) instead of scanning every vector. At 100 TB
    the full scan per query is the difference between an index and a
    marketing slide; build once, probe many.

    NULL vectors are excluded (a NULL bucket can never be probed) and
    an empty/all-NULL corpus builds a readable EMPTY index (plain
    zero-row table — an empty PARTITIONED write emits no files and the
    probe's read would fail schema inference)."""
    dim = _probe_dim(df, vec_col)
    if dim is None:
        (
            df.filter(F.lit(False))
            .withColumn("bucket", F.lit(0).cast("bigint"))
            .write.mode("overwrite")
            .parquet(path)
        )
        return
    planes = random_hyperplanes(dim, n_planes, seed)
    (
        df.filter(F.col(vec_col).isNotNull())
        .withColumn("bucket", lsh_bucket_col(vec_col, planes))
        .repartition("bucket")  # one task per bucket → one file per partition dir
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def cosine_topk_indexed(
    spark,
    index_path: str,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
    multiprobe_bits: int = 1,
    round_digits: int | None = 4,
    pre_filter: Column | None = None,
) -> DataFrame:
    """Probe a ``build_ann_index`` table: partition-pruned scan of the
    probed buckets, exact cosine re-rank of the candidates. Same
    parameters (n_planes/seed) must match the build. ``pre_filter``
    (e.g. excluding the query vector's own id) applies before the
    re-rank."""
    planes = random_hyperplanes(len(query), n_planes, seed)
    probes = probe_buckets(query, planes, multiprobe_bits)
    idx = spark.read.parquet(index_path)
    candidates = idx.filter(F.col("bucket").isin(*probes))
    if pre_filter is not None:
        candidates = candidates.filter(pre_filter)
    return cosine_topk(
        candidates, query, k=k, vec_col=vec_col, id_col=id_col, round_digits=round_digits
    )


def build_ann_index_multi(
    df: DataFrame,
    path: str,
    n_tables: int = 8,
    bits_per_table: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
) -> None:
    """Multi-table persisted ANN index — the recall lever classic LSH
    theory gives you: L independent hash tables of b bits each; a
    neighbor colliding in ANY table becomes a candidate, so recall is
    1-(1-p^b)^L instead of a single table's p^b. Storage is L× (each
    vector appears once per table); candidate selectivity falls as
    tables are added — tune (L, b) to the corpus' similarity profile.

    Layout: one parquet table partitioned by (tbl, bucket); each probe
    reads exactly L partition directories (one bucket per table).
    NULL vectors are excluded; an empty corpus builds a readable empty
    index (same contract as ``build_ann_index``).
    """
    dim = _probe_dim(df, vec_col)
    if dim is None:
        (
            df.filter(F.lit(False))
            .withColumn("tbl", F.lit(0).cast("int"))
            .withColumn("bucket", F.lit(0).cast("bigint"))
            .write.mode("overwrite")
            .parquet(path)
        )
        return
    df = df.filter(F.col(vec_col).isNotNull())
    rows = []
    for t in range(n_tables):
        planes = random_hyperplanes(dim, bits_per_table, seed + 1000 * t)
        rows.append(
            df.withColumn("tbl", F.lit(t)).withColumn(
                "bucket", lsh_bucket_col(vec_col, planes)
            )
        )
    union = rows[0]
    for r in rows[1:]:
        union = union.unionByName(r)
    (
        union.repartition("tbl", "bucket")
        .write.mode("overwrite")
        .partitionBy("tbl", "bucket")
        .parquet(path)
    )


def cosine_topk_indexed_multi(
    spark,
    index_path: str,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_tables: int = 8,
    bits_per_table: int = 4,
    seed: int = 42,
    round_digits: int | None = 4,
    pre_filter: Column | None = None,
) -> DataFrame:
    """Probe a ``build_ann_index_multi`` table: for each of the L
    tables, read the query's bucket partition; union, distinct on id
    (a vector colliding in several tables must score once), exact
    re-rank. The probe predicate is a per-table (tbl, bucket) equality
    OR-chain — all partition-prunable."""
    idx = spark.read.parquet(index_path)
    pred = F.lit(False)
    for t in range(n_tables):
        planes = random_hyperplanes(len(query), bits_per_table, seed + 1000 * t)
        qb = bucket_of(query, planes)
        pred = pred | ((F.col("tbl") == t) & (F.col("bucket") == qb))
    candidates = idx.filter(pred)
    if pre_filter is not None:
        candidates = candidates.filter(pre_filter)
    candidates = candidates.dropDuplicates([id_col])
    return cosine_topk(
        candidates, query, k=k, vec_col=vec_col, id_col=id_col, round_digits=round_digits
    )


def head_centroids(
    df: DataFrame, n_centroids: int = 16, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Deterministic coarse quantizer for IVF: the first ``n_centroids``
    vectors by id. Structurally a stand-in for k-means (the IVF
    machinery — list assignment, partitioned storage, nprobe probing —
    is identical); deterministic so a SQL oracle can re-derive the
    exact same lists. Swap in ``pyspark.ml.clustering.KMeans`` centers
    for real corpora; everything downstream is unchanged."""
    return (
        df.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("centroid_id"), _as_double_array(F.col(vec_col)).alias("cvec"))
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance in the dot-expansion form
    ``dot(a,a) - 2·dot(a,b) + dot(b,b)`` — the exact op sequence the
    DuckDB oracles replay via list_dot_product, so both engines (and
    driver-side Python mirrors) produce bit-identical doubles."""
    return _dot(a, a) - F.lit(2.0) * _dot(a, b) + _dot(b, b)


def _self_dot(vec: list[float]) -> float:
    """Driver-side Σx² with the same left-fold order as ``_dot`` (and
    DuckDB's list_dot_product) — the constant fold of dot(b,b) for a
    literal vector, bit-identical to computing it JVM-side."""
    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return acc


def _l2sq_pre(aa: Column, a: Column, b: list[float]) -> Column:
    """``_l2sq`` against a LITERAL vector with its two invariant terms
    hoisted: ``aa`` is dot(a,a) materialized ONCE per row (the term is
    identical across all k centroids a row is scored against — inlining
    `_l2sq` k times recomputes it k times), and dot(b,b) folds to a
    driver constant. Same association ``(aa - 2·ab) + bb``, so the
    value is bit-identical to ``_l2sq`` and every unrolled SQL oracle
    replays unchanged; per-row HOF work drops from 3k dots to k+1."""
    return aa - F.lit(2.0) * _dot(a, _lit_vec(b)) + F.lit(_self_dot(b))


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """Assign every vector to its nearest centroid (ties to the lowest
    centroid id). The centroid frame is tiny BY CONTRACT (the IVF
    quantizer's k rows), so it collects to driver literals and the
    assignment runs as ``kmeans_assign``'s map-side projection — no
    join, no window shuffle; the old broadcast-cross-join + window
    argmax paid an n·k-row shuffle for the same answer (bit-identical:
    same distance expressions, same first-match tie-break).
    ``metric``: 'cosine' (IVF quantizer default) or 'l2'
    (product-quantization subspaces, where only L2 decomposes across
    subspaces). Keeps the caller's extra columns."""
    cent_rows = sorted(
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        for r in centroids.collect()
    )
    return kmeans_assign(df, cent_rows, vec_col, id_col, metric=metric).drop("__v")


def build_ivf_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize an IVF index: inverted lists as ``list_id=``
    partition directories plus a ``_centroids`` sidecar table. A probe
    reads only the ``nprobe`` nearest lists — partition-pruned, like
    the LSH index, but with data-adaptive cells instead of random
    planes (the classic IVF recall/selectivity trade).

    Layout is ``list_id=…/src_batch=-1`` so later
    ``append_to_ivf_index`` batches nest as sibling ``src_batch=``
    subdirectories (Spark partition discovery requires one consistent
    depth across the table)."""
    # a rebuild writes the flat generation-0 layout: drop any pointer
    # a prior compaction published, or readers would resolve to a
    # generation this rebuild never writes (r14)
    fsutil.reset_generations(path.rstrip("/"))
    cents = head_centroids(df, n_centroids, vec_col, id_col)
    (
        ivf_assign(df, cents, vec_col, id_col)
        .withColumn("src_batch", F.lit(-1).cast("bigint"))
        .repartition("list_id")
        .write.mode("overwrite")
        .partitionBy("list_id", "src_batch")
        .parquet(path)
    )
    cents.coalesce(1).write.mode("overwrite").parquet(path.rstrip("/") + "_centroids")
    # stamp LAST: a crash anywhere above leaves a token mismatch (or a
    # one-sided token) that readers reject loudly instead of routing
    # new assignments through a stale quantizer (round-10 review)
    _stamp_index(uuid.uuid4().hex, path, path.rstrip("/") + "_centroids")


def append_to_ivf_index(
    df: DataFrame,
    path: str,
    src_batch: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally ingest new vectors into a persisted IVF index:
    assign each to its nearest EXISTING centroid (the coarse quantizer
    is frozen at build time — re-training would invalidate every
    stored assignment; production systems re-train offline and swap)
    and append under ``list_id=…/src_batch=…`` partition directories.
    Dynamic partition overwrite makes a replayed batch rewrite exactly
    its own subdirectories — the same idempotence recipe as the
    streaming sinks, so this is safe inside ``foreachBatch``.

    Probes are unchanged: list_id partition pruning skips src_batch
    subdirectories transparently (they are just deeper partitions),
    so probe latency stays flat in batch count until a compaction
    folds slices together."""
    spark = df.sparkSession
    base = path.rstrip("/")
    # live data root resolves through the generation pointer (r14:
    # compaction commits by pointer, not rename); the quantizer
    # sidecar stays keyed off the BASE path — it is never compacted
    live = fsutil.current_root(base)
    _check_index_sidecars(live, base + "_centroids")
    # a compaction may have FOLDED this batch into the history slice
    # already (src_batch=-1): replaying it afterwards would duplicate
    # every row (round-10 review — the foreachBatch idempotence
    # contract broke across the compaction boundary). The compactor
    # records the highest folded batch id; at-or-below it, the replay
    # is a no-op.
    wm_path = os.path.join(live, "_ais_compacted_watermark")
    if os.path.exists(wm_path):
        with open(wm_path) as f:
            watermark = int(f.read())
        if src_batch <= watermark:
            from ais_data_pipeline_spark.observability import log

            log(
                "ivf_append_skipped_compacted",
                src_batch=src_batch,
                compacted_watermark=watermark,
            )
            return
    cents = spark.read.parquet(base + "_centroids")
    cents = local_df(
        spark, [tuple(r) for r in cents.collect()], cents.schema
    )  # tiny; literal-ize (Arrow local relation — no pickled-RDD slices)
    (
        ivf_assign(df, cents, vec_col, id_col)
        # a string literal keeps the generated code the same across
        # batches (see incremental_dedup._write_slice)
        .withColumn("src_batch", F.lit(str(src_batch)))
        .repartition("list_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("list_id", "src_batch")
        .parquet(live)
    )


def compact_ivf_index(spark, path: str, io=None) -> int:
    """Fold an IVF index's accumulated ``src_batch=`` slices into the
    single history slice (src_batch = -1). Streaming ingestion
    (``append_to_ivf_index`` / the foreachBatch sink) accretes one
    subdirectory per micro-batch under every ``list_id=`` partition;
    pruning keeps probes flat in CORPUS size, and periodic compaction
    keeps the per-list file count flat in BATCH count — the same
    maintenance contract as ``compact_dedup_index``.

    Commit protocol (round 14 — object-store-safe, zero renames of
    data directories): the consolidated table stages under the NEXT
    hidden ``_gNNNNN`` generation directory (invisible to readers of
    the live generation), the commit point is one atomic write of the
    ``_current_gen`` pointer (``fsutil.publish_generation``), and
    garbage — failed stages, the superseded generation — is collected
    on entry and after publish (``fsutil.gc_generations``,
    legacy_auto for the flat gen-0 ``list_id=*`` layout). The
    ``_centroids`` sidecar (the probe's routing table, keyed off the
    BASE path) is never touched; the build token and replay watermark
    stage into the new generation so the sidecar-consistency check
    and foreachBatch idempotence survive the commit. All IO routes
    through the injectable ``fsutil.FsIO`` seam, so the same path
    runs on local disk, ``s3a://``-class stores, and test fakes.
    Single-writer maintenance contract as before. List assignment is
    already stored, so compaction never recomputes distances.
    Returns the row count."""
    base = path.rstrip("/")
    io = io or fsutil.io_for(base)
    cur = fsutil.current_generation(base, io)
    fsutil.gc_generations(base, cur, io=io, legacy_auto=True)
    live = fsutil.generation_root(base, cur)
    stage = fsutil.generation_root(base, cur + 1)
    raw = spark.read.parquet(live)
    # highest batch folded into history: a later foreachBatch REPLAY of
    # an already-compacted batch must be a no-op, not a duplication
    # (append_to_ivf_index checks this watermark; round-10 review)
    wm_row = raw.filter(F.col("src_batch") >= 0).agg(
        F.max("src_batch").alias("m")
    ).first()
    new_wm = wm_row["m"] if wm_row and wm_row["m"] is not None else None
    prev_txt = io.read_text(
        fsutil._join(live, "_ais_compacted_watermark")
    )
    if prev_txt is not None:
        prev = int(prev_txt)
        new_wm = prev if new_wm is None else max(new_wm, prev)
    df = (
        raw.withColumn("src_batch", F.lit(-1).cast("bigint"))
        .transform(materialize)  # one read of the live generation
    )
    n = df.count()
    (
        df.repartition("list_id")
        .write.mode("overwrite")
        .partitionBy("list_id", "src_batch")
        .parquet(stage)
    )
    # root metadata lives WITH its generation: carry the build token
    # (compaction never touches the sidecar, so the pair stays
    # consistent) and the watermark into the stage before publishing
    token = io.read_text(fsutil._join(live, _BUILD_TOKEN))
    if token is not None:
        io.write_text(fsutil._join(stage, _BUILD_TOKEN), token)
    if new_wm is not None:
        io.write_text(fsutil._join(stage, "_ais_compacted_watermark"), str(new_wm))
    fsutil.publish_generation(base, cur + 1, io)
    # keep_prev: the superseded generation survives until the NEXT
    # maintenance entry so racing probes finish their scan (r15 ADVICE)
    fsutil.gc_generations(base, cur + 1, io=io, legacy_auto=True, keep_prev=True)
    return n


def ivf_probe_topk(
    spark,
    index_path: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int | None = 4,
    pre_filter: Column | None = None,
) -> DataFrame:
    """Probe an IVF index: rank centroids by cosine to the query
    (driver-side — the centroid table is tiny by construction), read
    the ``nprobe`` nearest ``list_id=`` partitions, exact re-rank."""
    root = fsutil.current_root(index_path.rstrip("/"))
    _check_index_sidecars(root, index_path.rstrip("/") + "_centroids")
    cents = spark.read.parquet(index_path.rstrip("/") + "_centroids").collect()
    nq = math.sqrt(sum(x * x for x in query))

    def cos(c) -> float:
        na = math.sqrt(sum(x * x for x in c["cvec"]))
        if na == 0.0 or nq == 0.0:
            # a zero-norm centroid/query has no cosine — rank it last,
            # deterministically, instead of ZeroDivisionError killing
            # every probe (round-10 review)
            return float("-inf")
        num = sum(x * y for x, y in zip(c["cvec"], query))
        return num / (na * nq)

    ranked = sorted(cents, key=lambda c: (-cos(c), c["centroid_id"]))
    probes = [c["centroid_id"] for c in ranked[:nprobe]]
    idx = spark.read.parquet(root)
    candidates = idx.filter(F.col("list_id").isin(*probes))
    if pre_filter is not None:
        candidates = candidates.filter(pre_filter)
    return cosine_topk(
        candidates, query, k=k, vec_col=vec_col, id_col=id_col, round_digits=round_digits
    )


def pairwise_topk_per_vector(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int | None = 6,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """All-pairs approximate k-NN: LSH-bucket both sides, self-join on
    the bucket (co-partitioned equi-join — no cross product), exact
    cosine within buckets, keep top-k per left vector.

    Scale guards (the self-join is O(Σ bucket²) without them):

    - ``n_planes=None`` derives the plane count from the corpus size so
      the EXPECTED bucket holds ~64 vectors regardless of n — fixed
      n_planes means within-bucket work grows O(n²/2^planes), i.e.
      still quadratic at 1000× the data.
    - ``max_bucket_size`` drops buckets larger than the cap before the
      join (broadcast anti-join on the hot-bucket list, same guard as
      ``dedup.minhash_lsh_candidates``) — a skewed bucket (e.g. a pile
      of identical vectors) otherwise turns one task into the whole
      job. Deterministic: bucket populations are seed-fixed, so an
      oracle can replicate the exclusion.
    """
    from pyspark.sql import Window

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    if n_planes is None:
        # one count() action to size the index — target E[bucket] ≈ 64
        n = df.count()
        n_planes = max(4, math.ceil(math.log2(max(n, 2) / 64.0)))
    dim = _probe_dim(df, vec_col)
    if dim is None:
        # empty / all-NULL input: an empty k-NN result, not a crash
        return df.sparkSession.createDataFrame(
            [], "left_id bigint, right_id bigint, cos_sim double"
        )
    planes = random_hyperplanes(dim, n_planes, seed)
    # norm precomputed once per vector (not per pair) — 3× fewer dot
    # products in the within-bucket pair loop
    b = spread_to_parallelism(df).select(
        F.col(id_col),
        _as_double_array(F.col(vec_col)).alias("__v"),
        lsh_bucket_col(vec_col, planes).alias("__bucket"),
    ).withColumn("__norm", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    if max_bucket_size is not None:
        hot = (
            b.groupBy("__bucket")
            .agg(F.count(F.lit(1)).alias("__m"))
            .filter(F.col("__m") > max_bucket_size)
            .select("__bucket")
        )
        b = b.join(F.broadcast(hot), "__bucket", "left_anti")
    left = b.select(
        F.col(id_col).alias("left_id"),
        F.col("__v").alias("lv"),
        F.col("__norm").alias("ln"),
        "__bucket",
    )
    right = b.select(
        F.col(id_col).alias("right_id"),
        F.col("__v").alias("rv"),
        F.col("__norm").alias("rn"),
        "__bucket",
    )
    pairs = left.join(right, "__bucket").filter(F.col("left_id") != F.col("right_id"))
    sim = F.try_divide(_dot(F.col("lv"), F.col("rv")), F.col("ln") * F.col("rn"))
    scored = pairs.select("left_id", "right_id", F.round(sim, 6).alias("cos_sim"))
    w = Window.partitionBy("left_id").orderBy(F.desc("cos_sim"), F.asc("right_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def cosine_topk_pandas(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Brute-force cosine top-k with the scoring in an Arrow-vectorized
    pandas_udf (numpy matmul per batch) instead of JVM expressions.

    Same contract as ``cosine_topk``. The JVM path wins below ~1k dims
    (no serialization); this one wins when the per-row math is heavy
    enough to amortize the Arrow transfer — it is the template for
    scoring that genuinely needs numpy/torch. Results are identical up
    to float summation order (validated in tests), so the two are
    interchangeable.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))

    @pandas_udf("double")
    def score(vecs: pd.Series) -> pd.Series:
        # NULL / wrong-dimension vectors score NaN (Arrow maps NaN back
        # to NULL, matching the JVM path's NULL cos_sim that sorts
        # last) instead of crashing the vstack on a ragged batch
        # (round-10 review: 'same contract as cosine_topk' was false)
        dim = len(q)
        ok = vecs.map(lambda v: v is not None and len(v) == dim)
        out = pd.Series(np.nan, index=vecs.index, dtype="float64")
        if ok.any():
            m = np.vstack(
                vecs[ok].map(lambda v: np.asarray(v, dtype=np.float64))
            )
            out[ok] = (m @ q) / (np.sqrt((m * m).sum(axis=1)) * qn)
        return out

    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    sim = score(F.col(vec_col).cast("array<double>"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        spread_to_parallelism(df)
        .select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _centroid_scores(
    cent_rows: list[tuple[int, list[float]]], metric: str
) -> Column:
    """The k-score array of ``__v`` (squared norm ``__vv``) against
    driver-literal centroids, built as ONE SQL string (r18: one py4j
    round-trip instead of ~50 per centroid; see _sql_dot). Cosine
    divides with ``try_divide``: a zero vector or zero centroid scores
    NULL under ANSI too, instead of raising DIVIDE_BY_ZERO."""
    sims = []
    for _cid, cvec in cent_rows:
        if metric == "l2":
            sims.append(f"(- {_sql_l2sq_pre('`__vv`', '`__v`', cvec)})")
        else:
            sims.append(
                f"try_divide({_sql_dot('`__v`', _sql_vec(cvec))},"
                f" SQRT(`__vv`) * {_sql_dbl(math.sqrt(_self_dot(cvec)))})"
            )
    return F.expr("array(" + ", ".join(sims) + ")")


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 9,
    metric: str = "cosine",
) -> DataFrame:
    """Deterministic Lloyd's k-means for the IVF coarse quantizer:
    head-k init (same as head_centroids), then ``iters`` rounds of
    cosine-nearest assignment + per-dimension mean recompute.

    Determinism is engineered so a SQL oracle can replay it exactly:
    ties assign to the lowest centroid id, per-dimension means
    accumulate through DECIMAL(25,12) (associative — partition order
    can't change the sum), and centroids round to ``round_digits``
    with a ``+ 0.0`` to normalize -0.0 after rounding. Empty clusters
    drop (both engines identically).

    Scale: each iteration is ONE map-side projection (assignment) plus
    one (n*dim)-row posexplode agg for the means. The centroids are
    k·dim doubles — tiny by construction (the IVF quantizer contract)
    — so every round holds them as DRIVER literals: assignment scores
    all k distances as one array column (its own projection first —
    the HOF-inlining lesson from pq_encode) and takes
    ``array_position(sims, array_max(sims))``, whose first-match
    semantics is exactly the ties-to-lowest-id rule since the array
    is ordered by ascending centroid id. Compared to the broadcast
    cross-join + window argmax this removes the n·k-row shuffle per
    round entirely — per-row work is the same k distances, but it
    stays inside one whole-stage-codegen'd projection.

    Exactness: collect→Python float→literal round-trips IEEE doubles
    bit-for-bit, the distance expressions are unchanged, and
    max(-l2)/first-match picks the identical centroid the window
    argmax picked — so the unrolled SQL oracle still replays
    bit-identically. Returns (centroid_id, cvec) as a local relation
    (the converged centroid table IS driver-side data — every
    consumer either collects it or inlines it as literals)."""
    spark = df.sparkSession
    e = df.select(id_col, _as_double_array(F.col(vec_col)).alias("__v"))
    cent_rows: list[tuple[int, list[float]]] = sorted(
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        for r in head_centroids(df, k, vec_col, id_col).collect()
    )
    for _ in range(iters):
        v = F.col("__v")
        # dot(v,v) is identical across all k scores — materialize it
        # once per row (own projection), not k times inside the array.
        pre = e.select("__v", _dot(v, v).alias("__vv"))
        staged = pre.select(
            "__v", _centroid_scores(cent_rows, metric).alias("__sims")
        )
        ids = F.lit([int(cid) for cid, _ in cent_rows]).cast("array<bigint>")
        pos = F.array_position(F.col("__sims"), F.array_max(F.col("__sims")))
        # a zero-norm (cosine) or NULL vector has NULL similarity to
        # every centroid — route it to the lowest centroid id instead
        # of a NULL cluster that poisons the means collect (round-10
        # review); NULL __v rows then drop out of posexplode naturally
        assigned = staged.select(
            F.coalesce(
                F.element_at(ids, pos.cast("int")),
                F.lit(cent_rows[0][0]).cast("bigint"),
            ).alias("list_id"),
            "__v",
        )
        dims = assigned.select("list_id", F.posexplode("__v").alias("pos", "x"))
        mu = (
            F.sum(F.col("x").cast("decimal(25,12)")).cast("double")
            / F.count(F.lit(1))
        )
        m = dims.groupBy("list_id", "pos").agg(
            (F.round(mu, round_digits) + F.lit(0.0)).alias("mu")
        )
        cents = (
            m.groupBy("list_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mu"))),
                    lambda s: s["mu"],
                ).alias("cvec")
            )
            .withColumnRenamed("list_id", "centroid_id")
        )
        cent_rows = sorted(
            (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
            for r in cents.collect()
        )
    return local_df(spark, cent_rows, "centroid_id bigint, cvec array<double>")


def kmeans_assign(
    df: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """Nearest-centroid assignment against DRIVER-LITERAL centroids —
    the kmeans_lloyd per-round recipe as a public operator: all k
    similarities materialize as one array column (own projection), the
    pick is ``array_position`` first-match = ties to the lowest
    centroid id, and the whole thing is a map-side projection (no
    join, no shuffle). ``cent_rows`` is the sorted
    [(centroid_id, cvec), ...] a caller collects from ``kmeans_lloyd``.
    Returns ALL the caller's columns plus ``__v`` (the double-cast
    vector, so downstream per-cluster math needs no rejoin — Catalyst
    prunes it when unused) and ``list_id``."""
    cols = list(df.columns)
    pre = df.select(
        *cols, _as_double_array(F.col(vec_col)).alias("__v")
    ).select(*cols, "__v", _dot(F.col("__v"), F.col("__v")).alias("__vv"))
    staged = pre.select(
        *cols, "__v", _centroid_scores(cent_rows, metric).alias("__sims")
    )
    ids = F.lit([int(cid) for cid, _ in cent_rows]).cast("array<bigint>")
    pos = F.array_position(F.col("__sims"), F.array_max(F.col("__sims"))).cast("int")
    # zero-norm/NULL vectors (NULL sims across the board) route to the
    # lowest centroid id: a NULL list_id would land index rows in the
    # unreachable NULL partition — silent permanent loss (round-10
    # review)
    return staged.select(
        *cols,
        "__v",
        F.coalesce(
            F.element_at(ids, pos), F.lit(cent_rows[0][0]).cast("bigint")
        ).alias("list_id"),
    )


def semdedup_clusters(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, 'SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication', arXiv:2303.09540):
    cluster the embedding space with k-means, then deduplicate ONLY
    within each cluster — pairs in different clusters are never
    compared, which is what makes semantic dedup tractable at corpus
    scale (pairwise work is Σ|cluster|²
    instead of n²; raise k with the corpus so clusters stay bounded,
    exactly like the LSH bucket caps elsewhere in this module).

    Inside a cluster a vector drops if ANY lower-id member is within
    ``threshold`` cosine (the predecessor rule every dedup operator in
    this repo uses — deterministic, engine-portable, no iterative
    leader election). Cosine is rounded to ``round_digits`` BEFORE the
    threshold compare so a 1-ulp cross-engine difference can't flip a
    boundary pair. Returns (id, list_id, dropped).

    Scale shape: one Lloyd training pass per iteration, one map-side
    assignment, then a single self-equi-join on the cluster id —
    cluster id is the shuffle key, no corpus-wide pairwise stage
    anywhere."""
    from ais_data_pipeline_spark.operators.util import spread_to_parallelism

    cents = kmeans_lloyd(df, k, iters, vec_col, id_col, metric="cosine")
    cent_rows = sorted(
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        for r in cents.collect()
    )
    # _spread BEFORE the pair join: a single-file corpus scan arrives
    # as ONE partition, so the quadratic within-cluster verify stage —
    # the only real compute here — ran on one core (r18 profile: a
    # 4.5 s single-task stage out of the leg's 8 s). Round-robin
    # repartition is value-neutral; skipped when the scan is already
    # wide (the 100 TB case). Projected to (id, vector) first so the
    # deliberate spread shuffle carries only the columns this operator
    # uses (guide §2.3).
    assigned = kmeans_assign(
        spread_to_parallelism(df.select(id_col, vec_col)),
        cent_rows, vec_col, id_col, metric="cosine",
    )
    # per-vector norm hoisted out of the pair join: each row's
    # sqrt(dot(v,v)) is computed once instead of once per PAIR (the
    # pair stage is the quadratic part — 3 array folds per pair drop
    # to 1; value-identical CSE, same ops as the oracle formula).
    normed = assigned.select(
        F.col(id_col), "list_id", "__v",
        F.sqrt(_dot(F.col("__v"), F.col("__v"))).alias("__n"),
    )
    a = normed.alias("a")
    b = normed.alias("b")
    cos = F.try_divide(
        _dot(F.col("a.__v"), F.col("b.__v")), F.col("a.__n") * F.col("b.__n")
    )
    pairs = a.join(
        b,
        (F.col("a.list_id") == F.col("b.list_id"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).filter(F.round(cos, round_digits) >= threshold)
    drops = pairs.select(F.col(f"b.{id_col}").alias(id_col)).distinct()
    return assigned.join(
        drops.withColumn("__dropped", F.lit(True)), id_col, "left"
    ).select(
        F.col(id_col),
        "list_id",
        F.coalesce(F.col("__dropped"), F.lit(False)).alias("dropped"),
    )


def pq_train_codebooks(
    df: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[tuple[int, list[float]]]]:
    """Product-quantization codebooks (Jégou et al. 2011, 'Product
    Quantization for Nearest Neighbor Search'): split the vector into
    ``m`` contiguous subspaces and train an independent ``k``-centroid
    quantizer per subspace with the SAME deterministic Lloyd recipe as
    the IVF quantizer (head-k init, DECIMAL means, ties to lowest id)
    under **L2** — the metric under which distances decompose across
    subspaces, which is the whole PQ trick. Returns
    ``codebooks[s] = [(centroid_id, cvec), ...]`` sorted by id (driver-
    side: m·k·(dim/m) doubles — tiny by construction, like the IVF
    centroid set). Empty clusters drop, so a codebook may hold < k
    entries; codes reference centroid ids, not positions.

    All ``m`` subspace quantizers train in ONE map-side job per Lloyd
    round, not ``m`` sequential ``kmeans_lloyd`` runs: the current
    codebooks are driver literals, so each round assigns every
    subspace with the ``pq_encode`` recipe (k distances per subspace
    materialized as array columns in their own projection, argmin =
    ``array_position(dists, array_min(dists))`` = ties to lowest id),
    explodes to (subspace, list, subvector) AFTER assignment, and
    recomputes every subspace's means in a single grouped agg. One
    pass over the corpus per round — no join, no window shuffle, only
    the means agg — vs ``m * iters`` scans each with an n·k-row
    window shuffle in the sequential recipe. The arithmetic (head-k
    init, L2 argmin, DECIMAL(25,12) means, round(·,9)+0.0) is
    untouched, so the fused job is bit-identical to the sequential
    recipe and every PQ/IVF-PQ SQL oracle replays unchanged."""
    dim = _probe_dim(df, vec_col)
    if dim is None:
        raise ValueError(
            "cannot train PQ codebooks on an empty (or all-NULL) corpus"
        )
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    v = _as_double_array(F.col(vec_col))
    # head-k init per subspace: the slices of the first k vectors —
    # exactly head_centroids() of each subspace frame (Python slicing
    # of the collected doubles selects the same elements F.slice
    # would, no arithmetic involved).
    head = sorted(
        (int(r[id_col]), [float(x) for x in r["__v"]])
        for r in df.filter(F.col(id_col) < k).select(F.col(id_col), v.alias("__v")).collect()
    )
    books: list[list[tuple[int, list[float]]]] = [
        [(cid, vec[s * d_sub : (s + 1) * d_sub]) for cid, vec in head]
        for s in range(m)
    ]
    for _ in range(iters):
        pre = df.select(
            *[F.slice(v, s * d_sub + 1, d_sub).alias(f"__sl{s}") for s in range(m)]
        )
        pre = pre.select(
            *[F.col(f"__sl{s}") for s in range(m)],
            *[_dot(F.col(f"__sl{s}"), F.col(f"__sl{s}")).alias(f"__aa{s}") for s in range(m)],
        )
        dist_cols = []
        for s, book in enumerate(books):
            dist_cols.append(
                F.expr(
                    "array("
                    + ", ".join(
                        _sql_l2sq_pre(f"`__aa{s}`", f"`__sl{s}`", cvec)
                        for _, cvec in book
                    )
                    + ")"
                ).alias(f"__d{s}")
            )
        staged = pre.select(*[F.col(f"__sl{s}") for s in range(m)], *dist_cols)
        assigned_cols = []
        for s, book in enumerate(books):
            ids = F.lit([int(cid) for cid, _ in book]).cast("array<bigint>")
            pos = F.array_position(F.col(f"__d{s}"), F.array_min(F.col(f"__d{s}")))
            assigned_cols.append(
                F.struct(
                    F.lit(s).alias("__s"),
                    F.element_at(ids, pos.cast("int")).alias("list_id"),
                    F.col(f"__sl{s}").alias("__v"),
                )
            )
        dims = (
            staged.select(F.explode(F.array(*assigned_cols)).alias("__a"))
            .select("__a.__s", "__a.list_id", F.posexplode("__a.__v").alias("pos", "x"))
        )
        mu = (
            F.sum(F.col("x").cast("decimal(25,12)")).cast("double")
            / F.count(F.lit(1))
        )
        mrows = dims.groupBy("__s", "list_id", "pos").agg(
            (F.round(mu, 9) + F.lit(0.0)).alias("mu")
        )
        cents = (
            mrows.groupBy("__s", "list_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mu"))),
                    lambda t: t["mu"],
                ).alias("cvec")
            )
        )
        books = [[] for _ in range(m)]
        for r in cents.collect():
            books[int(r["__s"])].append(
                (int(r["list_id"]), [float(x) for x in r["cvec"]])
            )
        books = [sorted(b) for b in books]
    return books


def _lit_vec(v: list[float]) -> Column:
    """Driver-side vector as ONE parsed expression — not
    ``F.array(*[F.lit(x) ...])``, which costs one-or-more py4j
    round-trips PER ELEMENT (~35 ms/vector measured; plan construction
    was the dominant cost of the centroid-literal operators, r18
    profile). The SQL text parses to the identical
    CreateArray-of-Literals tree with the identical IEEE doubles
    (repr round-trip), then constant-folds."""
    return F.expr(_sql_vec(v))


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Encode every vector as ``m`` centroid ids (one per subspace,
    nearest by L2, ties to lowest id) — dim doubles compress to m small
    ints. Pure JVM projection: per subspace the k distances materialize
    as an array column FIRST (their own projection — the HOF-inlining
    lesson: argmin over an inline-restated array would re-evaluate
    every distance per comparison), then the code is
    ``array_position(dists, array_min(dists))``, whose first-match
    semantics is exactly the ties-to-lowest-id rule since codebooks
    sort by id. ``keep_cols`` pass through both projections (so
    callers that need e.g. a routing column don't pay a join to get
    it back). Output: (id, *keep_cols, code_0..code_{m-1}); one scan,
    no shuffle."""
    keep_cols = keep_cols or []
    m = len(codebooks)
    d_sub = len(codebooks[0][0][1])
    v = _as_double_array(F.col(vec_col))
    pre = df.select(
        F.col(id_col),
        *keep_cols,
        *[F.slice(v, s * d_sub + 1, d_sub).alias(f"__sl{s}") for s in range(m)],
    )
    pre = pre.select(
        F.col(id_col),
        *keep_cols,
        *[F.col(f"__sl{s}") for s in range(m)],
        *[_dot(F.col(f"__sl{s}"), F.col(f"__sl{s}")).alias(f"__aa{s}") for s in range(m)],
    )
    dist_cols = []
    for s, book in enumerate(codebooks):
        dist_cols.append(
            F.expr(
                "array("
                + ", ".join(
                    _sql_l2sq_pre(f"`__aa{s}`", f"`__sl{s}`", cvec)
                    for _, cvec in book
                )
                + ")"
            ).alias(f"__d{s}")
        )
    staged = pre.select(F.col(id_col), *keep_cols, *dist_cols)
    code_cols = []
    for s, book in enumerate(codebooks):
        ids = F.lit([int(cid) for cid, _ in book]).cast("array<int>")
        pos = F.array_position(F.col(f"__d{s}"), F.array_min(F.col(f"__d{s}")))
        code_cols.append(F.element_at(ids, pos.cast("int")).alias(f"code_{s}"))
    return staged.select(F.col(id_col), *keep_cols, *code_cols)


def pq_topk(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """Approximate top-k by asymmetric-distance computation (ADC): the
    query stays exact; each database vector is its PQ code, and its
    distance is the sum over subspaces of a PRECOMPUTED query-to-
    centroid lookup table — per row just m table lookups and adds, no
    vector math. The LUTs are driver-computed with the identical
    dot-expansion arithmetic the encode and the SQL oracle use, so the
    scores are bit-replayable. Returns (id, adc_dist) ascending with
    an id tie-break; one scan, TakeOrderedAndProject."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0][1])
    if len(query) != m * d_sub:
        raise ValueError("query dim mismatch")

    def dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    codes = pq_encode(df, codebooks, vec_col, id_col)
    terms = []
    for s, book in enumerate(codebooks):
        qs = [float(x) for x in query[s * d_sub : (s + 1) * d_sub]]
        # LUT indexed by centroid id + 1 (ids may be sparse after empty-
        # cluster drop; slot absent ids with +inf so they can't match)
        max_id = max(cid for cid, _ in book)
        lut = [float("inf")] * (max_id + 1)
        for cid, cvec in book:
            lut[cid] = dot(qs, qs) - 2.0 * dot(qs, cvec) + dot(cvec, cvec)
        terms.append(
            f"element_at({_sql_vec(lut)}, (CAST(`code_{s}` AS INT) + 1))"
        )
    # left-associative sum — same accumulation order as the old
    # term-by-term Column addition (r18: one parsed expression)
    total = F.expr(" + ".join(terms))
    if round_digits is not None:
        total = F.round(total, round_digits)
    return (
        codes.select(F.col(id_col), total.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 8,
    m: int = 4,
    k: int = 8,
    iters: int = 1,
    coarse_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[tuple[int, list[float]]]]:
    """IVF-PQ index (the composition behind billion-scale ANN serving,
    FAISS's IndexIVFPQ): a coarse quantizer routes each vector to an
    inverted list, and the RESIDUAL (vector − its coarse centroid) is
    product-quantized to ``m`` small ints. Storage per vector falls
    from dim doubles to m codes + a list id; a probe reads only the
    ``nprobe`` nearest lists (partition pruning) and scores codes with
    lookup-table adds.

    The coarse quantizer is the deterministic L2 Lloyd
    (``coarse_iters`` rounds from head-k init) — residual magnitude,
    and with it ADC accuracy, depends directly on coarse quality, so
    head-k alone is not enough here (it is for the plain IVF index,
    where lists only route and the re-rank is exact).

    Layout mirrors ``build_ivf_index``: codes as ``list_id=`` partition
    directories + a ``_centroids`` sidecar; PQ codebooks (trained on
    residuals corpus-wide, deterministic L2 Lloyd) are returned AND
    written to a ``_codebooks`` sidecar as (subspace, centroid_id,
    cvec) rows. Assignment and residual are ONE map-side projection:
    the converged coarse centroids are driver literals, so the nearest
    list and ``v − centroid`` both come from an array-literal lookup
    (no broadcast join, no rejoin — the same literal-argmax recipe as
    kmeans_lloyd/pq_encode, bit-identical to the join form). The
    residual frame is eagerly localCheckpoint'ed — it feeds the
    codebook training pass AND the encode, which would otherwise each
    re-derive it from the source scan (reliability caveat for
    multi-executor clusters: see pagerank's docstring; swap in
    reliable checkpoint() there)."""
    cents = kmeans_lloyd(
        df, k=n_centroids, iters=coarse_iters, vec_col=vec_col, id_col=id_col,
        metric="l2",
    )
    cent_rows = sorted(
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        for r in cents.collect()
    )
    v = _as_double_array(F.col(vec_col))
    # NULL vectors are unindexable (NULL residual, NULL codes): exclude
    # them, same contract as the ANN builders (round-10 review)
    pre = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), v.alias("__v")
    ).select(
        F.col(id_col), "__v", _dot(F.col("__v"), F.col("__v")).alias("__vv")
    )
    staged = pre.select(
        F.col(id_col),
        "__v",
        F.expr(
            "array("
            + ", ".join(
                f"(- {_sql_l2sq_pre('`__vv`', '`__v`', c)})" for _, c in cent_rows
            )
            + ")"
        ).alias("__sims"),
    )
    ids = F.lit([int(cid) for cid, _ in cent_rows]).cast("array<bigint>")
    cvecs = F.array(*[_lit_vec(c) for _, c in cent_rows])
    pos = F.array_position(F.col("__sims"), F.array_max(F.col("__sims"))).cast("int")
    residuals = staged.select(
        F.col(id_col),
        F.element_at(ids, pos).alias("list_id"),
        F.zip_with(
            F.col("__v"), F.element_at(cvecs, pos), lambda x, y: x - y
        ).alias("__r"),
    ).transform(materialize)
    books = pq_train_codebooks(residuals, m=m, k=k, iters=iters, vec_col="__r", id_col=id_col)
    codes = pq_encode(
        residuals, books, vec_col="__r", id_col=id_col, keep_cols=["list_id"]
    )
    spark = df.sparkSession
    book_rows = [
        (s, cid, cvec) for s, book in enumerate(books) for cid, cvec in book
    ]
    # the three table writes are independent jobs (codes over the
    # pinned residuals; two tiny local-relation sidecars) — overlap
    # them (guide §2.6); the consistency stamp still lands strictly
    # LAST, after every write committed
    from ais_data_pipeline_spark.observability import overlap

    overlap(
        spark,
        lambda: (
            codes.repartition("list_id")
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(path)
        ),
        lambda: cents.coalesce(1)
        .write.mode("overwrite")
        .parquet(path.rstrip("/") + "_centroids"),
        lambda: local_df(
            spark, book_rows, "subspace int, centroid_id bigint, cvec array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(path.rstrip("/") + "_codebooks"),
    )
    # stamp LAST — a crash between any of the three writes above
    # leaves a token mismatch the probe rejects loudly
    _stamp_index(
        uuid.uuid4().hex,
        path,
        path.rstrip("/") + "_centroids",
        path.rstrip("/") + "_codebooks",
    )
    return books


def ivfpq_probe_topk(
    spark,
    index_path: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe an IVF-PQ index: rank coarse centroids by L2 to the query
    (driver-side — the centroid table is tiny), then for each of the
    ``nprobe`` nearest lists score that partition's codes by ADC with
    a lookup table built from the QUERY RESIDUAL against that list's
    centroid — the residual trick needs a per-list LUT, which is why
    nprobe stays small. All nprobe LUTs fold into ONE projection via a
    ``when(list_id == cid, term_cid)`` dispatch, so the whole probe is
    a single ``list_id IN (...)``-pruned scan (one PartitionFilters
    entry over the probed directories) rather than nprobe unioned
    scans; per row the work is still m lookups + adds."""
    _check_index_sidecars(
        index_path.rstrip("/"),
        index_path.rstrip("/") + "_centroids",
        index_path.rstrip("/") + "_codebooks",
    )
    cents = {
        int(r["centroid_id"]): [float(x) for x in r["cvec"]]
        for r in spark.read.parquet(index_path.rstrip("/") + "_centroids").collect()
    }
    raw_books = spark.read.parquet(index_path.rstrip("/") + "_codebooks").collect()
    m = max(int(r["subspace"]) for r in raw_books) + 1
    books: list[list[tuple[int, list[float]]]] = [[] for _ in range(m)]
    for r in raw_books:
        books[int(r["subspace"])].append(
            (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        )
    books = [sorted(b) for b in books]
    d_sub = len(books[0][0][1])

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def l2(a, b):
        return dot(a, a) - 2.0 * dot(a, b) + dot(b, b)

    ranked = sorted(cents, key=lambda cid: (l2(query, cents[cid]), cid))
    probed = ranked[:nprobe]
    idx = spark.read.parquet(index_path)
    dispatched = None
    for cid in probed:
        qres = [q - c for q, c in zip(query, cents[cid])]
        terms = []
        for s, book in enumerate(books):
            qs = qres[s * d_sub : (s + 1) * d_sub]
            max_id = max(b_cid for b_cid, _ in book)
            lut = [float("inf")] * (max_id + 1)
            for b_cid, cvec in book:
                lut[b_cid] = l2(qs, cvec)
            terms.append(
                f"element_at({_sql_vec(lut)}, (CAST(`code_{s}` AS INT) + 1))"
            )
        total = F.expr(" + ".join(terms))  # left-assoc, same order
        branch = (F.col("list_id") == cid, F.round(total, 6))
        dispatched = (
            F.when(*branch) if dispatched is None else dispatched.when(*branch)
        )
    return (
        idx.filter(F.col("list_id").isin(probed))
        .select(F.col(id_col), dispatched.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_rerank_topk(
    spark,
    index_path: str,
    vectors_df: DataFrame,
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
    n_candidates: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Two-stage retrieval: IVF-PQ ADC candidates, exact L2 re-rank —
    the standard production ANN shape (FAISS's refine/rerank stage).
    SCALING.md shows recall on this index is code-resolution-limited
    (compressed codes can't order close neighbors), and this is the
    standard fix: let the cheap ADC pass over-fetch ``n_candidates``
    from the pruned lists, then score ONLY those few vectors exactly.

    Cost shape at scale: stage 1 is the flat-latency pruned probe;
    stage 2 broadcasts the candidate id list (n_candidates rows) into
    one semi-join scan of the vector table — no shuffle, no
    all-vector distance computation. Exact distances use the same
    dot-expansion ``_l2sq`` the oracles replay, so results stay
    bit-replayable."""
    cand = ivfpq_probe_topk(
        spark, index_path, query, k=n_candidates, nprobe=nprobe, id_col=id_col
    ).select(id_col)
    q = _lit_vec(query)
    return (
        vectors_df.join(F.broadcast(cand), id_col, "left_semi")
        .select(
            F.col(id_col),
            F.round(
                _l2sq(_as_double_array(F.col(vec_col)), q), round_digits
            ).alias("l2_dist"),
        )
        .orderBy(F.asc("l2_dist"), F.asc(id_col))
        .limit(k)
    )


def kmeans_cluster_profile(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Final k-means state: per-centroid member count plus the
    centroid vector. The vector renders as a JSON-shaped string via
    explicit %.9f formatting rather than to_json: Spark's to_json
    switches to scientific notation below 1e-3 (…E-4) where DuckDB
    stays plain-decimal, so for small-magnitude doubles the fixed
    format is the only rendering both engines agree on.

    The converged centroids collect to driver literals (k·dim doubles)
    before the final assignment — they're referenced twice below
    (assignment + rendering join) and literals make both references
    free, so the whole profile is ONE scan of ``df``."""
    cents = kmeans_lloyd(df, k, iters, vec_col, id_col)
    cent_rows = sorted(
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        for r in cents.collect()
    )
    assigned = kmeans_assign(df, cent_rows, vec_col, id_col, metric="cosine")
    sizes = assigned.groupBy("list_id").agg(F.count(F.lit(1)).alias("n_members"))
    rendered = F.concat(
        F.lit("["),
        F.array_join(
            F.transform("cvec", lambda x: F.format_string("%.9f", x)), ","
        ),
        F.lit("]"),
    )
    return (
        sizes.join(cents, sizes.list_id == cents.centroid_id)
        .select("centroid_id", "n_members", rendered.alias("centroid_json"))
    )


def mmr_topk(
    df: DataFrame,
    query: list[float],
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): select ``k`` results that balance relevance to the query
    against redundancy with what's already selected —
    ``score(c) = lam * rel(c) - (1-lam) * max_{s in selected} sim(c, s)``
    (penalty 0.0 for the first pick, so every step uses the one
    uniform formula). The diversity primitive RAG retrieval stacks
    put on top of a plain ANN top-k.

    Execution shape, scale-first: the DISTRIBUTED work is the
    relevance scan — one brute-force cosine pass over the corpus with
    TakeOrderedAndProject keeping the ``pool`` best (swap in the
    ANN/IVF probe for the scan at 100 TB; everything downstream only
    sees the pool). The pool (≤ pool rows) and its pairwise cosine
    matrix (≤ pool² rows) then collect to driver literals — bounded
    by construction, the same collect-literal contract as the IVF
    centroid tables — and the greedy loop runs k argmax rounds over
    those local relations (k one-row collects; greedy MMR is
    inherently sequential, this is not a hidden full-corpus
    collect).

    Determinism/oracle contract: rel and sim use the exact
    dot-expansion cosine the DuckDB oracles replay
    (``dot/(sqrt(dot_aa)*sqrt(dot_bb))``, array-order accumulation);
    scores stay UNROUNDED (weighted composites hit the half-point
    rounding divergence — see the queries.py determinism rules);
    ``1-lam`` is computed as the IEEE double ``1.0 - lam`` on both
    engines (0.3 is NOT representable: both sides get
    0.30000000000000004); all argmaxes tie-break on ascending id.
    Returns (rank, id, relevance, mmr_score) ordered by rank.
    """
    spark = df.sparkSession
    v = _as_double_array(F.col(vec_col))
    rel = cosine_similarity_col(F.col(vec_col), query)
    pool_df = (
        df.select(F.col(id_col), v.alias("__v"), rel.alias("__rel"))
        .orderBy(F.desc("__rel"), F.asc(id_col))
        .limit(pool)
    )
    local = local_df(spark, [tuple(r) for r in pool_df.collect()], pool_df.schema)
    a, b = local.alias("a"), local.alias("b")
    va, vb = F.col("a.__v"), F.col("b.__v")
    sim = F.try_divide(_dot(va, vb), F.sqrt(_dot(va, va)) * F.sqrt(_dot(vb, vb)))
    sims_df = a.join(b, F.col(f"a.{id_col}") != F.col(f"b.{id_col}")).select(
        F.col(f"a.{id_col}").alias("ca"),
        F.col(f"b.{id_col}").alias("cb"),
        sim.alias("sim"),
    )
    sims = local_df(spark, [tuple(r) for r in sims_df.collect()], sims_df.schema)

    chosen: list = []
    out_rows: list[tuple] = []
    for rank in range(1, k + 1):
        if chosen:
            remaining = local.filter(~F.col(id_col).isin(chosen))
            pen = (
                sims.filter(F.col("cb").isin(chosen))
                .groupBy("ca")
                .agg(F.max("sim").alias("__pen"))
            )
            scored = remaining.join(
                pen, remaining[id_col] == pen["ca"], "left"
            ).select(
                F.col(id_col),
                F.col("__rel"),
                F.coalesce(F.col("__pen"), F.lit(0.0)).alias("__pen"),
            )
        else:
            scored = local.select(
                F.col(id_col), F.col("__rel"), F.lit(0.0).alias("__pen")
            )
        top = (
            scored.select(
                F.col(id_col),
                F.col("__rel"),
                (
                    F.lit(lam) * F.col("__rel")
                    - F.lit(1.0 - lam) * F.col("__pen")
                ).alias("__score"),
            )
            # zero-norm/NULL pool vectors have NULL rel/score: they can
            # never be a valid MMR pick — without this filter one got
            # selected once real candidates ran out (NULLS sort last
            # under desc) and float(None) killed the loop instead of
            # returning the valid picks (round-10 review)
            .filter(F.col("__score").isNotNull())
            .orderBy(F.desc("__score"), F.asc(id_col))
            .limit(1)
            .collect()
        )
        if not top:
            break
        r = top[0]
        chosen.append(r[id_col])
        out_rows.append((rank, r[id_col], float(r["__rel"]), float(r["__score"])))
    return local_df(
        spark, out_rows, f"rank int, {id_col} bigint, relevance double, mmr_score double"
    )


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization + Hamming re-rank — the 1-bit ANN tier.
# ---------------------------------------------------------------------------


def binary_signature(vec: list[float]) -> list[int]:
    """Driver-side sign-bit signature of one vector: bit i of word j =
    (vec[64j + i] > 0), packed into signed 64-bit words (two's
    complement, so the values round-trip through an ArrayType(LongType)
    literal)."""
    words = []
    for w in range(0, len(vec), 64):
        x = 0
        for i in range(w, min(w + 64, len(vec))):
            if vec[i] > 0:
                x |= 1 << (i - w)
        if x >= 1 << 63:
            x -= 1 << 64
        words.append(x)
    return words


def binary_signature_col(vec_col: Column, dim: int) -> Column:
    """Sign-bit binary quantization as a Catalyst expression: packs
    the ``dim`` (v[i] > 0) bits into ceil(dim/64) longs. Bit positions
    never overlap, so the word assembles with plain addition of
    shifted single-bit longs — one codegen'd projection, 64× less
    memory traffic than the float vector for the distance scan."""
    words = []
    for w in range(0, dim, 64):
        word = F.lit(0).cast("long")
        for i in range(w, min(w + 64, dim)):
            bit = F.when(
                F.element_at(vec_col, i + 1) > 0, F.lit(1).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            word = word + F.shiftleft(bit, i - w)
        words.append(word)
    return F.array(*words)


def hamming_col(sig_col: Column, query_words: list[int]) -> Column:
    """Hamming distance between a packed signature column and a
    driver-side query signature: Σ popcount(word XOR qword) — pure JVM
    bit ops (bit_count over zip_with), no Python, no shuffle."""
    qa = F.lit([int(wd) for wd in query_words]).cast("array<bigint>")
    return F.aggregate(
        F.zip_with(sig_col, qa, lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def hamming_rerank_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    oversample: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int | None = 4,
) -> DataFrame:
    """Binary-quantization ANN (the 1-bit tier below int8/PQ): sign-bit
    signatures, Hamming-distance candidate generation, exact cosine
    re-rank of the ``oversample`` nearest signatures.

    The scan phase touches 1 bit per dimension (packed longs +
    popcount) instead of 32 — at 100 TB of vectors this is the
    memory-bandwidth-bound fast path, and the exact math runs only on
    the oversampled candidate set. Plan shape: scan → project(sig,
    hamming) → TakeOrderedAndProject(oversample) → project(cos) →
    TakeOrderedAndProject(k) — zero shuffle exchanges, zero Python.
    Ties break on (distance, id) at both stages, so the candidate set
    and the final ranking are deterministic and SQL-mirrorable.
    """
    dim = len(query)
    qsig = binary_signature(query)
    sig = binary_signature_col(F.col(vec_col), dim)
    cand = (
        df.select(F.col(id_col), F.col(vec_col), hamming_col(sig, qsig).alias("hamming"))
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(oversample)
    )
    sim = cosine_similarity_col(F.col(vec_col), query)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        cand.select(F.col(id_col), F.col("hamming"), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )
