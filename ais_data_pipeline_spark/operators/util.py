"""Shared operator utilities."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ais_data_pipeline_spark.checkpointing import materialize_counted
from ais_data_pipeline_spark.localrel import local_df

#: conservative broadcast-size estimate for an id-only drop-set row
#: (one short string key + per-row overhead in the driver-built
#: broadcast relation). Deliberately fat: the gate exists to AVOID
#: an 8 GB broadcast explosion, not to maximize hint coverage.
DROP_SET_BYTES_PER_ROW = 64


def in_values_cond(col_name: str, values) -> "F.Column":
    """``col IN (v1, v2, …)`` as ONE parsed SQL expression.

    ``Column.isin(list)`` converts every element through its own py4j
    literal call (~1.5 ms each on a slow link — a 2,500-value probe
    list cost ~4 s of driver time per call site, measured r19), while
    one ``F.expr`` parse is a single round-trip to the identical
    ``In`` expression — same pushed-filter form (``PushedFilters:
    [In(col, …)]``), same NULL semantics (a NULL literal in the list
    never matches, exactly like ``isin``). Values may be str, int,
    finite float, bool, or None; a NaN or infinite float raises
    ``ValueError``. Empty list → ``false`` (isin() with an empty list
    is the same constant-false filter).

    A string containing a quote or backslash renders as its UTF-8 bytes
    in a hex literal cast to string, which parses to the same value
    whether or not ``spark.sql.parser.escapedStringLiterals`` is set
    (the escapes a quoted literal would need read differently under
    the two settings); the cast folds to a plain literal before
    pushdown."""
    if not values:
        return F.lit(False)
    rendered = []
    for v in values:
        if v is None:
            rendered.append("NULL")
        elif isinstance(v, bool):
            rendered.append("true" if v else "false")
        elif isinstance(v, int):
            rendered.append(f"{v}L")
        elif isinstance(v, float):
            if not math.isfinite(v):
                raise ValueError(f"in_values_cond: non-finite float {v!r}")
            rendered.append(repr(v) + "D")
        else:
            v = str(v)
            if "'" in v or "\\" in v:
                rendered.append(f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)")
            else:
                rendered.append(f"'{v}'")
    quoted = "`" + col_name.replace("`", "``") + "`"
    return F.expr(f"{quoted} IN ({', '.join(rendered)})")


def _auto_broadcast_bytes(df: DataFrame) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes
    (-1 / unparsable -> 0, i.e. never hint)."""
    raw = str(
        df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    mult = 1
    for suffix, m in (("kb", 2**10), ("mb", 2**20), ("gb", 2**30),
                      ("k", 2**10), ("m", 2**20), ("g", 2**30), ("b", 1)):
        if raw.endswith(suffix):
            raw = raw[: -len(suffix)]
            mult = m
            break
    try:
        n = int(raw) * mult
    except ValueError:
        return 0
    return max(n, 0)


def gated_broadcast(
    df: DataFrame, n_rows: int, bytes_per_row: int = DROP_SET_BYTES_PER_ROW
) -> DataFrame:
    """``F.broadcast(df)`` only when the ALREADY-COUNTED side plausibly
    fits the session's autoBroadcastJoinThreshold; otherwise return
    ``df`` un-hinted and let AQE pick the join (shuffled anti-join on
    keys only — correct at any size, just not broadcast-fast).

    The r16 web-corpus lesson: drop-sets (duplicate fetches / bodies)
    are a few percent of a HEALTHY crawl, but real Common Crawl dumps
    run well past broadcast size at 100 TB — tens of billions of
    duplicate keys against the 8 GB broadcast hard limit. Every
    drop-set call site already materializes the count for stage
    accounting, so the gate is free."""
    if n_rows * bytes_per_row <= _auto_broadcast_bytes(df):
        return F.broadcast(df)
    return df


#: key sets bounded by at most this many values collect to the driver
#: and filter as literal IN / NOT-IN lists (a pushed IN-filter lets the
#: index scans skip row groups by their parquet bloom filters); larger
#: sets stay a pinned frame joined through ``gated_broadcast``. Read at
#: call time, so setting it to -1 forces the large regime everywhere.
PUSHDOWN_LIMIT = 10_000

#: a write at or under this row count collapses to one tidy file (an
#: index slice per micro-batch, the CSV pipeline's quarantine per run);
#: above it the one-task funnel is the shape that cannot scale (the
#: round-9 audit caught the dedup bootstrap funneling the whole shingle
#: store through it). 2M rows of (id, hash, text) is a few hundred MiB
#: of typical web text — still one writer task's work. Read at call
#: time, so setting it to -1 forces the multi-file regime everywhere.
SINGLE_FILE_MAX_ROWS = 2_000_000


class KeySet:
    """The distinct non-NULL values of one key column, held as driver
    values when the caller's bound is at most ``PUSHDOWN_LIMIT``, or
    else as a pinned frame. Either form gives the same results:
    ``semi`` keeps the rows whose key is in the set, ``anti`` the rows
    whose key is not, and a NULL key always passes ``anti`` (it never
    matches, like a left_anti join)."""

    def __init__(self, df: DataFrame, col: str, values: list | None, n: int):
        self.col = col
        # the pinned frame, or the lazy key projection whose schema and
        # session build ``frame()``
        self._df = df
        self._values = values
        self._n = n

    @classmethod
    def collect(cls, df: DataFrame, col: str, bound: int) -> "KeySet":
        """Key set of ``df[col]``; ``bound`` is an upper bound on its
        distinct values. A small set costs one shuffle-free collect,
        deduplicated on the driver; a large one one pinned distinct."""
        keys = df.select(col)
        if bound <= PUSHDOWN_LIMIT:
            values = sorted({r[0] for r in keys.collect()} - {None})
            return cls(keys, col, values, len(values))
        frame, n = materialize_counted(keys.filter(F.col(col).isNotNull()).distinct())
        return cls(frame, col, None, n)

    def __len__(self) -> int:
        return self._n

    def semi(self, scan: DataFrame) -> DataFrame:
        """Rows of ``scan`` whose key is in the set."""
        if self._values is not None:
            return scan.filter(in_values_cond(self.col, self._values))
        return scan.join(gated_broadcast(self._df, self._n), self.col, "leftsemi")

    def anti(self, df: DataFrame, col: str | None = None) -> DataFrame:
        """Rows of ``df`` whose key (``df[col]``, default the set's own
        column name) is NULL or not in the set."""
        col = col or self.col
        if self._values is not None:
            if not self._values:
                return df
            return df.filter(F.col(col).isNull() | ~in_values_cond(col, self._values))
        keys = self._df.withColumnRenamed(self.col, col)
        return df.join(gated_broadcast(keys, self._n), col, "left_anti")

    def frame(self) -> DataFrame:
        """The set as a one-column frame."""
        if self._values is None:
            return self._df
        return local_df(
            self._df.sparkSession, [(v,) for v in self._values], self._df.schema
        )


def spread_to_parallelism(df: DataFrame) -> DataFrame:
    """Widen a narrow scan to cluster parallelism before compute-heavy
    per-row work (shingling, hashing, Python batch UDFs: CPU ≫ bytes).

    A small parquet file arrives as ONE input split, so everything up
    to the first shuffle runs on one core — observed 20× slowdowns on
    the shingle operators. The round-robin repartition costs one tiny
    shuffle of raw rows; skipped when the scan is already wide enough
    (the 100 TB case, where inputs come in thousands of splits).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
