"""Lineage-truncation policy: one switch between local and reliable
checkpointing for every operator that pins an intermediate.

The iterative / multi-referenced operators (PageRank rounds, connected-
component label propagation, inverted-index document stats, the
curation drop-sets, incremental-dedup batch features) truncate lineage
with ``DataFrame.localCheckpoint(eager=True)``: blocks live in executor
block managers, are GC-reclaimed when the frame is dropped (unlike
``persist``, which the 165-query sweep would leak), and cost no
filesystem round-trip. That is the right default on ``local[*]`` and on
clusters with stable executors — but localCheckpoint blocks are
UNREPLICATED, so on a real cluster an executor loss makes every frame
whose lineage was truncated unrecoverable (Spark cannot recompute past
the truncation point) and fails the job.

``set_reliable_checkpoints(spark, dir)`` flips every such call site in
the package to reliable ``DataFrame.checkpoint(eager=True)`` — same
eager materialization and lineage truncation, but blocks are written to
the (HDFS/object-store) checkpoint directory and survive executor
churn. The tradeoff is a filesystem write+read per truncation; pay it
when the job runs long enough, or the cluster is elastic enough, that
losing an executor mid-iteration is a real event.

Scope: the switch is process-global (a policy of the driver program,
like the checkpoint dir itself). Streaming ``foreachBatch`` sinks read
it at batch time, so it applies to incremental-dedup ingestion too.

``materialize`` is the package's one pin mechanism: no module calls
``persist``/``cache`` (a grep gate in the tests holds that). A pinned
frame keeps its rows as they are — building and decoding the compressed
columnar cache that ``persist`` makes cost the flagship CSV pipeline
about a quarter of its executor time (SCALING.md "Flagship pin: rows,
not a compressed columnar cache"). Most pins are small and are left to
the GC; a pin as large as its input is given back with ``release`` as
soon as its last reader returns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_RELIABLE = False


def set_reliable_checkpoints(spark: SparkSession, checkpoint_dir: str) -> None:
    """Opt in to cluster-safe lineage truncation: registers
    ``checkpoint_dir`` with the SparkContext and makes every
    ``materialize()`` call site use reliable ``checkpoint(eager=True)``
    instead of executor-local blocks. Call once at job start, before
    any operator runs."""
    global _RELIABLE
    spark.sparkContext.setCheckpointDir(checkpoint_dir)
    _RELIABLE = True


def set_local_checkpoints() -> None:
    """Revert to the default executor-local checkpointing."""
    global _RELIABLE
    _RELIABLE = False


def reliable_checkpoints_enabled() -> bool:
    return _RELIABLE


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage — local
    (default; executor-memory blocks, GC-reclaimed, unreplicated) or
    reliable (checkpoint-dir files, survives executor loss) per the
    process-wide switch. Use for every intermediate that is (a) re-read
    by multiple downstream jobs or (b) the carry of an iterative loop
    whose un-truncated lineage would grow per round."""
    if _RELIABLE:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def materialize_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """``materialize`` that also returns the pinned row count, riding
    an ``Observation`` on the checkpoint job itself — the count costs
    ZERO extra jobs (r19; guide §1.2 step 1: the count-after-pin
    pattern paid one scheduler round per call site, and streaming
    micro-batch paths pay it per batch). Verified on both checkpoint
    flavors: the eager local/reliable checkpoint action fires the
    CollectMetrics node, including over empty frames (count 0)."""
    from pyspark.sql import Observation

    obs = Observation()
    pinned = materialize(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return pinned, int(obs.get["n"])


def release(df: DataFrame) -> None:
    """Give back what ``materialize`` pinned for ``df`` now, instead of
    at whichever driver GC collects the frame: a local pin's executor
    blocks are dropped, a reliable pin's checkpoint files are deleted.
    ``df`` must be the frame ``materialize`` returned (its plan is the
    pinned RDD), and nothing may read it, or a frame derived from it,
    afterwards."""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    sc = df.sparkSession.sparkContext
    # the SparkContext call, not RDD.unpersist: that one warns on every
    # local pin that its lineage cannot be recomputed — the point here
    sc._jsc.sc().unpersistRDD(rdd.id(), False)
    ckpt = rdd.getCheckpointFile()
    if ckpt.isDefined():
        path = sc._jvm.org.apache.hadoop.fs.Path(ckpt.get())
        path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)
