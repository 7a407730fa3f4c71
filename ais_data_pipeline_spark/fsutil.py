"""Filesystem maintenance primitives for on-disk index/table dirs.

Since round 14 every directory-rewriting maintenance op (dedup/IVF
index compaction; round 15: the ``upsert_parquet`` /
``compact_parquet`` table sinks) commits through the
GENERATION-POINTER protocol below — hidden ``_gNNNNN`` stage dirs
plus one small pointer write, zero renames of data directories — so
the same code path runs on local disk and object stores through the
injectable ``FsIO`` seam. The slice-compaction policy shared by the
two accreting indexes (dedup and IVF) lives here too: it censuses the
live generation through the same seam.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass as _dataclass
from typing import Callable, Iterable, Iterator

#: A lister maps a root path/URI to ``(relative_path, size_bytes)``
#: pairs for every file under it, with POSIX separators in the
#: relative path regardless of backend; ``FsIO.lister`` holds one.
Lister = Callable[[str], Iterable[tuple[str, int]]]


def local_lister(root: str) -> Iterator[tuple[str, int]]:
    """``os.walk``-backed lister for plain local paths (and
    ``file://`` URIs). Missing roots yield nothing — an empty index
    is a valid pre-first-write state, not an error."""
    if root.startswith("file://"):
        root = root[len("file://") :]
    root = root.rstrip("/")
    if not os.path.isdir(root):
        return
    for dirpath, _dirnames, filenames in os.walk(root):
        for name in filenames:
            full = os.path.join(dirpath, name)
            try:
                size = os.path.getsize(full)
            except OSError:
                continue  # racing a swap/delete; census stays best-effort
            rel = os.path.relpath(full, root)
            yield rel.replace(os.sep, "/"), size


def hadoop_lister(root: str) -> Iterator[tuple[str, int]]:
    """Hadoop ``FileSystem``-backed lister via the active session's
    JVM gateway — the path that exists on ``s3a://`` / ``hdfs://`` /
    ``abfs://`` where ``os.walk`` does not. One recursive
    ``listFiles`` call, which on S3A is a single paged LIST (no
    per-directory round trips) — the same cost class as the
    multi-slice read scan the policy check piggybacks on."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "hadoop_lister needs an active SparkSession for the JVM gateway"
        )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(root)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return
    prefix = fs.makeQualified(jpath).toString().rstrip("/") + "/"
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        status = it.next()
        p = status.getPath().toString()
        rel = p[len(prefix) :] if p.startswith(prefix) else p
        yield rel, int(status.getLen())


# -- Generation-pointer commits (round 14) ----------------------------------
#
# The object-store-safe replacement for the rename-based staged swap:
# a maintenance rewrite stages the consolidated table under a HIDDEN
# sibling generation directory (``_gNNNNN`` — names starting with an
# underscore are invisible to Spark/Hadoop file listings, so readers
# of the current generation never see a stage in progress), then
# commits by atomically publishing a tiny pointer file. No data
# directory is ever renamed:
#
#     index/
#       _current_gen            text: committed generation (absent = 0)
#       <table dirs...>         generation 0 (the pre-pointer layout)
#       _g00001/<table dirs>    generation 1
#
# Crash windows: before publish → pointer unchanged, live generation
# intact, the partial stage is hidden garbage GC'd on the next
# maintenance entry; after publish → new generation live, the old one
# is garbage GC'd on the same entry. Probes racing a commit read
# whichever generation their root resolution saw — a complete,
# consistent file set either way (the rename swap's missing-directory
# instant does not exist here). Single-writer maintenance, as before.

GEN_POINTER = "_current_gen"

#: Marker file written INSIDE a stage directory as the LAST staging
#: step, immediately before the pointer publish. Its presence means
#: "this generation's file set is complete and ready to serve" — which
#: is what lets a missing-or-corrupt pointer be RECOVERED instead of
#: silently resolving to generation 0 (round-15 ADVICE fix: a crash
#: mid-pointer-write on a truncate-then-write store left an empty /
#: partial ``_current_gen`` that used to read as gen 0 — the flat
#: layout GC'd after the first compaction — making the index appear
#: empty; non-integer content raised an uncaught ValueError).
STAGE_COMPLETE = "_STAGE_COMPLETE"


@_dataclass
class FsIO:
    """Small-file + tree IO bundle, injectable like ``Lister`` so the
    generation commit protocol runs against local disk, a Hadoop
    FileSystem (s3a/hdfs/abfs), or a test fake without code changes."""

    lister: Lister
    read_text: Callable[[str], str | None]
    write_text: Callable[[str, str], None]
    remove: Callable[[str], None]


def _strip_file_uri(path: str) -> str:
    """``file://`` URIs and bare paths are the same backend; every
    ``_local_*`` helper strips the scheme the way ``local_lister``
    does (round-15 ADVICE fix: an un-stripped ``file://`` index path
    made ``current_generation`` silently read 0 and
    ``publish_generation`` write into a literal ``./file:`` dir, so
    compaction never took effect)."""
    return path[len("file://") :] if path.startswith("file://") else path


def _local_read_text(path: str) -> str | None:
    try:
        with open(_strip_file_uri(path)) as f:
            return f.read()
    except OSError:
        return None


def _local_write_text(path: str, content: str) -> None:
    """Write-to-temp + atomic replace of a SMALL pointer/metadata file
    (never a data directory)."""
    import tempfile

    path = _strip_file_uri(path)
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        f.write(content)
    os.replace(tmp, path)


def _local_remove(path: str) -> None:
    path = _strip_file_uri(path)
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path):
        try:
            os.remove(path)
        except OSError:
            pass


LOCAL_IO = FsIO(local_lister, _local_read_text, _local_write_text, _local_remove)


def hadoop_io() -> FsIO:
    """Hadoop-FileSystem-backed IO via the active session's JVM
    gateway — pointer reads/writes are single-object GET/PUT
    (overwrite create: the commit point is the pointer content, and
    maintenance is single-writer by contract), removal is one
    recursive ``delete``."""
    from pyspark.sql import SparkSession

    def _fs(path: str):
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("hadoop_io needs an active SparkSession")
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm

    def read_text(path: str) -> str | None:
        fs, jpath, jvm = _fs(path)
        if not fs.exists(jpath):
            return None
        # Bulk read: ONE py4j round-trip returning the whole byte[]
        # (r16 ADVICE: the original int-per-byte stream.read() loop
        # was tolerable for generation pointers but became pathological
        # once snapshot MANIFESTS — file lists that reach hundreds of
        # KB — routed through this seam on s3a-class stores).
        # commons-io ships on Spark's classpath; resolve it BEFORE
        # opening so a classpath surprise falls back to the loop on a
        # fresh stream, never mid-read.
        try:
            # a missing class resolves to a silent JavaPackage under
            # py4j, so probe with Class.forName (raises) first
            jvm.java.lang.Class.forName("org.apache.commons.io.IOUtils")
            to_bytes = jvm.org.apache.commons.io.IOUtils.toByteArray
        except Exception:
            to_bytes = None
        stream = fs.open(jpath)
        try:
            if to_bytes is not None:
                return bytes(to_bytes(stream)).decode()
            out = bytearray()
            while True:
                b = stream.read()
                if b < 0:
                    break
                out.append(b)
            return out.decode()
        finally:
            stream.close()

    def write_text(path: str, content: str) -> None:
        fs, jpath, _ = _fs(path)
        stream = fs.create(jpath, True)  # overwrite = the atomic PUT
        try:
            stream.write(bytearray(content.encode()))
        finally:
            stream.close()

    def remove(path: str) -> None:
        fs, jpath, _ = _fs(path)
        if fs.exists(jpath):
            fs.delete(jpath, True)

    return FsIO(hadoop_lister, read_text, write_text, remove)


def io_for(root: str) -> FsIO:
    scheme_split = root.split("://", 1)
    remote = len(scheme_split) == 2 and scheme_split[0] != "file"
    return hadoop_io() if remote else LOCAL_IO


def _join(root: str, *parts: str) -> str:
    return "/".join([root.rstrip("/"), *parts])


def _max_complete_generation(index_path: str, io: FsIO) -> int:
    """Highest ``_gNNNNN`` directory carrying a ``STAGE_COMPLETE``
    marker, per the lister; 0 when none exist. Used only on the
    pointer-recovery path: a marked stage is complete by construction
    (the marker is the last staging write before publish), and
    maintenance is single-writer, so adopting the max marked
    generation after a crashed pointer write is equivalent to the
    commit having landed."""
    best = 0
    for rel, _size in io.lister(index_path):
        parts = rel.split("/")
        head = parts[0]
        if (
            len(parts) == 2
            and parts[1] == STAGE_COMPLETE
            and head.startswith("_g")
            and head[2:].isdigit()
        ):
            best = max(best, int(head[2:]))
    return best


def current_generation(index_path: str, io: FsIO | None = None) -> int:
    """Committed generation of a pointer-managed index; 0 when the
    index has never been compacted (flat pre-generation layout, or a
    fresh index). A pointer that exists but is EMPTY or non-integer —
    the footprint of a crash mid-write on a truncate-then-write store
    (HDFS/ABFS ``fs.create``) — is RECOVERED from the stage-complete
    markers rather than silently read as 0: the max marked generation
    was fully staged before its publish began, so serving it is the
    commit the crashed write was making."""
    io = io or io_for(index_path)
    txt = io.read_text(_join(index_path, GEN_POINTER))
    if txt is None:
        return 0
    try:
        return int(txt.strip())
    except ValueError:
        return _max_complete_generation(index_path, io)


def generation_root(index_path: str, gen: int) -> str:
    """Data root of generation ``gen``: the index path itself for
    generation 0 (backward compatible with every pre-pointer index),
    a hidden ``_gNNNNN`` child otherwise."""
    return index_path.rstrip("/") if gen == 0 else _join(index_path, f"_g{gen:05d}")


def current_root(index_path: str, io: FsIO | None = None) -> str:
    """Resolve the live data root (pointer-aware; identity for flat
    layouts). Every reader/appender of a generation-managed index
    resolves through this."""
    return generation_root(index_path, current_generation(index_path, io))


def publish_generation(index_path: str, gen: int, io: FsIO | None = None) -> None:
    """Commit generation ``gen``: stamp the stage with its
    ``STAGE_COMPLETE`` marker (making it recoverable if the pointer
    write itself crashes partway — see ``current_generation``), then
    one small pointer write. The data under
    ``generation_root(index_path, gen)`` must be COMPLETE before this
    call. On S3 the pointer write is a single PUT (atomic); on
    truncate-then-write stores a crash between truncate and content
    leaves a corrupt pointer that resolves to this marked generation,
    so the commit still lands."""
    io = io or io_for(index_path)
    if gen > 0:
        io.write_text(_join(generation_root(index_path, gen), STAGE_COMPLETE), str(gen))
    io.write_text(_join(index_path, GEN_POINTER), str(gen))


def gc_generations(
    index_path: str,
    keep_gen: int,
    legacy_names: Iterable[str] = (),
    io: FsIO | None = None,
    legacy_auto: bool = False,
    keep_prev: bool = False,
) -> list[str]:
    """Remove every generation directory other than ``keep_gen``'s —
    failed stages (gen > keep) and superseded generations (gen < keep)
    alike — plus, once the index has migrated off generation 0
    (``keep_gen > 0``), the flat legacy data: the table dirs in
    ``legacy_names``, or with ``legacy_auto`` every top-level entry
    that is not a generation dir or the pointer (for indexes whose
    gen-0 data lives directly at the root, e.g. the IVF
    ``list_id=*`` layout plus its root metadata files). Idempotent;
    run on every maintenance entry and after every publish. Returns
    the removed paths.

    ``keep_prev=True`` (the POST-PUBLISH call) additionally keeps
    generation ``keep_gen - 1`` — including the flat gen-0 layout
    when ``keep_gen == 1`` — so a probe that resolved the old
    generation just before the pointer flip never has its files
    deleted mid-scan; the superseded generation is collected at the
    NEXT maintenance entry instead (round-15 ADVICE fix: same-call GC
    narrowed the read-consistency guarantee to the window between
    root resolution and publish)."""
    io = io or io_for(index_path)
    keep = {keep_gen}
    if keep_prev and keep_gen > 1:
        keep.add(keep_gen - 1)
    keep_flat_legacy = keep_prev and keep_gen == 1
    removed: list[str] = []
    gens: set[str] = set()
    legacy_heads: set[str] = set()
    for rel, _size in io.lister(index_path):
        head = rel.split("/", 1)[0]
        if head.startswith("_g") and head[2:].isdigit():
            gens.add(head)
        elif head != GEN_POINTER:
            legacy_heads.add(head)
    for head in sorted(gens):
        if int(head[2:]) not in keep:
            p = _join(index_path, head)
            io.remove(p)
            removed.append(p)
    if keep_gen > 0 and not keep_flat_legacy:
        targets = set(legacy_names) | (legacy_heads if legacy_auto else set())
        for name in sorted(targets):
            p = _join(index_path, name)
            if name in legacy_heads:
                io.remove(p)
                removed.append(p)
    return removed


def reset_generations(index_path: str, io: FsIO | None = None) -> None:
    """Drop the pointer and every generation directory — the entry
    hook for a full REBUILD, which writes the flat (generation-0)
    layout: without this, a rebuild over a previously-compacted index
    would write data the still-published pointer never resolves to."""
    io = io or io_for(index_path)
    gc_generations(index_path, 0, io=io)
    io.remove(_join(index_path, GEN_POINTER))


# -- Slice-compaction policy (round 12) -------------------------------------
#
# Both accreting indexes — the MinHash dedup index
# (``<table>/src_batch=<n>/…``) and the IVF index
# (``list_id=<l>/src_batch=<n>/…``) — append one ``src_batch=<n>`` slice
# per micro-batch beside the ``src_batch=-1`` history and fold slices
# into history through a generation commit. A fixed every-K-batches
# cadence cannot amortize at 100 TB: each compaction rewrites the WHOLE
# history, so a fixed interval spends ever more rewrite bytes per
# ingested byte as history grows. The geometric trigger below is the
# LSM/Iceberg shape: compact when accreted slice bytes reach
# COMPACT_SLICE_RATIO of history bytes — total rewrite cost per
# ingested byte is then bounded by ~1/ratio FOREVER while trigger
# points stretch with the corpus — or when the slice FILE count alone
# passes COMPACT_MAX_SLICE_FILES (listing/open cost guard for
# byte-light, file-heavy accretion: one file per table or per touched
# list per micro-batch adds up even when the bytes don't).
COMPACT_SLICE_RATIO = 0.25
COMPACT_MAX_SLICE_FILES = 256
#: don't churn a tiny index: below this many accreted bytes the ratio
#: trigger stays silent (the file-count guard still applies)
COMPACT_MIN_SLICE_BYTES = 64 * 2**20


def slice_accretion(path: str, io: FsIO | None = None) -> dict[str, int]:
    """History-vs-accreted footprint of an accreting index from one
    listing of its LIVE generation (a not-yet-GC'd superseded
    generation or an in-flight stage does not count): bytes of the
    ``src_batch=-1`` history, and bytes and file count of the
    per-batch slices. A file counts when it is ``*.parquet`` and its
    second path component is ``src_batch=<n>``."""
    io = io or io_for(path)
    history_bytes = slice_bytes = slice_files = 0
    for rel, size in io.lister(current_root(path, io)):
        parts = rel.split("/")
        if not rel.endswith(".parquet") or len(parts) < 3:
            continue
        if parts[1] == "src_batch=-1":
            history_bytes += size
        elif parts[1].startswith("src_batch="):
            slice_bytes += size
            slice_files += 1
    return {
        "history_bytes": history_bytes,
        "slice_bytes": slice_bytes,
        "slice_files": slice_files,
    }


def should_compact(
    path: str,
    io: FsIO | None = None,
    slice_ratio: float = COMPACT_SLICE_RATIO,
    max_slice_files: int = COMPACT_MAX_SLICE_FILES,
    min_slice_bytes: int = COMPACT_MIN_SLICE_BYTES,
) -> dict:
    """Pure trigger decision: the ``slice_accretion`` census plus a
    ``compact`` bool and which trigger fired (``bytes`` / ``files`` /
    None). The bytes trigger is geometric — ``slice_bytes >=
    slice_ratio * history_bytes`` and at least ``min_slice_bytes`` —
    and the files trigger is an absolute cap on accreted file count."""
    m = slice_accretion(path, io)
    # nothing accreted -> nothing to compact, whatever the knobs say
    # (an empty/missing index with a zero floor would otherwise
    # trigger on 0 >= 0 and hand the compactor nonexistent tables)
    by_files = m["slice_files"] > 0 and m["slice_files"] >= max_slice_files
    by_bytes = (
        m["slice_bytes"] > 0
        and m["slice_bytes"] >= min_slice_bytes
        and m["slice_bytes"] >= slice_ratio * m["history_bytes"]
    )
    return {
        **m,
        "compact": bool(by_files or by_bytes),
        "trigger": "files" if by_files else ("bytes" if by_bytes else None),
    }
