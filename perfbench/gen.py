"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)`` and writes plain
files with pyarrow, so inputs can be built while the Spark JVM starts
and the engine sees nothing but the files. Hazard *positions* follow
modular rules on the row index with seed-derived offsets, so the planted
counts are exact and computed here, never asked of the engine. Cell
*values* come from a counter-based hash of ``(seed, salt, key, position)``.
Inputs are cached under the work directory by kind, seed and size; a
manifest written last marks a complete entry and records every file's
size, which is checked on each use. No driver-side Spark frame is built.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: cached input sets kept per kind; older ones are deleted
KEEP_CACHED = 2

VOCAB = 30_000

# (column stem, Arabic prefix, English pool) of the rent_contracts-shaped
# `_ar`/`_en` mirror pairs
MIRROR_FIELDS = [
    ("property_usage", "سكني", ["Residential", "Commercial", "Industrial"]),
    ("property_type", "شقة", ["Flat", "Villa", "Office", "Shop"]),
    ("tenant_type", "فرد", ["Person", "Company"]),
    ("master_project", "مشروع", ["Marina Heights", "Palm Gardens", "Creek View"]),
    ("nearest_landmark", "برج", ["Burj Area", "Airport", "Expo Site", "Old Town"]),
    ("nearest_metro", "محطة", ["Red Line 1", "Red Line 2", "Green Line 1"]),
    ("nearest_mall", "مركز", ["Grand Mall", "City Centre", "Marina Mall"]),
]

#: null spellings planted in ``project_number``; the engine maps all to NULL
NULL_SPELLINGS = ["None", "NULL", "null", ""]

def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 arrays (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _hash(seed: int, salt: int, *parts: np.ndarray) -> np.ndarray:
    h = _mix(np.full(np.broadcast(*parts).shape, (seed << 8 | salt) & 0xFFFFFFFFFFFFFFFF,
                     dtype=np.uint64))
    for p in parts:
        h = _mix(h ^ np.asarray(p).astype(np.uint64))
    return h


def _pick(seed: int, salt: int, key: np.ndarray, n: int) -> np.ndarray:
    return (_hash(seed, salt, key) % np.uint64(n)).astype(np.int64)


def _offsets(seed: int, n: int, mod: int) -> list[int]:
    rng = random.Random(seed)
    return [rng.randrange(mod) for _ in range(n)]


def _files(path: str) -> dict[str, int]:
    return {
        os.path.relpath(os.path.join(d, f), path): os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs if f != "manifest.json"
    }


def _cached(root: str, kind: str, seed: int, size: str, build) -> dict:
    """Return the manifest of ``kind`` at (seed, size), building it with
    ``build(path) -> dict`` on a miss or when a cached file is missing or
    changed size. Keeps the ``KEEP_CACHED`` most recently used entries of
    the kind."""
    path = os.path.join(root, f"{kind}-seed{seed}-n{size}")
    manifest = os.path.join(path, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            meta = json.load(f)
        if meta["path"] == path and _files(path) == meta["files"]:
            os.utime(manifest)
            return meta
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    meta = build(path)
    meta["path"] = path
    meta["files"] = _files(path)
    with open(manifest, "w") as f:
        json.dump(meta, f)
    entries = []
    for name in os.listdir(root):
        m = os.path.join(root, name, "manifest.json")
        if name.startswith(kind + "-seed") and os.path.exists(m):
            entries.append((os.path.getmtime(m), os.path.join(root, name)))
    for _, old in sorted(entries)[:-KEEP_CACHED]:
        shutil.rmtree(old, ignore_errors=True)
    return meta


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (hidden and ``_`` files,
    such as checksums and commit markers, excluded)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


# --------------------------------------------------------------------------
# csv_to_parquet: rent_contracts-shaped CSV


def contracts_columns() -> list[str]:
    cols = [
        "contract_id", "contract_reg_type_id", "contract_reg_type_ar",
        "contract_reg_type_en", "contract_start_date", "contract_end_date",
        "contract_amount", "annual_amount", "area_id", "area_name_ar",
        "area_name_en", "actual_area", "project_number",
    ]
    for name, _, _ in MIRROR_FIELDS:
        cols += [f"{name}_ar", f"{name}_en"]
    return cols


def contracts_output_columns() -> list[str]:
    """The pipeline's output: every `_ar` column dropped, and
    ``actual_area`` too (the reference's substring quirk)."""
    return [c for c in contracts_columns() if "_ar" not in c]


def contracts_schema():
    from pyspark.sql import types as T

    longs = {"contract_reg_type_id", "contract_amount", "annual_amount",
             "area_id", "actual_area"}
    return T.StructType([
        T.StructField(c, T.LongType() if c in longs else T.StringType())
        for c in contracts_columns()
    ])


def contracts_csv(root: str, seed: int, rows: int, files: int = 8) -> dict:
    """Rent_contracts-shaped CSV in ``files`` parts: `_ar` mirror columns,
    garbage end dates (1 row in 97), int32-overflowing amounts (1 in
    5000: the quarantine rows) and four null spellings in
    ``project_number`` (4 rows in 20). The manifest carries the exact
    planted counts the pipeline's output must show."""

    def build(path: str) -> dict:
        o_garbage, o_overflow, o_null = _offsets(seed, 3, 1 << 20)
        ids = np.arange(rows, dtype=np.int64)
        overflow = (ids + o_overflow) % 5000 == 0
        garbage = (ids + o_garbage) % 97 == 0
        null_slot = (ids + o_null) % 20
        kept = ~overflow

        def take(pool: list[str], idx: np.ndarray) -> pa.Array:
            return pc.take(pa.array(pool, pa.string()), pa.array(idx))

        dates = [f"20{y:02d}-{m:02d}-{d:02d}" for y in range(18, 25)
                 for m in range(1, 13) for d in range(1, 29)]

        def date(salt: int, y0: int) -> pa.Array:
            y = _pick(seed, salt, ids, 5) + y0 - 18
            m = _pick(seed, salt + 1, ids, 12)
            d = _pick(seed, salt + 2, ids, 28)
            return take(dates, (y * 12 + m) * 28 + d)

        reg = _pick(seed, 1, ids, 2) + 1
        area = _pick(seed, 2, ids, 40)
        amount = _pick(seed, 3, ids, 800) * 500 + 20_000
        project = [str(i) for i in range(30)] + NULL_SPELLINGS
        project_idx = np.where(
            null_slot < len(NULL_SPELLINGS), 30 + null_slot, _pick(seed, 12, ids, 30)
        )
        cols = {
            "contract_id": pc.binary_join_element_wise(
                "CRT", pc.utf8_lpad(pc.cast(pa.array(ids), pa.string()), 9, "0"), ""
            ),
            "contract_reg_type_id": pa.array(reg),
            "contract_reg_type_ar": take(["عقد0", "عقد1", "عقد2"], reg),
            "contract_reg_type_en": take(["", "New", "Renew"], reg),
            "contract_start_date": date(4, 18),
            "contract_end_date": pc.if_else(
                pa.array(garbage), "garbage-date", date(7, 19)
            ),
            "contract_amount": pa.array(
                np.where(overflow, 5_000_000_000 + _pick(seed, 10, ids, 1000), amount)
            ),
            "annual_amount": pa.array(amount),
            "area_id": pa.array(area),
            "area_name_ar": take([f"منطقة{i}" for i in range(40)], area),
            "area_name_en": take([f"Area {i}" for i in range(40)], area),
            "actual_area": pa.array(_pick(seed, 11, ids, 900) + 100),
            "project_number": take(project, project_idx),
        }
        for i, (name, ar_prefix, pool) in enumerate(MIRROR_FIELDS):
            pick = _pick(seed, 20 + i, ids, len(pool))
            cols[f"{name}_ar"] = take(
                [f"{ar_prefix} {k + i} رقم" for k in range(len(pool))], pick
            )
            cols[f"{name}_en"] = take(pool, pick)
        table = pa.table(cols)
        os.makedirs(path + "/csv")
        step = -(-rows // files)
        for k in range(files):
            pacsv.write_csv(
                table.slice(k * step, step), f"{path}/csv/part-{k:05d}.csv",
                pacsv.WriteOptions(quoting_style="none"),
            )
        return {
            "rows": rows,
            "bytes": dir_bytes(path + "/csv"),
            "overflow_rows": int(overflow.sum()),
            "garbage_dates_kept": int((garbage & kept).sum()),
            "null_projects_kept": int(((null_slot < len(NULL_SPELLINGS)) & kept).sum()),
        }

    return _cached(root, "contracts", seed, str(rows), build)


# --------------------------------------------------------------------------
# incremental_dedup: a history corpus plus micro-batches
#
# Text is a pure function of (key, length, churn position): two docs with
# the same key and no churn are exact copies; a churned copy differs in
# exactly one token, so its word-3-gram Jaccard with the original is at
# least (n-3)/(n+3) >= 0.88 for n >= 50 (the engine drops at >= 0.5, and
# LSH at 16 bands x 2 rows misses such a pair with p < 1e-9).


def _texts(seed: int, keys: np.ndarray, n_tokens: np.ndarray, churn_at: np.ndarray) -> pa.Array:
    offsets = np.zeros(len(keys) + 1, dtype=np.int32)
    np.cumsum(n_tokens, out=offsets[1:])
    doc = np.repeat(np.arange(len(keys)), n_tokens)
    pos = np.arange(offsets[-1], dtype=np.int64) - offsets[doc] + 1
    tok = _hash(seed, 30, keys[doc], pos) % np.uint64(VOCAB)
    churned = pos == churn_at[doc]
    tok = np.where(churned, VOCAB + _hash(seed, 31, keys[doc], pos) % np.uint64(VOCAB), tok)
    vocab = pa.array([f"w{i}" for i in range(2 * VOCAB)], pa.string())
    words = pc.take(vocab, pa.array(tok.astype(np.int64)))
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words), " ")


def _doc_len(seed: int, key: np.ndarray) -> np.ndarray:
    return _pick(seed, 50, key, 101) + 50


def dedup_inputs(root: str, seed: int, history: int, batch_docs: int, batches: int) -> dict:
    """History corpus (``history.parquet``, doc ids ``0..history-1``) plus
    ``batches`` micro-batches (``batch-<k>.parquet``) of ``batch_docs``
    docs with ids continuing after the history. In every batch, slots
    0-4 of each 50 (10 %) are exact copies of history docs and slot 5
    (2 %) is a one-token near-duplicate of one; the copied doc is picked
    by hashing the batch doc id. Each batch file carries a ``planted``
    label column the benchmark keeps away from the engine."""

    def build(path: str) -> dict:
        (off,) = _offsets(seed + 1, 1, 50)
        hist_ids = np.arange(history, dtype=np.int64)
        pq.write_table(
            pa.table({
                "doc_id": pa.array(hist_ids),
                "text": _texts(seed, hist_ids, _doc_len(seed, hist_ids),
                               np.zeros(history, dtype=np.int64)),
            }),
            path + "/history.parquet",
        )
        role = (np.arange(batch_docs) + off) % 50
        labels = pa.array(np.where(role < 5, "exact", np.where(role == 5, "near", "fresh")))
        batch_bytes = []
        for k in range(batches):
            ids = history + k * batch_docs + np.arange(batch_docs, dtype=np.int64)
            keys = np.where(role <= 5, _pick(seed, 51, ids, history), ids)
            n_tok = _doc_len(seed, keys)
            churn = np.where(role == 5, _pick(seed, 52, ids, 1 << 30) % n_tok + 1, 0)
            f = f"{path}/batch-{k}.parquet"
            pq.write_table(
                pa.table({
                    "doc_id": pa.array(ids),
                    "text": _texts(seed, keys, n_tok, churn),
                    "planted": labels,
                }),
                f,
            )
            batch_bytes.append(os.path.getsize(f))
        return {
            "history": history,
            "batch_docs": batch_docs,
            "batches": batches,
            "batch_bytes": batch_bytes,
            "exact_per_batch": int((role < 5).sum()),
            "near_per_batch": int((role == 5).sum()),
        }

    return _cached(root, "dedup", seed, f"{history}x{batch_docs}x{batches}", build)
