"""The benchmark's workloads. Each is a closed loop with one client: the
next operation is handed to the engine only after the previous one has
returned, and every operation is checked against what the generator
planted, outside the timed section.

A workload provides ``inputs`` (files only, no Spark), ``start`` (engine
set-up), ``warmup`` (how many checked, untimed operations follow it),
``op`` (the timed call), ``check`` (a list of problems, empty when the
output is right), ``in_bytes`` and ``out_roots`` (behind ``mib_per_s``
and ``bytes_out_per_in``), ``spans`` (the functions a traced run wraps)
and ``layer_counts`` (workload-specific per-layer counts).
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

import gen
from ais_data_pipeline_spark.plans import rent_contracts
from ais_data_pipeline_spark.streaming import incremental_dedup


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _footer_rows_and_nulls(path: str, columns: list[str]) -> tuple[int, dict, list[str]]:
    """Row count, per-column null counts (from row-group statistics) and
    column names of the parquet files under ``path``."""
    rows, nulls, names = 0, dict.fromkeys(columns, 0), []
    for f in _parquet_files(path):
        meta = pq.ParquetFile(f).metadata
        names = [meta.schema.column(i).name for i in range(meta.num_columns)]
        rows += meta.num_rows
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            for i, name in enumerate(names):
                if name in nulls:
                    nulls[name] += rg.column(i).statistics.null_count
    return rows, nulls, names


class CsvToParquet:
    """``plans.rent_contracts.run_pipeline`` over one rent_contracts-shaped
    CSV, rewritten in place by every operation."""

    name = "csv_to_parquet"
    rows = 150_000
    warmup = 3
    spans = {
        "rent_contracts.run_pipeline":
            "ais_data_pipeline_spark.plans.rent_contracts:run_pipeline",
        "csv.read_csv": "ais_data_pipeline_spark.sources.csv:read_csv",
        "profiling.plan_tightening":
            "ais_data_pipeline_spark.operators.profiling:plan_tightening",
    }

    def inputs(self, work: str, seed: int) -> None:
        self.meta = gen.contracts_csv(os.path.join(work, "inputs"), seed, self.rows)
        self.out = os.path.join(work, "run", "out")
        self.quarantine = os.path.join(work, "run", "quarantine")
        self.out_roots = [self.out, self.quarantine]

    def start(self, spark, cores: int) -> None:
        self.spark = spark
        # two input splits per core, as a user sizing the scan would
        split = max(4 << 20, self.meta["bytes"] // (2 * cores))
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        # first (coldest) pass on one of the eight parts: class loading and
        # code generation cost the same at any size, so pay them cheaply
        rent_contracts.run_pipeline(
            spark, self.meta["path"] + "/csv/part-00000.csv", self.out, self.quarantine,
            schema=gen.contracts_schema(),
        )

    def has_next(self) -> bool:
        return True

    def in_bytes(self) -> int:
        return self.meta["bytes"]

    def op(self):
        return rent_contracts.run_pipeline(
            self.spark, self.meta["path"] + "/csv", self.out, self.quarantine,
            schema=gen.contracts_schema(),
        )

    def check(self, r) -> list[str]:
        m = self.meta
        want_out = m["rows"] - m["overflow_rows"]
        problems = []
        if (r.rows_in, r.rows_out, r.rows_quarantined) != (m["rows"], want_out, m["overflow_rows"]):
            problems.append(
                f"rows in/out/quarantined {r.rows_in}/{r.rows_out}/{r.rows_quarantined}, "
                f"planted {m['rows']}/{want_out}/{m['overflow_rows']}"
            )
        expected_cols = gen.contracts_output_columns()
        if list(r.columns_out) != expected_cols:
            problems.append(f"reported columns {r.columns_out}")
        rows, nulls, names = _footer_rows_and_nulls(
            self.out, ["contract_end_date", "project_number"]
        )
        if names != expected_cols:
            problems.append(f"written columns {names}")
        if rows != want_out:
            problems.append(f"{rows} rows written, planted {want_out}")
        if nulls["contract_end_date"] != m["garbage_dates_kept"]:
            problems.append(
                f"{nulls['contract_end_date']} null end dates, "
                f"planted {m['garbage_dates_kept']} garbage dates"
            )
        if nulls["project_number"] != m["null_projects_kept"]:
            problems.append(
                f"{nulls['project_number']} null project numbers, "
                f"planted {m['null_projects_kept']} null spellings"
            )
        q_rows, _, _ = _footer_rows_and_nulls(self.quarantine, [])
        if q_rows != m["overflow_rows"]:
            problems.append(f"{q_rows} rows quarantined on disk, planted {m['overflow_rows']}")
        return problems

    def layer_counts(self) -> dict:
        return {}


class IncrementalDedup:
    """``streaming.incremental_dedup.dedup_and_append_batch`` over a stream
    of micro-batches against an index seeded from a history corpus. The
    first ``warmup`` batches of the stream run during set-up."""

    name = "incremental_dedup"
    history = 4_000
    batch_docs = 1000
    warmup = 3
    batches = 16
    spans = {
        "incremental_dedup.dedup_and_append_batch":
            "ais_data_pipeline_spark.streaming.incremental_dedup:dedup_and_append_batch",
        "checkpointing.materialize": "ais_data_pipeline_spark.checkpointing:materialize",
    }

    def inputs(self, work: str, seed: int) -> None:
        self.meta = gen.dedup_inputs(
            os.path.join(work, "inputs"), seed, self.history, self.batch_docs, self.batches
        )
        self.index = os.path.join(work, "run", "index")
        self.out = os.path.join(work, "run", "corpus")
        self.out_roots = [self.out, self.index]
        self.next = 0

    def start(self, spark, cores: int) -> None:
        self.spark = spark
        incremental_dedup.build_dedup_index(
            spark.read.parquet(self.meta["path"] + "/history.parquet"), self.index
        )

    def has_next(self) -> bool:
        return self.next < self.batches

    def in_bytes(self) -> int:
        return self.meta["batch_bytes"][self.next]

    def op(self):
        k = self.next
        self.next += 1
        batch = self.spark.read.parquet(f"{self.meta['path']}/batch-{k}.parquet")
        return k, incremental_dedup.dedup_and_append_batch(
            batch.select("doc_id", "text"), k, self.index, self.out
        )

    def check(self, r) -> list[str]:
        k, (n_in, n_kept) = r
        m = self.meta
        planted = pq.read_table(
            f"{m['path']}/batch-{k}.parquet", columns=["doc_id", "planted"]
        ).to_pydict()
        fresh = {d for d, p in zip(planted["doc_id"], planted["planted"]) if p == "fresh"}
        kept = set(pq.read_table(f"{self.out}/src_batch={k}", columns=["doc_id"])
                   .column("doc_id").to_pylist())
        problems = []
        want_kept = m["batch_docs"] - m["exact_per_batch"] - m["near_per_batch"]
        if (n_in, n_kept) != (m["batch_docs"], want_kept):
            problems.append(f"batch {k}: in/kept {n_in}/{n_kept}, planted {m['batch_docs']}/{want_kept}")
        if kept != fresh:
            problems.append(
                f"batch {k}: {len(kept - fresh)} planted duplicates kept, "
                f"{len(fresh - kept)} fresh docs dropped"
            )
        if len(kept) + (len(planted["doc_id"]) - len(fresh)) != n_in:
            problems.append(f"batch {k}: kept + dropped != {n_in}")
        return problems

    def layer_counts(self) -> dict:
        files = [
            os.path.join(d, f) for d, _, fs in os.walk(self.index)
            for f in fs if not f.startswith((".", "_"))
        ]
        return {
            "index_files": len(files),
            "index_mib": sum(os.path.getsize(f) for f in files) / 2**20,
        }


WORKLOADS = {w.name: w for w in (CsvToParquet, IncrementalDedup)}


def clear_run_dir(work: str) -> None:
    shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)
