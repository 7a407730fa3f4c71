"""End-to-end rent_contracts pipeline test on an F1-shaped fixture
(FIXTURES.md): reproduces the reference invariants — `_ar` substring
drop (incl. actual_area), lenient date parse, int32 quarantine, row
conservation."""

from __future__ import annotations

import csv
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ais_data_pipeline_spark.plans.rent_contracts import run_pipeline

N_ROWS = 500


@pytest.fixture(scope="module")
def fixture_csv(tmp_path_factory):
    """Deterministic F1-shaped CSV: _ar mirrors, actual_area, null
    tokens, bad dates, a few int32-overflowing contract amounts."""
    path = tmp_path_factory.mktemp("rc") / "rent_contracts.csv"
    cols = [
        "contract_id",
        "contract_reg_type_id",
        "contract_reg_type_ar",
        "contract_reg_type_en",
        "contract_start_date",
        "contract_end_date",
        "contract_amount",
        "annual_amount",
        "area_id",
        "area_name_ar",
        "area_name_en",
        "actual_area",
        "project_number",
    ]
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(cols)
        for i in range(N_ROWS):
            reg = 1 + (i % 2)
            start = f"2020-{1 + i % 12:02d}-{1 + i % 28:02d}"
            end = "garbage-date" if i % 97 == 0 else f"2021-{1 + i % 12:02d}-{1 + i % 28:02d}"
            amount = 5_000_000_000 if i % 100 == 7 else 40_000 + i  # 5 rows overflow int32
            area = i % 20
            w.writerow(
                [
                    f"CRT{i:08d}",
                    reg,
                    f"عقد{reg}",
                    "New" if reg == 1 else "Renew",
                    start,
                    end,
                    amount,
                    amount,
                    area,
                    f"منطقة{area}",
                    f"Area {area}",
                    100 + i % 50,
                    "" if i % 10 == 0 else ("None" if i % 11 == 0 else i % 30),
                ]
            )
    return str(path)


SCHEMA = T.StructType(
    [
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
        T.StructField("project_number", T.LongType()),
    ]
)


def test_pipeline_invariants(spark, fixture_csv, tmp_path):
    out = str(tmp_path / "main")
    quar = str(tmp_path / "quarantine")
    res = run_pipeline(spark, fixture_csv, out, quar, schema=SCHEMA)

    # P1 quirk: _ar columns AND actual_area gone
    assert not any("_ar" in c for c in res.columns_out)
    assert "actual_area" not in res.columns_out
    assert "area_name_en" in res.columns_out

    # row conservation + quarantine picked up exactly the overflow rows
    assert res.rows_in == N_ROWS
    assert res.rows_out + res.rows_quarantined == N_ROWS
    assert res.rows_quarantined == 5

    main = spark.read.parquet(out)
    # T1 lenient parse: garbage dates became null, column is DateType
    assert dict(main.dtypes)["contract_end_date"] == "date"
    assert main.filter("contract_end_date IS NULL").count() > 0
    # null tokens ("", "None") normalized before the Long cast
    assert main.filter("project_number IS NULL").count() > 0
    # quarantined rows kept raw Long amounts
    quarantined = spark.read.parquet(quar)
    assert quarantined.filter("contract_amount > 2147483647").count() == 5

    # ANSI mode (a vanilla Spark 4 session's default): the garbage dates
    # still parse to null instead of failing the run with
    # CAST_INVALID_INPUT
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        strict = run_pipeline(
            spark, fixture_csv, str(tmp_path / "ansi_main"),
            str(tmp_path / "ansi_quar"), schema=SCHEMA,
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert (strict.rows_out, strict.rows_quarantined) == (
        res.rows_out, res.rows_quarantined
    )
    null_ends = "contract_end_date IS NULL"
    assert (
        spark.read.parquet(str(tmp_path / "ansi_main")).filter(null_ends).count()
        == main.filter(null_ends).count()
    )


def test_pipeline_downcast_decisions(spark, fixture_csv, tmp_path):
    res = run_pipeline(
        spark, fixture_csv, str(tmp_path / "m2"), str(tmp_path / "q2"), schema=SCHEMA
    )
    main = spark.read.parquet(str(tmp_path / "m2"))
    dt = dict(main.dtypes)
    # contract_reg_type_id ∈ {1,2} → tightened below long
    assert dt["contract_reg_type_id"] in ("tinyint", "smallint", "string", "boolean")
    # amounts fit int32 after quarantine → narrowed
    assert dt["contract_amount"] in ("int", "string")

    # the reported plan — string ratios taken on the write's Observation
    # — equals the fused single-aggregate profile of the admitted rows
    from ais_data_pipeline_spark.operators.profiling import int32_admission_predicate
    from ais_data_pipeline_spark.operators.projections import exclude_substring
    from ais_data_pipeline_spark.operators.transforms import parse_date_lenient
    from ais_data_pipeline_spark.plans.rent_contracts import DATE_COLUMNS
    from ais_data_pipeline_spark.sources.csv import read_csv

    parsed = parse_date_lenient(
        exclude_substring(read_csv(spark, fixture_csv, schema=SCHEMA), "_ar"), DATE_COLUMNS
    )
    longs = [f.name for f in parsed.schema.fields if isinstance(f.dataType, T.LongType)]
    good = parsed.filter(int32_admission_predicate(longs))
    assert res.plan == _fused_plan(good)
    assert res.plan.categorical_strings == ["contract_reg_type_en", "area_name_en"]


def _fused_plan(df):
    """Reference decisions: the single fused profile aggregate that
    ``plan_tightening`` used to run (HyperLogLog distinct counts of every
    string and integer column plus integer min/max, one ``agg``), with
    the 0.10/0.01 thresholds and the downcast/quarantine rules inline."""
    from ais_data_pipeline_spark.functions.numeric import smallest_int_type
    from ais_data_pipeline_spark.operators.profiling import TighteningPlan

    width = {T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4, T.LongType: 8}
    strings = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    ints = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType, T.ByteType))
    ]
    aggs = [F.approx_count_distinct(c).alias(f"{c}__nd") for c in strings + ints]
    aggs.append(F.count(F.lit(1)).alias("__n"))
    for c in ints:
        aggs += [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
    row = df.agg(*aggs).first()
    n = row["__n"] or 1
    plan = TighteningPlan()
    plan.categorical_strings = [c for c in strings if row[f"{c}__nd"] / n <= 0.10]
    for c in ints:
        lo, hi = row[f"{c}__min"], row[f"{c}__max"]
        current = df.schema[c].dataType
        target = smallest_int_type(lo, hi, allow_boolean=True)
        if width.get(type(target), 16) < width.get(type(current), 16):
            plan.downcasts[c] = target
        if isinstance(current, T.LongType) and (
            (lo is not None and lo < -(2**31)) or (hi is not None and hi > 2**31 - 1)
        ):
            plan.quarantine_columns.append(c)
        if row[f"{c}__nd"] / n <= 0.01 and c not in plan.downcasts:
            plan.categorical_numerics.append(c)
    return plan


def test_plan_tightening_decisions_match_fused_profile(spark, monkeypatch):
    """The split profile — a min/max aggregate, a distinct-ratio
    aggregate only over integer columns that do not narrow, string
    ratios measured elsewhere — decides exactly what the fused single
    aggregate decided, and skips the second aggregate when every
    integer column narrows."""
    from ais_data_pipeline_spark.operators import profiling
    from ais_data_pipeline_spark.operators.aggregates import distinct_ratios

    calls = []

    def recorded(df, columns, approx=False):
        calls.append(list(columns))
        return distinct_ratios(df, columns, approx)

    monkeypatch.setattr(profiling, "distinct_ratios", recorded)
    df = spark.range(2000).selectExpr(
        "concat('v', id % 5) AS s_low",
        "concat('u', id) AS s_high",
        "id % 100 AS l_narrow",
        "id * 10000000 AS l_wide",  # beyond int32: quarantined
        # two values at the int32 extremes: no narrower type, 2/2000 distinct
        "CAST(CASE WHEN id % 2 = 0 THEN -2147483648 ELSE 2147483647 END AS INT) AS i_lowcard",
        "CAST(id * 1000003 AS INT) AS i_high",  # needs int32, all distinct
    )
    plan = profiling.plan_tightening(df)
    assert calls == [["l_wide", "i_lowcard", "i_high"]]
    plan.categorical_strings = profiling.categorical_strings(
        distinct_ratios(df, ["s_low", "s_high"], approx=True)
    )
    assert plan == _fused_plan(df)
    assert plan.categorical_strings == ["s_low"]
    assert plan.categorical_numerics == ["i_lowcard"]
    assert plan.quarantine_columns == ["l_wide"]
    assert plan.downcasts == {"l_narrow": T.ByteType()}

    calls.clear()
    narrow = df.select("s_low", "s_high", "l_narrow")
    plan = profiling.plan_tightening(narrow)
    assert calls == []
    plan.categorical_strings = profiling.categorical_strings(
        distinct_ratios(narrow, ["s_low", "s_high"], approx=True)
    )
    assert plan == _fused_plan(narrow)


def test_pipeline_jobs_stay_in_caller_job_group(spark, fixture_csv, tmp_path):
    """Every job of one ``run_pipeline`` call — the overlapped writes on
    its thread pool included — carries the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "rent-contracts-under-test"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        run_pipeline(
            spark, fixture_csv, str(tmp_path / "m"), str(tmp_path / "q"), schema=SCHEMA
        )
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    grouped = sorted(tracker.getJobIdsForGroup(group))
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert len(grouped) >= 3  # the profile aggregate and both writes
    assert grouped == list(range(grouped[0], grouped[-1] + 1))


def _sql_plans(spark, fn):
    """Physical plan descriptions of every SQL execution ``fn`` runs
    (at most 100). The status store keeps only the latest executions,
    so they are told apart by id, not by position."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def latest(n):
        execs = store.executionsList(max(store.executionsCount() - n, 0), n)
        return [execs.apply(i) for i in range(execs.size())]

    bus.waitUntilEmpty()
    before = max((e.executionId() for e in latest(1)), default=-1)
    fn()
    bus.waitUntilEmpty()
    return [e.physicalPlanDescription() for e in latest(100) if e.executionId() > before]


def test_pipeline_pins_rows_and_releases_them(spark, fixture_csv, tmp_path, monkeypatch):
    """The parse is pinned as rows (``checkpointing.materialize``), not a
    compressed columnar cache: no plan of the run holds an
    ``InMemoryTableScan``. The pin is released once the writes return,
    and also when a write raises."""
    from ais_data_pipeline_spark.plans import rent_contracts

    pinned = spark.sparkContext._jsc.getPersistentRDDs
    n0 = pinned().size()
    plans = _sql_plans(
        spark,
        lambda: run_pipeline(
            spark, fixture_csv, str(tmp_path / "m"), str(tmp_path / "q"), schema=SCHEMA
        ),
    )
    assert len(plans) >= 3  # the pin, the profile and both writes
    assert not [p for p in plans if "InMemoryTableScan" in p or "InMemoryRelation" in p]
    assert pinned().size() == n0

    def failing_writes(spark, *thunks):
        raise RuntimeError("write failed")

    monkeypatch.setattr(rent_contracts, "overlap", failing_writes)
    with pytest.raises(RuntimeError, match="write failed"):
        run_pipeline(
            spark, fixture_csv, str(tmp_path / "m2"), str(tmp_path / "q2"), schema=SCHEMA
        )
    assert pinned().size() == n0


def test_pipeline_release_under_reliable_checkpoints(spark, fixture_csv, tmp_path, monkeypatch):
    """Under ``set_reliable_checkpoints`` the pin is a set of checkpoint
    files, and the release deletes them: the files exist until the
    writes return, the run leaves none behind, and its results equal a
    local pin's."""
    from ais_data_pipeline_spark import checkpointing
    from ais_data_pipeline_spark.plans import rent_contracts

    local = run_pipeline(
        spark, fixture_csv, str(tmp_path / "m_local"), str(tmp_path / "q_local"), schema=SCHEMA
    )
    ckpt = tmp_path / "ckpt"

    def files():
        return [p for p in ckpt.rglob("*") if p.is_file()]

    pinned_files = []

    def recorded_release(df):
        pinned_files.extend(files())
        checkpointing.release(df)

    monkeypatch.setattr(rent_contracts, "release", recorded_release)
    checkpointing.set_reliable_checkpoints(spark, str(ckpt))
    try:
        reliable = run_pipeline(
            spark, fixture_csv, str(tmp_path / "m_rel"), str(tmp_path / "q_rel"), schema=SCHEMA
        )
    finally:
        checkpointing.set_local_checkpoints()
    assert pinned_files, "the run wrote no reliable checkpoint"
    assert files() == []
    assert (reliable.rows_in, reliable.rows_out, reliable.rows_quarantined) == (
        local.rows_in, local.rows_out, local.rows_quarantined
    )
    for a, b in (("m_local", "m_rel"), ("q_local", "q_rel")):
        assert sorted(spark.read.parquet(str(tmp_path / a)).collect()) == sorted(
            spark.read.parquet(str(tmp_path / b)).collect()
        )


@pytest.mark.parametrize("overflow", [True, False], ids=["quarantine", "empty_quarantine"])
def test_pipeline_quarantine_file_regimes_agree(
    spark, fixture_csv, tmp_path, monkeypatch, overflow
):
    """The quarantine is written as one file when the pin job counted at
    most ``util.SINGLE_FILE_MAX_ROWS`` rows in, else with the pin's
    partitioning; both regimes write the same rows and count them the
    same. The input spans three CSV parts and holds NULL amounts (they
    fit int32 and stay in the main output); with ``overflow`` False the
    quarantine is empty."""
    from ais_data_pipeline_spark.operators import util

    with open(fixture_csv, newline="") as f:
        header, *rows = list(csv.reader(f))
    amount = header.index("contract_amount")
    for i, row in enumerate(rows):
        if i % 50 == 3:
            row[amount] = ""
        if not overflow and int(row[amount] or 0) > 2**31 - 1:
            row[amount] = row[amount + 1] = "1"
    src = tmp_path / "csv"
    src.mkdir()
    for part in range(3):
        with open(src / f"part-{part}.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(rows[part::3])

    def run(tag):
        res = run_pipeline(
            spark, str(src), str(tmp_path / f"m_{tag}"), str(tmp_path / f"q_{tag}"), schema=SCHEMA
        )
        files = list((tmp_path / f"q_{tag}").glob("part-*.parquet"))
        main = sorted(spark.read.parquet(str(tmp_path / f"m_{tag}")).collect())
        quar = sorted(spark.read.parquet(str(tmp_path / f"q_{tag}")).collect())
        return res, files, main, quar

    single, single_files, main_1, quar_1 = run("single")
    monkeypatch.setattr(util, "SINGLE_FILE_MAX_ROWS", -1)
    multi, multi_files, main_n, quar_n = run("multi")
    assert len(single_files) == 1
    if overflow:
        assert len(multi_files) > 1
    assert (main_1, quar_1) == (main_n, quar_n)
    want_bad = 5 if overflow else 0
    for res in (single, multi):
        assert (res.rows_in, res.rows_out, res.rows_quarantined) == (
            N_ROWS, N_ROWS - want_bad, want_bad
        )
    assert len(quar_1) == want_bad
    assert sum(r["contract_amount"] is None for r in main_1) == N_ROWS // 50


def test_pipeline_raises_on_lost_rows(spark, fixture_csv, tmp_path, monkeypatch):
    """rows_in is counted on the pin job, not defined as the sum of the
    writes' counts, so a row that no write accounts for raises."""
    from ais_data_pipeline_spark.plans import rent_contracts

    real_tightening = rent_contracts.apply_tightening

    def lose_a_row(df, plan):
        return real_tightening(df, plan).filter(F.col("contract_id") != "CRT00000001")

    monkeypatch.setattr(rent_contracts, "apply_tightening", lose_a_row)
    with pytest.raises(RuntimeError, match="row accounting"):
        run_pipeline(
            spark, fixture_csv, str(tmp_path / "m"), str(tmp_path / "q"), schema=SCHEMA
        )


def test_snapshot_time_travel(spark, tmp_path):
    """Versioned table: append/overwrite commits, historical reads,
    history metadata, and snapshot expiry with file GC."""
    from ais_data_pipeline_spark.sinks.snapshots import (
        current_version,
        expire_snapshots,
        read_snapshot,
        snapshot_history,
        write_snapshot,
    )

    tp = str(tmp_path / "versioned")
    d1 = spark.range(10).withColumnRenamed("id", "k")
    d2 = spark.range(10, 15).withColumnRenamed("id", "k")
    d3 = spark.range(100, 103).withColumnRenamed("id", "k")
    assert write_snapshot(d1, tp, mode="overwrite") == 1
    assert write_snapshot(d2, tp, mode="append") == 2
    assert write_snapshot(d3, tp, mode="overwrite") == 3
    assert current_version(tp) == 3

    assert read_snapshot(spark, tp, 1).count() == 10
    assert read_snapshot(spark, tp, 2).count() == 15  # append = v1 + new
    assert read_snapshot(spark, tp).count() == 3  # overwrite replaced
    assert {r["k"] for r in read_snapshot(spark, tp, 3).collect()} == {100, 101, 102}

    hist = snapshot_history(tp)
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert [h["operation"] for h in hist] == ["overwrite", "append", "overwrite"]
    assert hist[1]["n_files"] > hist[0]["n_files"]  # append carries parent files

    # expire everything but v3: v1/v2 unreadable, v3 intact, old files gone
    assert expire_snapshots(tp, keep_last=1) == [1, 2]
    assert read_snapshot(spark, tp).count() == 3
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, tp, 1)
    import os as _os

    snaps = _os.listdir(_os.path.join(tp, "data"))
    assert snaps == ["snap-00003"]  # GC removed unreferenced data dirs


def test_jsonl_bounded_inference_and_quarantine(spark, tmp_path):
    """JSON-lines source: schema locks from a bounded prefix, full
    read parses under that schema, malformed lines quarantine with
    the raw text preserved."""
    from ais_data_pipeline_spark.sources.jsonl import read_jsonl, split_corrupt

    p = tmp_path / "events.jsonl"
    lines = ['{"id": %d, "v": %f, "tag": "t%d"}' % (i, i * 0.5, i) for i in range(50)]
    lines.insert(20, "{not json at all")
    lines.insert(40, '{"id": "not-an-int", "v": 1.0, "tag": "x"}')
    p.write_text("\n".join(lines))

    df = read_jsonl(spark, str(p), infer_schema_length=10)
    assert [f.name for f in df.schema.fields] == ["id", "tag", "v", "_corrupt_record"]
    clean, quarantine = split_corrupt(df)
    q = [r["raw_line"] for r in quarantine.collect()]
    assert "{not json at all" in q
    # type-mismatched id under the locked schema also quarantines
    assert any("not-an-int" in x for x in q)
    assert clean.count() == 50
    assert clean.filter(F.col("id") == 7).first()["tag"] == "t7"


def test_incremental_dedup_replay_idempotent(spark, sf_dir, tmp_path):
    """A replayed micro-batch (fresh checkpoint, same landing data)
    must leave the kept table AND every index slice exactly as the
    first drain did — the src_batch= dynamic-partition-overwrite
    idempotence contract. Also pins cross-batch semantics: batch-2
    docs identical to batch-1 SURVIVORS drop, while docs identical
    only to batch-1 DROPPED docs still drop via their kept
    representative's hash (identical text => identical hash)."""
    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_dedup_index,
        run_incremental_dedup,
    )

    docs = read_table(spark, sf_dir, "documents").limit(0)  # schema only
    base = str(tmp_path)
    index, out, landing = base + "/idx", base + "/kept", base + "/land"
    rows = [
        # history
        (0, "alpha beta gamma delta epsilon zeta", "en", "h", 35),
        # batch 1: 10 exact-dups history, 11 unique, 12 dup of 11
        (10, "alpha beta gamma delta epsilon zeta", "en", "b", 35),
        (11, "one two three four five six seven", "en", "b", 33),
        (12, "one two three four five six seven", "en", "b", 33),
        # batch 2: 20 dup of kept 11, 21 dup of dropped 12 (same text
        # => same hash as 11 too -> drops), 22 unique
        (20, "one two three four five six seven", "en", "b", 33),
        (21, "one two three four five six seven", "en", "b", 33),
        (22, "nine ten eleven twelve thirteen fourteen", "en", "b", 40),
    ]
    mk = lambda ids: spark.createDataFrame(  # noqa: E731
        [r for r in rows if r[0] in ids], docs.schema
    )
    build_dedup_index(mk({0}), index)

    def drain(ckpt: str) -> None:
        stream = spark.readStream.schema(docs.schema).parquet(landing)
        run_incremental_dedup(stream, index, out, ckpt, threshold=0.5)

    mk({10, 11, 12}).write.mode("append").parquet(landing)
    drain(base + "/ck1")
    kept1 = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept1 == [11]  # 10 = history dup, 12 = predecessor dup

    # replay batch 1 from scratch (fresh checkpoint): same end state
    drain(base + "/ck1b")
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == [11]
    indexed = spark.read.parquet(index + "/docs").collect()
    assert sorted(r["doc"] for r in indexed) == [0, 11]  # no duplicate slices

    mk({20, 21, 22}).write.mode("append").parquet(landing)
    drain(base + "/ck1b")  # continue from the replayed checkpoint
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [11, 22]


def _regime_batches(spark, docs):
    """History (``doc_id % 3 == 0`` plus a NULL-text doc) and five
    batches that between them drive every drop leg — exact and near,
    within the batch and against the index — plus the accounting edge
    cases:

    - batch 0: the sf0.01 ``doc_id % 3 == 1`` slice;
    - batch 1: a NULL-id exact copy of an index doc (a NULL in the
      collected drop set once made NOT IN drop every survivor), an
      exact copy within the batch, a within-batch one-token edit and a
      one-token edit of an index doc;
    - batch 2: a duplicate id whose one row is an exact copy of an
      index doc (both rows go, as with the anti-join), and a fresh doc;
    - batch 3: the index's exact-pair skip. B (900_301) is a one-token
      edit of an index doc X and drops through near-vs-index; A
      (900_302 > B) is an exact copy of X, whose candidate pairs with X
      are skipped before verification, and drops through the exact
      probe. A NULL-text doc (900_303) shares every band bucket with
      the history's NULL-text doc and survives;
    - batch 4: empty.

    Batch 1 keeps the NULL-id row, 900_001 and 900_003; batch 2 keeps
    900_201; batch 3 keeps 900_303."""
    from ais_data_pipeline_spark.localrel import local_df

    row = lambda i, t: (i, t, "en", "b", len(t) if t is not None else 0)  # noqa: E731
    hist = docs.filter(F.col("doc_id") % 3 == 0).unionByName(
        local_df(spark, [row(900_000, None)], docs.schema)
    )
    hist_texts = [r["text"] for r in hist.orderBy("doc_id").limit(4).collect()]
    fresh = "quick amber foxes leap over sleepy violet hounds beneath a silent harvest moon tonight again"
    batches = [
        docs.filter(F.col("doc_id") % 3 == 1),
        local_df(
            spark,
            [
                row(None, hist_texts[0]),
                row(900_001, "fresh words that no history document has ever used"),
                row(900_003, fresh),
                row(900_004, fresh.replace("tonight again", "tonight too")),
                row(900_005, hist_texts[2].rsplit(" ", 1)[0] + " zebra"),
                row(900_006, "fresh words that no history document has ever used"),
            ],
            docs.schema,
        ),
        local_df(
            spark,
            [
                row(900_201, "another fresh sentence seen only in this batch"),
                row(900_202, hist_texts[1]),
                row(900_202, "a different fresh sentence under a reused id"),
            ],
            docs.schema,
        ),
        local_df(
            spark,
            [
                row(900_301, hist_texts[3].rsplit(" ", 1)[0] + " yak"),
                row(900_302, hist_texts[3]),
                row(900_303, None),
            ],
            docs.schema,
        ),
        docs.limit(0),
    ]
    return hist, batches


def _sorted_rows(df):
    rows = (tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect())
    return sorted(rows, key=repr)


def test_incremental_dedup_large_batch_regime_equivalent(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r19: batches at or under ``util.PUSHDOWN_LIMIT`` collect their
    probe and drop sets and filter by literal IN / NOT-IN values; larger
    batches probe through broadcast joins and pin a distinct drop set.
    Force the LARGE regime (PUSHDOWN_LIMIT=-1: no batch, not even an
    empty one, is small) on the same batches, with and without a
    hot-bucket cap — kept rows, accounting, and every index table must
    be bit-identical."""
    from ais_data_pipeline_spark.operators import util
    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_dedup_index,
        dedup_and_append_batch,
    )

    hist, batches = _regime_batches(spark, read_table(spark, sf_dir, "documents"))
    for cap in (None, 3):
        results = {}
        for tag, lim in (("small", 10_000), ("large", -1)):
            monkeypatch.setattr(util, "PUSHDOWN_LIMIT", lim)
            base = str(tmp_path / f"{tag}-{cap}")
            index, out = base + "/idx", base + "/out"
            build_dedup_index(hist, index)
            counts = [
                dedup_and_append_batch(
                    b, k, index, out, threshold=0.5, max_bucket_size=cap,
                )
                for k, b in enumerate(batches)
            ]
            tables = [
                _sorted_rows(spark.read.parquet(p))
                for p in [out] + [
                    f"{index}/{t}" for t in ("docs", "buckets")
                ]
            ]
            kept = sorted(
                ((r["src_batch"], r["doc_id"]) for r in spark.read.parquet(out).collect()),
                key=repr,
            )
            results[tag] = (counts, kept, tables)
        assert results["small"] == results["large"], cap
        counts, kept = results["small"][:2]
        assert counts[1:] == [(6, 3), (3, 1), (3, 1), (0, 0)], cap
        assert [d for b, d in kept if b == 1] == [900_001, 900_003, None], cap
        assert [d for b, d in kept if b == 2] == [900_201], cap
        assert [d for b, d in kept if b == 3] == [900_303], cap


def test_incremental_dedup_single_file_estimate_is_upper_bound(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The single-file funnel sizes each of the three slice writes of a
    batch from ``n_kept_est = n_in - n_drops`` (times the band count for
    the band slice), and the same bound sizes the docs slice's bloom
    filter. That estimate must bound
    the rows each write really produces, in both regimes: duplicate ids
    make it over-estimate, and a NULL id (never removable by the
    anti-join) must not make it under-estimate — an under-sized bloom
    filter would raise the false-positive rate above ``BLOOM_FPP``."""
    from ais_data_pipeline_spark.operators import util
    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming import incremental_dedup as mod

    hist, batches = _regime_batches(spark, read_table(spark, sf_dir, "documents"))
    write_slice = mod._write_slice
    for tag, lim in (("small", 10_000), ("large", -1)):
        monkeypatch.setattr(util, "PUSHDOWN_LIMIT", lim)
        base = str(tmp_path / tag)
        index, out = base + "/idx", base + "/out"
        mod.build_dedup_index(hist, index)
        written = []

        def recording(df, path, src_batch, *args, approx_rows=None, **kwargs):
            write_slice(df, path, src_batch, *args, approx_rows=approx_rows, **kwargs)
            part = f"{path}/src_batch={src_batch}"
            n = spark.read.parquet(part).count() if os.path.isdir(part) else 0
            written.append((os.path.basename(path), src_batch, approx_rows, n))

        monkeypatch.setattr(mod, "_write_slice", recording)
        for k, b in enumerate(batches):
            mod.dedup_and_append_batch(b, k, index, out, threshold=0.5)
        monkeypatch.setattr(mod, "_write_slice", write_slice)
        assert len(written) == 3 * len(batches), tag
        assert all(est >= n for _, _, est, n in written), (tag, written)
        # the duplicate-id batch over-estimates: one drop id, two rows
        assert any(k == 2 and est > n for _, k, est, n in written), (tag, written)


def test_incremental_dedup_refuses_earlier_layout(spark, sf_dir, tmp_path):
    """An index whose docs table holds shingle hashes and no text (the
    earlier layout) reads NULL text through the current schema, so
    near-vs-index verification would silently never match. The first
    append, probe or compaction raises instead and names
    ``build_dedup_index``; a rebuild over the same path drops the old
    tables, batch slices included, and near duplicates drop again. A
    never-built index takes the layout marker with its first append."""
    from ais_data_pipeline_spark.localrel import local_df
    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming import incremental_dedup as mod

    docs = read_table(spark, sf_dir, "documents")
    index, out = str(tmp_path / "idx"), str(tmp_path / "out")
    k = F.col("doc_id")
    hist, batch = docs.filter(k % 3 == 0), docs.filter(k % 3 == 1)
    for src_batch, part in ((mod.HISTORY_BATCH, hist), (0, batch)):
        mod._write_slice(
            mod._features(part, "text", "doc_id", 3).select("doc", "text_hash", "shingles"),
            index + "/docs", src_batch, bloom_col="text_hash",
        )
    for call in (
        lambda: mod.dedup_and_append_batch(batch, 1, index, out),
        lambda: mod.dedup_batch_against_index(batch, index),
        lambda: mod.compact_dedup_index(spark, index),
    ):
        with pytest.raises(ValueError, match="build_dedup_index"):
            call()
    assert not os.path.exists(out)
    assert not os.path.exists(index + "/_g00001")

    mod.build_dedup_index(hist, index)
    assert sorted(os.listdir(index + "/docs")) == ["src_batch=-1"]
    x = hist.orderBy("doc_id").first()["text"]
    near = local_df(
        spark, [(900_001, x.rsplit(" ", 1)[0] + " yak", "en", "b", len(x))], docs.schema
    )
    assert mod.dedup_batch_against_index(near, index, threshold=0.5).count() == 0

    fresh = str(tmp_path / "fresh")
    mod.dedup_and_append_batch(batch, 0, fresh, out)
    with open(os.path.join(fresh, mod.LAYOUT_MARKER)) as f:
        assert f.read() == mod.DOCS_LAYOUT
    # the next batch probes the first one's slices without a raise
    assert mod.dedup_and_append_batch(batch, 1, fresh, out) == (167, 0)


def test_incremental_dedup_verify_shingles_below_join(spark, sf_dir, tmp_path):
    """The near-vs-index verify rebuilds each candidate's shingles from
    the index text in projections below the verify join. No join
    condition of the drop-set plan may hold a ``transform(`` lambda:
    with the shingling inlined into the Jaccard condition, the token
    split re-runs per element (seconds per batch instead of tens of
    milliseconds)."""
    import io as _io
    import re as _re
    from contextlib import redirect_stdout

    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming import incremental_dedup as mod

    docs = read_table(spark, sf_dir, "documents")
    index = str(tmp_path / "idx")
    mod.build_dedup_index(docs.filter(F.col("doc_id") % 3 == 0), index)
    _, _, drops, _ = mod._dedup_batch_parts(
        docs.filter(F.col("doc_id") % 3 == 1), index, threshold=0.5
    )
    buf = _io.StringIO()
    with redirect_stdout(buf):
        drops.explain("formatted")
    plan = buf.getvalue()
    conds = _re.findall(r"Join condition: (.*)", plan)
    assert len(conds) >= 4, plan
    assert not [c for c in conds if "transform(" in c], plan
    # the index leg does shingle text: a projection holds the lambda
    assert "transform(" in plan, plan


def _scan_output_rows(df) -> int:
    """Rows the file scans of ``df``'s last action produced, after
    parquet row-group skipping (the scan nodes' ``numOutputRows``)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    return sum(
        leaves.apply(i).metrics().apply("numOutputRows").value()
        for i in range(leaves.size())
    )


def test_incremental_dedup_bloom_filters_sized_and_skip(spark, sf_dir, tmp_path):
    """Each docs slice's bloom filter is sized from the writer's row
    bound at ``BLOOM_FPP`` instead of parquet-mr's default 1 MiB
    bitset, and still lets a ``PUSHDOWN_LIMIT``-sized IN-list skip the
    slices holding none of its values. The buckets slices carry no
    bloom filter at all: no probe pushes a bucket IN-list.

    (a) In every slice file, the bytes that are neither column-chunk
    data nor footer (bloom filters, page indexes, magic) stay far below
    1 MiB for docs, and within the page indexes' few hundred bytes for
    buckets — history, per-batch and compacted slices alike (a bucket
    bloom filter sized for even these 2 000-row slices takes 16 KiB).
    (b) 16 slices of 880 hashes, probed with 10 000 values of which
    only one slice holds any, scan at most two slices' rows; at
    parquet's default 1 % rate every slice would be a false positive."""
    import glob as _glob
    import hashlib

    import pyarrow.parquet as pq

    from ais_data_pipeline_spark.operators.util import in_values_cond
    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming import incremental_dedup as mod

    docs = read_table(spark, sf_dir, "documents")
    index, out = str(tmp_path / "idx"), str(tmp_path / "out")
    k = F.col("doc_id")
    mod.build_dedup_index(docs.filter(k % 4 == 0), index)
    for b in (1, 2, 3):
        mod.dedup_and_append_batch(docs.filter(k % 4 == b), b, index, out, threshold=0.5)

    def non_data_bytes(path: str) -> int:
        md = pq.ParquetFile(path).metadata
        data = sum(
            md.row_group(i).column(j).total_compressed_size
            for i in range(md.num_row_groups)
            for j in range(md.num_columns)
        )
        return os.path.getsize(path) - data - md.serialized_size

    def overhead(root: str, table: str) -> dict[str, int]:
        return {
            f: non_data_bytes(f)
            for f in _glob.glob(f"{root}/{table}/src_batch=*/*.parquet")
        }

    docs_ovh, buckets_ovh = overhead(index, "docs"), overhead(index, "buckets")
    # history + three batch slices of each table
    assert len({os.path.dirname(f) for f in docs_ovh}) == 4, docs_ovh
    assert len({os.path.dirname(f) for f in buckets_ovh}) == 4, buckets_ovh
    assert max(docs_ovh.values()) < 2**17, docs_ovh
    assert max(buckets_ovh.values()) < 2**10, buckets_ovh
    mod.compact_dedup_index(spark, index)
    compacted = overhead(mod._index_root(index), "buckets")
    assert compacted and max(compacted.values()) < 2**10, compacted

    path = str(tmp_path / "probe")
    for s in range(16):
        mod._write_slice(
            spark.range(s * 1000, s * 1000 + 880).select(
                F.col("id").alias("doc"),
                F.md5(F.col("id").cast("string")).alias("text_hash"),
            ),
            path, s, bloom_col="text_hash", approx_rows=880,
        )
    md5 = lambda ids: [hashlib.md5(str(i).encode()).hexdigest() for i in ids]  # noqa: E731
    values = md5(range(3000, 3100)) + md5(range(10**7, 10**7 + 9900))
    probe = (
        spark.read.schema("doc bigint, text_hash string, src_batch bigint")
        .parquet(path)
        .filter(in_values_cond("text_hash", values))
        .select("text_hash")
    )
    assert sorted(r[0] for r in probe.collect()) == sorted(values[:100])
    assert _scan_output_rows(probe) <= 2 * 880


def _jobs_in_group(spark, fn):
    """Run ``fn`` under a job group no earlier call used: (its jobs,
    jobs it left without a group)."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"under-test-{uuid.uuid4().hex}"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return (
        sorted(tracker.getJobIdsForGroup(group)),
        set(tracker.getJobIdsForGroup(None)) - ungrouped,
    )


def test_incremental_dedup_jobs_stay_in_caller_job_group(spark, sf_dir, tmp_path):
    """Every job of one ``dedup_and_append_batch`` call — the three
    overlapped writes on its thread pool included — and of one
    ``build_dedup_index`` call carries the caller's job group."""
    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_dedup_index,
        dedup_and_append_batch,
    )

    docs = read_table(spark, sf_dir, "documents")
    index, out = str(tmp_path / "idx"), str(tmp_path / "out")
    grouped, stray = _jobs_in_group(
        spark, lambda: build_dedup_index(docs.filter(F.col("doc_id") % 3 == 0), index)
    )
    assert stray == set()
    assert len(grouped) >= 3  # the pin and the two overlapped index writes
    grouped, stray = _jobs_in_group(
        spark,
        lambda: dedup_and_append_batch(
            docs.filter(F.col("doc_id") % 3 == 1), 0, index, out, threshold=0.5
        ),
    )
    assert stray == set()
    assert len(grouped) >= 4  # the pin and the three overlapped writes
    assert grouped == list(range(grouped[0], grouped[-1] + 1))


#: jobs of one ``ingest_web_batch`` against a non-empty index, no
#: quality gate: the parse materialize (1), the url key-set collect and
#: the seen-url probe (2), the hash-stage materialize (3: the url
#: stage's first-fetch aggregate and its broadcast are their own jobs),
#: the hash key-set collect and the seen-hash probe (2), and the three
#: overlapped writes (5: the same two jobs for the body stage's
#: keep-min join).
WEB_INGEST_BATCH_MAX_JOBS = 13


def test_web_ingest_jobs_stay_in_caller_job_group(spark, tmp_path):
    """Every job of one ``ingest_web_batch`` call, its url and hash
    index writes on the thread pool included, carries the caller's job
    group. A second batch, probing a non-empty index, stays under the
    job ceiling: it catches the key-set probes growing back their
    distinct() shuffles."""
    from ais_data_pipeline_spark.sources.warc import encode_warc_records
    from ais_data_pipeline_spark.streaming.web_ingest import ingest_web_batch

    def rec(i, uri, text):
        return dict(
            warc_type="conversion", record_id=f"<urn:uuid:{i:04x}>",
            warc_date="2024-01-01T00:00:00Z", target_uri=uri,
            content_type="text/plain", payload=text.encode(),
        )

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "b1.warc.gz").write_bytes(encode_warc_records([
        rec(0, "http://e.com/a", "alpha body one"),
        rec(1, "http://e.com/b", "beta body two"),
        rec(2, "http://e.com/a", "refetch of a"),
        rec(3, "http://e.com/c", "alpha body one"),
    ]))
    (landing / "b2.warc.gz").write_bytes(encode_warc_records([
        rec(0, "http://e.com/b", "new body"),
        rec(1, "http://e.com/d", "beta body two"),
        rec(2, "http://e.com/e", "epsilon fresh"),
    ]))
    index, out = str(tmp_path / "idx"), str(tmp_path / "out")
    for k, name in enumerate(("b1.warc.gz", "b2.warc.gz")):
        batch = (
            spark.read.format("binaryFile")
            .load(str(landing / name))
            .select("path", "content")
        )
        grouped, stray = _jobs_in_group(
            spark, lambda: ingest_web_batch(batch, k, index, out)
        )
        assert stray == set()
        assert len(grouped) >= 3  # the three writes
    assert len(grouped) <= WEB_INGEST_BATCH_MAX_JOBS, grouped


def test_micro_batches_reuse_generated_code(spark, sf_dir, tmp_path):
    """A steady-state micro-batch compiles no new classes: a third
    ``dedup_and_append_batch`` and a third ``ingest_web_batch``, each
    over a batch of the same shape as the second, leave Spark's
    code-generation compile count unchanged. It catches a per-batch
    value (the batch id of the ``src_batch=`` slice) inlined into the
    generated code, which made every batch compile its own classes."""
    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.sources.warc import encode_warc_records
    from ais_data_pipeline_spark.streaming import incremental_dedup as mod
    from ais_data_pipeline_spark.streaming.web_ingest import ingest_web_batch

    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    # each batch is a parquet directory of its own, so the batch frames'
    # plans differ in their path only. Each carries 16 exact copies of
    # history docs: a drop set of at most 10 ids stays a Spark In-list,
    # whose literals are inlined (a benchmark batch drops about 120)
    docs = read_table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 4 == 0)
    mod.build_dedup_index(history, str(tmp_path / "idx"))
    for k in range(3):
        copies = history.orderBy("doc_id").limit(16).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000 * (k + 1)
        )
        docs.filter(F.col("doc_id") % 4 == k + 1).unionByName(copies).write.parquet(
            str(tmp_path / f"docs{k}")
        )
    for k in range(3):
        before = compiled.getCount()
        mod.dedup_and_append_batch(
            spark.read.parquet(str(tmp_path / f"docs{k}")), k,
            str(tmp_path / "idx"), str(tmp_path / "out"), threshold=0.5,
        )
    assert compiled.getCount() == before

    def rec(i, uri, text):
        return dict(
            warc_type="conversion", record_id=f"<urn:uuid:{i:04x}>",
            warc_date="2024-01-01T00:00:00Z", target_uri=uri,
            content_type="text/plain", payload=text.encode(),
        )

    landing = tmp_path / "landing"
    landing.mkdir()
    for k in range(3):
        (landing / f"b{k}.warc.gz").write_bytes(encode_warc_records([
            rec(0, f"http://e.com/{k}a", f"body a of {k}"),
            rec(1, f"http://e.com/{k}a", f"refetch of {k}a"),  # batch url dup
            rec(2, f"http://e.com/{k}b", f"body a of {k}"),    # batch body dup
            rec(3, f"http://e.com/{k - 1}a", f"new body {k}"),  # index url dup
            rec(4, f"http://e.com/{k}c", f"body a of {k - 1}"),  # index body dup
        ]))
    for k in range(3):
        batch = (
            spark.read.format("binaryFile")
            .load(str(landing / f"b{k}.warc.gz"))
            .select("path", "content")
        )
        before = compiled.getCount()
        ingest_web_batch(batch, k, str(tmp_path / "web_idx"), str(tmp_path / "web_out"))
    assert compiled.getCount() == before


def test_curation_jobs_stay_in_caller_job_group(spark, sf_dir, tmp_path):
    """Every job of one ``run_curation`` call, its input measurement on
    the thread pool included, carries the caller's job group."""
    from ais_data_pipeline_spark.plans.curation import run_curation
    from ais_data_pipeline_spark.sources.parquet import read_table

    docs = read_table(spark, sf_dir, "documents")
    grouped, stray = _jobs_in_group(
        spark, lambda: run_curation(spark, docs, str(tmp_path / "kept"))
    )
    assert stray == set() and grouped


def test_ivfpq_build_jobs_stay_in_caller_job_group(spark, sf_dir, tmp_path):
    """Every job of one ``build_ivfpq_index`` call, its three overlapped
    table writes included, carries the caller's job group."""
    from ais_data_pipeline_spark.operators.similarity import build_ivfpq_index
    from ais_data_pipeline_spark.sources.parquet import read_table

    e = read_table(spark, sf_dir, "embeddings")
    grouped, stray = _jobs_in_group(
        spark,
        lambda: build_ivfpq_index(
            e, str(tmp_path / "ivfpq"), n_centroids=8, m=4, k=8, iters=2
        ),
    )
    assert stray == set()
    assert len(grouped) >= 3  # the three overlapped writes


#: jobs of one small-regime ``dedup_and_append_batch`` on the sf0.01
#: fixture: the feature materialize (3), the hash-set collect (1), the
#: drop-set collect with its four broadcast exchanges (5) and the three
#: slice writes (3).
#: Four exchanges, not five: the within-batch and index legs broadcast
#: the same band-row relation, (doc, text_hash, band, bucket) keyed on
#: (band, bucket), with no filter on either side (the buckets scan takes
#: no IN-filter for a join to infer onto one of them), so Spark reuses
#: one band-row broadcast for both.
DEDUP_BATCH_MAX_JOBS = 12


def test_incremental_dedup_small_batch_job_ceiling(spark, sf_dir, tmp_path):
    """A small batch decides its drops with one shuffle-free hash-set
    collect and one drop-set query whose legs share their broadcasts.
    The ceiling catches the drop-set DAG growing back (per-leg
    distinct() shuffles and unshared exchanges, each its own AQE
    job). The executed drop-set plan shows the sharing: four
    broadcast exchanges, the band-row one reused by the index leg."""
    import re as _re

    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming import incremental_dedup as mod

    docs = read_table(spark, sf_dir, "documents")
    index, out = str(tmp_path / "idx"), str(tmp_path / "out")
    batch = docs.filter(F.col("doc_id") % 3 == 1)
    mod.build_dedup_index(docs.filter(F.col("doc_id") % 3 == 0), index)
    grouped, _ = _jobs_in_group(
        spark,
        lambda: mod.dedup_and_append_batch(batch, 0, index, out, threshold=0.5),
    )
    assert len(grouped) <= DEDUP_BATCH_MAX_JOBS, grouped

    _, _, drops, _ = mod._dedup_batch_parts(batch, index, 0.5, exclude_batch=0)
    drops.collect()
    plan = drops._jdf.queryExecution().executedPlan()
    plan = plan.executedPlan().toString()  # AQE's final plan
    fresh = _re.findall(r"\+- BroadcastExchange ", plan)
    assert len(fresh) == 4, plan
    assert _re.search(
        r"ReusedExchange \[doc#\d+L, text_hash#\d+, band#\d+, bucket#\d+L\]", plan
    ), plan


def test_incremental_dedup_partial_failure_replay(spark, sf_dir, tmp_path):
    """Round-10 review: a micro-batch replayed after a crash BETWEEN
    the per-batch index writes must not exact-match its own attempt-1
    slice — with exclude_batch the survivors are identical to the
    first attempt (so the remaining index slices get written); without
    it the whole batch self-matches and vanishes (the bug, pinned here
    so the failure mode stays visible)."""
    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        _features,
        _write_slice,
        build_dedup_index,
        dedup_batch_against_index,
    )

    docs = read_table(spark, sf_dir, "documents").limit(0)
    index = str(tmp_path / "idx")
    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "h", 35),
        (10, "one two three four five six seven", "en", "b", 33),
        (11, "nine ten eleven twelve thirteen fourteen", "en", "b", 40),
    ]
    mk = lambda ids: spark.createDataFrame(  # noqa: E731
        [r for r in rows if r[0] in ids], docs.schema
    )
    build_dedup_index(mk({0}), index)
    batch = mk({10, 11})

    first = {
        r["doc_id"]
        for r in dedup_batch_against_index(
            batch, index, threshold=0.5, exclude_batch=0
        ).collect()
    }
    assert first == {10, 11}

    # simulated crash: ONLY the docs slice of batch 0 was written
    feats = _features(batch, "text", "doc_id", 3)
    _write_slice(
        feats,
        index + "/docs",
        0,
        bloom_col="text_hash",
        approx_rows=2,
    )
    # replay with the exclusion: identical survivors
    replayed = {
        r["doc_id"]
        for r in dedup_batch_against_index(
            batch, index, threshold=0.5, exclude_batch=0
        ).collect()
    }
    assert replayed == first
    # without it, the batch exact-matches its own attempt-1 docs and
    # every survivor silently vanishes — the masked recall-loss bug
    unexcluded = dedup_batch_against_index(batch, index, threshold=0.5).count()
    assert unexcluded == 0


def test_incremental_dedup_edge_hardening(spark, sf_dir, tmp_path):
    """Round-10 review bundle: (a) sub-shingle_n-token docs must not
    crash shingling (sequence(1, 0) is [1, 0], not []); (b) a fresh
    index path with no bootstrap is a well-defined empty index, not a
    PATH_NOT_FOUND poison pill; (c) the hot-bucket guard counts
    exact-SURVIVOR band rows, so a burst of exact copies cannot smuggle
    its kept representative past near-dup verification; (d) two
    different short docs share every band bucket with an empty shingle
    union, which must not divide by zero under ANSI mode (the default
    of a vanilla Spark 4 session)."""
    from pyspark.sql import functions as F

    from ais_data_pipeline_spark.localrel import local_df
    from ais_data_pipeline_spark.operators.dedup import (
        shingle_hashes_from_tokens,
        tokens_lower,
    )
    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_dedup_index,
        dedup_batch_against_index,
    )

    # (a) unit level: short/empty text -> empty shingle array
    sizes = {
        r["doc_id"]: r["n"]
        for r in local_df(
            spark,
            [(1, "hello world"), (2, ""), (3, "a b c d e")],
            "doc_id bigint, text string",
        )
        .select(
            "doc_id",
            F.size(
                shingle_hashes_from_tokens(tokens_lower(F.col("text")), 3)
            ).alias("n"),
        )
        .collect()
    }
    assert sizes == {1: 0, 2: 0, 3: 3}

    docs = read_table(spark, sf_dir, "documents").limit(0)
    mk = lambda rows: spark.createDataFrame(rows, docs.schema)  # noqa: E731

    # (a+b) a batch with a short doc, probed against a NEVER-bootstrapped
    # index path: everything survives, nothing crashes
    fresh = str(tmp_path / "fresh_idx")
    batch = mk([
        (10, "hello world", "en", "b", 11),
        (11, "one two three four five six seven", "en", "b", 33),
    ])
    got = {
        r["doc_id"]
        for r in dedup_batch_against_index(batch, fresh, threshold=0.5).collect()
    }
    assert got == {10, 11}

    # (c) history H; 12 exact copies of a near-dup of H arrive in one
    # batch with max_bucket_size=10 — the copies' own bucket counts
    # must NOT trip the cap (only exact survivors count), so the kept
    # copy is verified against H and dropped
    index = str(tmp_path / "idx_hot")
    hist_text = "alpha beta gamma delta epsilon zeta eta theta"
    near_text = "alpha beta gamma delta epsilon zeta eta iota"  # j ~ 0.6
    build_dedup_index(mk([(0, hist_text, "en", "h", 40)]), index)
    copies = mk([(100 + i, near_text, "en", "b", 40) for i in range(12)])
    survivors = dedup_batch_against_index(
        copies, index, threshold=0.5, max_bucket_size=10
    ).count()
    assert survivors == 0, "exact-copy burst smuggled a near-dup past the cap"

    # (d) ANSI mode: the empty-union Jaccard is NULL, not an error
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        short = mk([(20, "hi there", "en", "b", 8), (21, "short one", "en", "b", 9)])
        got = {
            r["doc_id"]
            for r in dedup_batch_against_index(short, index, threshold=0.5).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert got == {20, 21}


def test_embedding_dedup_null_and_empty_hardening(spark, tmp_path):
    """Round-10 review bundle, semantic half: an EMPTY bootstrap is
    legal (empty vecs table, not a crash); a NULL embedding in the
    stream is not a poison pill — it passes through to the kept table
    and stays out of the index."""
    from pyspark.sql import functions as F

    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_embedding_dedup_index,
        run_incremental_embedding_dedup,
    )

    dim = 8

    def vec(axis, scale):
        v = [0.0] * dim
        v[axis] = float(scale)
        return v

    schema = "vec_id bigint, embedding array<double>"
    base = str(tmp_path)
    index, out, landing = base + "/idx", base + "/kept", base + "/land"

    # empty bootstrap: no crash, readable empty index
    build_embedding_dedup_index(
        spark.createDataFrame([], schema), index
    )
    assert spark.read.schema(
        "vec_id bigint, v array<double>, bucket bigint, src_batch bigint"
    ).parquet(index + "/vecs").count() == 0

    # batch: NULL embedding + a vector + its scaled copy
    spark.createDataFrame(
        [(1, None), (2, vec(0, 1.0)), (3, vec(0, 2.0))], schema
    ).write.mode("append").parquet(landing)
    stream = spark.readStream.schema(schema).parquet(landing)
    run_incremental_embedding_dedup(stream, index, out, base + "/ck")

    kept = sorted(r["vec_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 2]  # NULL passes through; 3 drops as a copy of 2
    indexed = sorted(
        r["vec_id"] for r in spark.read.parquet(index + "/vecs").collect()
    )
    assert indexed == [2]  # the NULL row is never indexed


def test_write_slice_size_contract_is_structural(spark, tmp_path, monkeypatch):
    """Round-10 verdict item 4: the single-file funnel must be a
    MEASURED default, not caller discipline — a history-sized slice
    written with the default args keeps its partitioning (parallel
    writer tasks, no repartition(1) one-task shuffle, the shape the
    round-9 audit caught), and a micro-batch-sized slice still
    collapses to one tidy file. No argument forces the funnel."""
    from pyspark.sql import functions as F

    from ais_data_pipeline_spark.operators import util
    from ais_data_pipeline_spark.streaming import incremental_dedup as mod

    monkeypatch.setattr(util, "SINGLE_FILE_MAX_ROWS", 1000)
    big = spark.range(5000).repartition(8).select(
        F.col("id").alias("doc"), F.md5(F.col("id").cast("string")).alias("h")
    )

    def n_files(path: str) -> int:
        import glob as g

        return len(g.glob(f"{path}/src_batch=*/part-*.parquet"))

    # default args, above the bound: parallel writers, no funnel
    p1 = str(tmp_path / "big_default")
    mod._write_slice(big, p1, 0)
    assert n_files(p1) > 1, "large slice funneled into one writer task"

    # default args, under the bound: one tidy file per batch
    p2 = str(tmp_path / "small_default")
    mod._write_slice(big.limit(10), p2, 0)
    assert n_files(p2) == 1

    # approx_rows short-circuits the count and drives the decision
    p3 = str(tmp_path / "big_hinted")
    mod._write_slice(big, p3, 0, approx_rows=5000)
    assert n_files(p3) > 1

    # keep_partitioning never counts and never funnels
    p5 = str(tmp_path / "big_false")
    mod._write_slice(big, p5, 0, keep_partitioning=True)
    assert n_files(p5) > 1


def test_incremental_dedup_probe_is_broadcast(spark, sf_dir, tmp_path):
    """The index probe must broadcast the BATCH side: no SortMergeJoin
    (i.e. no shuffle of the index tables) anywhere in the decision
    plan — the property that makes per-batch dedup O(batch), not
    O(corpus), at 100 TB."""
    import io as _io
    import re as _re
    from contextlib import redirect_stdout

    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_dedup_index,
        dedup_batch_against_index,
    )

    docs = read_table(spark, sf_dir, "documents")
    index = str(tmp_path / "idx")
    build_dedup_index(docs.filter(F.col("doc_id") % 3 == 0), index)
    batch = docs.filter(F.col("doc_id") % 3 == 1).limit(50)
    survivors = dedup_batch_against_index(batch, index, threshold=0.5)
    buf = _io.StringIO()
    with redirect_stdout(buf):
        survivors.explain("formatted")
    plan = buf.getvalue()
    node = lambda n: len(_re.findall(rf"\(\d+\) {n}\b", plan))  # noqa: E731
    assert node("SortMergeJoin") == 0, plan
    assert node("BroadcastHashJoin") >= 3, plan
    # the batch's hash set reaches the docs scan as a pushed IN-filter
    # (bloom row-group skipping), not a post-scan filter; the buckets
    # scan streams past the broadcast band rows with no IN-filter
    pushed = _re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("In(text_hash" in p for p in pushed), plan
    assert not any("In(bucket" in p for p in pushed), plan


def test_incremental_dedup_hot_bucket_cap(spark, sf_dir, tmp_path):
    """max_bucket_size guards the quadratic blowup: a boilerplate
    burst whose band buckets exceed the cap is pruned from candidate
    generation — within the batch AND, counting the index's buckets
    table at probe time, on later probes against the index.
    Capped docs survive (recall inside a degenerate cluster is
    sacrificed, by design); unique docs are unaffected."""
    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_dedup_index,
        dedup_batch_against_index,
        run_incremental_dedup,
    )

    docs = read_table(spark, sf_dir, "documents").limit(0)
    base = str(tmp_path)
    index, out, landing = base + "/idx", base + "/kept", base + "/land"
    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    rows = [(0, "completely unrelated historical document text here", "en", "h", 48)]
    rows += [(100 + i, f"{boiler} tail{i}", "en", "b", 70) for i in range(25)]
    rows += [(200 + i, f"unique document number {i} about topic {i * 7}", "en", "b", 40) for i in range(5)]
    mk = lambda ids: spark.createDataFrame(  # noqa: E731
        [r for r in rows if r[0] in ids], docs.schema
    )
    build_dedup_index(mk({0}), index)
    batch = mk(set(range(100, 125)) | set(range(200, 205)))

    # uncapped: the boilerplate cluster collapses to its min id
    survivors = {
        r["doc_id"] for r in dedup_batch_against_index(batch, index).collect()
    }
    assert 100 in survivors and len(survivors & set(range(100, 125))) == 1
    assert set(range(200, 205)) <= survivors

    # capped at 10: the >10-member buckets prune. Tail-perturbed docs
    # still pair through smaller split buckets (the cap only removes
    # degenerate buckets, not legitimate small ones), so recall drops
    # but doesn't vanish — strictly more of the burst survives than
    # uncapped, and unique docs are untouched.
    capped = {
        r["doc_id"]
        for r in dedup_batch_against_index(batch, index, max_bucket_size=10).collect()
    }
    burst = set(range(100, 125))
    assert len(capped & burst) > len(survivors & burst)
    assert set(range(200, 205)) <= capped

    # index-side guard: an index whose HISTORY is the boilerplate
    # cluster holds 25 > 10 rows in each shared bucket; a later
    # boilerplate doc then drops without the
    # cap (it IS a near-dup of stored docs) but survives with it —
    # every bucket it shares with the cluster is pruned, and its
    # tail-perturbed buckets match nothing.
    # (identical-text cluster: every band bucket holds all 25 docs, so
    # ALL its buckets are hot — tail-perturbed clusters split into
    # sub-cap buckets that legitimately still pair, as asserted above)
    index2 = base + "/idx2"
    ident = spark.createDataFrame(
        [(400 + i, boiler, "en", "h", 61) for i in range(25)], docs.schema
    )
    build_dedup_index(ident, index2)
    sizes = spark.read.parquet(index2 + "/buckets").groupBy("band", "bucket").count()
    assert sizes.filter(F.col("count") > 10).count() > 0
    late = spark.createDataFrame(
        [(300, f"{boiler} extra", "en", "b", 67)], docs.schema
    )
    no_cap = {r["doc_id"] for r in dedup_batch_against_index(late, index2).collect()}
    with_cap = {
        r["doc_id"]
        for r in dedup_batch_against_index(late, index2, max_bucket_size=10).collect()
    }
    assert no_cap == set() and with_cap == {300}

    # streamed end-to-end with the cap still drains green + idempotent
    batch.write.mode("append").parquet(landing)
    stream = spark.readStream.schema(docs.schema).parquet(landing)
    run_incremental_dedup(stream, index, out, base + "/ck", max_bucket_size=10)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == capped


def test_incremental_dedup_cap_counts_bucket_filled_one_per_batch(
    spark, sf_dir, tmp_path
):
    """The index side of ``max_bucket_size`` counts the buckets table
    itself, so a bucket whose members arrive one per micro-batch turns
    hot once it holds more than the cap rows, however many slices they
    are spread over. Docs too short to shingle share every band bucket
    (their minhash signature is NULL) and never verify as near
    duplicates, so each one survives into a slice of its own."""
    from ais_data_pipeline_spark.localrel import local_df
    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming import incremental_dedup as mod

    schema = read_table(spark, sf_dir, "documents").schema
    rows = lambda *docs: local_df(  # noqa: E731
        spark, [(i, t, "en", "b", len(t)) for i, t in docs], schema
    )
    index, out = str(tmp_path / "idx"), str(tmp_path / "out")
    cap = 3
    mod.build_dedup_index(rows((0, "an unrelated history document of several words")), index)
    for k in range(cap + 1):
        batch = rows((100 + k, f"short {k}"))
        assert mod.dedup_and_append_batch(
            batch, k, index, out, max_bucket_size=cap
        ) == (1, 1)
    probe = rows((200, "short probe"), (201, "a longer document with real shingles"))

    def band_docs(cap):
        _, bands_b, *_ = mod._dedup_batch_parts(probe, index, max_bucket_size=cap)
        return sorted({r["doc"] for r in bands_b.collect()})

    assert band_docs(None) == [200, 201]
    assert band_docs(cap + 1) == [200, 201]  # cap + 1 rows: not over it
    assert band_docs(cap) == [201]


def test_incremental_dedup_index_with_retired_stats_table(spark, sf_dir, tmp_path):
    """An index written while the hot-bucket counts were still kept
    holds a ``bucket_stats`` (band, bucket, n) table beside docs and
    buckets, under the same layout marker. It probes and appends
    without a rebuild, deciding exactly as an index without that
    table; compaction leaves the table out of the new generation and
    collects it with the old one, and a rebuild removes it."""
    from ais_data_pipeline_spark import fsutil
    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming import incremental_dedup as mod

    docs = read_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    hist, batch = docs.filter(k % 3 == 0), docs.filter(k % 3 == 1)
    probe = docs.filter(k % 7 == 2).limit(40)

    def with_stats(index):
        stats = (
            spark.read.parquet(index + "/buckets")
            .groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= 2)
        )
        mod._write_slice(stats, index + "/bucket_stats", mod.HISTORY_BATCH)

    old, new = str(tmp_path / "old"), str(tmp_path / "new")
    for index in (old, new):
        mod.build_dedup_index(hist, index)
    with_stats(old)

    def kept(index, cap):
        survivors = mod.dedup_batch_against_index(probe, index, max_bucket_size=cap)
        return sorted(r["doc_id"] for r in survivors.collect())

    for cap in (None, 3):
        assert kept(old, cap) == kept(new, cap), cap
    assert mod.dedup_and_append_batch(
        batch, 0, old, str(tmp_path / "out-old"), max_bucket_size=3
    ) == mod.dedup_and_append_batch(
        batch, 0, new, str(tmp_path / "out-new"), max_bucket_size=3
    )

    assert sorted(mod.compact_dedup_index(spark, old)) == ["buckets", "docs"]
    root = fsutil.current_root(old)
    assert root != old and not os.path.exists(root + "/bucket_stats")
    assert os.path.isdir(old + "/bucket_stats")  # the old generation, kept one cycle
    for cap in (None, 3):
        assert kept(old, cap) == kept(new, cap), cap
    mod.compact_dedup_index(spark, old)
    assert not os.path.exists(old + "/bucket_stats")

    with_stats(new)
    mod.build_dedup_index(hist, new)
    assert not os.path.exists(new + "/bucket_stats")


def test_incremental_dedup_index_compaction(spark, sf_dir, tmp_path):
    """Compaction folds per-batch slices into one history partition:
    row counts preserved, slice dirs
    reduced to src_batch=-1 only, and a post-compaction probe decides
    exactly as before."""
    import glob as _glob

    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_dedup_index,
        compact_dedup_index,
        dedup_batch_against_index,
        run_incremental_dedup,
    )

    docs = read_table(spark, sf_dir, "documents")
    base = str(tmp_path)
    index, out, landing = base + "/idx", base + "/kept", base + "/land"
    k = F.col("doc_id")
    build_dedup_index(docs.filter(k % 3 == 0), index)

    def drain() -> None:
        stream = spark.readStream.schema(docs.schema).parquet(landing)
        run_incremental_dedup(stream, index, out, base + "/ck")

    docs.filter(k % 3 == 1).write.mode("append").parquet(landing)
    drain()
    docs.filter(k % 3 == 2).write.mode("append").parquet(landing)
    drain()

    probe_batch = docs.filter(k % 7 == 3).limit(40)
    before = {r["doc_id"] for r in dedup_batch_against_index(probe_batch, index).collect()}
    pre_docs = spark.read.parquet(index + "/docs").count()
    assert len(_glob.glob(index + "/docs/src_batch=*")) == 3  # history + 2 batches

    counts = compact_dedup_index(spark, index)
    assert counts["docs"] == pre_docs
    # r14: compaction commits by generation pointer — the consolidated
    # tables live under the published _gNNNNN root and no data
    # directory was ever renamed. r15 (deferred GC): the superseded
    # flat legacy dirs survive ONE maintenance cycle (racing probes
    # finish their scan) and are collected on the next entry.
    from ais_data_pipeline_spark import fsutil as _fsutil

    assert _fsutil.current_generation(index) == 1
    root = _fsutil.current_root(index)
    assert root != index
    assert _glob.glob(root + "/docs/src_batch=*") == [root + "/docs/src_batch=-1"]
    assert _glob.glob(index + "/docs/src_batch=*") != []  # kept one cycle
    assert spark.read.parquet(root + "/docs").count() == pre_docs

    after = {r["doc_id"] for r in dedup_batch_against_index(probe_batch, index).collect()}
    assert after == before

    # next maintenance entry collects the deferred legacy data and
    # probes stay identical through it
    compact_dedup_index(spark, index)
    assert _glob.glob(index + "/docs/src_batch=*") == []  # now collected
    after2 = {r["doc_id"] for r in dedup_batch_against_index(probe_batch, index).collect()}
    assert after2 == before


def test_generation_commit_crash_windows_and_zero_renames(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The r14 pointer-commit protocol, crash window by crash window:
    (a) a crash BEFORE publish leaves the live generation untouched
    and probes identical, with the partial stage as hidden garbage;
    (b) the next compaction entry GC's that garbage and commits
    normally; (c) stale generations from a crash AFTER publish are
    GC'd on the next entry; (d) the whole compaction path runs with
    ZERO Python-side renames on the index directories (``os.rename``
    patched to raise — the commit point is the pointer write, which
    goes through ``os.replace`` on a temp FILE, never a data dir);
    (e) a full index REBUILD over a migrated index resets the pointer
    so readers resolve the fresh flat layout."""
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F

    from ais_data_pipeline_spark import fsutil
    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_dedup_index,
        compact_dedup_index,
        dedup_and_append_batch,
        dedup_batch_against_index,
    )

    docs = read_table(spark, sf_dir, "documents")
    base = str(tmp_path)
    index, out = base + "/idx", base + "/kept"
    k = F.col("doc_id")
    build_dedup_index(docs.filter(k % 3 == 0), index)
    dedup_and_append_batch(docs.filter(k % 3 == 1).localCheckpoint(eager=True),
                           0, index, out)
    probe_batch = docs.filter(k % 7 == 3).limit(40)
    before = {
        r["doc_id"] for r in dedup_batch_against_index(probe_batch, index).collect()
    }

    # (a) crash between staging and publish: pointer untouched, live
    # generation intact, stage left behind as hidden garbage
    def boom(index_path, gen, io=None):
        raise RuntimeError("simulated crash before pointer publish")

    monkeypatch.setattr(fsutil, "publish_generation", boom)
    try:
        compact_dedup_index(spark, index)
    except RuntimeError:
        pass
    monkeypatch.undo()
    assert fsutil.current_generation(index) == 0
    assert _glob.glob(index + "/_g00001/docs/src_batch=*")  # stage exists
    mid = {
        r["doc_id"] for r in dedup_batch_against_index(probe_batch, index).collect()
    }
    assert mid == before

    # (b)+(d) re-entry GC's the stale stage and commits — with
    # os.rename forbidden for the whole maintenance call
    def no_rename(*a, **kw):
        raise AssertionError("os.rename on the compaction path")

    monkeypatch.setattr(_os, "rename", no_rename)
    counts = compact_dedup_index(spark, index)
    monkeypatch.undo()
    assert counts["docs"] > 0
    assert fsutil.current_generation(index) == 1
    after = {
        r["doc_id"] for r in dedup_batch_against_index(probe_batch, index).collect()
    }
    assert after == before

    # (c) a stale generation dir (crash after a later publish) is
    # swept by the next entry, which itself commits gen 2. r15
    # deferred GC: the JUST-superseded gen 1 is kept one cycle for
    # racing probes and collected by the entry after that.
    stale = index + "/_g00007/docs"
    _os.makedirs(stale)
    with open(stale + "/junk.parquet", "w") as f:
        f.write("x")
    compact_dedup_index(spark, index)
    assert fsutil.current_generation(index) == 2
    assert not _os.path.exists(index + "/_g00007")
    assert _os.path.exists(index + "/_g00001")  # kept one cycle
    assert {
        r["doc_id"] for r in dedup_batch_against_index(probe_batch, index).collect()
    } == before
    compact_dedup_index(spark, index)  # next entry collects gen 1
    assert fsutil.current_generation(index) == 3
    assert not _os.path.exists(index + "/_g00001")
    assert {
        r["doc_id"] for r in dedup_batch_against_index(probe_batch, index).collect()
    } == before

    # (e) rebuild resets the pointer: readers resolve the flat layout
    build_dedup_index(docs.filter(k % 3 == 0), index)
    assert fsutil.current_generation(index) == 0
    assert not _glob.glob(index + "/_g*")
    assert spark.read.parquet(index + "/docs").count() > 0


def test_generation_protocol_fake_remote_io():
    """The pointer/GC/census layer against a FAKE object store (an
    in-memory key→content dict behind ``fsutil.FsIO``): generation
    resolution, atomic publish, stale-stage + superseded-generation +
    legacy GC (named and auto modes), rebuild reset, and the accretion
    census resolving the live generation — all on ``s3a://``-style
    URIs with zero local-filesystem calls. This is the seam the real
    Hadoop-gateway ``FsIO`` plugs into."""
    from ais_data_pipeline_spark import fsutil

    store: dict[str, str] = {}
    sizes: dict[str, int] = {}

    def lister(root):
        prefix = root.rstrip("/") + "/"
        for p in sorted(store):
            if p.startswith(prefix):
                yield p[len(prefix):], sizes.get(p, len(store[p]))

    def read_text(path):
        return store.get(path)

    def write_text(path, content):
        store[path] = content

    def remove(path):
        for p in list(store):
            if p == path or p.startswith(path.rstrip("/") + "/"):
                del store[p]

    io = fsutil.FsIO(lister, read_text, write_text, remove)
    idx = "s3a://bucket/corpus/dedup_index"

    def put(rel, size=100):
        store[f"{idx}/{rel}"] = ""
        sizes[f"{idx}/{rel}"] = size

    # flat gen-0 layout with history + accreted slices
    put("docs/src_batch=-1/part-0.parquet", 1000)
    put("docs/src_batch=0/part-0.parquet", 60)
    put("buckets/src_batch=-1/part-0.parquet", 5000)
    put("buckets/src_batch=0/part-0.parquet", 300)
    assert fsutil.current_generation(idx, io) == 0
    m = fsutil.slice_accretion(idx, io)
    assert m["history_bytes"] == 6000 and m["slice_bytes"] == 360

    # staged gen 1 + publish: census follows the pointer
    put("_g00001/docs/src_batch=-1/part-0.parquet", 1060)
    put("_g00001/buckets/src_batch=-1/part-0.parquet", 5300)
    fsutil.publish_generation(idx, 1, io)
    assert fsutil.current_generation(idx, io) == 1
    assert fsutil.current_root(idx, io).endswith("/_g00001")
    m = fsutil.slice_accretion(idx, io)
    assert m["history_bytes"] == 6360 and m["slice_bytes"] == 0

    # GC: legacy flat dirs (named mode) + a stale stage vanish, the
    # published generation survives
    put("_g00002/docs/src_batch=-1/part-0.parquet", 1)  # crashed stage
    removed = fsutil.gc_generations(
        idx, 1, legacy_names=["docs", "buckets"], io=io
    )
    assert any(p.endswith("_g00002") for p in removed)
    assert not any("/_g00002/" in p for p in store)
    assert not any("/docs/" in p and "_g00001" not in p for p in store)
    assert any("/_g00001/" in p for p in store)

    # auto legacy mode (the IVF flat layout: list_id dirs + root files)
    ivf = "s3a://bucket/corpus/ivf_index"
    store[f"{ivf}/list_id=0/src_batch=-1/p.parquet"] = ""
    store[f"{ivf}/_ais_build_id"] = "tok"
    store[f"{ivf}/_g00001/list_id=0/src_batch=-1/p.parquet"] = ""
    store[f"{ivf}/_g00001/_ais_build_id"] = "tok"
    fsutil.publish_generation(ivf, 1, io)
    fsutil.gc_generations(ivf, 1, io=io, legacy_auto=True)
    assert f"{ivf}/list_id=0/src_batch=-1/p.parquet" not in store
    assert f"{ivf}/_ais_build_id" not in store
    assert f"{ivf}/_g00001/_ais_build_id" in store
    assert fsutil.current_generation(ivf, io) == 1

    # rebuild reset: pointer and generations dropped
    fsutil.reset_generations(ivf, io)
    assert fsutil.current_generation(ivf, io) == 0
    assert not any("/_g00001/" in p for p in store if p.startswith(ivf))


def test_compaction_threshold_policy(spark, sf_dir, tmp_path):
    """Round-12 verdict item 5: the fixed every-K-batches compaction
    cadence becomes a threshold policy — geometric bytes trigger
    (accreted slices >= ratio * history, LSM-style, so rewrite cost
    per ingested byte is bounded while trigger points stretch) plus an
    absolute slice-file-count guard. Pins the trigger math, the reset
    after compaction, and the post-compaction replay convergence the
    ``run_incremental_dedup`` docstring claims."""
    from pyspark.sql import functions as F

    from ais_data_pipeline_spark.fsutil import should_compact, slice_accretion
    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_dedup_index,
        dedup_and_append_batch,
        maybe_compact_dedup_index,
    )

    docs = read_table(spark, sf_dir, "documents")
    base = str(tmp_path)
    index, out = base + "/idx", base + "/kept"
    k = F.col("doc_id")
    build_dedup_index(docs.filter(k % 4 == 0), index)

    m0 = slice_accretion(index)
    assert m0["history_bytes"] > 0 and m0["slice_bytes"] == 0
    assert m0["slice_files"] == 0
    # empty accretion: neither trigger may fire, even with a 0 floor
    d0 = should_compact(index, min_slice_bytes=0)
    assert d0["compact"] is False and d0["trigger"] is None
    # round-12 hardening: an EMPTY/missing index with zero knobs must
    # not trigger on 0 >= 0 (compact would read nonexistent tables)
    dempty = should_compact(
        base + "/nonexistent", slice_ratio=0.0, min_slice_bytes=0,
        max_slice_files=0,
    )
    assert dempty["compact"] is False

    b1 = docs.filter(k % 4 == 1).localCheckpoint(eager=True)
    dedup_and_append_batch(b1, 0, index, out)
    m1 = slice_accretion(index)
    assert m1["slice_bytes"] > 0 and m1["slice_files"] > 0
    assert m1["history_bytes"] == m0["history_bytes"]  # history untouched

    # trigger math, all three knobs:
    # (a) bytes trigger respects the min_slice_bytes floor
    assert should_compact(
        index, slice_ratio=0.0, min_slice_bytes=m1["slice_bytes"] + 1
    )["compact"] is False
    # (b) bytes trigger is the geometric ratio once past the floor
    hi = (m1["slice_bytes"] + 1) / m1["history_bytes"]
    assert should_compact(
        index, slice_ratio=hi, min_slice_bytes=0
    )["compact"] is False
    lo = should_compact(
        index, slice_ratio=m1["slice_bytes"] / m1["history_bytes"] / 2,
        min_slice_bytes=0,
    )
    assert lo["compact"] is True and lo["trigger"] == "bytes"
    # (c) file-count guard fires alone, even when bytes never would
    df = should_compact(
        index, slice_ratio=1e9, min_slice_bytes=1 << 60,
        max_slice_files=m1["slice_files"],
    )
    assert df["compact"] is True and df["trigger"] == "files"

    # maybe_: a quiet policy is a no-op, a firing one compacts and the
    # accretion counters reset to zero
    assert maybe_compact_dedup_index(index_path=index, spark=spark,
                                     slice_ratio=hi, min_slice_bytes=0) is None
    docs_pre_compact = spark.read.parquet(index + "/docs").count()
    res = maybe_compact_dedup_index(index_path=index, spark=spark,
                                    slice_ratio=0.01, min_slice_bytes=0)
    assert res is not None and res["trigger"] == "bytes"
    assert res["compact_sec"] >= 0
    # every slice row folded into history, none lost (bytes typically
    # SHRINK: one well-encoded file replaces many small ones)
    assert res["row_counts"]["docs"] == docs_pre_compact
    m2 = slice_accretion(index)
    assert m2["slice_bytes"] == 0 and m2["slice_files"] == 0
    assert m2["history_bytes"] > 0

    # replay-after-compaction convergence: batch 0's features now live
    # in history; replaying batch 0 self-matches everything, rewrites
    # nothing, and leaves survivors + index state unchanged
    from ais_data_pipeline_spark import fsutil as _fsutil

    root = _fsutil.current_root(index)  # post-compaction generation
    kept_before = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    docs_before = spark.read.parquet(root + "/docs").count()
    n_in, n_kept = dedup_and_append_batch(b1, 0, index, out)
    assert n_kept == 0  # every doc is its own history duplicate
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == kept_before
    assert spark.read.parquet(root + "/docs").count() == docs_before


def test_incremental_embedding_dedup_semantics_and_replay(spark, tmp_path):
    """Semantic incremental dedup: scaled copies (cosine 1.0, same LSH
    bucket by construction) drop against history, prior survivors, and
    batch predecessors; orthogonal vectors survive; a replayed batch
    leaves the kept table unchanged."""
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_embedding_dedup_index,
        run_incremental_embedding_dedup,
    )

    dim = 16

    def vec(axis, scale):
        v = [0.0] * dim
        v[axis] = float(scale)
        return v

    schema = "vec_id bigint, embedding array<double>"
    hist = spark.createDataFrame([(0, vec(0, 1.0))], schema)
    base = str(tmp_path)
    index, out, landing = base + "/idx", base + "/kept", base + "/land"
    build_embedding_dedup_index(hist, index)

    def drain(ckpt):
        stream = spark.readStream.schema(hist.schema).parquet(landing)
        run_incremental_embedding_dedup(stream, index, out, ckpt)

    # batch 1: 10 = scaled copy of history (drops), 11 = new axis
    # (kept), 12 = scaled copy of 11 (predecessor rule drops it)
    spark.createDataFrame(
        [(10, vec(0, 2.0)), (11, vec(1, 1.0)), (12, vec(1, 3.0))], schema
    ).write.mode("append").parquet(landing)
    drain(base + "/ck1")
    assert sorted(r["vec_id"] for r in spark.read.parquet(out).collect()) == [11]

    # replay with a fresh checkpoint: identical end state
    drain(base + "/ck1b")
    assert sorted(r["vec_id"] for r in spark.read.parquet(out).collect()) == [11]

    # batch 2: 20 = copy of batch-1 SURVIVOR 11 (drops via the index
    # append), 21 = third axis (kept)
    spark.createDataFrame(
        [(20, vec(1, 0.5)), (21, vec(2, 1.0))], schema
    ).write.mode("append").parquet(landing)
    drain(base + "/ck1b")
    assert sorted(r["vec_id"] for r in spark.read.parquet(out).collect()) == [11, 21]


def test_incremental_embedding_dedup_regimes_equivalent(spark, tmp_path, monkeypatch):
    """The embedding probe restricts the vecs scan to the batch's
    buckets through ``util.KeySet``: literal IN values while the bound
    (the batch's rows, and at most 2**n_planes bucket ids) is at most
    ``util.PUSHDOWN_LIMIT``, else a semi-join to a pinned distinct set.
    Forcing the large regime (PUSHDOWN_LIMIT=-1) on the same batches,
    with NULL embeddings, duplicate and NULL ids and an empty batch,
    keeps the same survivors and writes the same index."""
    from ais_data_pipeline_spark.operators import util
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_embedding_dedup_index,
        run_incremental_embedding_dedup,
    )

    dim = 16

    def vec(axis, scale):
        v = [0.0] * dim
        v[axis] = float(scale)
        return v

    schema = "vec_id bigint, embedding array<double>"
    batches = [
        # 10 copies history, 12 copies its predecessor 11, 13 is NULL
        [(10, vec(0, 2.0)), (11, vec(1, 1.0)), (12, vec(1, 3.0)), (13, None)],
        # 20 copies survivor 11; id 21 twice; 22 copies one of the 21s
        [
            (20, vec(1, 0.5)), (21, vec(2, 1.0)), (21, vec(3, 1.0)),
            (22, vec(3, 4.0)), (None, vec(4, 1.0)),
        ],
        [],
        # 41 copies an indexed 21
        [(40, None), (41, vec(2, 7.0))],
    ]
    results = {}
    for tag, lim in (("small", 10_000), ("large", -1)):
        monkeypatch.setattr(util, "PUSHDOWN_LIMIT", lim)
        base = str(tmp_path / tag)
        index, out, landing = base + "/idx", base + "/kept", base + "/land"
        build_embedding_dedup_index(
            spark.createDataFrame([(0, vec(0, 1.0)), (1, None)], schema), index
        )
        for rows in batches:
            spark.createDataFrame(rows, schema).write.mode("append").parquet(landing)
            stream = spark.readStream.schema(schema).parquet(landing)
            run_incremental_embedding_dedup(stream, index, out, base + "/ck")
        results[tag] = [_sorted_rows(spark.read.parquet(p)) for p in (out, index + "/vecs")]
    assert results["small"] == results["large"]
    kept = [r["vec_id"] for r in spark.read.parquet(out).collect()]
    assert sorted(kept, key=repr) == sorted([11, 13, 21, 21, None, 40], key=repr)


def test_incremental_embedding_probe_through_uri_writes_no_local_dir(
    spark, tmp_path, monkeypatch
):
    """An index addressed by URI (``file://``, ``s3a://``) is probed
    without creating anything under the working directory: a plain
    ``os.makedirs`` on the URI made a stray relative ``file:``
    directory there."""
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_embedding_dedup_index,
        dedup_embedding_batch_against_index,
    )

    schema = "vec_id bigint, embedding array<double>"
    index = "file://" + str(tmp_path / "idx")
    build_embedding_dedup_index(
        spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0])], schema), index
    )
    monkeypatch.chdir(tmp_path)
    batch = spark.createDataFrame(
        [(10, [2.0, 0.0, 0.0, 0.0]), (11, [0.0, 1.0, 0.0, 0.0])], schema
    )
    kept = dedup_embedding_batch_against_index(batch, index)
    assert [r["vec_id"] for r in kept.collect()] == [11]
    assert not (tmp_path / "file:").exists()


def test_curation_plan_matches_registry_query(spark, sf_dir, tmp_path):
    """plans.run_curation (the bounded-memory broadcast-drop-set
    shape, LSH near-dup path) must reproduce the oracle-verified
    curation_pipeline_stats stage counts exactly, attribute every
    dropped row, and write the kept corpus full-width."""
    from ais_data_pipeline_spark.plans.curation import run_curation
    from ais_data_pipeline_spark.queries import registry as _registry
    from ais_data_pipeline_spark.sources.parquet import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = str(tmp_path / "kept")
    res = run_curation(spark, docs, out)

    q = {x.name: x for x in _registry()}["curation_pipeline_stats"]
    expected = {r["stage"]: r["n_docs"] for r in q.fn(spark, sf_dir).collect()}
    assert res.stage_counts == expected, (res.stage_counts, expected)

    kept = spark.read.parquet(out)
    assert kept.count() == res.n_kept
    assert set(kept.columns) == set(docs.columns)


def test_local_df_arrow_relation_contract(spark):
    """localrel.local_df must (a) round-trip doubles and nested
    double arrays bit-for-bit, (b) carry nulls, (c) accept empty row
    lists, (d) accept both DDL strings and StructTypes, and (e) land
    as a plan with NO Python eval nodes — the whole point vs the
    pickled-RDD path."""
    import io
    import math
    from contextlib import redirect_stdout

    from pyspark.sql import types as T

    from ais_data_pipeline_spark.localrel import local_df

    vals = [0.1, -0.0, 1e-300, math.pi, float(2**60)]
    rows = [(1, vals, "a"), (2, None, None)]
    df = local_df(spark, rows, "id bigint, v array<double>, s string")
    back = sorted(df.collect(), key=lambda r: r["id"])
    assert [repr(x) for x in back[0]["v"]] == [repr(x) for x in vals]
    assert back[1]["v"] is None and back[1]["s"] is None

    empty = local_df(spark, [], "a int, b double")
    assert empty.count() == 0 and empty.schema.simpleString() == "struct<a:int,b:double>"

    st = T.StructType([T.StructField("x", T.IntegerType()), T.StructField("y", T.BooleanType())])
    assert local_df(spark, [(5, True)], st).collect()[0].asDict() == {"x": 5, "y": True}

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.groupBy("id").count().explain("formatted")
    plan = buf.getvalue()
    for node in ("BatchEvalPython", "ArrowEvalPython", "Scan ExistingRDD"):
        assert node not in plan, node


def test_reliable_checkpoint_switch(spark, sf_dir, tmp_path):
    """set_reliable_checkpoints must flip every materialize() call site
    to cluster-safe .checkpoint(eager=True): PageRank (an iterative
    operator whose rounds truncate lineage) must write its checkpoint
    files under the registered dir and return the SAME ranks as the
    default local path."""
    import glob as _glob

    from ais_data_pipeline_spark import checkpointing as ckpt
    from ais_data_pipeline_spark.operators.graph import pagerank
    from ais_data_pipeline_spark.sources.parquet import read_table

    li = read_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    ).limit(2000)

    local_rows = sorted(
        pagerank(edges, iters=2).collect(), key=lambda r: r[0]
    )

    ckpt_dir = str(tmp_path / "reliable_ckpt")
    try:
        ckpt.set_reliable_checkpoints(spark, ckpt_dir)
        assert ckpt.reliable_checkpoints_enabled()
        reliable_rows = sorted(
            pagerank(edges, iters=2).collect(), key=lambda r: r[0]
        )
    finally:
        ckpt.set_local_checkpoints()
    assert not ckpt.reliable_checkpoints_enabled()

    assert [tuple(r) for r in local_rows] == [tuple(r) for r in reliable_rows]
    # the reliable path actually wrote RDD checkpoint files to the dir
    assert _glob.glob(ckpt_dir + "/*/rdd-*"), "no checkpoint files written"

    # round-7 verdict item 7: the same proof on a MULTI-round iterative
    # operator at sf0.1 — star-contraction CC over the full sf0.1
    # lineitem supplier-part graph (several contraction rounds, each
    # truncating lineage through materialize()). The reliable path must
    # hash-match the local path exactly and leave checkpoint files.
    sf01 = "/root/testdata/sf0.1"
    if os.path.isdir(sf01):
        from ais_data_pipeline_spark.operators.graph import (
            star_connected_components,
        )

        li1 = read_table(spark, sf01, "lineitem")
        pairs = li1.select(
            F.col("l_suppkey").alias("doc_a"), F.col("l_partkey").alias("doc_b")
        )

        def labels_hash():
            return (
                star_connected_components(pairs)
                .select(
                    F.sum(F.hash("id", "cluster_id").cast("long")).alias("h"),
                    F.count("*").alias("n"),
                )
                .first()
            )

        local_sig = labels_hash()
        ckpt_dir2 = str(tmp_path / "reliable_ckpt_sf01")
        try:
            ckpt.set_reliable_checkpoints(spark, ckpt_dir2)
            reliable_sig = labels_hash()
        finally:
            ckpt.set_local_checkpoints()
        assert tuple(local_sig) == tuple(reliable_sig)
        assert _glob.glob(ckpt_dir2 + "/*/rdd-*"), "no checkpoint files at sf0.1"


def test_readme_registry_counts_current():
    """README's registry-count line must match the live registry
    (regenerate with tools/readme_counts.py)."""
    from ais_data_pipeline_spark.queries import registry as _registry
    from tools.readme_counts import README, PATTERN

    qs = _registry()
    want = f"**{len(qs)} registered queries, {sum(1 for q in qs if q.oracle is not None)} oracle-hash-checked**"
    with open(README) as f:
        text = f.read()
    m = PATTERN.search(text)
    assert m is not None and m.group(0) == want, (m and m.group(0), want)


def test_pretraining_plan_accounting(spark, sf_dir, tmp_path):
    """run_pretraining's composed accounting must be internally
    consistent and write real artifacts: curation counts equal the
    oracle-verified curation plan's, every sampled doc reaches exactly
    one shard file, pack/shard token totals equal the sampled total,
    and the bin count respects the budget lower bound."""
    import math as _math

    from ais_data_pipeline_spark.plans.pretraining import run_pretraining
    from ais_data_pipeline_spark.sources.parquet import read_table

    docs = read_table(spark, sf_dir, "documents")
    root = str(tmp_path / "pretrain")
    res = run_pretraining(spark, docs, root, sample_k=100)

    # curation sub-result matches the standalone oracle-verified plan
    assert res.curation.n_kept == spark.read.parquet(root + "/curated").count()
    # every sampled doc lands in a shard, once
    assert res.shard_docs == res.n_sampled
    shards = spark.read.parquet(root + "/shards")
    assert shards.count() == res.n_sampled
    assert shards.select("doc_id").distinct().count() == res.n_sampled
    # token conservation across pack + shard stages
    assert res.packed_tokens == res.sampled_tokens
    assert res.shard_tokens == res.sampled_tokens
    # strict packing can never beat the budget lower bound
    assert res.n_bins >= _math.ceil(res.sampled_tokens / 256)
    # token accounting is monotone down the curation funnel
    t = res.curation.token_counts
    assert t["00_total"] >= t["01_exact_dedup"] >= t["02_near_dup"] >= t["03_quality"]
    assert res.sampled_tokens <= t["03_quality"]


def test_accretion_listing_through_fs_adapter(spark, sf_dir, tmp_path):
    """Round-12 verdict item 6: the compaction-trigger census must be
    object-store-ready. Three backends, one contract:

    - the default local walk (already exercised above) equals an
      explicit ``LOCAL_IO``;
    - the Hadoop FileSystem gateway ``hadoop_io()`` (the exact code
      path s3a:// takes) yields the same census, and so does a
      ``file://`` URI;
    - an injected FAKE remote ``FsIO`` — the synthetic listing of an
      s3a:// index no local glob could see — drives the trigger to
      the same decisions as a real on-disk layout of the same shape,
      for both the dedup and the IVF layout.
    """
    from pyspark.sql import functions as F

    from ais_data_pipeline_spark import fsutil
    from ais_data_pipeline_spark.fsutil import should_compact, slice_accretion
    from ais_data_pipeline_spark.sources.parquet import read_table
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_dedup_index,
        dedup_and_append_batch,
    )

    docs = read_table(spark, sf_dir, "documents")
    index = str(tmp_path / "idx")
    k = F.col("doc_id")
    build_dedup_index(docs.filter(k % 4 == 0), index)
    b1 = docs.filter(k % 4 == 1).localCheckpoint(eager=True)
    dedup_and_append_batch(b1, 0, index, str(tmp_path / "kept"))

    # backend equivalence on the real index: default walk == explicit
    # local IO == hadoop gateway (same FileSystem API an s3a:// URI
    # would hit; LocalFileSystem implements it)
    m_default = slice_accretion(index)
    m_local = slice_accretion(index, fsutil.LOCAL_IO)
    m_hadoop = slice_accretion(index, fsutil.hadoop_io())
    assert m_default == m_local == m_hadoop
    # file:// routes local by design (no JVM needed); the census must
    # still agree
    assert slice_accretion("file://" + index) == m_default
    assert m_default["slice_bytes"] > 0 and m_default["history_bytes"] > 0

    def fake_io(lister):
        """A read-only fake object store: the lister's files and no
        generation pointer (a flat, never-compacted index)."""
        return fsutil.FsIO(lister, lambda _path: None, None, None)

    # fake remote lister: what an s3a:// LIST would return for an
    # index of this shape — history + two accreted slices per table
    def fake_s3_lister(root):
        assert root == "s3a://bucket/dedup-index"
        for table in ("docs", "buckets", "bucket_stats"):
            yield f"{table}/src_batch=-1/part-000.parquet", 400 * 2**20
            yield f"{table}/src_batch=0/part-000.parquet", 30 * 2**20
            yield f"{table}/src_batch=1/part-000.parquet", 30 * 2**20
        yield "docs/src_batch=0/_SUCCESS", 0  # non-parquet: ignored
        yield "stray.parquet", 2**30  # wrong depth: ignored

    s3 = fake_io(fake_s3_lister)
    m_fake = slice_accretion("s3a://bucket/dedup-index", s3)
    assert m_fake == {
        "history_bytes": 3 * 400 * 2**20,
        "slice_bytes": 6 * 30 * 2**20,
        "slice_files": 6,
    }
    # 180 MiB accreted vs 1200 MiB history: 0.15 ratio — fires at 0.10,
    # quiet at 0.25, file guard fires alone at 6
    d = should_compact("s3a://bucket/dedup-index", s3, slice_ratio=0.10)
    assert d["compact"] is True and d["trigger"] == "bytes"
    d = should_compact("s3a://bucket/dedup-index", s3, slice_ratio=0.25)
    assert d["compact"] is False
    d = should_compact(
        "s3a://bucket/dedup-index", s3, slice_ratio=1e9,
        min_slice_bytes=1 << 60, max_slice_files=6,
    )
    assert d["compact"] is True and d["trigger"] == "files"

    # IVF twin: same census, its own layout (list_id=*/src_batch=*)
    def fake_ivf_lister(root):
        for lid in range(4):
            yield f"list_id={lid}/src_batch=-1/part-000.parquet", 100 * 2**20
            yield f"list_id={lid}/src_batch=3/part-000.parquet", 20 * 2**20
        yield "list_id=0/src_batch=3/.part-000.parquet.crc", 8  # non-parquet name? ends .crc — ignored
        yield "centroids.parquet", 2**30  # wrong depth: ignored

    ivf = fake_io(fake_ivf_lister)
    m_ivf = slice_accretion("s3a://bucket/ivf", ivf)
    assert m_ivf == {
        "history_bytes": 4 * 100 * 2**20,
        "slice_bytes": 4 * 20 * 2**20,
        "slice_files": 4,
    }
    d = should_compact("s3a://bucket/ivf", ivf, slice_ratio=0.15)
    assert d["compact"] is True and d["trigger"] == "bytes"
    d = should_compact("s3a://bucket/ivf", ivf, slice_ratio=0.30)
    assert d["compact"] is False


def test_upsert_generation_crash_replay(spark, tmp_path):
    """r15 brief item 1: the table sinks commit via the generation
    pointer. Crash the upsert at every publish sub-step (marker write,
    pointer write) via an injected FsIO — the reader must keep seeing
    the OLD table, and replaying the same batch must converge to the
    merged state with no duplicate rows. Also: a pointer corrupted
    mid-write (truncate-then-write store) must recover to the marked
    generation, not silently resolve to generation 0."""
    import os

    import pytest as _pytest

    from ais_data_pipeline_spark import fsutil
    from ais_data_pipeline_spark.sinks.parquet import (
        read_parquet_table,
        upsert_parquet,
    )

    p = str(tmp_path / "table")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, name string, v long"
    ).write.parquet(p)
    updates = spark.createDataFrame([(2, "b2", 21), (3, "c", 30)], "id long, name string, v long")

    class CrashingIO(fsutil.FsIO):
        """Raise on the Nth write_text call (1 = stage marker,
        2 = pointer) — the two windows inside publish_generation."""

        def __init__(self, crash_at: int):
            self.calls = 0
            self.crash_at = crash_at
            base = fsutil.LOCAL_IO

            def write_text(path, content):
                self.calls += 1
                if self.calls == self.crash_at:
                    raise OSError("injected crash")
                base.write_text(path, content)

            super().__init__(base.lister, base.read_text, write_text, base.remove)

    for crash_at in (1, 2):
        with _pytest.raises(OSError, match="injected crash"):
            upsert_parquet(spark, p, updates, ["id"], io=CrashingIO(crash_at))
        # the crashed commit is invisible: old table fully live
        assert fsutil.current_generation(p) == 0
        rows = {r["id"]: r["name"] for r in read_parquet_table(spark, p).collect()}
        assert rows == {1: "a", 2: "b"}

    # crash window 3: pointer file corrupted mid-write (empty /
    # non-integer content, the HDFS/ABFS truncate-then-write
    # footprint). The stage marker landed first, so resolution must
    # recover the staged generation instead of reading 0.
    stats = upsert_parquet(spark, p, updates, ["id"])  # clean replay
    assert stats["rows_after"] == 3 and fsutil.current_generation(p) == 1
    for garbage in ("", "garb\x00age"):
        with open(os.path.join(p, fsutil.GEN_POINTER), "w") as f:
            f.write(garbage)
        assert fsutil.current_generation(p) == 1
        rows = {r["id"]: r["name"] for r in read_parquet_table(spark, p).collect()}
        assert rows == {1: "a", 2: "b2", 3: "c"}
    # an ABSENT pointer with no marked generations is still a fresh /
    # flat table (gen 0), not a recovery case
    assert fsutil.current_generation(str(tmp_path / "nonexistent")) == 0

    # replay AGAIN on the recovered table: idempotent, gen bumps, one
    # generation kept back for racing readers, older ones collected
    upsert_parquet(spark, p, updates, ["id"])
    assert fsutil.current_generation(p) == 2
    rows = {r["id"]: r["name"] for r in read_parquet_table(spark, p).collect()}
    assert rows == {1: "a", 2: "b2", 3: "c"}
    live_gens = {d for d in os.listdir(p) if d.startswith("_g") and d[2:].isdigit()}
    assert live_gens == {"_g00001", "_g00002"}  # keep_prev: N-1 survives one cycle
    upsert_parquet(spark, p, updates.limit(0), ["id"])  # next maintenance entry
    live_gens = {d for d in os.listdir(p) if d.startswith("_g") and d[2:].isdigit()}
    assert live_gens == {"_g00002", "_g00003"}  # _g00001 collected on entry


def test_fsutil_file_uri_and_deferred_gc(tmp_path):
    """r15 ADVICE fixes pinned: (1) file:// URIs route to LOCAL_IO and
    the _local_* helpers strip the scheme — pointer publish/read/GC
    must behave identically to the bare path (previously the pointer
    silently read 0 and wrote into a literal ./file: dir); (2) the
    POST-PUBLISH GC keeps the superseded generation one maintenance
    cycle (keep_prev), including the flat gen-0 layout at the 0->1
    migration."""
    import os

    from ais_data_pipeline_spark import fsutil

    idx = str(tmp_path / "idx")
    os.makedirs(idx + "/table")
    open(idx + "/table/part-0.parquet", "w").write("x")
    uri = "file://" + idx
    io = fsutil.io_for(uri)
    assert io is fsutil.LOCAL_IO
    assert fsutil.current_generation(uri) == 0

    os.makedirs(idx + "/_g00001/table")
    open(idx + "/_g00001/table/part-0.parquet", "w").write("y")
    fsutil.publish_generation(uri, 1)
    # pointer landed INSIDE the index dir (not a literal ./file: path)
    assert os.path.exists(os.path.join(idx, fsutil.GEN_POINTER))
    assert not os.path.exists("file:")
    assert fsutil.current_generation(uri) == 1
    assert fsutil.current_root(uri).endswith("/_g00001")

    # post-publish GC with keep_prev: flat gen-0 data SURVIVES
    removed = fsutil.gc_generations(uri, 1, legacy_auto=True, keep_prev=True)
    assert removed == []
    assert os.path.exists(idx + "/table/part-0.parquet")
    # next maintenance entry (no keep_prev): the flat legacy goes
    fsutil.gc_generations(uri, 1, legacy_auto=True)
    assert not os.path.exists(idx + "/table")
    assert os.path.exists(idx + "/_g00001/table/part-0.parquet")

    # generation 1 -> 2: keep_prev retains _g00001 until next entry
    os.makedirs(idx + "/_g00002/table")
    open(idx + "/_g00002/table/part-0.parquet", "w").write("z")
    fsutil.publish_generation(uri, 2)
    fsutil.gc_generations(uri, 2, legacy_auto=True, keep_prev=True)
    assert os.path.exists(idx + "/_g00001/table/part-0.parquet")
    fsutil.gc_generations(uri, 2, legacy_auto=True)
    assert not os.path.exists(idx + "/_g00001")
    # file://-routed remove works (was a silent no-op before the fix)
    fsutil.LOCAL_IO.remove("file://" + idx + "/_g00002/table/part-0.parquet")
    assert not os.path.exists(idx + "/_g00002/table/part-0.parquet")


def test_fsutil_hadoop_io_bulk_read_roundtrip(spark, tmp_path):
    """r16 ADVICE: hadoop_io().read_text read ONE BYTE per py4j round
    trip — tolerable for generation pointers, pathological once
    snapshot MANIFESTS (file lists reaching hundreds of KB) routed
    through the seam on remote stores. The read is now a single
    commons-io toByteArray round trip: round-trip a manifest-sized
    payload through the Hadoop FileSystem on a local path and bound
    the wall-clock (the per-byte loop took minutes at this size)."""
    import json as _json
    import time as _time

    from ais_data_pipeline_spark.fsutil import hadoop_io

    io = hadoop_io()
    path = "file://" + str(tmp_path / "big_manifest.json")
    payload = _json.dumps(
        {"files": [f"data/snap-00001/part-{i:06d}.parquet" for i in range(8000)]}
    )
    assert len(payload) > 200_000
    io.write_text(path, payload)
    t0 = _time.perf_counter()
    assert io.read_text(path) == payload
    assert _time.perf_counter() - t0 < 5.0
    # unicode survives the byte[] decode; missing file stays None
    io.write_text(path, "päge — ünïcode")
    assert io.read_text(path) == "päge — ünïcode"
    assert io.read_text("file://" + str(tmp_path / "nope")) is None


def test_no_persist_or_cache_in_engine():
    """Grep gate: ``checkpointing.materialize`` is the package's one pin
    mechanism (rows as they are, local or reliable by one switch), so
    no module calls ``persist`` or ``cache``."""
    import glob as _glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "ais_data_pipeline_spark")
    offenders = []
    for path in _glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        src = open(path).read()
        for needle in (".persist(", ".cache()"):
            if needle in src:
                offenders.append((os.path.relpath(path, pkg), needle))
    assert offenders == [], offenders


def test_no_rename_swap_callers_in_engine():
    """Grep gate (r15 brief item 5): every maintenance op commits via
    the generation pointer, so the package — ``fsutil`` included —
    holds no rename-based swap and no ``os.rename`` (renames don't
    exist on s3a://-class stores), and the maintenance modules stay
    free of rmtree on data directories."""
    import glob as _glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "ais_data_pipeline_spark")
    offenders = []
    for path in _glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        src = open(path).read()
        name = os.path.relpath(path, pkg)
        for needle in ("staged_swap", "os.rename"):
            if needle in src:
                offenders.append((name, needle))
        if name in (
            os.path.join("sinks", "parquet.py"),
            os.path.join("streaming", "incremental_dedup.py"),
            os.path.join("operators", "similarity.py"),
        ) and "rmtree" in src:
            offenders.append((name, "rmtree"))
        if name == os.path.join("sinks", "snapshots.py"):
            # r16: the snapshot sink's manifest/pointer IO is entirely
            # behind the FsIO seam — no raw-os/local-only calls at all
            for needle in ("import os", "shutil", "open(", "os."):
                if needle in src:
                    offenders.append((name, needle))
    assert offenders == [], offenders


def test_curation_quality_fusion_equivalence(spark, sf_dir):
    """r15 stretch (r14 verdict item 8): curation_at_scale's stage-3
    fusion — quality flag computed in the stage-1 text pass, final
    count by set arithmetic (all-passing minus passing-among-drops) —
    must equal filtering the stage-2 survivors directly, doc for doc.
    Replays both recipes over the sf documents corpus."""
    from pyspark.sql import functions as F

    from ais_data_pipeline_spark.operators.dedup import minhash_near_dup
    from ais_data_pipeline_spark.operators.text import quality_col
    from ais_data_pipeline_spark.sources.parquet import read_table

    d = read_table(spark, sf_dir, "documents")
    qp = (F.round(quality_col(F.col("text")), 5) >= 0.65).alias("qp")
    scan1 = d.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("h"), qp
    ).localCheckpoint(eager=True)
    keep_min = scan1.groupBy("h").agg(F.min("doc_id").alias("__keep"))
    drop_exact = (
        scan1.join(keep_min, "h")
        .filter(F.col("doc_id") != F.col("__keep"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    s1 = d.join(F.broadcast(drop_exact), "doc_id", "left_anti")
    drop_near = (
        minhash_near_dup(s1, threshold=0.5, n_hashes=32, bands=16)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    s2 = s1.join(F.broadcast(drop_near), "doc_id", "left_anti")

    # direct recipe (the r14 stage 3): filter survivors, full text scan
    n_direct = s2.filter(
        F.round(quality_col(F.col("text")), 5) >= 0.65
    ).count()

    # fused recipe: arithmetic over the textless side-channel
    qual = scan1.select("doc_id", "qp")
    n_pass_all = qual.filter("qp").count()
    n_drop_pass = (
        qual.join(F.broadcast(drop_exact.unionByName(drop_near)), "doc_id")
        .filter("qp")
        .count()
    )
    assert n_pass_all - n_drop_pass == n_direct
    # the drop sets must be disjoint for the arithmetic to hold
    assert drop_exact.join(drop_near, "doc_id").count() == 0


def test_upsert_and_compact_share_generation_sequence(spark, tmp_path):
    """r15: upsert_parquet and compact_parquet maintain the SAME table
    through one shared generation pointer — interleaving them must
    advance one sequence, keep exactly {N, N-1} generations live
    (deferred GC), and preserve the data through every flip."""
    import glob as _glob
    import os

    from ais_data_pipeline_spark import fsutil
    from ais_data_pipeline_spark.sinks.parquet import (
        compact_parquet,
        read_parquet_table,
        upsert_parquet,
    )

    p = str(tmp_path / "table")
    spark.range(200).selectExpr("id", "id * 10 AS v").repartition(
        8
    ).write.parquet(p)

    # upsert -> gen 1
    ups = spark.createDataFrame([(5, 555), (900, 9000)], "id long, v long")
    upsert_parquet(spark, p, ups, ["id"])
    assert fsutil.current_generation(p) == 1

    # compact -> gen 2 (single-file target forces a real rewrite)
    stats = compact_parquet(spark, p, target_file_mb=4096)
    if not stats["skipped"]:
        assert fsutil.current_generation(p) == 2
    gen_after_compact = fsutil.current_generation(p)

    # upsert again -> gen advances; data reflects every step
    ups2 = spark.createDataFrame([(5, 777)], "id long, v long")
    upsert_parquet(spark, p, ups2, ["id"])
    assert fsutil.current_generation(p) == gen_after_compact + 1
    rows = {r["id"]: r["v"] for r in read_parquet_table(spark, p).collect()}
    assert rows[5] == 777 and rows[900] == 9000 and rows[7] == 70
    assert len(rows) == 201

    # deferred GC: exactly the current and previous generations live
    gens = sorted(
        int(d[2:])
        for d in os.listdir(p)
        if d.startswith("_g") and d[2:].isdigit()
    )
    cur = fsutil.current_generation(p)
    assert gens == [cur - 1, cur], (gens, cur)
    # flat gen-0 legacy fully collected by now (two entries later)
    assert _glob.glob(p + "/*.parquet") == []


def test_snapshot_sink_fake_remote_and_crash_substeps(spark, tmp_path):
    """r16 (verdict item 2): the snapshot sink's manifest/pointer IO
    runs behind the ``fsutil.FsIO`` seam. Two halves:

    (a) FAKE OBJECT STORE — current_version (including the
    STAGE_COMPLETE-convention recovery of a corrupt ``_current``
    pointer from the max existing manifest), snapshot_history, and
    expire_snapshots' manifest+data GC all operate on an in-memory
    ``s3a://``-style store with zero local-filesystem calls.

    (b) CRASH AT EVERY COMMIT SUBSTEP on a real local table — after
    the data write / after the manifest write / mid-pointer-write
    (corrupt pointer content) — the table stays readable at its old
    version and a plain retry commits, exactly like the other sinks'
    generation-pointer tests."""
    import json as _json

    import pytest as _pytest

    from ais_data_pipeline_spark import fsutil
    from ais_data_pipeline_spark.sinks.snapshots import (
        current_version,
        expire_snapshots,
        read_snapshot,
        snapshot_history,
        write_snapshot,
    )

    # ---- (a) fake remote store
    store: dict[str, str] = {}

    def lister(root):
        prefix = root.rstrip("/") + "/"
        for p in sorted(store):
            if p.startswith(prefix):
                yield p[len(prefix):], len(store[p])

    def read_text(path):
        return store.get(path)

    def write_text(path, content):
        store[path] = content

    def remove(path):
        for p in list(store):
            if p == path or p.startswith(path.rstrip("/") + "/"):
                del store[p]

    io = fsutil.FsIO(lister, read_text, write_text, remove)
    t = "s3a://bucket/tables/events_versioned"

    def put_version(v, op, files):
        for f in files:
            store[f"{t}/data/snap-{v:05d}/{f}"] = "PARQUETBYTES"
        m = {
            "version": v, "parent": v - 1, "operation": op,
            "schema": '{"type":"struct","fields":[]}',
            "files": [f"{t}/data/snap-{v:05d}/{f}" for f in files],
        }
        store[f"{t}/_manifests/v{v:05d}.json"] = _json.dumps(m)
        store[f"{t}/_manifests/_current"] = str(v)

    assert current_version(t, io) == 0
    put_version(1, "overwrite", ["part-0.parquet"])
    put_version(2, "overwrite", ["part-0.parquet", "part-1.parquet"])
    assert current_version(t, io) == 2
    assert [h["version"] for h in snapshot_history(t, io)] == [1, 2]

    # corrupt pointer (crash mid-write on a truncate-then-write store)
    # recovers as the max manifest version — never "no table"
    store[f"{t}/_manifests/_current"] = ""
    assert current_version(t, io) == 2
    store[f"{t}/_manifests/_current"] = "garbage\n"
    assert current_version(t, io) == 2
    store[f"{t}/_manifests/_current"] = "2"

    # orphan manifest ABOVE the pointer (crash between the manifest
    # write and the pointer write): current_version stays at the
    # parent and history must AGREE — not report v3 as committed
    # (r16 ADVICE; the retry path will overwrite v3 with different
    # contents, so it is not history yet)
    store[f"{t}/_manifests/v00003.json"] = _json.dumps(
        {"version": 3, "parent": 2, "operation": "append",
         "schema": spark.range(1).schema.json(), "files": []}
    )
    assert current_version(t, io) == 2
    assert [h["version"] for h in snapshot_history(t, io)] == [1, 2]
    del store[f"{t}/_manifests/v00003.json"]

    # expire v1: its manifest and its now-unreferenced data dir vanish
    assert expire_snapshots(t, keep_last=1, io=io) == [1]
    assert f"{t}/_manifests/v00001.json" not in store
    assert not any("/snap-00001/" in p for p in store)
    assert any("/snap-00002/" in p for p in store)
    assert [h["version"] for h in snapshot_history(t, io)] == [2]
    # idempotent: nothing left to expire, dropped manifests skipped
    assert expire_snapshots(t, keep_last=1, io=io) == []

    # ---- (b) crash at every substep, local table
    tp = str(tmp_path / "crashy")
    d1 = spark.range(8).withColumnRenamed("id", "k")
    d2 = spark.range(8, 11).withColumnRenamed("id", "k")
    assert write_snapshot(d1, tp, mode="overwrite") == 1

    class CrashingIO:
        """LOCAL_IO with write_text raising after ``allow`` calls."""

        def __init__(self, allow):
            self.allow = allow
            self.lister = fsutil.LOCAL_IO.lister
            self.read_text = fsutil.LOCAL_IO.read_text
            self.remove = fsutil.LOCAL_IO.remove

        def write_text(self, path, content):
            if self.allow <= 0:
                raise OSError("injected crash")
            self.allow -= 1
            fsutil.LOCAL_IO.write_text(path, content)

    # crash BEFORE the manifest write (data dir exists, unreferenced)
    with _pytest.raises(OSError):
        write_snapshot(d2, tp, mode="append", io=CrashingIO(0))
    assert current_version(tp) == 1
    assert read_snapshot(spark, tp).count() == 8  # old version intact

    # crash AFTER the manifest, BEFORE the pointer: the INTACT pointer
    # still resolves v1 (the cache lags behind the manifest), so a
    # plain retry recomputes parent=1 and RE-commits v2 — overwriting
    # the orphaned manifest and snap dir, not duplicating rows
    with _pytest.raises(OSError):
        write_snapshot(d2, tp, mode="append", io=CrashingIO(1))
    assert current_version(tp) == 1
    assert read_snapshot(spark, tp).count() == 8
    v = write_snapshot(d2, tp, mode="append")
    assert v == 2 and current_version(tp) == 2
    assert read_snapshot(spark, tp).count() == 11

    # corrupt pointer content (crash mid-pointer-write on a truncate-
    # then-write store): recovery serves the max committed manifest —
    # the commit landed, nothing is lost and nothing re-runs
    fsutil.LOCAL_IO.write_text(tp + "/_manifests/_current", "")
    assert current_version(tp) == 2
    assert read_snapshot(spark, tp).count() == 11
    fsutil.LOCAL_IO.write_text(tp + "/_manifests/_current", "NaN")
    assert current_version(tp) == 2

    # and the next commit on top of the recovered pointer is v3
    v = write_snapshot(d1, tp, mode="overwrite")
    assert v == 3 and current_version(tp) == 3
    assert read_snapshot(spark, tp).count() == 8
    assert [h["version"] for h in snapshot_history(tp)] == [1, 2, 3]


def test_warc_source_roundtrip_and_spec_vector(spark, tmp_path):
    """r16 (verdict item 8): WARC/WET source. (a) A HAND-ASSEMBLED
    spec-vector record (bytes typed from the ISO 28500 framing, NOT
    produced by the encoder — so an encoder/parser bug cannot cancel);
    (b) encoder/parser roundtrip over gzip-member and plain framing,
    multi-record, header folding, payload truncation cap; (c) the
    Spark readers (streaming per-file and binaryFile) agree record for
    record; (d) loud errors: bad version line, truncated payload,
    missing Content-Length, remote scheme on the streaming reader."""
    import gzip as _gzip
    import io as _bio

    import pytest as _pytest

    from ais_data_pipeline_spark.sources.warc import (
        encode_warc_records,
        iter_warc_records,
        read_warc,
        read_warc_binaryfile,
    )

    # (a) spec vector: one conversion record, hand-framed
    payload = b"Hello, web!\n"
    raw = (
        b"WARC/1.0\r\n"
        b"WARC-Type: conversion\r\n"
        b"WARC-Record-ID: <urn:uuid:0001>\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"WARC-Target-URI: http://example.org/a\r\n"
        b"Content-Type: text/plain\r\n"
        b"Content-Length: 12\r\n"
        b"\r\n" + payload + b"\r\n\r\n"
    )
    (rec,) = list(iter_warc_records(_bio.BytesIO(raw), "spec"))
    assert rec["warc_type"] == "conversion"
    assert rec["record_id"] == "<urn:uuid:0001>"
    assert rec["target_uri"] == "http://example.org/a"
    assert rec["content_length"] == 12 and bytes(rec["payload"]) == payload

    # same vector as a single gzip member parses identically
    (rec_gz,) = list(iter_warc_records(_bio.BytesIO(_gzip.compress(raw)), "gz"))
    assert bytes(rec_gz["payload"]) == payload

    # (b) roundtrip: warcinfo + conversions + a folded header
    recs = [
        dict(warc_type="warcinfo", record_id="<urn:warcinfo:0>",
             warc_date="2024-01-01T00:00:00Z",
             content_type="application/warc-fields", payload=b"software: x"),
    ] + [
        dict(warc_type="conversion", record_id=f"<urn:uuid:{i:04x}>",
             warc_date=f"2024-01-01T00:00:{i:02d}Z",
             target_uri=f"http://example.org/{i}",
             content_type="text/plain",
             payload=(b"doc %d " % i) * (i + 1))
        for i in range(5)
    ]
    for gz in (True, False):
        blob = encode_warc_records(recs, gzip_members=gz)
        got = list(iter_warc_records(_bio.BytesIO(blob), "rt"))
        assert [r["record_id"] for r in got] == [r["record_id"] for r in recs]
        assert [bytes(r["payload"]) for r in got] == [r["payload"] for r in recs]
        assert [r["record_index"] for r in got] == list(range(6))
    folded = raw.replace(
        b"Content-Type: text/plain\r\n",
        b"Content-Type: text/plain;\r\n charset=utf-8\r\n",
    )
    (fr,) = list(iter_warc_records(_bio.BytesIO(folded), "fold"))
    assert fr["content_type"] == "text/plain; charset=utf-8"

    # payload cap: retained bytes truncate, declared length survives
    capped = list(
        iter_warc_records(
            _bio.BytesIO(encode_warc_records(recs)), "cap", payload_max_bytes=8
        )
    )
    assert all(len(r["payload"]) <= 8 for r in capped)
    assert capped[-1]["content_length"] == len(recs[-1]["payload"])

    # (c) the two Spark readers agree; one task per file on streaming
    d = tmp_path / "warc"
    d.mkdir()
    for shard in range(3):
        (d / f"part-{shard}.warc.gz").write_bytes(
            encode_warc_records(recs[: 2 + shard])
        )
    paths = sorted(str(p) for p in d.iterdir())
    a = read_warc(spark, paths)
    b = read_warc_binaryfile(spark, str(d / "*.warc.gz"))
    rows_a = sorted(
        ((r["warc_file"].split("/")[-1], r["record_index"], r["record_id"],
          bytes(r["payload"])) for r in a.collect())
    )
    rows_b = sorted(
        ((r["warc_file"].split("/")[-1].removeprefix("file:"),
          r["record_index"], r["record_id"], bytes(r["payload"]))
         for r in b.collect())
    )
    assert rows_a == rows_b and len(rows_a) == 2 + 3 + 4

    # (d) loud error classes
    with _pytest.raises(ValueError, match="bad WARC version"):
        list(iter_warc_records(_bio.BytesIO(b"HTTP/1.1 200 OK\r\n"), "v"))
    with _pytest.raises(ValueError, match="truncated payload"):
        list(iter_warc_records(_bio.BytesIO(raw[:-8]), "t"))
    with _pytest.raises(ValueError, match="Content-Length"):
        bad = raw.replace(b"Content-Length: 12\r\n", b"")
        list(iter_warc_records(_bio.BytesIO(bad), "cl"))
    with _pytest.raises(NotImplementedError, match="binaryfile"):
        read_warc(spark, ["s3a://bucket/x.warc.gz"])


def test_warc_fuzz_documented_error_classes():
    """r16: the repo's fuzz convention applied to the WARC parser —
    2k random byte mutations (set/insert/delete) over gzip-member and
    plain fixtures must land in the documented error classes
    (ValueError / NotImplementedError) or decode; gzip's native
    BadGzipFile/EOFError/zlib.error are normalized to ValueError by
    the reader's adapter, never escaping as raw OSErrors. Time-boxed
    so a mutation can't smuggle in a pathological stall."""
    import io as _bio
    import random
    import time

    from ais_data_pipeline_spark.sources.warc import (
        encode_warc_records,
        iter_warc_records,
    )

    recs = [
        dict(warc_type="conversion", record_id=f"<urn:uuid:{i:04x}>",
             warc_date=f"2024-01-01T00:00:{i:02d}Z",
             target_uri=f"http://example.org/{i}",
             content_type="text/plain",
             payload=(b"payload %d " % i) * (3 + i))
        for i in range(6)
    ]
    fixtures = [
        encode_warc_records(recs, gzip_members=True),
        encode_warc_records(recs, gzip_members=False),
    ]
    rng = random.Random(1616)
    t0 = time.perf_counter()
    for _ in range(2000):
        base = bytearray(rng.choice(fixtures))
        for _m in range(rng.randint(1, 4)):
            op = rng.random()
            if op < 0.5:
                base[rng.randrange(len(base))] = rng.randrange(256)
            elif op < 0.75 and len(base) > 16:
                del base[rng.randrange(len(base))]
            else:
                base.insert(rng.randrange(len(base)), rng.randrange(256))
        try:
            # cap retained payloads: a mutated Content-Length may be
            # huge-but-valid; the cap bounds memory like a real reader
            for _rec in iter_warc_records(
                _bio.BytesIO(bytes(base)), "fuzz", payload_max_bytes=1 << 16
            ):
                pass
        except (ValueError, NotImplementedError):
            pass  # the documented error classes
    assert time.perf_counter() - t0 < 60.0


def test_warc_member_index_random_access(spark, tmp_path):
    """r16: CDX-style member-level random access. The index walk's
    (offset, length) pairs are SELF-VALIDATING: every member slice,
    re-read independently through read_warc_member (the byte-range-GET
    path), must reproduce the sequential parse record-for-record —
    ids, uris, and full payload bytes. Also pins: chunked member
    splitting at a chunk size smaller than one member (bounded-memory
    walk), the plain-WARC refusal (no member boundaries to index),
    and corrupt-member ValueError."""
    import io as _bio

    import pytest as _pytest

    from ais_data_pipeline_spark.sources import warc as W

    recs = [
        dict(warc_type="conversion", record_id=f"<urn:uuid:{i:04x}>",
             warc_date=f"2024-01-01T00:00:{i:02d}Z",
             target_uri=f"http://example.org/{i}",
             content_type="text/plain",
             payload=(b"p%d " % i) * (200 * (i + 1)))
        for i in range(7)
    ]
    d = tmp_path / "cdx"
    d.mkdir()
    for shard in range(2):
        (d / f"s-{shard}.warc.gz").write_bytes(
            W.encode_warc_records(recs[: 3 + shard * 4])
        )
    paths = sorted(str(p) for p in d.iterdir())

    idx = {
        (r["warc_file"], r["record_index"]): r
        for r in W.build_warc_member_index(spark, str(d / "*.warc.gz")).collect()
    }
    assert len(idx) == 3 + 7
    seq = {
        (r["warc_file"], r["record_index"]): r
        for r in W.read_warc(spark, paths).collect()
    }
    assert set(idx) == set(seq)
    for key, row in idx.items():
        blob = open(row["warc_file"], "rb").read()
        sl = blob[row["member_offset"]: row["member_offset"] + row["member_length"]]
        rec = W.read_warc_member(sl)
        assert rec["record_id"] == seq[key]["record_id"] == row["record_id"]
        assert rec["target_uri"] == seq[key]["target_uri"]
        assert bytes(rec["payload"]) == bytes(seq[key]["payload"])
    # offsets tile the file exactly: contiguous, gap-free
    for p in paths:
        rows = sorted(
            (r for k, r in idx.items() if k[0] == p),
            key=lambda r: r["record_index"],
        )
        pos = 0
        for r in rows:
            assert r["member_offset"] == pos
            pos += r["member_length"]
        assert pos == len(open(p, "rb").read())

    # chunked walk: force chunks far smaller than one member
    big = W.encode_warc_records(recs)
    old = W._MEMBER_CHUNK
    try:
        W._MEMBER_CHUNK = 64
        members = list(W.iter_gzip_members(_bio.BytesIO(big)))
    finally:
        W._MEMBER_CHUNK = old
    assert len(members) == len(recs)
    assert sum(m[1] for m in members) == len(big)

    # plain WARC refuses indexing; corrupt member raises ValueError
    plain = d / "plain.warc"
    plain.write_bytes(W.encode_warc_records(recs[:2], gzip_members=False))
    with _pytest.raises(Exception, match="member"):
        W.build_warc_member_index(spark, [str(plain)]).collect()
    corrupt = bytearray(big)
    corrupt[len(corrupt) // 2] ^= 0xFF
    with _pytest.raises(ValueError):
        list(W.iter_gzip_members(_bio.BytesIO(bytes(corrupt))))


def test_http_response_split_rules():
    """r17: raw-WARC HTTP response splitting (sources/http_payload.py)
    — status line, folded + duplicate-joined headers, chunked
    de-framing, gzip/deflate content decode, charset-aware body_text,
    honest passthrough for undecodable codings. Each rule is pinned
    against the encoder twin AND hand-framed bytes (the encode_warc
    convention: a framing typo can't hide behind the roundtrip)."""
    import zlib as _zlib

    from ais_data_pipeline_spark.sources.http_payload import (
        encode_http_response,
        parse_http_response,
    )

    # plain + explicit charset
    r = parse_http_response(encode_http_response(
        200, "OK", [("Content-Type", "text/html; charset=UTF-8")],
        "<p>héllo</p>".encode("utf-8")))
    assert (r["http_status"], r["http_version"]) == (200, "1.1")
    assert r["body_text"] == "<p>héllo</p>" and r["charset"] == "utf-8"
    assert r["http_headers"]["content-length"] == str(len("<p>héllo</p>".encode()))

    # chunked + gzip composed (decode order: de-chunk, then gunzip)
    r = parse_http_response(encode_http_response(
        200, "OK", [("Content-Type", "text/plain")],
        b"chunked and gzipped body", chunked=True, chunk_size=5,
        content_encoding="gzip"))
    assert r["chunked"] and r["body_text"] == "chunked and gzipped body"
    assert r["content_encoding"] is None  # decoded -> no residue

    # raw deflate (no zlib wrapper — real servers ship both)
    co = _zlib.compressobj(wbits=-15)
    raw_deflate = co.compress(b'{"a": 1}') + co.flush()
    r = parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n"
        b"Content-Encoding: deflate\r\n\r\n" + raw_deflate)
    assert r["body_text"] == '{"a": 1}'

    # undecodable coding: body passes through RAW, content_encoding
    # records the still-encoded state, body_text stays None
    r = parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: br\r\n\r\n\x1b\x02\x80")
    assert r["content_encoding"] == "br" and r["body_text"] is None
    assert bytes(r["body"]) == b"\x1b\x02\x80"

    # ISO-8859-1 charset honored; unknown charset label -> utf-8
    r = parse_http_response(
        b"HTTP/1.0 200 OK\r\nContent-Type: text/plain; "
        b"charset=ISO-8859-1\r\n\r\n" + "caf\xe9".encode("latin-1"))
    assert r["body_text"] == "caf\xe9" and r["http_version"] == "1.0"
    r = parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain; "
        b"charset=not-a-codec\r\n\r\nplain")
    assert r["body_text"] == "plain" and r["charset"] == "not-a-codec"

    # duplicate headers join per RFC 7230 list semantics; folding
    r = parse_http_response(
        b"HTTP/1.1 200 OK\r\nSet-Cookie: a=1\r\nSet-Cookie: b=2\r\n"
        b"X-Long: part1\r\n\tpart2\r\n\r\n")
    assert r["http_headers"]["set-cookie"] == "a=1, b=2"
    assert r["http_headers"]["x-long"] == "part1 part2"

    # status without reason; LF-only framing tolerated
    r = parse_http_response(b"HTTP/1.1 301\nLocation: http://x/\n\n")
    assert r["http_status"] == 301 and r["http_reason"] is None
    assert r["http_headers"]["location"] == "http://x/"

    # non-textual media type: bytes kept, no text
    r = parse_http_response(encode_http_response(
        200, "OK", [("Content-Type", "image/png")], b"\x89PNG"))
    assert r["body_text"] is None and bytes(r["body"]) == b"\x89PNG"

    # chunk extensions are legal and ignored; trailers consumed
    r = parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        b"5;ext=v\r\nhello\r\n0\r\nX-Trailer: t\r\n\r\n")
    assert r["body_text"] == "hello"

    # r18 (r17 verdict honesty gap): TE tokens besides chunked leave
    # the body TRANSFER-coded after de-chunking — it must be reported
    # undecoded (content_encoding records the leftover coding,
    # body_text NULL), never mojibake-decoded. RFC 7230 §3.3.1.
    import gzip as _gzip

    gz = _gzip.compress(b"te-gzipped body")
    chunked_gz = (
        hex(len(gz))[2:].encode() + b"\r\n" + gz + b"\r\n0\r\n\r\n"
    )
    r = parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding: gzip, chunked\r\n\r\n" + chunked_gz)
    assert r["chunked"] and r["body_text"] is None
    assert r["content_encoding"] == "gzip"
    assert bytes(r["body"]) == gz  # de-chunked, still transfer-coded
    # ...and composed with a Content-Encoding residue, both record
    r = parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: br\r\n"
        b"Transfer-Encoding: gzip, chunked\r\n\r\n" + chunked_gz)
    assert r["body_text"] is None and r["content_encoding"] == "gzip, br"

    # documented error classes
    import pytest as _pytest

    for bad in [
        b"",  # no separator
        b"HTTP/1.1 abc OK\r\n\r\n",  # bad status
        b"HTTP/1.1 200 OK\r\nbadheader\r\n\r\n",  # no colon
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nzz\r\n",
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nff\r\nx\r\n",
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnot-gzip",
        b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n\x00",
    ]:
        with _pytest.raises(ValueError):
            parse_http_response(bad)


def test_http_response_split_operator_lenient(spark, tmp_path):
    """The DataFrame splitter over a real warc.gz: response records
    split into typed columns (header MAP included), non-response
    records are filtered out, and a malformed message quarantines into
    http_error with its raw payload intact — never a task failure."""
    from ais_data_pipeline_spark.sources.http_payload import (
        encode_http_response,
        split_http_responses,
    )
    from ais_data_pipeline_spark.sources.warc import (
        encode_warc_records,
        read_warc,
    )

    def rec(i, payload, wtype="response", uri="http://e.com/x"):
        return dict(
            warc_type=wtype, record_id=f"<urn:uuid:{i:04x}>",
            warc_date="2024-01-01T00:00:00Z", target_uri=uri,
            content_type="application/http; msgtype=response",
            payload=payload,
        )

    recs = [
        rec(0, b"software: x", "warcinfo", None),
        rec(1, encode_http_response(
            200, "OK", [("Content-Type", "text/plain")], b"good body")),
        rec(2, b"totally not http"),
        rec(3, encode_http_response(
            404, "Not Found", [("Content-Type", "text/html")], b"<p>no</p>")),
    ]
    p = tmp_path / "r.warc.gz"
    p.write_bytes(encode_warc_records(recs))
    out = split_http_responses(read_warc(spark, [str(p)]))
    rows = {r["record_index"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}  # warcinfo filtered
    assert rows[1]["http_status"] == 200
    assert rows[1]["body_text"] == "good body"
    assert rows[1]["http_headers"]["content-type"] == "text/plain"
    assert rows[3]["http_status"] == 404
    # the quarantine row: identity kept, raw bytes kept, error named
    assert rows[2]["http_status"] is None
    assert bytes(rows[2]["body"]) == b"totally not http"
    assert "separator" in rows[2]["http_error"]


def test_http_fuzz_documented_error_classes():
    """The repo's fuzz convention extended over the HTTP framing (r16
    verdict item 4): 2k random mutations over encoder-twin fixtures
    (plain / chunked / gzip / deflate) must decode or land in
    ValueError — no other exception class, no stall."""
    import random
    import time

    from ais_data_pipeline_spark.sources.http_payload import (
        encode_http_response,
        parse_http_response,
    )

    fixtures = [
        encode_http_response(200, "OK",
                             [("Content-Type", "text/html; charset=utf-8")],
                             b"<html>" + b"x" * 200 + b"</html>"),
        encode_http_response(200, "OK", [("Content-Type", "text/plain")],
                             b"chunk me " * 40, chunked=True),
        encode_http_response(200, "OK", [("Content-Type", "text/plain")],
                             b"zip me " * 40, content_encoding="gzip"),
        encode_http_response(200, "OK", [("Content-Type", "application/json")],
                             b'{"k": [1,2,3]}', content_encoding="deflate"),
        encode_http_response(301, "Moved", [("Location", "http://x/")], b""),
        # r18: the multi-token transfer-coding shape (gzip, chunked) —
        # the honesty-gap fix's class must survive mutation like the rest
        (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Transfer-Encoding: gzip, chunked\r\n\r\n"
            b"8\r\n\x1f\x8b\x08\x00\x00\x00\x00\x00\r\n0\r\n\r\n"
        ),
    ]
    rng = random.Random(1717)
    t0 = time.perf_counter()
    for _ in range(2000):
        base = bytearray(rng.choice(fixtures))
        for _m in range(rng.randint(1, 4)):
            op = rng.random()
            if op < 0.5:
                base[rng.randrange(len(base))] = rng.randrange(256)
            elif op < 0.75 and len(base) > 16:
                del base[rng.randrange(len(base))]
            else:
                base.insert(rng.randrange(len(base)), rng.randrange(256))
        try:
            parse_http_response(bytes(base))
        except ValueError:
            pass  # the documented class
    assert time.perf_counter() - t0 < 30.0


def test_web_corpus_plan_end_to_end(spark, tmp_path):
    """r16 capstone composition: WARC shards -> canonical-URL fetch
    dedup -> quality gate -> exact content dedup -> deterministic
    training shards, with EXACT stage accounting over a corpus whose
    drop counts are planned by construction:

    - 12 unique pages with good text, each fetched TWICE under dirty
      URL variants (case/port vs tracking params) -> 24 records, URL
      stage keeps 12;
    - 3 extra fetches of NEW urls whose BODY duplicates a kept page's
      -> exact stage drops 3;
    - 2 garbage-text records (unique urls) -> quality stage drops 2;
    - 1 scheme-less URI -> drops at the URL stage;
    - warcinfo/metadata records -> filtered before stage 0.

    Also pins layout determinism: a second run into a new dir yields
    the identical (shard, doc_key) assignment."""
    from ais_data_pipeline_spark.plans.web_corpus import run_web_corpus
    from ais_data_pipeline_spark.sources.warc import encode_warc_records

    good = (
        "the cat sat on the mat and it is that for a while. "
        "We think that the story of the house is good, and the "
        "end of the day is near for all of the people in it."
    )

    def rec(i, uri, text, wtype="conversion"):
        return dict(
            warc_type=wtype, record_id=f"<urn:uuid:{i:04x}>",
            warc_date="2024-01-01T00:00:00Z", target_uri=uri,
            content_type="text/plain", payload=text.encode(),
        )

    recs = [rec(999, None, "software: x", "warcinfo")]
    n = 0
    for p in range(12):
        body = f"{good} page number {p}."
        recs.append(rec(n, f"http://example.com/p/{p}?b=2&a=1", body)); n += 1
        recs.append(
            rec(n, f"HTTP://EXAMPLE.COM:80/p/{p}?a=1&b=2&utm_source=x", body)
        ); n += 1
    for p in range(3):  # same BODY as page p, brand-new url
        recs.append(rec(n, f"http://example.com/copy/{p}",
                        f"{good} page number {p}.")); n += 1
    for g in range(2):  # garbage: fails the quality gate
        recs.append(rec(n, f"http://example.com/junk/{g}",
                        "zz " * 40)); n += 1
    recs.append(rec(n, "no-scheme/path", f"{good} schemeless.")); n += 1
    recs.append(rec(998, "http://example.com/meta", '{"x":1}', "metadata"))

    d = tmp_path / "warc"
    d.mkdir()
    (d / "a.warc.gz").write_bytes(encode_warc_records(recs[: len(recs) // 2]))
    (d / "b.warc.gz").write_bytes(encode_warc_records(recs[len(recs) // 2 :]))

    # self-check the quality split so the accounting below is honest
    from pyspark.sql import functions as F

    from ais_data_pipeline_spark.operators.text import quality_col

    qs = spark.createDataFrame(
        [(good,), ("zz " * 40,)], "text string"
    ).select(F.round(quality_col(F.col("text")), 5).alias("q")).collect()
    assert qs[0]["q"] >= 0.5 > qs[1]["q"], qs

    out = tmp_path / "shards"
    res = run_web_corpus(
        spark, str(d / "*.warc.gz"), str(out), quality_threshold=0.5,
        n_shards=4,
    )
    assert res.stage_counts == {
        "00_conversion_records": 24 + 3 + 2 + 1,
        "01_url_dedup": 12 + 3 + 2,      # 24->12; schemeless dropped
        "02_quality": 12 + 3,             # 2 junk rows out
        "03_exact_dedup": 12,             # 3 body copies out
    }
    shards = spark.read.parquet(str(out))
    assert shards.count() == 12
    assert set(shards.columns) >= {"doc_key", "url", "text", "shard", "sort_key"}
    # the kept fetch per page is the FIRST (minimum doc_key)
    urls = {r["url"] for r in shards.collect()}
    assert urls == {
        f"http://example.com/p/{p}?a=1&b=2" for p in range(12)
    }

    # deterministic layout: a re-run assigns identical (shard, doc_key)
    out2 = tmp_path / "shards2"
    run_web_corpus(spark, str(d / "*.warc.gz"), str(out2),
                   quality_threshold=0.5, n_shards=4)
    a = {(r["shard"], r["doc_key"]) for r in shards.collect()}
    b = {(r["shard"], r["doc_key"])
         for r in spark.read.parquet(str(out2)).collect()}
    assert a == b


def test_web_corpus_raw_warc_end_to_end(spark, tmp_path):
    """r17: the raw-Common-Crawl variant — response records through
    HTTP splitting (status/headers/charset), HTML→text extraction for
    text/html bodies, then the same dedup/quality/shard chain. Planted
    drops: non-200 / binary / malformed records leave before stage 0;
    URL variants, a quality reject, and a duplicate body attribute to
    their stages exactly."""
    from ais_data_pipeline_spark.plans.web_corpus import run_web_corpus
    from ais_data_pipeline_spark.sources.http_payload import (
        encode_http_response,
    )
    from ais_data_pipeline_spark.sources.warc import encode_warc_records

    good = (
        "the cat sat on the mat and it is that for a while. "
        "We think that the story of the house is good, and the "
        "end of the day is near for all of the people in it."
    )

    def rec(i, uri, payload):
        return dict(
            warc_type="response", record_id=f"<urn:uuid:{i:04x}>",
            warc_date="2024-01-01T00:00:00Z", target_uri=uri,
            content_type="application/http; msgtype=response",
            payload=payload,
        )

    def page(p):
        return (
            f"<html><head><title>Page {p}</title>"
            f"<script>track({p});</script></head>"
            f"<body><p>{good} page number {p}.</p>"
            f"<a href='/nav'>nav</a></body></html>"
        ).encode()

    html = [("Content-Type", "text/html; charset=utf-8")]
    plain = [("Content-Type", "text/plain")]
    recs, n = [], 0
    for p in range(6):  # 6 pages x 2 dirty URL variants
        for uri in (f"http://example.com/p/{p}?b=2&a=1",
                    f"HTTP://EXAMPLE.COM:80/p/{p}?a=1&b=2&utm_source=x"):
            recs.append(rec(n, uri, encode_http_response(
                200, "OK", html, page(p), chunked=(p % 2 == 0)))); n += 1
    for t in range(2):  # plain-text 200s, unique urls
        recs.append(rec(n, f"http://example.com/t/{t}", encode_http_response(
            200, "OK", plain, f"{good} plain {t}.".encode(),
            content_encoding="gzip"))); n += 1
    # duplicate BODY of page 0 under a brand-new url -> exact dedup
    recs.append(rec(n, "http://example.com/copy", encode_http_response(
        200, "OK", html, page(0)))); n += 1
    # quality reject (plain garbage)
    recs.append(rec(n, "http://example.com/junk", encode_http_response(
        200, "OK", plain, b"zz " * 40))); n += 1
    # pre-stage-0 drops: 404, binary, malformed
    recs.append(rec(n, "http://example.com/gone", encode_http_response(
        404, "Not Found", html, b"<p>no</p>"))); n += 1
    recs.append(rec(n, "http://example.com/img", encode_http_response(
        200, "OK", [("Content-Type", "image/png")], b"\x89PNG"))); n += 1
    recs.append(rec(n, "http://example.com/bad", b"not an http message")); n += 1

    d = tmp_path / "warc"
    d.mkdir()
    (d / "a.warc.gz").write_bytes(encode_warc_records(recs[: len(recs) // 2]))
    (d / "b.warc.gz").write_bytes(encode_warc_records(recs[len(recs) // 2 :]))

    out = tmp_path / "shards"
    res = run_web_corpus(spark, str(d / "*.warc.gz"), str(out),
                         quality_threshold=0.5, n_shards=4,
                         input_format="warc")
    assert res.stage_counts == {
        "00_conversion_records": 16,  # 12 html + 2 plain + copy + junk
        "01_url_dedup": 10,           # 12 variants -> 6
        "02_quality": 9,              # junk out
        "03_exact_dedup": 8,          # the body copy out
    }
    rows = {r["url"]: r["text"] for r in spark.read.parquet(str(out)).collect()}
    assert set(rows) == (
        {f"http://example.com/p/{p}?a=1&b=2" for p in range(6)}
        | {f"http://example.com/t/{t}" for t in range(2)}
    )
    # HTML went through extraction: tags and script content gone
    assert rows["http://example.com/p/3?a=1&b=2"] == (
        f"Page 3 {good} page number 3. nav"
    )
    # plain text passed through the gzip content-decode untouched
    assert rows["http://example.com/t/1"] == f"{good} plain 1."


def test_web_corpus_majority_duplicate_non_broadcast_path(spark, tmp_path):
    """r16 verdict item 2a, e2e: a MAJORITY-duplicate corpus (the real
    CC shape the few-percent docstring assumed away) through the
    NON-broadcast path — autoBroadcastJoinThreshold=-1 turns every
    gated hint off, so both dedup anti-joins run as AQE-planned
    shuffled joins — must produce bit-identical stage counts and
    (shard, doc_key) layout to the default broadcast path."""
    from ais_data_pipeline_spark.plans.web_corpus import run_web_corpus
    from ais_data_pipeline_spark.sources.warc import encode_warc_records

    good = (
        "the cat sat on the mat and it is that for a while. "
        "We think that the story of the house is good, and the "
        "end of the day is near for all of the people in it."
    )
    recs = []
    n = 0
    for p in range(4):  # 4 unique pages, each fetched 6x (83% dupes)
        for f in range(6):
            recs.append(dict(
                warc_type="conversion", record_id=f"<urn:uuid:{n:04x}>",
                warc_date="2024-01-01T00:00:00Z",
                target_uri=f"http://example.com/p/{p}?utm_source={f}",
                content_type="text/plain",
                payload=f"{good} page number {p}.".encode(),
            ))
            n += 1
    d = tmp_path / "warc"
    d.mkdir()
    (d / "a.warc.gz").write_bytes(encode_warc_records(recs))

    def run(tag):
        out = tmp_path / f"shards_{tag}"
        res = run_web_corpus(spark, str(d / "a.warc.gz"), str(out),
                             quality_threshold=0.5, n_shards=2)
        rows = {(r["shard"], r["doc_key"], r["text"])
                for r in spark.read.parquet(str(out)).collect()}
        return res.stage_counts, rows

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    base_counts, base_rows = run("broadcast")
    try:
        spark.conf.set(key, "-1")
        gated_counts, gated_rows = run("shuffled")
    finally:
        spark.conf.set(key, prev)
    assert base_counts == {
        "00_conversion_records": 24,
        "01_url_dedup": 4,
        "02_quality": 4,
        "03_exact_dedup": 4,
    }
    assert gated_counts == base_counts
    assert gated_rows == base_rows


def test_web_corpus_lang_and_near_dup_stages(spark, tmp_path):
    """r17: the optional CCNet/RefinedWeb stages — stopword-profile
    language filter (between URL dedup and quality) and MinHash/LSH
    near-dup removal (after exact dedup) — with exact planted
    accounting: two German documents drop at the lang stage, one
    near-duplicate (tail-extended copy, Jaccard ~0.9) drops at the
    near-dup stage, and the default 4-key stage_counts contract is
    unchanged when the stages are off."""
    from ais_data_pipeline_spark.plans.web_corpus import run_web_corpus
    from ais_data_pipeline_spark.sources.warc import encode_warc_records

    good = (
        "the cat sat on the mat and it is that for a while. "
        "We think that the story of the house is good, and the "
        "end of the day is near for all of the people in it."
    )
    german = (
        "der hund und die katze ist ein tier zu den haus mit von "
        "der tag und die nacht ist ein lied zu den wald mit von freude"
    )

    def rec(i, uri, text):
        return dict(
            warc_type="conversion", record_id=f"<urn:uuid:{i:04x}>",
            warc_date="2024-01-01T00:00:00Z", target_uri=uri,
            content_type="text/plain", payload=text.encode(),
        )

    recs, n = [], 0
    # each page shares the good paragraph but adds 30 page-unique
    # tokens, pushing cross-page Jaccard to ~0.38 — BELOW the 0.5
    # near-dup threshold (pages differing only in a page number are
    # legitimately near-duplicates; the first cut of this fixture
    # learned that the hard way)
    pages = [
        f"{good} " + " ".join(f"w{p}x{i}" for i in range(30))
        for p in range(8)
    ]
    for p in range(8):
        recs.append(rec(n, f"http://example.com/p/{p}", pages[p])); n += 1
    for g in range(2):
        recs.append(rec(n, f"http://example.com/de/{g}", german)); n += 1
    # near-dup of page 0: same text + a short tail (Jaccard ~0.93,
    # not an exact duplicate)
    recs.append(rec(n, "http://example.com/near",
                    pages[0] + " extra trailing words")); n += 1

    d = tmp_path / "warc"
    d.mkdir()
    (d / "a.warc.gz").write_bytes(encode_warc_records(recs))

    out = tmp_path / "shards"
    res = run_web_corpus(
        spark, str(d / "a.warc.gz"), str(out), quality_threshold=0.5,
        n_shards=2, lang="en", near_dup_threshold=0.5,
    )
    assert res.stage_counts == {
        "00_conversion_records": 11,
        "01_url_dedup": 11,
        "01a_lang_id": 9,     # 2 German docs out
        "02_quality": 9,
        "03_exact_dedup": 9,  # no exact copies planted
        "04_near_dup": 8,     # the tail-extended copy out
    }
    urls = {r["url"] for r in spark.read.parquet(str(out)).collect()}
    # the near-dup pair keeps the lexicographically-earlier doc_key
    # (page 0, record index 0) and drops /near (record index 10)
    assert urls == {f"http://example.com/p/{p}" for p in range(8)}

    # stages off: the original 4-key contract is bit-identical
    out2 = tmp_path / "shards2"
    res2 = run_web_corpus(spark, str(d / "a.warc.gz"), str(out2),
                          quality_threshold=0.5, n_shards=2)
    assert res2.stage_counts == {
        "00_conversion_records": 11,
        "01_url_dedup": 11,
        # without the lang stage the short German docs still drop, but
        # at QUALITY (26 tokens, no EN stopwords -> 0.404 < 0.5) — the
        # lang stage exists precisely to attribute that drop correctly
        "02_quality": 9,
        "03_exact_dedup": 9,  # near-dup survives: stage off
    }


def test_web_corpus_first_fetch_wins_across_digit_boundary(spark, tmp_path):
    """r16 ADVICE: doc_key was '<file>:<idx>' with an UNPADDED index,
    so the lexicographic string min picked 'f:10' over 'f:9' — the
    kept representative was not the earliest fetch once a shard held
    >=10 records. The zero-padded key restores min(doc_key) ==
    min((warc_file, record_index)). Twelve fetches of ONE canonical
    URL with DISTINCT bodies: the URL-stage survivor must carry the
    body of the first conversion record (index 1; 0 is warcinfo),
    not of record 10/11."""
    from ais_data_pipeline_spark.plans.web_corpus import run_web_corpus
    from ais_data_pipeline_spark.sources.warc import encode_warc_records

    good = (
        "the cat sat on the mat and it is that for a while. "
        "We think that the story of the house is good, and the "
        "end of the day is near for all of the people in it."
    )
    recs = [dict(
        warc_type="warcinfo", record_id="<urn:uuid:ffff>",
        warc_date="2024-01-01T00:00:00Z", target_uri=None,
        content_type="application/warc-fields", payload=b"software: x",
    )]
    for i in range(12):
        recs.append(dict(
            warc_type="conversion", record_id=f"<urn:uuid:{i:04x}>",
            warc_date="2024-01-01T00:00:00Z",
            target_uri="http://example.com/one",
            content_type="text/plain",
            payload=f"{good} fetch number {i}.".encode(),
        ))
    d = tmp_path / "warc"
    d.mkdir()
    (d / "a.warc.gz").write_bytes(encode_warc_records(recs))
    out = tmp_path / "shards"
    res = run_web_corpus(spark, str(d / "a.warc.gz"), str(out),
                         quality_threshold=0.5, n_shards=2)
    assert res.stage_counts["03_exact_dedup"] == 1
    [row] = spark.read.parquet(str(out)).collect()
    assert row["text"].endswith("fetch number 0."), row["text"]
    assert row["doc_key"].endswith(":000000000001"), row["doc_key"]


def test_web_ingest_replay_idempotent(spark, tmp_path):
    """r17 streaming web ingest: crash-replay safety. Running the same
    batch twice with the same batch_id (the replay-after-partial-
    failure shape — attempt 1 may have written its index slices before
    the checkpoint committed) must return identical counts and leave
    byte-identical survivor/index contents: probes exclude the batch's
    own src_batch= slices, and every write is a dynamic partition
    overwrite. A SECOND batch then dedups against the first across
    url-refetch and body-copy classes."""
    from ais_data_pipeline_spark.sources.warc import encode_warc_records
    from ais_data_pipeline_spark.streaming.web_ingest import (
        OUT_SCHEMA,
        ingest_web_batch,
    )

    def rec(i, uri, text):
        return dict(
            warc_type="conversion", record_id=f"<urn:uuid:{i:04x}>",
            warc_date="2024-01-01T00:00:00Z", target_uri=uri,
            content_type="text/plain", payload=text.encode(),
        )

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "b1.warc.gz").write_bytes(encode_warc_records([
        rec(0, "http://e.com/a", "alpha body one"),
        rec(1, "http://e.com/b", "beta body two"),
        rec(2, "http://e.com/a", "refetch of a"),     # batch url dup
        rec(3, "http://e.com/c", "alpha body one"),   # batch body dup
    ]))
    (landing / "b2.warc.gz").write_bytes(encode_warc_records([
        rec(0, "http://e.com/b", "new body"),         # index url dup
        rec(1, "http://e.com/d", "beta body two"),    # index body dup
        rec(2, "http://e.com/e", "epsilon fresh"),    # survivor
    ]))
    index, out = str(tmp_path / "idx"), str(tmp_path / "out")

    def batch_for(name):
        return (
            spark.read.format("binaryFile")
            .load(str(landing / name))
            .select("path", "content")
        )

    def state():
        kept = {
            (r["doc_key"], r["url"], r["text"], r["src_batch"])
            for r in spark.read.schema(OUT_SCHEMA).parquet(out).collect()
        }
        urls = {
            (r["url"], r["src_batch"])
            for r in spark.read.schema("url string, src_batch bigint")
            .parquet(index + "/urls").collect()
        }
        return kept, urls

    c1 = ingest_web_batch(batch_for("b1.warc.gz"), 0, index, out)
    # (parsed, after_url, after_quality, kept) — no quality gate, so
    # after_quality == after_url (r18 accounting split)
    assert c1 == (4, 3, 3, 2)  # url stage keeps a+b+c; hash drops c
    s1 = state()
    # replay the SAME batch id — attempt 1's slices already on disk
    assert ingest_web_batch(batch_for("b1.warc.gz"), 0, index, out) == c1
    assert state() == s1

    c2 = ingest_web_batch(batch_for("b2.warc.gz"), 1, index, out)
    assert c2 == (3, 2, 2, 1)  # url index drops /b; hash index drops /d
    kept, urls = state()
    assert {k[1] for k in kept} == {"http://e.com/a", "http://e.com/b",
                                    "http://e.com/e"}
    # the url index learned every url seen, including dropped fetches
    assert {u[0] for u in urls} == {"http://e.com/a", "http://e.com/b",
                                    "http://e.com/c", "http://e.com/d",
                                    "http://e.com/e"}


def test_web_ingest_quality_accounting_split(spark, tmp_path):
    """r18: ``rows_after_url`` counts BEFORE the quality gate and
    ``rows_after_quality`` after it — the two drop classes attribute
    separately in the returned accounting (the r17 verdict's
    web_ingest accounting nit), and the quality gate itself is folded
    into the hash projection (no separate materialized stage)."""
    from ais_data_pipeline_spark.sources.warc import encode_warc_records
    from ais_data_pipeline_spark.streaming.web_ingest import ingest_web_batch

    good = (
        "the cat sat on the mat and it is that for a while. "
        "We think that the story of the house is good, and the "
        "end of the day is near for all of the people in it."
    )

    def rec(i, uri, text):
        return dict(
            warc_type="conversion", record_id=f"<urn:uuid:{i:04x}>",
            warc_date="2024-01-01T00:00:00Z", target_uri=uri,
            content_type="text/plain", payload=text.encode(),
        )

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "b.warc.gz").write_bytes(encode_warc_records([
        rec(0, "http://e.com/a", f"{good} page a."),
        rec(1, "http://e.com/a?utm_source=x", f"{good} page a."),  # url dup
        rec(2, "http://e.com/junk", "zz " * 40),                   # quality
        rec(3, "http://e.com/b", f"{good} page a."),               # body dup
    ]))
    batch = (
        spark.read.format("binaryFile")
        .load(str(landing / "b.warc.gz"))
        .select("path", "content")
    )
    index, out = str(tmp_path / "idx"), str(tmp_path / "out")
    counts = ingest_web_batch(
        batch, 0, index, out, quality_threshold=0.5
    )
    # 4 parsed; url dedup keeps a+junk+b (3); quality drops junk (2);
    # exact-body dedup drops b (1 kept)
    assert counts == (4, 3, 2, 1)
    from ais_data_pipeline_spark.streaming.web_ingest import OUT_SCHEMA

    kept = {
        (r["doc_key"], r["url"], r["text"])
        for r in spark.read.schema(OUT_SCHEMA).parquet(out).collect()
    }
    # r18: the probe broadcasts are size-GATED — force the gate shut
    # and the whole batch must take the shuffled keys-only joins with
    # bit-identical results (the batch plan's majority-duplicate
    # non-broadcast pattern, applied to the streaming twin)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64")
    try:
        index2, out2 = str(tmp_path / "idx2"), str(tmp_path / "out2")
        counts2 = ingest_web_batch(
            batch, 0, index2, out2, quality_threshold=0.5
        )
        assert counts2 == counts
        kept2 = {
            (r["doc_key"], r["url"], r["text"])
            for r in spark.read.schema(OUT_SCHEMA).parquet(out2).collect()
        }
        assert kept2 == kept
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_web_ingest_large_batch_regime_equivalent(spark, tmp_path, monkeypatch):
    """Batches at or under ``util.PUSHDOWN_LIMIT`` collect their url
    and hash key sets and probe the indexes through pushed IN-filters
    with literal NOT-IN anti filters; larger batches pin both sets and
    probe through broadcast semi-joins. Force the LARGE regime
    (PUSHDOWN_LIMIT=-1: no batch, not even an empty one, is small) on
    the same batch sequence under the quality gate — counts, the output
    and both index tables must be identical. The batches carry urls
    with a quote and a backslash, a url refetch within and across
    batches, a body copy under a new url within and across batches, a
    quality reject, a record without a target URI (NULL url, filtered)
    and a shard without conversion records (an empty batch)."""
    from ais_data_pipeline_spark.operators import util
    from ais_data_pipeline_spark.sources.warc import encode_warc_records
    from ais_data_pipeline_spark.streaming.web_ingest import (
        HASH_INDEX_SCHEMA,
        OUT_SCHEMA,
        URL_INDEX_SCHEMA,
        ingest_web_batch,
    )

    good = (
        "the cat sat on the mat and it is that for a while. "
        "We think that the story of the house is good, and the "
        "end of the day is near for all of the people in it."
    )

    def rec(i, uri, text, warc_type="conversion"):
        return dict(
            warc_type=warc_type, record_id=f"<urn:uuid:{i:04x}>",
            warc_date="2024-01-01T00:00:00Z", target_uri=uri,
            content_type="text/plain", payload=text.encode(),
        )

    quote, backslash = "http://e.com/it's", "http://e.com/back\\slash"
    shards = [
        [
            rec(0, quote, f"{good} quote page."),
            rec(1, backslash, f"{good} backslash page."),
            rec(2, "http://e.com/a", f"{good} page a."),
            rec(3, "http://e.com/a", f"{good} refetch of a."),  # url dup
            rec(4, "http://e.com/copy", f"{good} page a."),      # body dup
            rec(5, None, f"{good} no target."),                  # NULL url
            rec(6, "http://e.com/junk", "zz " * 40),             # quality
        ],
        [
            rec(0, quote, f"{good} quote page, refetched."),     # index url
            rec(1, backslash, f"{good} new body."),              # index url
            rec(2, "http://e.com/new", f"{good} quote page."),   # index body
            rec(3, "http://e.com/fresh", f"{good} fresh page."),
            rec(4, "http://e.com/junk", f"{good} junk, fixed."), # index url
        ],
        [rec(0, None, "software: x", warc_type="warcinfo")],     # empty
    ]
    landing = tmp_path / "landing"
    landing.mkdir()
    for k, recs in enumerate(shards):
        (landing / f"b{k}.warc.gz").write_bytes(encode_warc_records(recs))

    results = {}
    for tag, lim in (("small", 10_000), ("large", -1)):
        monkeypatch.setattr(util, "PUSHDOWN_LIMIT", lim)
        index, out = str(tmp_path / tag / "idx"), str(tmp_path / tag / "out")
        counts = [
            ingest_web_batch(
                spark.read.format("binaryFile")
                .load(str(landing / f"b{k}.warc.gz"))
                .select("path", "content"),
                k, index, out, quality_threshold=0.5,
            )
            for k in range(len(shards))
        ]
        tables = [
            _sorted_rows(spark.read.schema(schema).parquet(path))
            for schema, path in (
                (OUT_SCHEMA, out),
                (URL_INDEX_SCHEMA, index + "/urls"),
                (HASH_INDEX_SCHEMA, index + "/hashes"),
            )
        ]
        results[tag] = (counts, tables)
    assert results["small"] == results["large"]
    counts, (kept, urls, hashes) = results["small"]
    assert counts == [(6, 5, 4, 3), (5, 2, 2, 1), (0, 0, 0, 0)]
    assert sorted((r[1], r[3]) for r in kept) == [
        ("http://e.com/a", 0), (backslash, 0), ("http://e.com/fresh", 1),
        (quote, 0),
    ]
    assert sorted(urls) == sorted([
        (quote, 0), (backslash, 0), ("http://e.com/a", 0),
        ("http://e.com/copy", 0), ("http://e.com/junk", 0),
        ("http://e.com/new", 1), ("http://e.com/fresh", 1),
    ])
    assert sorted(b for _, b in hashes) == [0, 0, 0, 1]


def test_web_ingest_raw_warc_mode(spark, tmp_path):
    """The streaming ingest's raw-Common-Crawl path: response records
    through the HTTP split + HTML→text chain inside the micro-batch,
    with the non-200/binary/malformed records quarantined before the
    dedup stages — same head as the batch plan's raw mode, proven here
    through ingest_web_batch."""
    from ais_data_pipeline_spark.sources.http_payload import (
        encode_http_response,
    )
    from ais_data_pipeline_spark.sources.warc import encode_warc_records
    from ais_data_pipeline_spark.streaming.web_ingest import (
        OUT_SCHEMA,
        ingest_web_batch,
    )

    def rec(i, uri, payload):
        return dict(
            warc_type="response", record_id=f"<urn:uuid:{i:04x}>",
            warc_date="2024-01-01T00:00:00Z", target_uri=uri,
            content_type="application/http; msgtype=response",
            payload=payload,
        )

    html = [("Content-Type", "text/html; charset=utf-8")]
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "b.warc.gz").write_bytes(encode_warc_records([
        rec(0, "http://e.com/a", encode_http_response(
            200, "OK", html, b"<p>alpha <b>body</b></p>", chunked=True)),
        rec(1, "HTTP://E.COM:80/a?utm_source=x", encode_http_response(
            200, "OK", html, b"<p>refetch</p>")),      # canonical dup of /a
        rec(2, "http://e.com/b", encode_http_response(
            200, "OK", [("Content-Type", "text/plain")], b"beta body",
            content_encoding="gzip")),
        rec(3, "http://e.com/gone", encode_http_response(
            404, "Not Found", html, b"<p>no</p>")),    # pre-stage drop
        rec(4, "http://e.com/bin", encode_http_response(
            200, "OK", [("Content-Type", "image/png")], b"\x89PNG")),
        rec(5, "http://e.com/bad", b"not http"),       # quarantined
    ]))
    batch = (
        spark.read.format("binaryFile")
        .load(str(landing / "b.warc.gz"))
        .select("path", "content")
    )
    index, out = str(tmp_path / "idx"), str(tmp_path / "out")
    counts = ingest_web_batch(batch, 0, index, out, input_format="warc")
    assert counts == (3, 2, 2, 2)  # 3 clean texts in; /a dedup; 2 kept
    rows = {r["url"]: r["text"]
            for r in spark.read.schema(OUT_SCHEMA).parquet(out).collect()}
    assert rows == {
        "http://e.com/a": "alpha body",   # de-chunked + tag-stripped
        "http://e.com/b": "beta body",    # gunzipped passthrough
    }
