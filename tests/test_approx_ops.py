"""Property checks for the approximate / engine-specific operators that
the DuckDB oracle can't hash-match (rows-only entries in the registry):
each approximation is bounded against its exact counterpart."""

from __future__ import annotations

from pyspark.sql import functions as F

from ais_data_pipeline_spark.operators.dedup import (
    embedding_near_dup,
    embedding_near_dup_exact,
)
from ais_data_pipeline_spark.operators.similarity import cosine_topk, cosine_topk_lsh
from ais_data_pipeline_spark.queries import registry
from ais_data_pipeline_spark.sources.parquet import read_table

BY_NAME = {q.name: q for q in registry()}


def test_approx_distinct_within_tolerance(spark, sf_dir):
    e = read_table(spark, sf_dir, "events")
    row = BY_NAME["approx_distinct_events"].fn(spark, sf_dir).first()
    exact_users = e.select("user_id").distinct().count()
    exact_types = e.select("event_type").distinct().count()
    assert row["exact_users"] == exact_users
    assert row["exact_types"] == exact_types
    assert row["users_within_rsd"] and row["types_within_rsd"]


def test_lsh_near_dup_is_subset_of_exact(spark, sf_dir):
    """LSH candidates pass the same exact-cosine filter, so every LSH
    pair must appear in the exact all-pairs result (no false
    positives); recall is reported, not asserted tight, because the
    testdata embeddings are near-random."""
    e = read_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]) for r in embedding_near_dup_exact(e, 0.35).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup(e, threshold=0.35, n_planes=4).collect()
    }
    assert lsh <= exact
    if exact:
        recall = len(lsh) / len(exact)
        assert recall > 0.0  # buckets must produce at least one true pair


def test_lsh_topk_scores_match_exact_cosine(spark, sf_dir):
    """Every LSH top-k hit must carry the same cosine the brute-force
    scorer assigns it (the approximation is WHICH vectors are
    candidates, never the score)."""
    e = read_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    rest = e.filter(F.col("vec_id") != 0)
    exact_scores = {
        r["vec_id"]: r["cos_sim"]
        for r in cosine_topk(rest, qv, k=10**6, round_digits=4).collect()
    }
    lsh_rows = cosine_topk_lsh(rest, qv, k=10, n_planes=8, multiprobe_bits=1).collect()
    assert 0 < len(lsh_rows) <= 10
    for r in lsh_rows:
        assert exact_scores[r["vec_id"]] == r["cos_sim"]


def test_salted_agg_equals_plain(spark, sf_dir):
    from ais_data_pipeline_spark.operators.aggregates import salted_grouped

    e = read_table(spark, sf_dir, "events").withColumn(
        "__val", F.col("value").cast("decimal(18,4)")
    )
    salted = {
        r["event_type"]: (r["n"], r["total_value"])
        for r in salted_grouped(
            e, ["event_type"], {"__val": "total_value"}, buckets=8
        ).collect()
    }
    plain = {
        r["event_type"]: (r["n"], r["total_value"])
        for r in e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__val").alias("total_value"))
        .collect()
    }
    assert salted == plain


def test_range_join_equals_naive(spark, sf_dir):
    """The bucketed interval join must produce exactly the naive
    time-condition join's pairs."""
    from ais_data_pipeline_spark.operators.joins import range_self_join_within

    e = read_table(spark, sf_dir, "events")
    bucketed = {
        (r["user_id"], r["first_id"], r["next_id"])
        for r in range_self_join_within(e, "user_id", "ts", 300, "event_id").collect()
    }
    a = e.select(
        F.col("user_id"), F.col("event_id").alias("first_id"), F.col("ts").alias("lt")
    )
    b = e.select(
        F.col("user_id"), F.col("event_id").alias("next_id"), F.col("ts").alias("rt")
    )
    naive = {
        (r["user_id"], r["first_id"], r["next_id"])
        for r in a.join(b, "user_id")
        .filter(
            (F.col("rt") > F.col("lt"))
            & (F.col("rt") <= F.col("lt") + F.expr("INTERVAL 300 SECONDS"))
        )
        .collect()
    }
    assert bucketed == naive


def test_stateful_totals_match_batch(spark, sf_dir):
    """The stateful operator's final per-key snapshot must equal the
    batch aggregate: counts exactly, double totals within float
    tolerance (pandas accumulates in batch order)."""
    e = read_table(spark, sf_dir, "events")
    batch = {
        r["user_id"]: (r["n"], r["total"])
        for r in e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    out = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in BY_NAME["streaming_stateful_totals"].fn(spark, sf_dir).collect()
    }
    assert set(out) == set(batch)
    for uid, (n, total) in out.items():
        bn, btotal = batch[uid]
        assert n == bn, uid
        assert abs(total - btotal) <= 1e-6 * max(abs(btotal), 1.0), uid


def test_minhash_verify_broadcast_fallback(spark, sf_dir, capfd):
    """The verify pre-filter's broadcast-size guard (round-8 advice):
    when the candidate id-set bound exceeds max_broadcast_candidates,
    the operator must warn loudly and fall back to a shuffle semi-join
    with IDENTICAL results — graceful degradation on a degenerate
    corpus instead of a driver-broadcast OOM."""
    from ais_data_pipeline_spark.operators.dedup import minhash_near_dup

    d = read_table(spark, sf_dir, "documents").filter("doc_id < 200")
    normal = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_near_dup(d, threshold=0.3).collect()
    }
    assert normal, "fixture should contain near-dup pairs"
    capfd.readouterr()
    fallback_df = minhash_near_dup(d, threshold=0.3, max_broadcast_candidates=0)
    assert "minhash_verify_fallback_shuffle_semi" in capfd.readouterr().err
    fallback = {
        (r["doc_a"], r["doc_b"], r["jaccard"]) for r in fallback_df.collect()
    }
    assert fallback == normal


def test_minhash_broadcast_proxy_refinement(spark, capfd):
    """Round-10 verdict item 6, the other guard branch: the cheap
    2x-pairs proxy over-counts QUADRATICALLY on a clustered candidate
    set (one m-doc boilerplate cluster = ~m^2/2 pairs but only m ids),
    so when the proxy trips, the guard must spend one exact
    distinct-count before surrendering the broadcast. A degenerate
    16-doc cluster (240 ordered pairs -> 120 candidate pairs, 16 ids)
    with the budget between the two numbers must KEEP the broadcast
    (no fallback warning), with results identical to the unguarded
    run. Docs too short to shingle score NULL under ANSI mode."""
    from ais_data_pipeline_spark.localrel import local_df
    from ais_data_pipeline_spark.operators.dedup import minhash_near_dup

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, base * 3 + f"tail{i}") for i in range(16)]
    d = local_df(spark, rows, "doc_id bigint, text string")

    normal = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_near_dup(d, threshold=0.5).collect()
    }
    # every pair of the cluster is a candidate: 16*15/2 = 120 pairs
    assert len(normal) == 120

    # budget 60: proxy bound 2*120 = 240 > 60 trips, exact id count
    # 16 <= 60 keeps the broadcast — no fallback, identical results
    capfd.readouterr()
    refined = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_near_dup(
            d, threshold=0.5, max_broadcast_candidates=60
        ).collect()
    }
    assert "minhash_verify_fallback_shuffle_semi" not in capfd.readouterr().err
    assert refined == normal

    # budget 10: exact count 16 > 10 is a TRUE overflow — shuffle
    # semi-join + the loud warning, still identical results
    capfd.readouterr()
    overflowed_df = minhash_near_dup(
        d, threshold=0.5, max_broadcast_candidates=10
    )
    err = capfd.readouterr().err
    assert "minhash_verify_fallback_shuffle_semi" in err
    assert '"n_candidate_ids": 16' in err  # the EXACT count, not 2x pairs
    assert {
        (r["doc_a"], r["doc_b"], r["jaccard"]) for r in overflowed_df.collect()
    } == normal

    # ANSI mode: two docs too short to shingle share every bucket and
    # have an empty union; their Jaccard is NULL (no pair), not a
    # DIVIDE_BY_ZERO that fails the whole query
    short = local_df(
        spark,
        [(0, "hi there"), (1, "short one"), (2, "alpha beta gamma delta")],
        "doc_id bigint, text string",
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = minhash_near_dup(short, threshold=0.5).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert got == []


def test_near_dup_clusters_match_union_find(spark, sf_dir):
    """Distributed min-label propagation must produce exactly the
    components a driver-side union-find finds on the same edges."""
    from ais_data_pipeline_spark.operators.dedup import (
        minhash_near_dup,
        near_dup_clusters,
    )

    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup(d, threshold=0.3)
    edges = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    assert edges, "fixture should contain near-dup pairs"

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {x: find(x) for x in parent}

    got = {
        r["id"]: r["cluster_id"]
        for r in near_dup_clusters(pairs).collect()
    }
    assert got == expected


def test_approx_quantiles_within_rank_error(spark, sf_dir):
    """percentile_approx must land within a loose value band around the
    exact interpolated percentiles (the query emits the quantile array
    as JSON text per the no-bare-array rule)."""
    import json

    li = read_table(spark, sf_dir, "lineitem")
    approx = {
        r["l_returnflag"]: json.loads(r["price_quantiles"])
        for r in BY_NAME["approx_quantiles"].fn(spark, sf_dir).collect()
    }
    exact = {
        r["l_returnflag"]: (r["p50"], r["p95"], r["p99"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
            F.percentile("l_extendedprice", F.lit(0.95)).alias("p95"),
            F.percentile("l_extendedprice", F.lit(0.99)).alias("p99"),
        )
        .collect()
    }
    for flag, (p50, p95, p99) in exact.items():
        a50, a95, a99 = approx[flag]
        assert abs(a50 - p50) <= 0.02 * p50
        assert abs(a95 - p95) <= 0.02 * p95
        assert abs(a99 - p99) <= 0.02 * p99


def test_cms_overestimates_and_merges(spark, sf_dir):
    """CMS invariants: every estimate >= the true count, and the
    sketch of a union equals the cellwise sum of per-part sketches."""
    import os

    from pyspark.sql import functions as F

    from ais_data_pipeline_spark.operators.sketches import cms_build, cms_estimate

    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        F.col("o_custkey").alias("k")
    )
    cms = cms_build(o, "k", d=4, w=64)
    truth = o.groupBy("k").agg(F.count(F.lit(1)).alias("t"))
    est = cms_estimate(cms, truth.select("k"), "k", d=4, w=64)
    joined = truth.join(est, "k").collect()
    assert len(joined) > 0
    assert all(r["est_cnt"] >= r["t"] for r in joined)

    h1 = cms_build(o.filter(F.col("k") % 2 == 0), "k", d=4, w=64)
    h2 = cms_build(o.filter(F.col("k") % 2 != 0), "k", d=4, w=64)
    merged = (
        h1.unionAll(h2)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = {(r["row"], r["bucket"]): r["cnt"] for r in cms.collect()}
    got = {(r["row"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert full == got


def test_similarity_null_zero_and_empty_hardening(spark, tmp_path):
    """Round-10 review bundle over the similarity tier: NULL / zero-
    norm / empty inputs must degrade (excluded, ranked last, empty
    result, clear error) rather than crash or silently corrupt an
    index. Each case below reproduced a verified failure before the
    fix."""
    from pyspark.sql import functions as F  # noqa: F401

    from ais_data_pipeline_spark.operators.dedup import embedding_near_dup_exact
    from ais_data_pipeline_spark.operators.similarity import (
        build_ann_index,
        build_ivf_index,
        cosine_topk,
        cosine_topk_indexed,
        ivf_probe_topk,
        kmeans_lloyd,
        mmr_topk,
        cosine_topk_pandas,
        pairwise_topk_per_vector,
        pq_train_codebooks,
        semdedup_clusters,
    )
    from ais_data_pipeline_spark.streaming.incremental_dedup import (
        build_embedding_dedup_index,
        dedup_embedding_batch_against_index,
    )

    S = "vec_id bigint, embedding array<double>"
    base = str(tmp_path)

    # a NULL head row used to read size(NULL) = -1 and build an index
    # whose every bucket was 0 (silently unsearchable); now the NULL
    # row is excluded and the exact match comes back first
    df = spark.createDataFrame([(0, None), (1, [1.0, 2.0]), (2, [1.0, 1.9])], S)
    build_ann_index(df, base + "/ann", n_planes=4)
    got = cosine_topk_indexed(spark, base + "/ann", [1.0, 2.0], k=1, n_planes=4)
    assert [r["vec_id"] for r in got.collect()] == [1]
    # empty corpus: readable empty index, empty probe result
    build_ann_index(spark.createDataFrame([], S), base + "/ann_e", n_planes=4)
    assert (
        cosine_topk_indexed(spark, base + "/ann_e", [1.0, 2.0], k=2, n_planes=4).count()
        == 0
    )

    # zero-norm vectors must not land in the unreachable NULL
    # partition (cosine sims all NULL), and a zero centroid must not
    # ZeroDivisionError every probe
    z = spark.createDataFrame([(0, [0.0, 0.0]), (1, [1.0, 2.0]), (2, [2.0, 1.0])], S)
    build_ivf_index(z, base + "/ivf0", n_centroids=2)
    lists = {r["list_id"] for r in spark.read.parquet(base + "/ivf0").collect()}
    assert None not in lists
    probed = ivf_probe_topk(spark, base + "/ivf0", [1.0, 1.0], k=3, nprobe=2)
    assert {r["vec_id"] for r in probed.collect()} >= {1, 2}
    # ...and kmeans training survives the zero vector too
    assert kmeans_lloyd(z, k=2, iters=1).count() == 2

    # empty inputs: empty k-NN result / clear training error
    assert pairwise_topk_per_vector(
        spark.createDataFrame([], S), n_planes=4
    ).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty"):
        pq_train_codebooks(spark.createDataFrame([], S), m=2, k=2)

    # the pandas scorer honors the documented cosine_topk contract on
    # NULL vectors (NaN -> NULL, ranked last) instead of a ragged
    # vstack crash
    dfn = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.5, 0.5]), (4, None)], S)
    jvm_rows = [
        (r["vec_id"], r["cos_sim"]) for r in cosine_topk(dfn, [1.0, 0.0], k=3).collect()
    ]
    pd_rows = [
        (r["vec_id"], r["cos_sim"])
        for r in cosine_topk_pandas(dfn, [1.0, 0.0], k=3).collect()
    ]
    assert jvm_rows == pd_rows

    # MMR returns the valid picks when k exceeds the nonzero-norm pool
    dm = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.8, 0.2]), (2, [0.0, 0.0])], S
    )
    assert [
        r["vec_id"] for r in mmr_topk(dm, [1.0, 0.0], k=3, pool=10).collect()
    ] == [0, 1]

    # ANSI mode: every cosine against the zero vector (or the zero
    # centroid it trains) is NULL, not a DIVIDE_BY_ZERO that fails the
    # query, so each operator returns what it returns without ANSI
    def zero_vector_results(tag):
        ivf, emb = f"{base}/ivf_{tag}", f"{base}/emb_{tag}"
        build_ivf_index(z, ivf, n_centroids=2)
        build_embedding_dedup_index(z, emb, n_planes=4)
        z3 = spark.createDataFrame([(3, [0.0, 0.0])], S)
        probed = ivf_probe_topk(spark, ivf, [1.0, 1.0], k=3, nprobe=2)
        return (
            sorted(spark.read.parquet(ivf).select("vec_id", "list_id").collect()),
            sorted(r["vec_id"] for r in probed.collect()),
            kmeans_lloyd(z, k=2, iters=1).collect(),
            [r["vec_id"] for r in mmr_topk(dm, [1.0, 0.0], k=3, pool=10).collect()],
            sorted(pairwise_topk_per_vector(z.union(z3), n_planes=4).collect()),
            sorted(semdedup_clusters(z, k=2).collect()),
            sorted(embedding_near_dup_exact(z, 0.5).collect()),
            sorted(dedup_embedding_batch_against_index(z3, emb).collect()),
        )

    plain = zero_vector_results("plain")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        strict = zero_vector_results("ansi")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert strict == plain


def test_ivf_index_protocol_hardening(spark, tmp_path):
    """Round-10 review: (a) replaying a foreachBatch append AFTER a
    compaction folded that batch into history must be a no-op, not a
    duplication (the compactor records a watermark); (b) an
    interrupted rebuild that leaves the main table and the _centroids
    sidecar from different builds must fail probes LOUDLY (build
    tokens) instead of silently mis-routing; (c) multiprobe_bits >= 3
    really probes 3-bit flips (the old form silently capped at 2)."""
    from ais_data_pipeline_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_probe_topk,
        probe_buckets,
        random_hyperplanes,
    )

    S = "vec_id bigint, embedding array<double>"
    base = str(tmp_path)
    p = base + "/ivf"
    hist = spark.createDataFrame([(i, [float(i), 1.0]) for i in range(4)], S)
    build_ivf_index(hist, p, n_centroids=2)
    b7 = spark.createDataFrame([(10, [1.0, 1.0]), (11, [2.0, 1.0])], S)
    append_to_ivf_index(b7, p, 7)
    assert compact_ivf_index(spark, p) == 6
    # r14: the compacted index lives under the published generation
    # root (the flat layout was GC'd) — readers resolve the pointer
    from ais_data_pipeline_spark import fsutil

    root = fsutil.current_root(p)
    assert root != p  # migration actually happened
    append_to_ivf_index(b7, p, 7)  # crash-recovery replay
    assert spark.read.parquet(root).count() == 6, "replay duplicated compacted rows"
    # a genuinely new batch still appends
    append_to_ivf_index(
        spark.createDataFrame([(12, [3.0, 1.0])], S), p, 8
    )
    assert spark.read.parquet(root).count() == 7

    # (b) mismatched build tokens -> loud ValueError (the token lives
    # WITH its generation, where the probe reads it)
    import pytest as _pytest

    with open(root + "/_ais_build_id", "w") as f:
        f.write("not-the-sidecar-build")
    with _pytest.raises(ValueError, match="different"):
        ivf_probe_topk(spark, p, [1.0, 1.0])

    # (c) general multiprobe enumeration: C(4,0..r) buckets
    pl = random_hyperplanes(8, 4, 42)
    q = [1.0] * 8
    assert len(probe_buckets(q, pl, 2)) == 11
    assert len(probe_buckets(q, pl, 3)) == 15
    assert len(probe_buckets(q, pl, 4)) == 16
    # supersets: raising bits only ever ADDS probes
    assert set(probe_buckets(q, pl, 2)) < set(probe_buckets(q, pl, 3))


def test_sketch_and_graph_edge_hardening(spark):
    """Round-10 review bundle over sketches/graph: empty CMS cells
    count as 0 (not dropped from the min), NULL values stay out of
    histograms and HLL registers, the quantile threshold cannot wrap
    BIGINT, empty inputs return empty/defined results, self-loops and
    duplicate edges cannot manufacture triangles, and self-pair-only
    nodes stay in the CC output as singletons."""
    from pyspark.sql import functions as F

    from ais_data_pipeline_spark.localrel import local_df
    from ais_data_pipeline_spark.operators.graph import (
        star_connected_components,
        triangle_counts,
    )
    from ais_data_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        hll_estimate,
        hll_registers,
        histogram_quantiles,
        histogram_sketch,
    )

    # CMS: unseen candidates estimate 0 (present in the output), and
    # a partial bucket collision cannot inflate past the empty-cell 0
    items = local_df(spark, [(i, "A") for i in range(7)], "i bigint, item string")
    cms = cms_build(items, "item")
    cands = local_df(spark, [(1, "A"), (2, "unseen_x")], "i bigint, item string")
    est = {
        r["item"]: r["est_cnt"]
        for r in cms_estimate(cms, cands, "item").collect()
    }
    assert est["A"] >= 7 and est["unseen_x"] == 0

    # histogram: NULL/NaN values are excluded, quantiles track the
    # real values; huge counts cannot wrap the rank threshold
    vals = local_df(
        spark,
        [(50.0,), (60.0,), (None,), (None,), (float("nan"),)],
        "v double",
    )
    h = histogram_sketch(vals, "v", lo=0.0, hi=100.0, n_bins=10)
    assert h.agg(F.sum("cnt")).first()[0] == 2
    q = histogram_quantiles(h, [0.5], 0.0, 100.0, 10).first()["q_est"]
    assert q == 60.0
    big = local_df(
        spark, [(1, 2 * 10**13), (9, 2 * 10**13)], "bin bigint, cnt bigint"
    )
    q9 = histogram_quantiles(big, [0.9], 0.0, 100.0, 10).first()["q_est"]
    assert q9 == 100.0, "BIGINT wrap collapsed the quantile to the first bin"
    # empty quantile list: an empty frame, not None
    assert histogram_quantiles(h, [], 0.0, 100.0, 10).count() == 0

    # HLL: NULL items are not distinct values; empty global estimate
    # is a number (the raw all-empty contract), not NULL
    vals20 = local_df(spark, [(f"u{i}",) for i in range(20)], "item string")
    with_nulls = vals20.union(
        local_df(spark, [(None,)] * 5, "item string")
    )
    est_clean = hll_estimate(hll_registers(vals20, "item"), []).first()["hll_est"]
    est_nulls = hll_estimate(hll_registers(with_nulls, "item"), []).first()["hll_est"]
    assert est_clean == est_nulls
    empty_est = hll_estimate(
        hll_registers(vals20.limit(0), "item"), []
    ).first()["hll_est"]
    assert empty_est is not None

    # triangles: self-loops and duplicate edges manufacture nothing
    loops = local_df(
        spark, [(1, 1), (1, 2), (2, 3), (2, 4), (2, 5)], "src bigint, dst bigint"
    )
    assert triangle_counts(loops).count() == 0
    dups = local_df(
        spark, [(1, 2), (1, 2), (2, 3), (1, 3)], "src bigint, dst bigint"
    )
    assert {
        r["n_triangles"] for r in triangle_counts(dups).collect()
    } == {1}

    # star CC: a self-pair-only id is a singleton cluster, not a loss
    sp = star_connected_components(
        local_df(spark, [(7, 7), (1, 2)], "doc_a bigint, doc_b bigint")
    )
    got = {r["id"]: r["cluster_id"] for r in sp.collect()}
    assert got == {7: 7, 1: 1, 2: 1}
