"""Deduplication operators for training-data pipelines (engine
extension layer; the reference has none — north star requirement).

Tiers, cheapest first:

- ``exact_dedup`` — content-hash groupBy. Map-side md5, shuffle only
  (hash, id) pairs; the canonical survivor is min(id). At 100 TB the
  full text never shuffles.
- ``ngram_jaccard_pairs`` — exact near-dup pairs via shingle explode +
  self-equi-join on shingle + group-by-pair Jaccard. The join key is
  the shingle, so only docs SHARING a shingle ever pair up (no cross
  product); a document-frequency cap drops stop-shingles that would
  otherwise explode the join (classic skew control).
- ``minhash_lsh_candidates`` / ``minhash_near_dup`` — MinHash
  signatures (xxhash64 with per-permutation seeds, JVM-side) banded
  into LSH buckets; candidate pairs share ≥1 band bucket; optional
  exact-Jaccard re-rank confirms. Shuffle volume ∝ #bands × #docs,
  independent of pair count.
- ``simhash`` — 64-bit weighted-bit-vote fingerprint; near-dups have
  small Hamming distance. One pass, no join; pairs found by banding
  the fingerprint into 4 × 16-bit blocks (Hamming ≤ 3 ⇒ some block
  equal, pigeonhole).
- ``embedding_near_dup`` — cosine-threshold pairs on an embedding
  column via LSH bucketing (operators.similarity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


from ais_data_pipeline_spark.operators.util import spread_to_parallelism as _spread
from ais_data_pipeline_spark.checkpointing import materialize


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """One row per distinct content hash with survivor id + copy count."""
    keeper = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), keeper.alias("keep_doc_id"))
    )


def tokens_lower(text_col: Column) -> Column:
    """Lower-cased whitespace token array (the shingle input)."""
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def shingle_hashes_from_tokens(
    tokens_col: Column, n: int = 3, distinct: bool = True
) -> Column:
    """Distinct word n-gram shingles as 64-bit hashes (array<long>)
    from a MATERIALIZED token-array column.

    Two design rules from profiling 250k docs:
    - no shingle string is ever built — each shingle is
      xxhash64(token_i..token_{i+n-1}) and all downstream work
      (distinct/join/min-hash) runs on longs;
    - ``tokens_col`` must be a plain column reference, not the split
      expression: expressions referenced inside a higher-order-function
      lambda are re-evaluated PER ELEMENT, so an inlined split makes
      shingling O(tokens²) per document.
    Shingle identity is preserved up to 64-bit collisions (~2^-64 per
    in-doc pair — negligible).
    """
    from ais_data_pipeline_spark.functions.numeric import index_sequence

    idx = index_sequence(F.size(tokens_col) - F.lit(n - 1))
    gram = lambda i: F.xxhash64(  # noqa: E731
        *[F.element_at(tokens_col, i + j) for j in range(n)]
    )
    arr = F.transform(idx, gram)
    # distinct=False for duplicate-invariant consumers (the minhash
    # min-aggregate): array_distinct was ~45% of the shingle
    # projection in the r14 curation profile, and min over the
    # multiset equals min over the set — bit-identical signatures.
    # Jaccard/set consumers (verify join, ngram pairs) keep the
    # distinct set.
    return F.array_distinct(arr) if distinct else arr


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.3,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
    round_digits: int | None = 5,
) -> DataFrame:
    """Exact Jaccard-similar pairs (a < b) over word n-gram shingles.

    intersection(a,b) = #shared shingles (via the shingle equi-join);
    union = |A| + |B| − intersection. ``max_shingle_df`` drops shingles
    appearing in more than that many docs before the join — the skew
    guard that keeps the self-join linear-ish at scale.
    """
    df = _spread(df)
    # Shingles are 64-bit hashes end-to-end (shingle_hashes_from_tokens):
    # no shingle strings are built, the self-join shuffles 8-byte keys,
    # and long equality beats string equality in the hash join.
    # Collisions would need two distinct shingles with equal xxhash64
    # inside one doc pair — ~2^-64 per pair, negligible vs data noise.
    toked = df.select(
        F.col(id_col).alias("doc"), tokens_lower(F.col(text_col)).alias("__tok")
    )
    sh = toked.select(
        "doc", F.explode(shingle_hashes_from_tokens(F.col("__tok"), n)).alias("shingle")
    )
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))

    # self-ALIAS join (not two re-projected copies): both sides share
    # one plan subtree, so the shingle shuffle is computed once and
    # reused for the other side instead of re-scanning + re-shingling
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    jac = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    out = jac.select(
        "doc_a",
        "doc_b",
        (F.round("jaccard", round_digits) if round_digits else F.col("jaccard")).alias(
            "jaccard"
        ),
    )
    return out


# -- MinHash / LSH ----------------------------------------------------------


def minhash_signature(
    shingles_col: Column, n_hashes: int = 32, seed: int = 42
) -> Column:
    """Array of n_hashes minimum xxhash64 values over the shingle set.

    One JVM expression per permutation (xxhash64 with a distinct seed
    column mixed in) — the signature computes map-side in a single
    projection; no UDF, no shuffle. NOTE: higher-order-function
    lambdas evaluate INTERPRETED (not codegen), so this form costs
    ~17 µs/doc at 200 shingles — fine for tests and one-off columns;
    the hot path (``minhash_band_rows``) computes the identical
    values through a codegen'd explode + min-aggregate instead
    (round-14 curation profile, SCALING.md).
    """
    # NB: closure factory, not `lambda s, i=i:` — PySpark interprets a
    # two-parameter lambda as (element, index) and would override the
    # default, collapsing every permutation to the same hash.
    def perm_hash(i: int):
        return lambda s: F.xxhash64(s, F.lit(seed + i))

    mins = [
        F.array_min(F.transform(shingles_col, perm_hash(i))) for i in range(n_hashes)
    ]
    return F.array(*mins)


def minhash_band_rows_from_shingles(
    shingles_df: DataFrame,
    n_hashes: int = 32,
    bands: int = 16,
    seed: int = 42,
    doc_col: str = "doc",
    shingles_col: str = "shingles",
) -> DataFrame:
    """(doc, band, bucket) band rows from an ALREADY-SHINGLED frame —
    the back half of ``minhash_band_rows`` for callers that hold a
    materialized (doc, shingle-hash array) table (the incremental-dedup
    feature store). Skips the re-scan + re-tokenize + re-shingle pass
    the text-input form pays (r18). Bit-identical signatures: the
    min-aggregate is duplicate-invariant, so mins over the stored
    DISTINCT shingle set equal mins over the raw multiset, and empty
    arrays keep the NULL-signature semantics via explode_outer."""
    ex = shingles_df.select(
        F.col(doc_col).alias("doc"), F.explode_outer(shingles_col).alias("__s")
    )
    return _band_rows_from_exploded(ex, n_hashes, bands, seed)


def minhash_band_structs_sql(
    shingles_sql: str, n_hashes: int, bands: int, seed: int
) -> str:
    """SQL text for the PER-ROW band array of one shingle-hash array
    column: ``array(struct(b AS band, xxhash64(m_{b·r}, …) AS bucket),
    …)`` with ``m_i = array_min(transform(<shingles>, s -> CASE WHEN s
    IS NOT NULL THEN xxhash64(s, seed+i) END))``.

    Value-identical to ``_band_rows_from_exploded``'s explode+groupBy
    form: ``array_min`` skips NULL elements exactly like ``min`` skips
    the NULL ``CASE`` branch over ``explode_outer`` rows, an empty or
    NULL shingle array yields NULL mins either way, and the per-band
    ``xxhash64`` runs over the same BIGINT mins. The point (r19) is
    job shape, not values: a micro-batch path that stores this array
    in its one pinned frame derives band rows as a NARROW explode per
    consumer — no second materialize job and no signature shuffle per
    batch. Corpus-scale passes should keep the codegen'd
    explode+groupBy form (HOF lambdas evaluate interpreted; the r14
    curation profile picked the aggregate form for the hot path)."""
    r = n_hashes // bands
    mins = [
        (
            f"array_min(transform({shingles_sql}, "
            f"s -> CASE WHEN s IS NOT NULL THEN xxhash64(s, {seed + i}) END))"
        )
        for i in range(n_hashes)
    ]
    structs = ", ".join(
        "struct({b} AS band, xxhash64({cols}) AS bucket)".format(
            b=b, cols=", ".join(mins[b * r + j] for j in range(r))
        )
        for b in range(bands)
    )
    return f"array({structs})"


def _band_rows_from_exploded(
    ex: DataFrame, n_hashes: int, bands: int, seed: int
) -> DataFrame:
    """(doc, band, bucket) from an exploded (doc, shingle-hash) frame —
    the shared signature+banding tail of both band-row builders. The
    32 min-aggregates and the band-struct array build as SQL strings
    (r18): the Column form cost ~6 py4j round-trips per permutation on
    every call; the parsed trees are the identical CaseWhen/XxHash64/
    Min and CreateArray/CreateNamedStruct operators, so signatures and
    buckets are bit-identical."""
    r = n_hashes // bands
    sig = ex.groupBy("doc").agg(
        *[
            F.expr(
                f"min(CASE WHEN `__s` IS NOT NULL "
                f"THEN xxhash64(`__s`, {seed + i}) END)"
            ).alias(f"__m{i}")
            for i in range(n_hashes)
        ]
    )
    band_structs = ", ".join(
        "struct({b} AS band, xxhash64({cols}) AS bucket)".format(
            b=b, cols=", ".join(f"`__m{b * r + j}`" for j in range(r))
        )
        for b in range(bands)
    )
    return sig.select(
        "doc", F.expr(f"explode(array({band_structs}))").alias("bb")
    ).select("doc", "bb.band", "bb.bucket")


def minhash_band_rows(
    df: DataFrame,
    n_hashes: int = 32,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(doc, band, bucket) LSH band rows — the shared front half of
    batch candidate generation AND the persisted bucket table an
    incremental pipeline probes (streaming.incremental_dedup).

    The signature mins compute through a codegen'd shingle EXPLODE +
    32 min-aggregates, not the higher-order-function array form
    (round-14 curation profile): HOF lambdas evaluate interpreted,
    per element PER PERMUTATION, and the signature projection alone
    was ~57% of the 3M-doc near-dup stage (~13 s of 23 s at 750k
    docs). explode + xxhash64 + hash-agg min are all whole-stage
    codegen; the values are BIT-IDENTICAL (same min over
    xxhash64(shingle, seed+i)), so candidate sets, the persisted
    incremental index, and every oracle are unchanged. Cost shape at
    scale: the groupBy(doc) exchange moves one (8 + 8*n_hashes)-byte
    row per doc — same order as the band-row shuffle this operator
    already feeds, and each doc's shingles sit in one partition so
    map-side partial aggregation finishes the min before the
    exchange. Empty shingle arrays (docs under ``shingle_n`` tokens)
    keep the legacy NULL-signature semantics via explode_outer + a
    null-guarded min.

    PRECONDITION: ``id_col`` must be unique per row. The groupBy(doc)
    collapses duplicate ids into ONE signature row whose mins are
    taken over the UNION of those rows' shingles (the pre-r14 HOF
    form emitted one row per input row instead) — with duplicate ids
    the output is well-defined but is the union-doc's signature, not
    any single row's. Every caller in this repo feeds a keyed table
    (doc_id primary key); pre-aggregate or uniquify first if yours
    does not (r16, closing the r14 ADVICE #4 contract note)."""
    toked = _spread(df).select(
        F.col(id_col).alias("doc"), tokens_lower(F.col(text_col)).alias("__tok")
    )
    shingled = toked.select(
        "doc",
        shingle_hashes_from_tokens(
            F.col("__tok"), shingle_n, distinct=False
        ).alias("__sh"),
    )
    ex = shingled.select("doc", F.explode_outer("__sh").alias("__s"))
    # the null guard in _band_rows_from_exploded keeps empty-shingle
    # docs at sig=NULL (the HOF form's array_min over an empty array),
    # NOT xxhash64-of-nothing
    return _band_rows_from_exploded(ex, n_hashes, bands, seed)


def minhash_lsh_candidates(
    df: DataFrame,
    n_hashes: int = 32,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 LSH band bucket.

    rows-per-band r = n_hashes // bands; P(candidate | jaccard j) =
    1 − (1 − j^r)^bands. Pairs emerge from a groupBy on
    (band_index, band_hash) — shuffle is #docs × #bands small rows.

    ``max_bucket_size`` is the quadratic-blowup guard: a bucket of m
    docs yields m² candidate pairs, so one boilerplate/exact-dup
    cluster dominates the whole job (scaling probe: a 2% identical-doc
    cluster made the pair join 4× superlinear). Buckets above the cap
    are dropped — run ``exact_dedup`` FIRST so identical docs never
    reach the LSH stage, then the cap only skips degenerate
    boilerplate clusters.
    """
    # Band rows materialize tokens, then the shingle-hash array, BEFORE
    # the signature: each of the n_hashes permutations references the
    # shingle column, and inlining the shingling tree n_hashes times
    # blows the generated code past the JIT/codegen limits into
    # interpreted evaluation (observed 100× slowdown at sf0.1).
    band_rows = minhash_band_rows(
        df, n_hashes, bands, text_col, id_col, shingle_n, seed
    )
    if max_bucket_size is not None:
        hot = (
            band_rows.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("m"))
            .filter(F.col("m") > max_bucket_size)
            .select("band", "bucket")
        )
        band_rows = band_rows.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    # self-alias join: one shared subtree → the band-row shuffle is
    # computed once and reused for both sides
    a, b = band_rows.alias("a"), band_rows.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def minhash_near_dup(
    df: DataFrame,
    threshold: float = 0.5,
    n_hashes: int = 32,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    seed: int = 42,
    round_digits: int = 5,
    max_bucket_size: int | None = None,
    max_broadcast_candidates: int = 5_000_000,
) -> DataFrame:
    """LSH candidates re-ranked by EXACT Jaccard ≥ threshold.

    Output is exact-verified (false positives filtered), so with
    recall≈1 banding parameters the result equals the brute-force
    ngram_jaccard_pairs — which is this operator's oracle — while the
    candidate join replaces the all-pairs shuffle join at scale.
    ``max_bucket_size`` passes through to the candidate stage (the
    quadratic-blowup guard); run ``exact_dedup`` first so only
    degenerate boilerplate clusters ever hit the cap.
    """
    cands = minhash_lsh_candidates(
        df, n_hashes, bands, text_col, id_col, shingle_n, seed,
        max_bucket_size=max_bucket_size,
    )
    # _spread: the re-rank side shingles on narrow scans too (same
    # single-split bottleneck as the candidate side); hashed shingles
    # so array_intersect runs on longs
    # Verify-side pre-filter (round-8 shuffle audit): unfiltered, BOTH
    # verify sides re-scan the corpus, re-shuffle the raw text through
    # the _spread repartition, re-shingle every doc, and carry
    # text-sized shingle arrays into the join — measured 8.95 MiB of
    # array shuffle at sf0.1 (~1.8 KiB/doc) and the dominant cost of
    # the 3M-doc near-dup stage. Semi-joining the NARROW (id, text)
    # scan against the broadcast candidate id-set BEFORE the spread
    # repartition and the shingle projection makes the whole verify
    # side O(candidate docs): only candidates' text shuffles, only
    # candidates shingle. The id-set is percent-level of the corpus by
    # construction (run exact_dedup first; max_bucket_size caps
    # degenerate buckets), so the broadcast is bounded where the
    # text shuffle is not.
    #
    # cands is consumed twice (id broadcast + verify join). It MUST be
    # materialized: the broadcast subtree executes as its own job, and
    # shuffle-stage reuse does not span that boundary — measured at 3M
    # docs, the lazy variant re-ran the banded candidate join (+48 s).
    # The checkpoint is small (candidate PAIRS, percent-level).
    from ais_data_pipeline_spark.checkpointing import materialize

    cands = materialize(cands)
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc"))
        .union(cands.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    narrow = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__txt"))
    # The percent-level-size assumption behind the broadcast is not
    # enforced by construction — a degenerate corpus (no exact_dedup
    # pass, no max_bucket_size) could push the id-set past driver/
    # broadcast limits. Detect instead of OOM: count the materialized
    # pairs (cheap — no shuffle on a checkpointed frame; ids <= 2x
    # pairs) and fall back to a shuffle semi-join with a loud warning
    # when the bound exceeds the broadcast budget. The fallback
    # shuffles the corpus ids+text once (the pre-round-8 cost) but
    # degrades gracefully instead of failing the job.
    from ais_data_pipeline_spark.observability import log as _log

    # fast pass: 2*pairs bounds the id count with no extra job (the
    # pair count on a checkpointed frame is free); the proxy
    # over-counts quadratically for CLUSTERED candidates, so when it
    # trips, spend one exact distinct-count on the small id frame
    # before surrendering the broadcast — a single 2,300-doc
    # boilerplate cluster yields ~2.6M pairs but only 2,300 ids
    n_pairs = cands.count()
    n_ids = (
        2 * n_pairs
        if 2 * n_pairs <= max_broadcast_candidates
        else cand_ids.count()
    )
    if n_ids > max_broadcast_candidates:
        _log(
            "minhash_verify_fallback_shuffle_semi",
            level="warning",
            n_candidate_ids=n_ids,
            max_broadcast_candidates=max_broadcast_candidates,
            hint=(
                "candidate set too large to broadcast — run exact_dedup "
                "first and set max_bucket_size to cap degenerate buckets"
            ),
        )
        narrow = narrow.join(cand_ids, "doc", "left_semi")
    else:
        narrow = narrow.join(F.broadcast(cand_ids), "doc", "left_semi")
    sh = _spread(narrow).select(
        "doc", tokens_lower(F.col("__txt")).alias("__tok")
    ).select(
        "doc",
        shingle_hashes_from_tokens(F.col("__tok"), shingle_n).alias("shingles"),
    )
    a = sh.select(
        F.col("doc").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    b = sh.select(
        F.col("doc").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    scored = (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        # two docs too short to shingle share every bucket and have an
        # empty union: NULL, never a pair, and no ANSI divide-by-zero
        .withColumn(
            "jaccard",
            F.try_divide(
                F.col("n_inter").cast("double"),
                (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")).cast("double"),
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return scored.select(
        "doc_a", "doc_b", F.round("jaccard", round_digits).alias("jaccard")
    )


# -- SimHash ----------------------------------------------------------------


def simhash64(hashes_col: Column) -> Column:
    """64-bit SimHash over a pre-materialized token-hash array: each
    bit votes ±1 per token hash, sign of the vote sum sets the
    fingerprint bit. Pure JVM expressions.

    Bit b vote sum = Σ_tokens (hash>>b & 1 ? +1 : −1); fingerprint has
    bit b set iff the sum is positive.

    Takes the HASH ARRAY (not the token expression): the 64 bit-vote
    aggregates each reference this column, and inlining a token-
    hashing expression tree 64 times pushes codegen into interpreted
    fallback (same failure mode as minhash_signature).
    """
    # closure factory (see minhash_signature): a 3-param lambda would be
    # misread by PySpark's higher-order-function arity dispatch
    def bit_vote(b: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    fp = F.lit(0).cast("long")
    for b in range(64):
        votes = F.aggregate(hashes_col, F.lit(0).cast("long"), bit_vote(b))
        fp = fp.bitwiseOR(
            F.when(votes > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return fp


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """``hash_fn='xxhash64'`` is the production path (fastest JVM hash).
    ``hash_fn='md5_60'`` swaps in a 60-bit hash from the first 15 hex
    chars of md5 — slower, but bit-for-bit reproducible in ANSI SQL
    (DuckDB ``('0x'||substr(md5(t),1,15))::BIGINT``), which lets the
    driver oracle-check the whole bit-vote machinery instead of
    settling for a rows-only check. Bits 60-63 of the fingerprint are
    then always 0 (their votes are uniformly -1)."""
    tokens = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    if hash_fn == "md5_60":
        tok_hash = lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    elif hash_fn == "xxhash64":
        tok_hash = lambda t: F.xxhash64(t, F.lit(seed))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    hashed = _spread(df).select(
        F.col(id_col),
        F.transform(tokens, tok_hash).alias("__h"),
    )
    return hashed.select(F.col(id_col), simhash64(F.col("__h")).alias("simhash"))


def embedding_near_dup_exact(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Exact cosine-threshold near-dup pairs: all ordered pairs
    (id_a < id_b) whose cosine ≥ threshold. O(n²) correctness baseline
    for ``embedding_near_dup`` (the LSH-bucketed scale path) — run it
    on samples to measure LSH recall, not on the full corpus."""
    from ais_data_pipeline_spark.operators.similarity import _as_double_array, _dot

    # Precompute each vector's norm ONCE per side: the naive form
    # evaluates three dot products per pair; this one evaluates one
    # (3× fewer flops on the O(n²) hot loop). _spread parallelizes the
    # nested-loop join, whose task count is the left side's partitions.
    b = _spread(df).select(
        F.col(id_col), _as_double_array(F.col(vec_col)).alias("__v")
    ).withColumn("__norm", F.sqrt(_dot(F.col("__v"), F.col("__v"))))
    left = b.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("lv"), F.col("__norm").alias("na")
    )
    right = b.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("rv"), F.col("__norm").alias("nb")
    )
    sim = F.round(
        F.try_divide(_dot(F.col("lv"), F.col("rv")), F.col("na") * F.col("nb")),
        round_digits,
    )
    return (
        left.join(right, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int | None = 6,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Cosine-threshold near-dup pairs on an embedding column: LSH
    bucket self-join (operators.similarity) + exact cosine filter.
    ``n_planes=None`` / ``max_bucket_size`` are the scale guards —
    see ``pairwise_topk_per_vector``."""
    from ais_data_pipeline_spark.operators.similarity import pairwise_topk_per_vector

    pairs = pairwise_topk_per_vector(
        df, k=50, vec_col=vec_col, id_col=id_col, n_planes=n_planes, seed=seed,
        max_bucket_size=max_bucket_size,
    )
    return (
        pairs.filter((F.col("cos_sim") >= threshold) & (F.col("left_id") < F.col("right_id")))
        .select(
            F.col("left_id").alias("id_a"),
            F.col("right_id").alias("id_b"),
            "cos_sim",
        )
    )


def near_dup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph → (id, cluster_id)
    with cluster_id = min member id. The step after any pairwise dedup:
    pairs chain (A~B, B~C ⇒ {A,B,C}), and the keep/drop decision needs
    the component, not the edges.

    Iterative min-label propagation: each node adopts the smallest label
    in its closed neighborhood until fixpoint (checked via an
    aggregation per round, so rounds = graph diameter ≤ max_iter).
    Each round is one join + groupBy on the node id — at scale both
    sides stay partitioned by id between rounds, and AQE compacts the
    shrinking frontier. For diameter-heavy graphs swap in the
    large-star/small-star variant; near-dup components are typically
    tiny and dense, where this converges in 2-3 rounds.

    Lineage truncation: the (often expensive) pair-generation lineage
    checkpoints once, and each round's labels eagerly localCheckpoint —
    so iteration i's plan never embeds iteration i-1, the returned
    frame is a flat scan of the converged labels, and checkpoint blocks
    are GC-reclaimed (the earlier persist/unpersist version leaked the
    final round's cache and returned a plan embedding the whole loop
    history). Cluster-reliability tradeoff of the eager-localCheckpoint
    pattern: see ``operators.graph.pagerank`` — swap in reliable
    ``.checkpoint`` (with a checkpoint dir) when executor loss must be
    survivable.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .transform(materialize)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .transform(materialize)  # referenced 3x per round
    )
    changed = -1  # sentinel: max_iter=0 skips the loop body entirely
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .transform(materialize)
        )
        changed = (
            updated.join(labels.withColumnRenamed("cluster_id", "old"), "id")
            .filter(F.col("cluster_id") != F.col("old"))
            .count()
        )
        labels = updated
        if changed == 0:
            break
    else:
        # labels are still moving after max_iter rounds: the graph's
        # diameter exceeds the budget and the returned components are
        # WRONG (over-split). Surface it — the silent form cost nothing
        # on near-dup graphs (diameter 2-3) but would mislabel a long
        # chain; graph.star_connected_components converges in O(log n)
        # rounds on any topology and is the right tool there.
        from ais_data_pipeline_spark.observability import log

        log(
            "near_dup_clusters_not_converged",
            level="warning",
            max_iter=max_iter,
            still_changing=changed,
            hint="use graph.star_connected_components for high-diameter graphs",
        )
    return labels.select("id", "cluster_id")


def cross_doc_repeated_spans(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact cross-document substring duplication (Lee et al. 2021,
    'Deduplicating Training Data Makes Language Models Better'): find,
    per document, the token spans whose k-token shingle also appears
    in ANOTHER document, merged into maximal spans.

    Shape: hash every k-shingle with the portable md5-prefix hash
    (one projection), group by hash keeping only hashes spanning >1
    distinct doc (shuffle ∝ corpus tokens, aggregation only — no
    pair blow-up), join positions back, then merge overlapping spans
    per doc with one lag+cumsum island pass. Output: (doc_id,
    n_repeated_spans, repeated_token_frac).

    All equal-length spans sorted by position merge correctly against
    the immediate predecessor (span [p, p+k-1] touches [q, q+k-1] iff
    q <= p + k), so the island break is a single lag compare."""
    from pyspark.sql import Window

    from ais_data_pipeline_spark.operators.text import tokens_col

    toks = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("__t")
    ).withColumn("__n", F.size("__t"))
    sh = toks.filter(F.col("__n") >= k).select(
        F.col(id_col),
        F.col("__n"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("__n") - k),
                lambda i: F.conv(
                    F.substring(
                        F.md5(F.concat_ws(" ", F.slice("__t", i + 1, k))), 1, 15
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        ).alias("pos", "h"),
    )
    multi = (
        sh.groupBy("h")
        .agg(F.min(id_col).alias("__lo"), F.max(id_col).alias("__hi"))
        .filter(F.col("__lo") != F.col("__hi"))
        .select("h")
    )
    rep = sh.join(multi, "h").select(id_col, "__n", "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") > F.lag("pos").over(w) + k, 1).otherwise(0)
    grp = rep.withColumn("__g", F.sum(brk).over(w))
    spans = grp.groupBy(id_col, "__n", "__g").agg(
        F.min("pos").alias("__s"), F.max("pos").alias("__e")
    )
    per = spans.groupBy(id_col, "__n").agg(
        F.count(F.lit(1)).alias("n_repeated_spans"),
        F.sum(F.col("__e") - F.col("__s") + k).alias("__covered"),
    )
    base = toks.select(F.col(id_col), F.col("__n"))
    return base.join(per.drop("__n"), id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_repeated_spans", F.lit(0)).alias("n_repeated_spans"),
        F.round(
            F.coalesce(F.col("__covered"), F.lit(0)).cast("double")
            / F.col("__n").cast("double"),
            6,
        ).alias("repeated_token_frac"),
    )
