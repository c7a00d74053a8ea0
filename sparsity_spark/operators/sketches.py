"""Mergeable cardinality sketches, engine-deterministic by construction.

KMV (k-minimum-values): keep the k smallest 60-bit md5 hashes of the
distinct values; the classic unbiased estimate is ``(k-1) / kth_min_norm``
where the kth minimum is normalized into (0, 1]. The hash space is 60
bits (15 md5 hex chars — the widest prefix that parses exactly into a
signed 64-bit integer in every SQL engine), so saturation/collision bias
starts around 2^60 ≈ 10^18 distinct values, comfortably past any 100 TB
column (the former 32-bit space saturated at ~4.3e9 — ADVICE r3).
Unlike HLL register
implementations (whose estimates differ across engines), KMV over a fixed
hash is a pure deterministic function of the value set — so a DuckDB
oracle reproduces the sketch AND the estimate bit-for-bit, while the
sketch stays mergeable (union = k smallest of the concatenated minima),
which is what a 100 TB pipeline needs: per-partition/day sketches roll up
without rescanning.

Scale shape: hashing is a map; the k-minima come from ONE TakeOrdered-
style aggregate over distinct hashes (k is tiny — the driver-side sketch
is metadata). No UDFs, no state beyond k longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparsity_spark import stores

HASH_SPACE = float(1 << 60)


def _h60(col):
    """First 15 md5 hex chars as a 60-bit integer — engine-portable (any
    SQL engine parses a 15-char hex prefix into a signed 64-bit exactly),
    wide enough that collision bias is negligible at any realistic
    cardinality."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def kmv_sketch(
    df: DataFrame,
    value_col: str,
    k: int = 64,
    prefilter_fraction: float | None = 0.02,
) -> DataFrame:
    """The sketch itself: (rank, h) — the k smallest distinct hash values,
    rank 1-based in ascending hash order.

    The naive plan's distinct shuffles EVERY unique hash (billions of rows
    for a high-cardinality column at 100 TB). The prefilter makes that
    shuffle candidate-sized, provably losslessly: the kth-smallest hash of
    ANY sample is >= the true kth smallest of the full set, so filtering
    ``h <= sample_kth`` (a map) can never drop a true minimum — the
    surviving candidate set is tiny and only IT is shuffled for the
    distinct + TakeOrdered. ``prefilter_fraction`` is a uniform Bernoulli
    fraction (``df.sample``), NOT a ``limit`` — ``limit`` takes whichever
    partitions answer first, so an adversarial layout (input sorted
    descending by hash) degraded the bound to a no-op (ADVICE r3); a
    uniform sample's kth minimum concentrates near k/(fraction·N)·2^60
    regardless of layout. Skipped automatically when the sample holds
    fewer than k distinct hashes (the set is sketch-sized anyway). One
    metadata-sized sample job, eager at build time — the same
    bounded-driver-state pattern as the iterative operators."""
    hashes = df.select(_h60(F.col(value_col)).alias("h"))
    if prefilter_fraction:
        if not 0.0 < prefilter_fraction <= 1.0:
            # loud: the pre-r4 parameter was a ROW COUNT; silently clamping
            # an old-style integer to fraction 1.0 would run the full
            # distinct scan twice
            raise ValueError(
                f"prefilter_fraction must be in (0, 1], got {prefilter_fraction} "
                f"(the old prefilter_sample row-count parameter is gone)"
            )
        sample = (
            hashes.sample(fraction=prefilter_fraction, seed=7)
            .distinct()
            .orderBy("h")
            .limit(k)
            .collect()
        )
        if len(sample) >= k:
            hashes = hashes.filter(F.col("h") <= sample[-1]["h"])
    ranked = hashes.distinct().orderBy("h").limit(k)
    # window over ≤ k rows — metadata-sized by construction
    return ranked.select(F.row_number().over(Window.orderBy("h")).alias("rank"), "h")


def kmv_estimate(sketch: DataFrame, k: int = 64) -> DataFrame:
    """Cardinality estimate from a sketch: (k-1)/normalized kth minimum.
    If fewer than k distinct values exist, the sketch IS the exact distinct
    set and the count is returned directly."""
    agg = sketch.agg(
        F.count("*").alias("n"), F.max("h").alias("kth")
    )
    est = F.when(
        F.col("n") < k, F.col("n").cast("double")
    ).otherwise(F.round((F.lit(float(k - 1))) / ((F.col("kth") + 1) / F.lit(HASH_SPACE)), 4))
    return agg.select(est.alias("distinct_estimate"))


def kmv_union(a: DataFrame, b: DataFrame, k: int = 64) -> DataFrame:
    """Merge two sketches: k smallest of the union of minima — the property
    that lets per-day/per-partition sketches roll up without rescanning."""
    merged = a.select("h").unionByName(b.select("h")).distinct().orderBy("h").limit(k)
    return merged.select(F.row_number().over(Window.orderBy("h")).alias("rank"), "h")


def kmv_jaccard(a: DataFrame, b: DataFrame, k: int = 64) -> DataFrame:
    """Sketch-based Jaccard estimate between two value sets: the k smallest
    hashes of the UNION form the comparison frame; the fraction of them
    present in both sketches estimates J(A,B). Deterministic given the two
    sketches — union and intersection of metadata-sized sketches, never of
    the underlying sets (the whole point at 100 TB)."""
    u = (
        a.select("h").unionByName(b.select("h")).distinct().orderBy("h").limit(k)
    )
    both = u.join(a.select("h"), on="h", how="leftsemi").join(
        b.select("h"), on="h", how="leftsemi"
    )
    return u.agg(F.count("*").alias("n_union")).crossJoin(
        both.agg(F.count("*").alias("n_both"))
    ).select(F.round(F.col("n_both") / F.col("n_union"), 4).alias("jaccard_estimate"))


# ---------------------------------------------------------------------------
# Count-min sketch (r7): point-frequency estimates with the same
# engine-determinism discipline as KMV — fixed md5-derived hash rows, so a
# DuckDB oracle reproduces every cell and every estimate bit-for-bit
# (unlike library CMS implementations whose murmur seeds differ across
# engines). The sketch is (depth × width) counters built by ONE partial+
# final hash aggregate over depth-exploded rows; it is mergeable cell-wise
# (cms_merge), which is what lets per-day/per-shard sketches roll up
# without rescanning 100 TB. Estimates are upper bounds: est >= true, with
# overestimate < 2N/width at probability 1 - (1/2)^depth.
# ---------------------------------------------------------------------------


def _cms_bucket(col, j: int, width: int):
    """Row j's bucket for a value: 60-bit md5 of "value:j" mod width."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(col.cast("string"), F.lit(f":{j}"))), 1, 15),
            16,
            10,
        ).cast("long")
        % width
    )


def cms_sketch(
    df: DataFrame, value_col: str, width: int = 256, depth: int = 3
) -> DataFrame:
    """Build the sketch: (d, bucket, cnt) rows — at most depth×width of
    them, metadata-sized regardless of input size. One explode (×depth, a
    map) + one hash aggregate; zero-count cells are implicit."""
    cells = df.where(F.col(value_col).isNotNull()).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("d"),
                        _cms_bucket(F.col(value_col), j, width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("cell")
    )
    return (
        cells.groupBy(F.col("cell.d").alias("d"), F.col("cell.bucket").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cell-wise sum of two sketches built with the same (width, depth) —
    exactly the sketch of the concatenated inputs."""
    return (
        a.unionByName(b)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    probe_col: str,
    width: int = 256,
    depth: int = 3,
) -> DataFrame:
    """Point-frequency estimates for a probe set: min over the depth rows
    of the probed cells (absent cell = 0). The join is probe×depth rows
    against a metadata-sized sketch — broadcastable by construction.
    Returns (probe_col, est_count)."""
    probed = probes.select(probe_col).distinct().select(
        F.col(probe_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("d"),
                        _cms_bucket(F.col(probe_col), j, width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("cell"),
    ).select(probe_col, F.col("cell.d").alias("d"), F.col("cell.bucket").alias("bucket"))
    joined = probed.join(F.broadcast(sketch), ["d", "bucket"], "left")
    return (
        joined.groupBy(probe_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est_count"))
    )


def write_cms_store(
    df: DataFrame, table: str, value_col: str, width: int = 256, depth: int = 3
) -> None:
    """Persist a corpus's count-min sketch as a catalog table. The sketch
    is metadata-sized (≤ depth×width rows) so a plain parquet overwrite is
    the right physical shape — no bucketing needed; merges rewrite
    kilobytes, never the corpus."""
    stores.replace_small(cms_sketch(df, value_col, width, depth), table)


def cms_store(spark, table: str) -> DataFrame:
    """Read back a persisted sketch."""
    return spark.table(table)


def merge_cms_store(
    batch_df: DataFrame,
    table: str,
    value_col: str,
    width: int = 256,
    depth: int = 3,
) -> DataFrame:
    """Fold one increment into the persisted sketch — the ONE code path
    both batch appends and the streaming loop use (the store-family
    discipline: batch and streaming counts cannot drift). Because
    cms_merge is exactly the sketch of the concatenated inputs, the
    maintained store is bit-equal to rebuilding from everything ever
    seen — test-pinned. Returns the merged sketch."""
    return stores.merge_small(cms_sketch(batch_df, value_col, width, depth), table, cms_merge)


# ---------------------------------------------------------------------------
# HyperLogLog (r7): register-based cardinality with the SAME cross-engine
# determinism discipline as KMV/CMS — which library HLLs (and Spark's own
# approx_count_distinct) cannot offer, because their register hashing and
# bias tables differ per engine. Here every register is a pure md5
# derivation: bucket = low b bits of the 60-bit hash, rho = leading-zero
# rank of the remaining W = 60-b bits (computed exactly via LENGTH(BIN(w))
# in both engines), and the harmonic-mean denominator is summed as EXACT
# integers (Σ 2^(R-M_j) with R = W+1 ≤ 53, so every term and the sum fit a
# BIGINT) — one double division at the end, rounded once. A DuckDB oracle
# reproduces every register and the estimate bit-for-bit. vs KMV: the HLL
# register file has fixed size m with ~1.04/√m relative error (m=256 →
# ~6.5%) and merges by cell-wise MAX — idempotent, so re-processing a
# batch cannot double-count (the property CMS lacks), which is what makes
# it the right always-current distinct-count surface for an at-least-once
# 100 TB ingest.
# ---------------------------------------------------------------------------

HLL_B = 8  # 2^8 = 256 registers; W = 52 rho bits; R = 53


def _hll_registers(df: DataFrame, value_col: str, b: int = HLL_B) -> DataFrame:
    """(bucket, rho) rows before the register max — exposed for tests."""
    m = 1 << b
    W = 60 - b
    hashed = df.where(F.col(value_col).isNotNull()).select(
        _h60(F.col(value_col)).alias("h")
    )
    w = F.expr(f"h DIV {m}")
    rho = F.when(w == 0, F.lit(W + 1)).otherwise(F.lit(W + 1) - F.length(F.bin(w)))
    return hashed.select((F.col("h") % m).alias("bucket"), rho.alias("rho"))


def hll_sketch(df: DataFrame, value_col: str, b: int = HLL_B) -> DataFrame:
    """Build the register file: (bucket, r) — at most 2^b rows, from ONE
    partial+final max aggregate over a map-side hash projection (no
    distinct shuffle: register max is duplicate-insensitive by
    construction, so the corpus is never deduplicated first)."""
    return _hll_registers(df, value_col, b).groupBy("bucket").agg(
        F.max("rho").cast("int").alias("r")
    )


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cell-wise MAX of two register files built with the same b — exactly
    the sketch of the concatenated inputs, and IDEMPOTENT: merging a
    batch twice equals merging it once (safe under at-least-once
    delivery, unlike counter sketches)."""
    return (
        a.unionByName(b)
        .groupBy("bucket")
        .agg(F.max("r").cast("int").alias("r"))
    )


def hll_estimate(sketch: DataFrame, b: int = HLL_B) -> DataFrame:
    """Raw HLL estimate α_m·m²/Σ2^(-M_j) with the denominator summed as
    exact integers (absent registers contribute 2^R each), ONE double
    division, rounded once — engine/order-exact by construction. The
    standard small-range linear-counting correction is deliberately NOT
    applied here: it needs ln(m/V), whose last ulp is libm-dependent —
    the exact zero_registers count is emitted instead so a caller (or the
    python-side helper in tests) can apply any bias rule it wants.
    Returns one row: (distinct_estimate, n_present, zero_registers)."""
    m = 1 << b
    R = 60 - b + 1
    agg = sketch.agg(
        F.count("*").alias("n_present"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {R} - r)")).alias("s_present"),
    )
    s_total = F.col("s_present") + (F.lit(m) - F.col("n_present")) * F.lit(1 << R)
    alpha = 0.7213 / (1 + 1.079 / m)
    est = F.round(
        F.lit(alpha) * F.lit(float(m) * float(m)) * F.lit(float(1 << R)) / s_total.cast("double"),
        4,
    )
    return agg.select(
        est.alias("distinct_estimate"),
        F.col("n_present").cast("long").alias("n_present"),
        (F.lit(m) - F.col("n_present")).cast("long").alias("zero_registers"),
    )


def write_hll_store(df: DataFrame, table: str, value_col: str, b: int = HLL_B) -> None:
    """Persist a corpus's HLL register file as a catalog table — the
    metadata-sized store shape (≤ 2^b rows), like the CMS store."""
    stores.replace_small(hll_sketch(df, value_col, b), table)


def hll_store(spark, table: str) -> DataFrame:
    """Read back a persisted register file."""
    return spark.table(table)


def merge_hll_store(
    batch_df: DataFrame, table: str, value_col: str, b: int = HLL_B
) -> DataFrame:
    """Fold one increment into the persisted register file — the ONE code
    path batch appends and the streaming loop share (store-family
    discipline). hll_merge is exact AND idempotent, so the maintained
    store is bit-equal to rebuilding from everything ever seen even if an
    increment is replayed. Returns the merged register file."""
    return stores.merge_small(hll_sketch(batch_df, value_col, b), table, hll_merge)


def hll_group_sketch(
    df: DataFrame, group_cols: list[str], value_col: str, b: int = HLL_B
) -> DataFrame:
    """Per-group HLL register files in ONE aggregate: (group_cols…,
    bucket, r). The classic production rollup shape — distinct users per
    day/segment — at ≤ 2^b rows per group regardless of group size, and
    mergeable across time/shards by per-group cell-wise max (idempotent,
    so replays are safe). No distinct shuffle: the single groupBy is on
    (group_cols, bucket), and map-side max collapses each task's
    contribution to at most |groups|·2^b rows before the exchange."""
    m = 1 << b
    W = 60 - b
    hashed = df.where(F.col(value_col).isNotNull()).select(
        *[F.col(c) for c in group_cols], _h60(F.col(value_col)).alias("h")
    )
    w = F.expr(f"h DIV {m}")
    rho = F.when(w == 0, F.lit(W + 1)).otherwise(F.lit(W + 1) - F.length(F.bin(w)))
    cells = hashed.select(
        *[F.col(c) for c in group_cols],
        (F.col("h") % m).alias("bucket"),
        rho.alias("rho"),
    )
    return cells.groupBy(*group_cols, "bucket").agg(
        F.max("rho").cast("int").alias("r")
    )


def hll_group_estimate(
    sketch: DataFrame, group_cols: list[str], b: int = HLL_B
) -> DataFrame:
    """Per-group raw-HLL estimates from a grouped register file — the same
    exact-integer harmonic sum as :func:`hll_estimate`, one row per group:
    (group_cols…, distinct_estimate, n_present, zero_registers)."""
    m = 1 << b
    R = 60 - b + 1
    agg = sketch.groupBy(*group_cols).agg(
        F.count("*").alias("n_present"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {R} - r)")).alias("s_present"),
    )
    s_total = F.col("s_present") + (F.lit(m) - F.col("n_present")) * F.lit(1 << R)
    alpha = 0.7213 / (1 + 1.079 / m)
    est = F.round(
        F.lit(alpha) * F.lit(float(m) * float(m)) * F.lit(float(1 << R)) / s_total.cast("double"),
        4,
    )
    return agg.select(
        *[F.col(c) for c in group_cols],
        est.alias("distinct_estimate"),
        F.col("n_present").cast("long").alias("n_present"),
        (F.lit(m) - F.col("n_present")).cast("long").alias("zero_registers"),
    )


# ---------------------------------------------------------------------------
# Deterministic quantile sample (r7): a mergeable quantile summary with the
# family's engine-exactness discipline. Classic quantile sketches (t-digest,
# KLL, GK) are order-dependent — merging the same data in a different
# partition order yields different summaries, so no SQL oracle can replay
# them. A HASH-THRESHOLD Bernoulli sample is not: keep exactly the rows
# whose 60-bit md5 of the ROW KEY falls under rate·2^60 — a pure function
# of the key set, so the sample (and every quantile read off it) is
# bit-reproducible across engines, partitionings, and replays, and two
# samples merge by plain union (same rule ⇒ same keep decision). The
# estimate is the exact interpolated quantile of the sample — Spark
# percentile() ≡ DuckDB quantile_cont(), pinned by the stats_percentiles
# family. Error: standard Bernoulli-sample quantile bounds (±O(1/√(p·n))
# rank error); at 100 TB a p = 1e-6 sample of a 10^12-row column is 10^6
# rows — metadata next to the corpus, exact-rank to ~0.1%.
# ---------------------------------------------------------------------------


def quantile_sample(
    df: DataFrame,
    key_col: str,
    value_col: str,
    rate_ppm: int = 62500,
) -> DataFrame:
    """The summary itself: (key, value) rows whose md5(key) < rate.
    ``rate_ppm`` is parts-per-million (62500 = 1/16) as an INTEGER so the
    threshold rate_ppm·2^60/10^6 is computed identically in both engines
    with exact integer arithmetic. Map-only — the sample is selected by a
    pushdown-friendly filter, no shuffle, no state."""
    if not 0 < rate_ppm <= 1_000_000:
        raise ValueError(f"rate_ppm must be in (0, 1e6], got {rate_ppm}")
    thresh = ((1 << 60) * rate_ppm) // 1_000_000
    return df.where(
        F.col(value_col).isNotNull() & (_h60(F.col(key_col)) < F.lit(thresh))
    ).select(F.col(key_col).alias("k"), F.col(value_col).alias("v"))


def quantile_sample_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union of two summaries built with the same rate — exactly the
    summary of the concatenated inputs when key spaces are disjoint
    (per-day/per-shard rollup); with overlapping keys, dedupe upstream."""
    return a.unionByName(b)


def quantile_sample_estimate(
    sample: DataFrame, qs: list[float] | None = None
) -> DataFrame:
    """Interpolated quantiles of the deterministic sample — one tiny
    aggregate over the sample rows. Returns (q, value_estimate round-6),
    one row per requested quantile."""
    qs = qs or [0.25, 0.5, 0.75, 0.9, 0.99]
    agg = sample.agg(
        *[
            F.round(F.expr(f"percentile(v, {q!r})"), 6).alias(f"__q{i}__")
            for i, q in enumerate(qs)
        ]
    )
    stacked = ", ".join(
        f"CAST({q!r} AS DOUBLE), __q{i}__" for i, q in enumerate(qs)
    )
    return agg.select(
        F.expr(f"stack({len(qs)}, {stacked}) AS (q, value_estimate)")
    )


def merge_count_store(
    batch_df: DataFrame,
    table: str,
    key_col: str,
    batch_id: int,
    num_buckets: int = 8,
) -> DataFrame:
    """Fold one counted increment into a persisted frequency store (r9 —
    the store-family loop for exact heavy hitters, where the CMS gives
    only an estimate). The store holds (batch_id, key, c) APPEND-ONLY
    rows bucketed by key: each micro-batch pre-aggregates to one row per
    key and folds through :func:`sparsity_spark.stores.fold_batch` — an
    already-folded batch_id appends nothing, so at-least-once delivery
    is safe and the screen costs O(1). Counts are the one store whose
    merge is NOT a set union (sums are not idempotent), so exactly-once
    is restored at two layers: the write-side batch_id screen, and the
    read side (:func:`count_store_topk`) collapsing any raced duplicate
    (batch_id, key) rows with MAX before summing — identical rows by
    construction, so MAX is exact. The store is (batches · keys)-sized,
    never corpus-sized; nothing rewrites.

    SINGLE-WRITER CONTRACT: the batch_id screen assumes one monotone id
    sequence per table — exactly what one Structured Streaming query
    with a stable checkpoint provides. Pointing a SECOND writer (or the
    same query after its checkpoint directory is wiped, which restarts
    ids at 0) at the table makes the screen treat the new batches as
    replays and silently drop them. Drop the table together with its
    checkpoint, and give concurrent pipelines their own tables — the
    set-union stores tolerate shared writers; a count store by its
    nature cannot. Returns the maintained table."""
    inc = (
        batch_df.groupBy(F.col(key_col).alias("key"))
        .agg(F.count("*").cast("long").alias("c"))
        .select(F.lit(int(batch_id)).cast("long").alias("batch_id"), "key", "c")
    )
    return stores.fold_batch(inc, table, batch_id, ["key"], num_buckets)


def _count_totals(store: DataFrame) -> DataFrame:
    """(key, total) over a count store: raced duplicate (batch_id, key)
    rows collapse with MAX (identical by construction — see
    merge_count_store), then sum per key on the bucketed layout."""
    per_batch = store.groupBy("batch_id", "key").agg(F.max("c").alias("c"))
    return per_batch.groupBy("key").agg(F.sum("c").cast("long").alias("total"))


def count_store_topk(spark, table: str, k: int = 10) -> DataFrame:
    """Exact top-k over the maintained frequency store, ranked with a
    deterministic key tie-break. Returns (key, total)."""
    totals = _count_totals(spark.table(table))
    return totals.orderBy(F.desc("total"), "key").limit(k)


def compact_count_store(spark, table: str) -> None:
    """Collapse the append-only count store to ONE row per key (r11 —
    the store grows ∝ batches × keys, so after thousands of folds every
    read pays a batch-count-sized scan; compaction bounds it back to
    key-sized). The rewrite goes through the read path's own collapse
    and stamps the rows with the max folded batch id — reads are
    bit-identical before and after by construction.

    LOUD CONTRACT: compaction seals the store against out-of-order
    backfill at or below the watermark — a genuinely-new smaller id
    folded via the public batch API after compaction is screened out as
    a replay. Compact only when no backfill below the current max is
    pending. Single-writer, same as the folds themselves. Ordering and
    crash safety: :func:`sparsity_spark.stores.compact_batches`."""
    stores.compact_batches(
        spark,
        table,
        lambda store: _count_totals(store).select("key", F.col("total").alias("c")),
    )
