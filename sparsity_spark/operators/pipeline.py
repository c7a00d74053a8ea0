"""Training-data pipeline primitives: reproducible sampling & splits,
document chunking, sequence packing.

Everything is deterministic-by-content (md5-based), so runs are reproducible
across clusters, retries, and engines — the property a 100 TB pipeline needs
and seeded RNG sampling cannot give (partition order changes the stream).
All built-in expressions; one window pass where sequential state is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparsity_spark import stores


def hash_bucket(col, buckets: int = 100):
    """Deterministic content bucket 0..buckets-1: first 8 md5 hex chars as
    an integer, mod buckets. Engine-portable (any SQL engine reproduces)."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")
    return F.pmod(h, F.lit(buckets))


def sample_hash(df: DataFrame, key_col: str, percent: int) -> DataFrame:
    """Keep ~percent% of rows by content hash of the key — reproducible
    sampling: the same key is always in or always out, regardless of
    partitioning, cluster size, or engine."""
    return df.filter(hash_bucket(F.col(key_col)) < percent)


def split_assign(
    df: DataFrame,
    key_col: str,
    splits: dict[str, int] | None = None,
) -> DataFrame:
    """Assign every row to a named split by hash bucket: e.g.
    {'train': 80, 'val': 10, 'test': 10}. Adds a ``split`` column."""
    splits = splits or {"train": 80, "val": 10, "test": 10}
    if sum(splits.values()) != 100:
        raise ValueError("split percentages must sum to 100")
    b = hash_bucket(F.col(key_col))
    expr = None
    acc = 0
    for name, pct in splits.items():
        acc += pct
        expr = F.when(b < acc, F.lit(name)) if expr is None else expr.when(b < acc, F.lit(name))
    return df.withColumn("split", expr)


def split_by_cluster(
    labels: DataFrame,
    splits: dict[str, int] | None = None,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """LEAKAGE-SAFE split assignment: hash the near-dup CLUSTER label
    instead of the document id, so every member of a cluster lands in
    the SAME split. A per-doc hash split (`split_assign`) puts near-
    duplicate variants of one document on both sides of the train/test
    boundary — the eval set then scores memorization, not
    generalization. Hashing the cluster label makes cross-split
    near-dup leakage structurally impossible: two docs can only
    disagree on split if they disagree on cluster, and near-dups share
    a cluster by construction.

    `labels` is `duplicate_clusters`' output (id + cluster label); the
    split is a pure projection over it — the clustering pass is the
    only distributed work, and it is shared with the dedup pipeline
    that already runs. Singleton docs hash their own id (their label),
    so the split proportions still hold corpus-wide.
    """
    return split_assign(labels, cluster_col, splits)


def cross_split_leakage(
    pairs: DataFrame,
    assignment: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Train/test leakage audit: near-dup candidate pairs whose
    endpoints sit in DIFFERENT splits. Returns (split_a, split_b,
    n_pairs) — empty/zero is the certificate a leakage-safe split
    policy must produce, and the count a naive per-doc split pays.

    Two id-keyed joins of the pair table against the skinny
    (id, split) assignment — pair-sized work; the assignment side is
    a projection, so at corpus scale both joins broadcast whenever
    pairs ≪ corpus and otherwise co-partition on id."""
    a, b = pair_cols
    sa = assignment.select(F.col(id_col).alias(a), F.col(split_col).alias("split_a"))
    sb = assignment.select(F.col(id_col).alias(b), F.col(split_col).alias("split_b"))
    return (
        pairs.select(a, b)
        .join(sa, a)
        .join(sb, b)
        .filter(F.col("split_a") != F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


def source_dup_profile(
    docs: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source duplication observability: for each source, how many
    docs it contributes, how many are exact duplicates (NOT their md5
    group's keeper — the keep-first rule), how many are near-duplicate
    cluster members (NOT their cluster's minimum id), and the two rates
    in round-half-up integer micros. The near-dup count is a superset
    of the exact count when `labels` comes from LSH pairs (identical
    texts share every band). This is the curation dashboard row that
    tells you WHICH feed is flooding the corpus with rehosts before you
    pay for the collapse.

    One hash aggregate over md5(text) for the exact keepers, two skinny
    id-keyed joins (exact keeper + cluster label), one final per-source
    aggregate — work ∝ corpus rows; no pair fanout here (the clustering
    pass is shared input)."""
    unit = 1_000_000
    keepers = (
        docs.select(F.md5(F.col(text_col)).alias("__h__"), F.col(id_col))
        .groupBy("__h__")
        .agg(F.min(id_col).alias("__keep__"))
    )
    base = (
        docs.select(F.col(id_col), F.col(group_col), F.md5(F.col(text_col)).alias("__h__"))
        .join(keepers, "__h__")
        .join(labels.select(F.col(id_col), "cluster_id"), id_col)
        .select(
            group_col,
            (F.col(id_col) != F.col("__keep__")).cast("long").alias("__xd__"),
            (F.col(id_col) != F.col("cluster_id")).cast("long").alias("__nd__"),
        )
    )
    return (
        base.groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__xd__").cast("long").alias("n_exact_dups"),
            F.sum("__nd__").cast("long").alias("n_near_dups"),
        )
        .select(
            group_col,
            "n_docs",
            "n_exact_dups",
            "n_near_dups",
            F.expr(
                f"cast((2 * n_exact_dups * {unit} + n_docs) div (2 * n_docs)"
                f" as double) / {unit}"
            ).alias("exact_rate"),
            F.expr(
                f"cast((2 * n_near_dups * {unit} + n_docs) div (2 * n_docs)"
                f" as double) / {unit}"
            ).alias("near_rate"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 50,
    overlap: int = 10,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the standard
    LLM-training preprocessing step, as a pure explode (no UDF, no shuffle).
    Returns (id, chunk_id, chunk_text, n_tokens)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    w = F.split(F.col(text_col), " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(w) - overlap, F.lit(1)), F.lit(step))
    chunks = F.transform(starts, lambda s: F.slice(w, s, chunk_tokens))
    return docs.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "__toks__"),
    ).select(
        id_col,
        "chunk_id",
        F.array_join("__toks__", " ").alias("chunk_text"),
        F.size("__toks__").alias("n_tokens"),
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    token_count_col: str = "n_tokens",
    budget: int = 512,
    order_col: str | None = None,
    by: str | None = None,
    max_unsharded_rows: int = 1_000_000,
) -> DataFrame:
    """Assign documents to fixed-budget bins via running-token-count
    (cumsum // budget): the streaming-friendly approximation of bin packing
    — one window pass, deterministic given the order column. Returns the
    input plus ``bin_id``.

    A sequential cumsum is inherent to the semantics, so with ``by=None``
    the window is global and the corpus funnels through one task — fine for
    a shard, wrong for 100 TB. Pass ``by=<shard column>`` to partition the
    window: bins are then packed independently per shard, each shard's
    cumsum runs in its own task, and the plan has no unpartitioned window.
    Sharded bin_id is the collision-FREE composite ``<shard>#<local_bin>``
    (a 32-bit shard-hash prefix was tried first and collides at birthday
    rate — ~50% odds by 65k shards — silently merging two shards' bins
    into one over-budget sequence; ADVICE r3).

    Loud-failure guard (VERDICT r4): ``by=None`` above ``max_unsharded_rows``
    raises instead of silently funneling the corpus through one window task
    — the caller either passes ``by=<shard>`` or explicitly raises the cap.
    The probe is a ``limit(cap+1).count()`` so it never scans past the cap."""
    order_col = order_col or id_col
    if by is None:
        probe = docs.limit(max_unsharded_rows + 1).count()
        if probe > max_unsharded_rows:
            raise ValueError(
                f"pack_sequences: input exceeds {max_unsharded_rows} rows with "
                "by=None — the global cumsum window would run in ONE task. "
                "Pass by=<shard column> (bins pack independently per shard) "
                "or raise max_unsharded_rows explicitly."
            )
        w = Window.orderBy(order_col)
    else:
        w = Window.partitionBy(by).orderBy(order_col)
    w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = F.sum(token_count_col).over(w)
    local_bin = F.floor((cum - F.col(token_count_col)) / F.lit(budget)).cast("long")
    # bin_id is a STRING in both modes (bare number unsharded,
    # <shard>#<local> sharded) so the output schema does not depend on
    # the by= argument — unions/appends across modes stay legal
    if by is not None:
        local_bin = F.concat_ws("#", F.col(by).cast("string"), local_bin)
    else:
        local_bin = local_bin.cast("string")
    return docs.withColumn("bin_id", local_bin)


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """MERGE INTO semantics as one full-outer join: an update row replaces
    the whole base row for its key, unmatched updates insert, unmatched base
    rows survive. No driver loop, no per-row Python — at scale this is the
    standard snapshot-upsert (slowly-changing table) shape, and AQE picks
    broadcast vs shuffle by the updates side's size."""
    marker = "__is_update__"
    u = updates.withColumn(marker, F.lit(1))
    joined = base.alias("b").join(u.alias("u"), on=key_cols, how="full_outer")
    non_keys = [c for c in base.columns if c not in key_cols]
    take_update = F.col(f"u.{marker}").isNotNull()
    return joined.select(
        *key_cols,
        *[
            F.when(take_update, F.col(f"u.{c}")).otherwise(F.col(f"b.{c}")).alias(c)
            for c in non_keys
        ],
    )


def shuffle_shards(
    docs: DataFrame,
    num_shards: int,
    salt: str = "",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global training-order shuffle + sharding: every
    pretraining run reads its curated corpus in a pseudo-random order,
    split into shard files — and the order must be REPRODUCIBLE (same
    corpus + same salt ⇒ same order, on any cluster size or engine) and
    re-drawable (new salt ⇒ fresh order for the next epoch).

    The draw is ``md5(salt ':' id)`` — content-addressed like every
    other sampling op here, never an RNG — giving each doc a shard
    (first 8 hex digits mod num_shards) and a position within its shard
    (rank by the full hash, ids as the total-order tiebreak). The
    within-shard sort is a WINDOW PARTITIONED BY SHARD, so at 100 TB
    there is no global sort: each shard sorts independently after one
    hash-partitioned exchange, exactly the layout the shard writer
    needs (`partitionBy(shard) ... sortWithinPartitions`).

    Returns (id_col, shard int, pos long) — pos is 0-based."""
    h = F.md5(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string")))
    base = docs.select(F.col(id_col), h.alias("__h__"))
    shard = F.pmod(
        F.conv(F.substring(F.col("__h__"), 1, 8), 16, 10).cast("long"),
        F.lit(num_shards),
    ).cast("int")
    w = Window.partitionBy("shard").orderBy(F.col("__h__"), F.col(id_col))
    return (
        base.withColumn("shard", shard)
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .select(id_col, "shard", "pos")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Diff two curated-dataset snapshots: which documents were ADDED,
    REMOVED, or MODIFIED between releases — the audit artifact every
    dataset release pipeline publishes next to the data (and the input
    to incremental downstream rebuilds: retrain only on the diff).

    Both sides project to (id, md5(text)) BEFORE the join, so at 100 TB
    the full-outer join ships 32-byte hashes, never document text; if
    the snapshots are stored bucketed by the id the join is co-located
    with no shuffle at all. Hash comparison is NULL-SAFE (a NULL-text
    doc differs from a non-NULL one, and two NULL texts match), and
    unchanged docs are absent from the output, so the result is
    diff-sized, not corpus-sized.

    Returns (id_col, status) with status ∈ 'added' | 'removed' |
    'modified'."""
    o = old.select(F.col(id_col), F.md5(F.col(text_col)).alias("__h_old__"))
    n = new.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("__h_new__"),
        F.lit(1).alias("__in_new__"),
    )
    # the presence markers (not the hash columns) decide existence:
    # a NULL hash is a real value (NULL text), never "absent"
    o = o.withColumn("__in_old__", F.lit(1))
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("__in_old__").isNull(), F.lit("added"))
        .when(F.col("__in_new__").isNull(), F.lit("removed"))
        .when(
            ~F.col("__h_old__").eqNullSafe(F.col("__h_new__")), F.lit("modified")
        )
    )
    return j.select(F.col(id_col), status.alias("status")).where(
        F.col("status").isNotNull()
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_bench_df: int | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word k-gram with a benchmark/eval corpus (the standard n-gram-overlap
    decontamination step of LLM training pipelines; no reference
    counterpart).

    Shingles both corpora with the shared dedup tokenization (distinct
    k-grams per doc), then hash-joins on the gram string. The benchmark
    side of the join is broadcast — eval corpora are tiny next to 100 TB of
    training text, so the contamination check is a map-side join over the
    training shingles with no shuffle of the big side; the only shuffle is
    the final per-doc aggregate.

    ``max_bench_df`` drops benchmark shingles appearing in more than that
    many benchmark docs before the join. Ubiquitous k-grams ("of the and")
    are not contamination evidence, and they are exactly the keys whose
    join fanout explodes at scale — the 10× sweep showed the unguarded
    join growing super-linearly on corpora with repeated boilerplate. The
    cap bounds per-shingle fanout to |train-side matches| × max_bench_df.

    Returns (id_col, n_shared_grams, n_bench_docs) for contaminated docs
    only; clean docs are absent."""
    from sparsity_spark.operators.dedup import shingle_sets

    tr = shingle_sets(train, id_col, text_col, k)
    be = shingle_sets(benchmark, id_col, text_col, k).select(
        F.col("shingle"), F.col(id_col).alias("__bench_id__")
    )
    if max_bench_df is not None:
        # one aggregate does filter + survivor list: the benchmark side is
        # small (eval sets), so collect_set per shingle is bounded by it
        be = (
            be.groupBy("shingle")
            .agg(F.collect_set("__bench_id__").alias("__ids__"))
            .filter(F.size("__ids__") <= max_bench_df)
            .select("shingle", F.explode("__ids__").alias("__bench_id__"))
        )
    return (
        tr.join(F.broadcast(be), "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_grams"),
            F.countDistinct("__bench_id__").alias("n_bench_docs"),
        )
    )


def decontaminate_bloom(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_bench_df: int | None = None,
    m_bits: int | None = None,
    num_probes: int = 5,
) -> DataFrame:
    """:func:`decontaminate` for the regime where the benchmark side is
    too big to broadcast as a raw join table but its bloom BITMAP is
    still metadata-sized — decontaminating against an entire eval-suite
    lake (millions of held-out docs, gram set in the tens of GB) rather
    than one benchmark file.

    Same result, different plan: build a bloom bitmap over the
    benchmark's distinct shingles (benchmark-sized aggregate, collected
    as kilobytes-to-megabytes of driver metadata), filter the training
    shingles MAP-SIDE with the k-probe bitmap expression (whole-stage
    codegen, zero shuffle, zero Python — ``skew.bloom_probe_expr``),
    then run the exact gram join on the survivors WITHOUT a broadcast
    hint, letting AQE pick shuffle vs broadcast from the true benchmark
    size. Bloom false positives are killed by the exact join, and a
    bloom never drops a present key, so the output is bit-identical to
    :func:`decontaminate` (oracle-pinned) — but at 100 TB the shuffle
    input on the training side is only the prefilter's survivors
    (≈ the contaminated fraction + the FP rate), not every shingle of
    the corpus.

    ``m_bits`` defaults to ``skew.BLOOM_M_BITS``; size it ≈ 10 bits per
    distinct benchmark shingle for a ~1% FP rate."""
    from sparsity_spark.operators.dedup import shingle_sets
    from sparsity_spark.operators.skew import (
        BLOOM_M_BITS,
        bloom_build_bytes,
        bloom_probe_expr,
    )

    m = int(m_bits) if m_bits is not None else BLOOM_M_BITS
    tr = shingle_sets(train, id_col, text_col, k)
    be = shingle_sets(benchmark, id_col, text_col, k).select(
        F.col("shingle"), F.col(id_col).alias("__bench_id__")
    )
    if max_bench_df is not None:
        be = (
            be.groupBy("shingle")
            .agg(F.collect_set("__bench_id__").alias("__ids__"))
            .filter(F.size("__ids__") <= max_bench_df)
            .select("shingle", F.explode("__ids__").alias("__bench_id__"))
        )
    bitmap = bloom_build_bytes(
        be.select("shingle").distinct(), "shingle", m, num_probes
    )
    pre = tr.filter(bloom_probe_expr(F.col("shingle"), bitmap, m, num_probes))
    return (
        pre.join(be, "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_grams"),
            F.countDistinct("__bench_id__").alias("n_bench_docs"),
        )
    )


def fuzzy_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Whole-document fuzzy decontamination (r11): flag training docs
    that are NEAR-DUPLICATES of an eval/benchmark doc — the "eval set
    leaked into training, lightly edited" detector that
    :func:`decontaminate`'s any-shared-gram rule over-fires on (one
    common phrase is not a leak) and exact dedup under-fires on (one
    edited token defeats md5).

    Pipeline: MinHash band keys on BOTH corpora (the shared
    ``dedup.band_keys`` representation — 16 md5 minhashes, 4×4 banding),
    bipartite band-bucket join (benchmark side broadcast — eval sets are
    tiny next to 100 TB of training text, so the big side never
    shuffles for candidate generation), then EXACT Jaccard verification
    of the candidates on distinct k-gram sets (array_intersect work
    ∝ |a|+|b| per candidate; candidate volume is collision-bounded by
    the banding). Recall is the banding's, by design — at J = 0.5 a
    4×4 banding surfaces ~23% of true pairs per band table, rising
    steeply with J (87% at 0.8, >99% at 0.9); matches that do surface
    are verified exactly, so precision is 1.0 and the emitted Jaccard
    is the true one (one IEEE divide of exact integers, round-6).

    Returns (id_col, n_bench_matches, max_jaccard) for CONTAMINATED
    train docs only (verified J >= threshold against >= 1 benchmark
    doc); clean docs are absent, like :func:`decontaminate`."""
    from sparsity_spark.operators.dedup import band_keys_from_grams, gram_set_expr
    from sparsity_spark.util import ensure_parallelism

    t = float(threshold)
    # one pass per corpus (r11, guide §1.2): each side's gram arrays
    # materialize once (lazy checkpoint) and both its band keys and its
    # verify arrays derive from them — the text was previously
    # tokenized+shingled twice per side
    tg = ensure_parallelism(train).select(
        F.col(id_col),
        gram_set_expr(text_col, k).alias("__g_t__"),
    ).localCheckpoint(eager=False)
    bg = ensure_parallelism(benchmark).select(
        F.col(id_col).alias("__bench_id__"),
        gram_set_expr(text_col, k).alias("__g_b__"),
    ).localCheckpoint(eager=False)
    tb = band_keys_from_grams(tg, id_col, "__g_t__")
    bb = band_keys_from_grams(bg, "__bench_id__", "__g_b__").select(
        "band", "band_key", "__bench_id__"
    )
    cand = (
        tb.join(F.broadcast(bb), ["band", "band_key"])
        .select(F.col(id_col), F.col("__bench_id__"))
        .distinct()
    )
    return _fuzzy_matches(cand, tg, F.broadcast(bg), id_col, t)


def _fuzzy_matches(
    cand: DataFrame, train_grams: DataFrame, bench_grams: DataFrame, id_col: str, t: float
) -> DataFrame:
    """The verify both fuzzy decontaminations share: join (id_col, bench
    id) candidates to the (key, gram array) sides, keep pairs with exact
    Jaccard >= t, and roll them up per training doc into
    (id_col, n_bench_matches, max_jaccard)."""
    from sparsity_spark.operators.dedup import _jaccard, _verify

    # exact Jaccard gate: the single-divide compare both engines
    # evaluate identically on exact integers
    verified = _verify(cand, train_grams, bench_grams, id_col).where(_jaccard() >= t)
    # integer half-up micros, not ROUND(double): c/union with a 2^a·5^b
    # union size (e.g. 128) lands EXACTLY on a …5·10⁻⁷ tie, where Spark's
    # BigDecimal HALF_UP and DuckDB's float ROUND split (the r10
    # quality-score lesson)
    j_micro = F.expr(
        "cast((2 * __c__ * 1000000 + (__sa__ + __sb__ - __c__))"
        " div (2 * (__sa__ + __sb__ - __c__)) as double) / 1000000"
    )
    return verified.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bench_matches"),
        F.max(j_micro).alias("max_jaccard"),
    )


def write_benchmark_store(
    benchmark: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    num_buckets: int = 16,
) -> None:
    """Persist the eval-suite lake as a DECONTAMINATION REFERENCE — the
    store form of :func:`fuzzy_decontaminate`'s benchmark side, for the
    regime where the held-out suite is itself a lake (every benchmark,
    every paraphrase set, every canary collection) that each training
    release re-screens against. Recomputing its minhashes and gram sets
    per release re-reads the whole suite; the store computes them ONCE.

    Two tables: ``{table}__bands`` — (bench_id, band, band_key) bucketed
    by (band, band_key), so the candidate join against a training
    release plans a bare bucketed scan on the benchmark side (only the
    training bands shuffle, into the store's bucket count); and
    ``{table}__grams`` — (bench_id, grams) bucketed by bench_id, so the
    exact-Jaccard verify join is Exchange-free on the store side too.
    A fresh build clears the store's tombstones and the ``__bands``
    table's watermarks (the streaming loop's replay screen)."""
    from sparsity_spark.operators.dedup import band_keys, gram_set_expr

    stores.clear_tombstones(benchmark.sparkSession, table)
    # NOTE (r11): sharing one materialized gram table between the two
    # writes was measured SLOWER here (2.9→4.5 s) — each write is its
    # own action, and checkpointing corpus-sized gram arrays costs more
    # than re-running the cheap text→shingle projection; the read-side
    # screen (one job, overlapping subtrees) is where the sharing pays.
    b = band_keys(benchmark, id_col, text_col, k, num_hashes, bands)
    g = benchmark.select(
        F.col(id_col).alias("bench_id"),
        gram_set_expr(text_col, k).alias("grams"),
    )
    # the two tables are independent (different names, no read-after-write
    # between them) — overlap their write jobs from a driver thread pool
    # (guide §2.6, the write_ivfpq_index discipline)
    from sparsity_spark.util import overlap_jobs

    def _write_bands():
        stores.create(
            b.select(F.col(id_col).alias("bench_id"), "band", "band_key"),
            f"{table}__bands",
            ["band", "band_key"],
            num_buckets,
        )

    def _write_grams():
        stores.write_bucketed(g, f"{table}__grams", ["bench_id"], num_buckets)

    overlap_jobs(_write_bands, _write_grams)


def append_benchmark_store(
    benchmark: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> None:
    """Add a new benchmark drop to the store (a fresh eval suite ships):
    band and gram rows append through the existing bucket specs (Spark
    validates them against the tables), so the store stays
    shuffle-free-joinable forever. Caller contract: ids are new
    (append-only lake discipline, the append_band_store rule)."""
    from sparsity_spark.operators.dedup import band_keys, gram_set_expr
    from sparsity_spark.util import overlap_jobs

    # two cheap text passes by design — see write_benchmark_store's note
    b = band_keys(benchmark, id_col, text_col, k, num_hashes, bands)
    g = benchmark.select(
        F.col(id_col).alias("bench_id"),
        gram_set_expr(text_col, k).alias("grams"),
    )
    # independent tables — overlapped appends (guide §2.6; the
    # append_containment_store discipline)
    overlap_jobs(
        lambda: stores.append(
            b.select(F.col(id_col).alias("bench_id"), "band", "band_key"),
            f"{table}__bands",
        ),
        lambda: stores.append(g, f"{table}__grams"),
    )


def remove_from_benchmark_store(ids: DataFrame, table: str, id_col: str = "bench_id") -> None:
    """Right-to-be-forgotten / benchmark-retirement for the
    decontamination reference: tombstone the bench ids — every
    subsequent :func:`fuzzy_decontaminate_store` read anti-joins them
    out (broadcast, deletion-sized), so a retired or takedown'd
    benchmark stops flagging training docs immediately with zero store
    rewrite. Idempotent; physical removal is
    :func:`compact_benchmark_store`."""
    stores.forget(ids.select(F.col(id_col).alias("bench_id")), table)


def compact_benchmark_store(spark, table: str) -> None:
    """Physically remove tombstoned benchmark rows: rewrite both store
    tables' live rows through their own bucket specs, THEN drop the
    tombstone table — the rewrite-then-clear ordering of
    :func:`sparsity_spark.stores.compact`, over two tables."""
    from sparsity_spark.util import overlap_jobs

    if stores.tombstones(spark, table) is None:
        return
    bands_t, grams_t = f"{table}__bands", f"{table}__grams"
    live_b = _benchmark_side(spark, table, bands_t).localCheckpoint(eager=True)
    live_g = _benchmark_side(spark, table, grams_t).localCheckpoint(eager=True)
    # both live sets are frozen BEFORE either table mutates, and the two
    # rewrites hit independent tables — overlap them (guide §2.6); the
    # tombstone drop stays LAST
    overlap_jobs(
        lambda: stores.rewrite(live_b, bands_t),
        lambda: stores.rewrite(live_g, grams_t),
    )
    stores.clear_tombstones(spark, table)


def _benchmark_side(spark, table: str, side_table: str) -> DataFrame:
    """One store table with tombstoned bench ids anti-joined out."""
    return stores.live(spark, table, spark.table(side_table))


def fuzzy_decontaminate_store(
    train: DataFrame,
    table: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """:func:`fuzzy_decontaminate` against the PERSISTED benchmark store
    — identical semantics and output schema, different plan: the
    benchmark side is never recomputed and never shuffled (bucketed
    scans on both the band-candidate join and the gram-verify join;
    only the training release's bands and candidate rows move), so the
    per-release screening cost excludes the whole eval-suite lake. The
    training side still computes bands + gram sets in one pass each —
    work ∝ release size, not suite size."""
    from sparsity_spark.operators.dedup import band_keys_from_grams, gram_set_expr
    from sparsity_spark.util import ensure_parallelism

    spark = train.sparkSession
    t = float(threshold)
    # one release pass (r11, guide §1.2): the training side's gram
    # arrays materialize once (lazy checkpoint — overlaps with the
    # store-side scans in the same job) and BOTH the band-candidate
    # probe and the exact-Jaccard verify derive from them; the text was
    # previously tokenized+shingled twice per release
    tg = ensure_parallelism(train).select(
        F.col(id_col),
        gram_set_expr(text_col, k).alias("__g_t__"),
    ).localCheckpoint(eager=False)
    tb = band_keys_from_grams(tg, id_col, "__g_t__")
    bb = _benchmark_side(spark, table, f"{table}__bands")
    cand = (
        tb.join(bb, ["band", "band_key"])
        .select(F.col(id_col), F.col("bench_id"))
        .distinct()
    )
    # dropDuplicates on the id-bucketed gram table collapses the duplicate
    # rows a crash-replayed streaming append leaves behind (rows are
    # content-derived, so duplicates are identical; the aggregate is
    # bucket-local — no Exchange). Duplicate BAND rows die in
    # cand.distinct() above, so both side tables are replay-tolerant
    # read-side (the streaming_benchmark_maintain crash-window contract).
    bg = (
        _benchmark_side(spark, table, f"{table}__grams")
        .dropDuplicates(["bench_id"])
        .select("bench_id", F.col("grams").alias("__g_b__"))
    )
    return _fuzzy_matches(cand, tg, bg, id_col, t)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, int],
    default_percent: int = 0,
) -> DataFrame:
    """Per-stratum reproducible sampling: each stratum keeps its own percent
    of rows, selected by content hash of the key (rebalancing a skewed
    corpus — e.g. downsample the dominant language — is a standard
    training-mix step). Pure filter: no shuffle, no RNG, the same row
    survives on any cluster/engine/retry; strata absent from ``fractions``
    keep ``default_percent``."""
    b = hash_bucket(F.col(key_col))
    expr = None
    for stratum, pct in fractions.items():
        cond = (F.col(strata_col) == stratum) & (b < pct)
        expr = cond if expr is None else expr | cond
    fallback = (~F.col(strata_col).isin(list(fractions))) & (b < default_percent)
    return df.filter(expr | fallback if expr is not None else fallback)


def url_parts(url_col):
    """Decompose a URL column into (scheme, host, registered_domain, path)
    with Spark's built-in ``parse_url`` (pure JVM projection) plus a
    ``substring_index`` suffix for the registrable domain. Map-only — the
    web-corpus provenance primitive (CommonCrawl-style curation keys on
    host/domain)."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    host = F.parse_url(c, F.lit("HOST"))
    return {
        "scheme": F.parse_url(c, F.lit("PROTOCOL")),
        "host": host,
        "domain": F.substring_index(host, ".", -2),
        "path": F.parse_url(c, F.lit("PATH")),
    }


def cap_per_domain(
    df: DataFrame,
    url_col: str = "url",
    max_docs: int = 100,
    order_col: str = "doc_id",
) -> DataFrame:
    """Per-domain document cap: keep at most ``max_docs`` docs per
    registrable domain, by ascending ``order_col`` — the anti-domination
    pass every web-scale corpus runs (no single site floods the training
    mix). Deterministic survivors (explicit total order), never a sample.

    Scale shape: one hash-shuffle on domain + per-partition rank. Spark
    rewrites the rank filter into WindowGroupLimit, so each shuffle
    partition keeps only max_docs rows per domain BEFORE the full sort —
    state is O(domains · max_docs), not O(rows). Heavily skewed domains
    (one host = 30% of a crawl) are exactly the rows the limit discards
    early."""
    parts = url_parts(url_col)
    w = Window.partitionBy("__domain").orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__domain", parts["domain"])
        .withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= max_docs)
        .drop("__rank")
        .withColumnRenamed("__domain", "domain")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted random sample WITHOUT replacement of k rows, deterministic
    by content (Efraimidis-Spirakis A-Res: pick the k smallest
    ``-ln(u) / w`` keys, u uniform in (0,1)).

    u is derived from the row's content hash instead of an RNG — the first
    8 md5 hex chars as a 32-bit integer — so the "random" draw is a pure
    column expression: reproducible across engines, retries, partitionings,
    and cluster sizes, and the whole operator is a map-side projection
    followed by a global top-k (TakeOrderedAndProject: per-partition heaps
    of k rows, no global sort — the same plan at 100 TB keeps only
    k·partitions candidate rows).

    Returns the sampled rows with the selection key exposed as ``skey``
    (scaled ×1e6, rounded) for auditability.
    """
    h = F.conv(F.substring(F.md5(F.col(content_col)), 1, 8), 16, 10).cast("long")
    u = (h + F.lit(1)) / F.lit(4294967297.0)  # (0, 1]: h in [0, 2^32-1]
    key = -F.log(u) / F.col(weight_col)
    return (
        df.withColumn("__key", key)
        .orderBy(F.col("__key").asc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("skey", F.round(F.col("__key") * 1e6, 4))
        .drop("__key")
    )


def group_entropy(df: DataFrame, key_col: str, cat_col: str) -> DataFrame:
    """Shannon entropy (nats) of the categorical distribution within each
    group: ``H = -sum(p_c ln p_c)`` over categories c.

    Shape: one hash aggregate on (key, cat) with map-side combine — the
    only pass over raw rows — then a window total and per-key aggregate
    over the O(groups x categories) cells (their exchange is tiny relative
    to the input). The quality-signal primitive (source diversity, user
    behavior spread) at corpus scale.

    Returns (key_col, n: bigint, entropy: double, rounded to 4).
    """
    cnt = df.groupBy(key_col, cat_col).agg(F.count("*").alias("__c"))
    w = Window.partitionBy(key_col)
    p = F.col("__c") / F.col("__t")
    return (
        cnt.withColumn("__t", F.sum("__c").over(w))
        .groupBy(key_col)
        .agg(
            F.max("__t").alias("n"),
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy"),
        )
    )


def temperature_mix(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    temperature: float = 2.0,
    target_fraction: float = 0.5,
    buckets: int = 1_000_000,
) -> DataFrame:
    """Temperature-based mixture resampling across domains (the multilingual
    /multi-source rebalancing step of LLM data recipes): domain weights
    p_d ∝ n_d^(1/T), so T=1 keeps natural proportions and T→∞ approaches
    uniform over domains; per-domain keep-rate is
    min(1, target_total · p_d / n_d).

    Scale shape: one hash aggregate for the per-domain counts (a
    domain-cardinality-sized result, broadcast back), then a map-only
    deterministic content-hash filter — the same md5 draw as sample_hash,
    so the selection is reproducible across runs, partitionings, and
    engines. Keep-rates are rounded to 9 decimals to stay engine-portable.
    """
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    counts = df.groupBy(domain_col).agg(F.count("*").alias("__n__"))
    total = df.count()
    weighted = counts.withColumn("__w__", F.pow(F.col("__n__").cast("double"), 1.0 / temperature))
    wsum = weighted.agg(F.sum("__w__").alias("s")).collect()[0]["s"]
    rates = weighted.select(
        domain_col,
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(float(total) * float(target_fraction)) * F.col("__w__") / (F.lit(float(wsum)) * F.col("__n__")),
            ),
            9,
        ).alias("__rate__"),
    )
    h = hash_bucket(F.col(key_col), buckets)
    return (
        df.join(F.broadcast(rates), on=domain_col)
        .filter(h < F.col("__rate__") * F.lit(buckets))
        .drop("__rate__")
    )


def target_mix(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    weights: dict[str, float],
    target_fraction: float = 0.5,
    buckets: int = 1_000_000,
) -> DataFrame:
    """EXPLICIT-weight mixture resampling: keep-rates are derived from a
    target domain distribution (e.g. the published data recipe
    {'en': 0.6, 'code': 0.3, 'de': 0.1}) instead of `temperature_mix`'s
    count-derived weights. rate_d = min(1, T·w_d / n_d) with
    T = target_fraction · total rows — a domain with too little data for
    its target weight keeps everything (rate caps at 1), the standard
    under-supply behavior of training-mix construction. Domains absent
    from ``weights`` are dropped.

    Same 100 TB shape as temperature_mix: one domain-cardinality count
    aggregate broadcast back + a map-only deterministic md5 draw, so the
    selection is reproducible across runs, partitionings, and engines;
    keep-rates round to 9 decimals for engine portability."""
    if not weights:
        raise ValueError("weights must be non-empty")
    wsum = float(sum(weights.values()))
    counts = df.groupBy(domain_col).agg(F.count("*").alias("__n__"))
    total = df.count()
    t_rows = float(total) * float(target_fraction)
    rate = None
    for dom, w in weights.items():
        r = F.round(
            F.least(F.lit(1.0), F.lit(t_rows * float(w) / wsum) / F.col("__n__")), 9
        )
        rate = F.when(F.col(domain_col) == dom, r) if rate is None else rate.when(
            F.col(domain_col) == dom, r
        )
    rates = counts.select(domain_col, rate.alias("__rate__")).filter(
        F.col("__rate__").isNotNull()
    )
    h = hash_bucket(F.col(key_col), buckets)
    return (
        df.join(F.broadcast(rates), on=domain_col)
        .filter(h < F.col("__rate__") * F.lit(buckets))
        .drop("__rate__")
    )


def materialize_bins(
    packed: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_count_col: str = "n_tokens",
    bin_col: str = "bin_id",
    sep: str = " <|eos|> ",
) -> DataFrame:
    """Turn pack_sequences' bin assignment into actual training sequences:
    one row per bin with the member texts concatenated in id order behind
    an EOS separator, plus token/doc accounting. ONE hash aggregate on the
    bin key; in-bin ordering is array_sort over the collected (id, text)
    structs — bounded by the token budget, never by corpus size. Returns
    (bin_id, packed_text, n_tokens, n_docs)."""
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col(id_col), F.col(text_col)))),
        lambda s: s[text_col],
    )
    return packed.groupBy(bin_col).agg(
        F.array_join(ordered, sep).alias("packed_text"),
        F.sum(token_count_col).alias("n_tokens"),
        F.count("*").alias("n_docs"),
    )


def profile_columns(df: DataFrame, cols: list[str], approx: bool = False) -> DataFrame:
    """Single-pass data profiling: one row per requested column with row
    count, null count, distinct count, min/max/mean — the health check a
    pipeline runs before training on a new drop of data.

    ONE aggregate over the data computes every metric (the per-column
    results then pivot to long format driver-free via explode of a
    metadata-sized struct array). Exact COUNT(DISTINCT) on C columns makes
    Spark expand input rows ×C before the hash aggregate — fine for a
    handful of profiled columns; pass ``approx=True`` to swap in
    HyperLogLog ``approx_count_distinct`` (single expand-free pass, ~2%
    error) when profiling very wide tables at full scale.

    Returns (col_name, n_rows, n_null, n_distinct, min_v, max_v, mean_v)
    with the numeric metrics as round-6 doubles."""
    aggs = []
    for c in cols:
        distinct = (
            F.approx_count_distinct(c) if approx else F.count_distinct(F.col(c))
        )
        aggs += [
            F.count(F.lit(1)).alias(f"__{c}_rows"),
            (F.count(F.lit(1)) - F.count(F.col(c))).alias(f"__{c}_null"),
            distinct.alias(f"__{c}_dist"),
            F.round(F.min(F.col(c)).cast("double"), 6).alias(f"__{c}_min"),
            F.round(F.max(F.col(c)).cast("double"), 6).alias(f"__{c}_max"),
            F.round(F.avg(F.col(c)), 6).alias(f"__{c}_mean"),
        ]
    one = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"__{c}_rows").alias("n_rows"),
            F.col(f"__{c}_null").alias("n_null"),
            F.col(f"__{c}_dist").alias("n_distinct"),
            F.col(f"__{c}_min").alias("min_v"),
            F.col(f"__{c}_max").alias("max_v"),
            F.col(f"__{c}_mean").alias("mean_v"),
        )
        for c in cols
    ]
    return one.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def grouped_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: list[float] = (0.25, 0.5, 0.75, 0.9),
    approx_accuracy: int | None = None,
) -> DataFrame:
    """Per-group quantiles (linear interpolation — Spark ``percentile``
    and DuckDB/Postgres ``quantile_cont`` agree bit-for-bit on this
    definition, verified on the testdata): the document-length /
    score-distribution summary that drives corpus quality cuts.

    One hash aggregate per group computes the whole quantile list, then a
    posexplode pairs each q with its value — no per-quantile passes.
    Exact percentile buffers each group's values; pass ``approx_accuracy``
    (e.g. 10000 — error ≤ 1/accuracy of the group's rank range) to switch
    to ``approx_percentile``'s bounded-memory mergeable sketch: the SAME
    plan shape, the 100 TB path for open-ended group sizes. Approx output
    is engine-specific (sketch-dependent), so it carries no SQL oracle —
    the exact mode is the oracle-checked one and the accuracy test pins
    the sketch against it.

    Returns (group_col, q, quantile_value) with round-6 doubles."""
    qlist = [float(x) for x in qs]
    if approx_accuracy is not None:
        pct = F.percentile_approx(
            F.col(value_col),
            F.array(*[F.lit(x) for x in qlist]),
            F.lit(int(approx_accuracy)),
        )
    else:
        pct = F.percentile(F.col(value_col), F.array(*[F.lit(x) for x in qlist]))
    agg = df.groupBy(group_col).agg(pct.alias("__qv"))
    return agg.select(
        group_col,
        F.posexplode("__qv").alias("__i", "quantile_value"),
    ).select(
        group_col,
        F.element_at(F.array(*[F.lit(x) for x in qlist]), F.col("__i") + 1).alias("q"),
        F.round(F.col("quantile_value").cast("double"), 6).alias("quantile_value"),
    )


def curriculum_shards(
    df: DataFrame,
    score_col: str,
    n_shards: int = 4,
) -> DataFrame:
    """Curriculum sharding: assign every row to one of ``n_shards`` by its
    score's quantile band (shard 0 = lowest band), so training can walk
    easy→hard (or the reverse) by consuming shards in order.

    NOT a global NTILE — that is one unpartitioned window over the corpus.
    Instead the n-1 interior quantile cutpoints are computed with ONE
    exact-percentile aggregate (driver-collects n-1 doubles — metadata),
    and assignment is a map-only CASE chain every engine evaluates
    identically: shard = #cutpoints strictly below the row's round-6
    score. The compare is ``cut < score``, so a score EQUAL to a cutpoint
    does not count that cut and lands in the LOWER shard — same rule in
    any SQL engine. Shard sizes are approximately equal — exactly what
    quantiles promise, and the map-only form is the price-free trade
    against NTILE's exact-but-serial split.

    Empty input, an all-NULL score column, or ``n_shards=1`` yield no
    cutpoints: every (surviving) row lands in shard 0 rather than raising.

    Returns the input plus a ``shard`` int column."""
    qs = [i / n_shards for i in range(1, n_shards)]
    cuts = []
    if qs:
        got = df.agg(
            F.percentile(
                F.round(F.col(score_col), 6), F.array(*[F.lit(q) for q in qs])
            ).alias("c")
        ).collect()[0]["c"]
        # percentile over zero non-NULL rows returns NULL → no cutpoints.
        # Round half-AWAY-from-zero (Spark F.round / DuckDB ROUND), not
        # Python round()'s banker's rounding — a cutpoint landing on an
        # exact half at the 6th decimal would otherwise shard rows
        # differently across engines (same discipline as kmeans_fit).
        import math

        cuts = [
            math.floor(abs(float(c)) * 1e6 + 0.5) * (1 if float(c) >= 0 else -1) / 1e6
            for c in (got or [])
        ]
    score = F.round(F.col(score_col), 6)
    shard = sum(
        (F.when(F.lit(c) < score, 1).otherwise(0) for c in cuts),
        F.lit(0),
    )
    return df.withColumn("shard", shard.cast("int"))


def contamination_fraction(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_bench_df: int | None = None,
) -> DataFrame:
    """Graded decontamination: per training doc, the FRACTION of its
    distinct word k-grams that appear anywhere in the benchmark corpus —
    the tunable signal behind threshold policies ("drop above 80%
    overlap, audit above 20%") where :func:`decontaminate` only flags.

    Same scale shape as decontaminate — benchmark side broadcast,
    training side never shuffled before the per-doc aggregate — and ONE
    pass total: the training shingles LEFT-join the broadcast benchmark
    set with a hit marker, and a single aggregate counts both the doc's
    grams (count(*)) and the hits (count of the marker — count skips
    NULLs) — no second tokenize pass, no totals⋈shared join. Clean docs
    report 0.0 instead of disappearing; fraction rounds to 6 for engine
    portability.

    Returns (id_col, n_grams, n_shared_grams, contamination)."""
    from sparsity_spark.operators.dedup import shingle_sets

    tr = shingle_sets(train, id_col, text_col, k)
    be = shingle_sets(benchmark, id_col, text_col, k).select(
        F.col("shingle"), F.col(id_col).alias("__bench_id__")
    )
    if max_bench_df is not None:
        be = (
            be.groupBy("shingle")
            .agg(F.count_distinct("__bench_id__").alias("__n__"))
            .filter(F.col("__n__") <= max_bench_df)
            .select("shingle")
        )
    else:
        be = be.select("shingle").distinct()
    marked = tr.join(
        F.broadcast(be.withColumn("__hit__", F.lit(1))), on="shingle", how="left"
    )
    return marked.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_grams"),
        F.count("__hit__").cast("long").alias("n_shared_grams"),
        F.round(F.count("__hit__") / F.count("*"), 6).alias("contamination"),
    )


def percentile_gate(
    df: DataFrame,
    group_col: str,
    value_col: str,
    q: float = 0.5,
    keep_col: str = "kept",
    approx_accuracy: int | None = None,
) -> DataFrame:
    """Per-group quantile gate (r8): keep rows at or above their group's
    q-quantile of ``value_col`` — the "top half of each language by
    quality" curation step, as data (a kept flag the caller filters or
    audits on). One percentile aggregate (group-cardinality-sized,
    broadcast back) + a map-side comparison.

    ``approx_accuracy`` (r9 — VERDICT r8 #9): the exact percentile
    buffers every group's values in the aggregation state, which is fine
    for thousands of groups but not for a 100 TB corpus with huge groups;
    passing an accuracy (e.g. 10000 — rank error ≤ group_size/accuracy)
    switches the SAME API to ``approx_percentile``'s bounded-memory
    mergeable KLL-style sketch — identical plan shape, map-side partial
    merge, no value buffering. Semantics gap (pinned in test_pipeline):
    approx returns a DATA POINT where exact interpolates, so in an
    even-sized group rows sitting exactly at the lower middle value flip
    to kept=True — the only possible disagreement, rare and one-sided;
    the oracle row stays on the exact path.

    Determinism note: at q=0.5 the interpolated cutoff is either a data
    point or the midpoint of two adjacent ones, so with round-6-quantized
    values no row can sit within float drift of the threshold — the
    kept flag is engine-exact (the cutoff itself is deliberately NOT
    emitted: its last ulp is interpolation-order-dependent)."""
    if approx_accuracy is not None:
        cut_expr = F.percentile_approx(
            F.col(value_col), F.lit(float(q)), F.lit(int(approx_accuracy))
        )
    else:
        cut_expr = F.expr(f"percentile({value_col}, {q})")
    cut = df.groupBy(group_col).agg(cut_expr.alias("__cut__"))
    return (
        df.join(F.broadcast(cut), group_col)
        .withColumn(keep_col, F.col(value_col) >= F.col("__cut__"))
        .drop("__cut__")
    )


def ab_conversion_z(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    event_col: str = "event_type",
    convert_value: str = "purchase",
) -> DataFrame:
    """Daily A/B conversion z-scores (r9 — the experimentation readout):
    cohort = user id parity (the deterministic stand-in for an
    assignment column), conversion = the user fired ``convert_value``
    that day. Per day: nA/nB distinct active users, xA/xB converted,
    two-proportion z = (pA − pB) / sqrt(p̂(1−p̂)(1/nA + 1/nB)) with p̂
    pooled.

    Determinism: the counts are exact BIGINTs; the finish is a fixed
    tree of IEEE divides/multiplies and ONE sqrt (correctly rounded by
    IEEE-754, unlike the transcendentals) evaluated in the identical
    order by both engines, then round-6 — the corr_matrix float-finish
    discipline. Plan: two partial+final hash aggregates (per-user-day
    dedup, then per-day-cohort counts) + one day-keyed self-join of the
    day-sized aggregate — corpus touched once. Returns
    (day, n_a, n_b, conv_a, conv_b, p_a, p_b, z)."""
    base = events.select(
        F.to_date(F.col(ts_col)).alias("day"),
        F.col(user_col).alias("u"),
        (F.col(user_col) % 2 == 0).alias("is_a"),
        (F.col(event_col) == convert_value).cast("int").alias("conv"),
    )
    per_user = base.groupBy("day", "u", "is_a").agg(F.max("conv").alias("converted"))
    per_cohort = per_user.groupBy("day", "is_a").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("converted").cast("long").alias("x"),
    )
    a = per_cohort.where("is_a").select(
        "day", F.col("n").alias("n_a"), F.col("x").alias("conv_a")
    )
    b = per_cohort.where(~F.col("is_a")).select(
        "day", F.col("n").alias("n_b"), F.col("x").alias("conv_b")
    )
    j = a.join(b, "day")
    # degenerate days (pooled rate exactly 0 or 1) have a ZERO z
    # denominator: ANSI Spark throws on the divide while DuckDB returns
    # NULL — drop them on BOTH sides (r9 review; no z is defined there)
    j = j.where(
        ((F.col("conv_a") + F.col("conv_b")) > 0)
        & ((F.col("conv_a") + F.col("conv_b")) < (F.col("n_a") + F.col("n_b")))
    )
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    z = (p_a - p_b) / F.sqrt(
        pooled * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return j.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_a", "n_b", "conv_a", "conv_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.round(z, 6).alias("z"),
    )


def rfm_segments(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    buckets: int = 4,
    max_unsharded_rows: int = 10_000_000,
) -> DataFrame:
    """RFM segmentation (r9 — the classic entity scorecard, equally the
    shape of per-source corpus triage: how fresh, how active, how heavy).
    Per user: recency = days between their last event and the corpus's
    last day (exact integer datediff), frequency = event count, monetary
    = round-4 value sum; each metric quartiled with ntile over a TOTAL
    order (metric, then user id — the unique tie-break that makes ntile's
    row numbering, and therefore every bucket edge, engine-exact).
    Recency ranks ascending (fresher = bucket 1 = better), frequency and
    monetary descending (heavier = bucket 1).

    Shape: ONE hash aggregate over raw events; the three ntile windows
    run over the user-sized aggregate, not the event log; the corpus max
    day is a scalar aggregate. A global ntile is still ONE sort task, so
    the pack_sequences loud-failure guard applies: above
    ``max_unsharded_rows`` users this raises — switch to approximate
    percentile cutoffs + a map-side bucket lookup at that scale (exact
    rank windows stop being the right tool long before 10⁸ entities).
    Returns
    (user_id, recency_days, frequency, monetary, r_q, f_q, m_q, segment)
    with segment the "RFM" digit string."""
    base = events.select(
        F.col(user_col).alias("user_id"),
        F.to_date(F.col(ts_col)).alias("d"),
        F.col(value_col).alias("v"),
    )
    # ONE corpus pass: persist the user-sized aggregate so the guard
    # probe, the corpus max day (= max of last_d), and the window input
    # all read the cache instead of re-aggregating raw events (r9 review
    # — the probe and a separate base.agg were two extra corpus scans)
    per_user = base.groupBy("user_id").agg(
        F.max("d").alias("last_d"),
        F.count("*").cast("long").alias("frequency"),
        F.round(F.sum("v"), 4).alias("monetary"),
    ).persist()
    try:
        probe = per_user.limit(max_unsharded_rows + 1).count()
        if probe > max_unsharded_rows:
            raise ValueError(
                f"rfm_segments: more than {max_unsharded_rows} entities — the "
                "global ntile windows would sort in ONE task. Use approximate "
                "percentile cutoffs with a broadcast bucket lookup at this "
                "scale, or raise max_unsharded_rows explicitly."
            )
        max_day = per_user.agg(F.max("last_d")).collect()[0][0]
        per_user = per_user.withColumn(
            "recency_days", F.datediff(F.lit(max_day), F.col("last_d")).cast("long")
        )
        w_r = Window.orderBy(F.col("recency_days"), F.col("user_id"))
        w_f = Window.orderBy(F.col("frequency").desc(), F.col("user_id"))
        w_m = Window.orderBy(F.col("monetary").desc(), F.col("user_id"))
        out = (
            per_user.withColumn("r_q", F.ntile(buckets).over(w_r))
            .withColumn("f_q", F.ntile(buckets).over(w_f))
            .withColumn("m_q", F.ntile(buckets).over(w_m))
        )
        res = out.select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary",
            "r_q",
            "f_q",
            "m_q",
            F.concat_ws("", "r_q", "f_q", "m_q").alias("segment"),
        )
        return res.localCheckpoint(eager=True)
    finally:
        per_user.unpersist()
