"""Structured Streaming versions of the engine's ingest + aggregation.

The reference's data domain is event streams (TrailDB trails, reference
traildb_coo.c:49-91) but all its processing is batch (SURVEY §2.10: no
streaming operators exist there).  These are the natural Spark extensions:

* ``stream_events``             — file-source readStream over event parquet;
* ``streaming_one_hot_counts``  — the flagship one-hot → groupby_sum pipeline
  as a watermarked tumbling-window streaming aggregate (late data handled by
  the watermark, state bounded);
* ``streaming_session_stats``   — custom stateful operator per user via
  ``applyInPandasWithState`` (the reference's map_partitions-style UDF
  surface, made stateful).

Batch/stream parity: with the ``availableNow`` trigger the streaming
aggregate must equal the equivalent batch groupBy — pinned in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def stream_events(spark: SparkSession, path: str, schema: StructType = EVENT_SCHEMA) -> DataFrame:
    """File-source stream over an events directory (one file per micro-batch
    set; in production this is the Kafka/queue source with the same schema)."""
    return spark.readStream.schema(schema).parquet(path)


def streaming_one_hot_counts(
    events: DataFrame,
    window_duration: str = "1 day",
    watermark: str = "2 days",
    field: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window one-hot counts: the streaming form of the
    flagship pipeline.  One-hot stays a projection; the windowed groupBy is
    an incremental stateful aggregate whose state is bounded by the
    watermark (late rows older than it are dropped deterministically).

    Returns (window_start, window_end, col, value)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration), F.col(field).alias("col"))
        .agg(F.count("*").cast("double").alias("value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "col",
            "value",
        )
    )


def streaming_enriched_counts(
    events: DataFrame,
    dim: DataFrame,
    on: tuple[str, str] = ("user_id", "c_custkey"),
    seg_col: str = "c_mktsegment",
    value_col: str = "value",
    window_duration: str = "1 day",
    watermark: str = "2 days",
    ts_col: str = "ts",
) -> DataFrame:
    """Stream-static enrichment: join the event stream against a static
    dimension (broadcast — no stream-side shuffle, re-read per micro-batch
    so dimension updates are picked up), then a watermarked tumbling-window
    rollup per dimension segment.  This is the canonical production shape:
    facts arrive on the stream, dimensions live in a table.

    Returns (window_start, window_end, segment, n_events, total_value)."""
    ev_key, dim_key = on
    enriched = events.withWatermark(ts_col, watermark).join(
        F.broadcast(dim.select(F.col(dim_key).alias(ev_key), F.col(seg_col))),
        on=ev_key,
        how="inner",
    )
    return (
        enriched.groupBy(
            F.window(F.col(ts_col), window_duration), F.col(seg_col).alias("segment")
        )
        .agg(
            F.count("*").cast("double").alias("n_events"),
            F.round(F.sum(value_col), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "segment",
            "n_events",
            "total_value",
        )
    )


def streaming_dedup_exact(
    docs: DataFrame,
    content_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup: first-seen wins, duplicate content dropped
    across micro-batches; dedup state expires past the watermark
    (``dropDuplicatesWithinWatermark``) so it stays bounded on an unbounded
    stream — the streaming face of operators.dedup.exact_dedup."""
    hashed = docs.withColumn("content_hash", F.md5(F.col(content_col)))
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def streaming_dedup_neardup(
    docs: DataFrame,
    content_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 day",
    bits: int = 64,
) -> DataFrame:
    """Streaming NEAR-duplicate dedup: first doc per 64-bit SimHash
    fingerprint wins, so trivially-perturbed copies (reordered whitespace
    tokens, tiny insertions that don't flip any bit-majority) are dropped
    across micro-batches. Possible only because simhash_expr is a pure
    per-row projection — an explode+groupBy fingerprint would need a
    second stateful aggregation; here the ONLY state is
    ``dropDuplicatesWithinWatermark``'s bounded fingerprint set."""
    from sparsity_spark.operators.dedup import simhash_expr

    keyed = docs.withColumn("simhash", simhash_expr(content_col, bits))
    return keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["simhash"]
    )


EWMA_STATE_SCHEMA = "num double, den double"


def streaming_ewma(
    events: DataFrame,
    key_col: str = "user_id",
    order_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.3,
    watermark: str = "2 days",
    out_col: str = "ewma",
) -> DataFrame:
    """Per-key EWMA over an UNBOUNDED stream via the stable recurrence
    (the closed-form window expression in ``temporal.ewma`` overflows past
    ~2000 points per key at α=0.3 — this is its promised streaming
    replacement, VERDICT r3 #8):

        num_t = v_t + (1-α)·num_{t-1};  den_t = 1 + (1-α)·den_{t-1}
        ewma_t = num_t / den_t            (pandas ewm(adjust=True))

    ``den`` converges to 1/α and ``num`` stays value-scaled, so the state
    is two bounded doubles per key forever. Rows are ordered by
    ``order_col`` within each micro-batch; cross-batch order is arrival
    order, the standard streaming contract (exact batch parity under
    availableNow / in-order replay — pinned in tests). Emits one row per
    input row (update mode).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    r = 1.0 - alpha
    fields = {f.name: f.dataType.simpleString() for f in events.schema.fields}
    out_schema = (
        f"`{key_col}` {fields[key_col]}, `{order_col}` {fields[order_col]}, "
        f"`{value_col}` double, `{out_col}` double"
    )

    def update(key, pdfs, state: GroupState):
        num, den = state.get() if state.exists else (0.0, 0.0)
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames).sort_values(order_col)
        out = []
        for v in pdf[value_col].astype(float):
            num = v + r * num
            den = 1.0 + r * den
            out.append(num / den)
        state.update((num, den))
        yield pd.DataFrame(
            {
                key_col: pdf[key_col].to_numpy(),
                order_col: pdf[order_col].to_numpy(),
                value_col: pdf[value_col].astype(float).to_numpy(),
                out_col: out,
            }
        )

    return (
        events.withWatermark(order_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SESSION_STATE_SCHEMA = "n_events long, total_value double"
SESSION_OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"


def streaming_session_stats(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "2 days",
) -> DataFrame:
    """Custom stateful per-user accumulator via applyInPandasWithState:
    keeps (n_events, total_value) per user across micro-batches and emits
    the updated totals each batch — the pattern for any custom stateful
    operator Spark lacks natively."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get() if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 6)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_sliding_counts(
    events: DataFrame,
    window_duration: str = "2 days",
    slide: str = "1 day",
    watermark: str = "2 days",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked SLIDING-window counts: each event contributes to
    window_duration/slide overlapping windows (Spark expands the assignment
    map-side; state per open window is bounded by the watermark exactly as
    in the tumbling case). Windows are epoch-aligned multiples of the
    slide, so a batch oracle reproduces the starts with date_trunc
    arithmetic.

    Returns (window_start, window_end, n)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration, slide))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n",
        )
    )


def streaming_attribution_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    within: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join — the attribution shape: pair each
    left-stream event (e.g. a view) with every right-stream event from the
    SAME key within ``(0, within]`` AFTER it (e.g. the purchases it may
    have driven).

    Both streams carry a watermark and the join condition bounds event time
    on both sides, so Spark can expire buffered state: left rows older than
    (watermark + within) can never match a future right row and are
    dropped. Without the interval bound the state store grows without
    bound — THE stream-stream join pitfall at scale. Inner join + a
    watermark delay ≥ the join window ⇒ results equal the batch join
    exactly.

    Returns (key, left ts/event_id/value, right ts/event_id/value, lag_s).
    """
    lt = left.select(
        F.col(key_col).alias("k"),
        F.col(ts_col).alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
        F.col("value").alias("l_value"),
    ).withWatermark("l_ts", watermark)
    rt = right.select(
        F.col(key_col).alias("k2"),
        F.col(ts_col).alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("value").alias("r_value"),
    ).withWatermark("r_ts", watermark)
    joined = lt.join(
        rt,
        F.expr(
            f"k = k2 AND r_ts > l_ts AND r_ts <= l_ts + interval {within}"
        ),
        "inner",
    )
    return joined.select(
        F.col("k").alias("user_id"),
        "l_event_id",
        "r_event_id",
        ((F.unix_micros("r_ts") - F.unix_micros("l_ts")) / 1e6).alias("lag_s"),
        "l_value",
        "r_value",
    )


def streaming_screen_vs_store(
    docs: DataFrame,
    corpus_bands: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Streaming incremental near-dup screening: documents flowing through
    a stream are dropped when they MinHash-LSH-collide with an existing
    (static) corpus band table — the streaming face of
    `operators.dedup.incremental_lsh_dedup`, for the pipeline where a
    firehose appends to an already-deduplicated lake.

    Stateless and append-legal end to end: band keys come from the
    per-row `minhash_expr_bands` expression (no per-doc aggregation), and
    "drop if ANY band collides" is a CHAIN of `bands` stream-static LEFT
    ANTI equi-joins — survivors of the band-0 screen flow into the band-1
    screen, and so on; a doc reaching the end collided on no band. Each
    link is a plain equi-join on the band key against the store rows of
    that one band (never an OR predicate, which would plan as a
    nested-loop join), so work per micro-batch is batch-size equi-lookups
    — collisions, not corpus size, bound it. The static side is re-read
    per micro-batch, picking up store updates between batches. Emits the
    surviving rows unchanged, so it composes with any downstream sink or
    watermarked aggregation."""
    from sparsity_spark.operators.dedup import minhash_expr_bands, shingle_hashes_expr

    # two projections on purpose: the md5 shingle pass materializes ONCE
    # per row, then the 16 per-seed minima read the column — Catalyst
    # keeps the split (it refuses to collapse projections that would
    # duplicate expensive higher-order expressions)
    out = docs.withColumn("__hashes__", shingle_hashes_expr(content_col, k)).withColumn(
        "__bands__",
        minhash_expr_bands(content_col, k, num_hashes, bands, hashes=F.col("__hashes__")),
    ).drop("__hashes__")
    for bi in range(bands):
        # no distinct(): LEFT ANTI is an existence check, duplicate store
        # keys are harmless and deduplicating them would cost a shuffle
        # per link per micro-batch. Store the band table partitioned BY
        # band (partitionBy("band") parquet) and each link's filter prunes
        # to one partition directory instead of rescanning the whole store.
        store_b = corpus_bands.filter(F.col("band") == bi).select(
            F.col("band_key").alias("__bk__")
        )
        out = out.withColumn(
            "__bk__", F.element_at(F.col("__bands__"), bi + 1)["band_key"]
        ).join(store_b, on="__bk__", how="left_anti").drop("__bk__")
    return out.drop("__bands__")


def streaming_semantic_screen(
    embeddings: DataFrame,
    member_store: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Streaming SEMANTIC near-dup screening: embeddings flowing through a
    stream are dropped when a corpus vector of their k-means cluster sits
    at cosine ≥ threshold — the streaming face of
    `operators.dedup.semantic_screen` (literally the same operator: the
    Arrow assignment kernel is mapInPandas, streaming-legal; the screen is
    ONE stream-static LEFT ANTI equi-join on cid with the round-6 cosine
    as the join residual, stateless and append-legal). Work per incoming
    row ∝ its cluster's population — SemDeDup's own bound; the static
    member store is re-read per micro-batch, picking up store updates.

    Emits surviving rows as (id_col, cid, vec_d)."""
    from sparsity_spark.operators.dedup import semantic_screen

    return semantic_screen(
        embeddings, member_store, centroids, id_col, vec_col, threshold
    )


def streaming_semantic_screen_and_maintain(
    embeddings: DataFrame,
    table: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    intra_batch: bool = True,
    sink=None,
):
    """The streaming SEMANTIC maintenance loop — the SemDeDup face of
    :func:`streaming_screen_and_maintain`: each micro-batch is screened
    against the cid-bucketed member store written by
    :func:`operators.dedup.write_member_store`, survivors' member rows are
    appended BACK through the bucket spec, and the survivors flow to
    ``sink`` — increment N+1 screens against everything increment N kept.
    `append_member_store` is the shared implementation, one code path for
    batch and streaming increments so keep decisions cannot drift.

    ``sink(keepers_df, batch_id)`` receives surviving rows per batch; omit
    it to only maintain the store. Returns the foreachBatch
    DataStreamWriter — caller adds trigger/checkpoint and ``.start()``."""
    from sparsity_spark.operators.dedup import append_member_store

    def _process(batch_df, batch_id):
        decisions = append_member_store(
            batch_df, table, centroids, id_col, vec_col, threshold, intra_batch
        )
        if sink is not None:
            keepers = batch_df.join(
                decisions.filter(F.col("keep")).select(id_col), on=id_col
            )
            sink(keepers, batch_id)

    return embeddings.writeStream.foreachBatch(_process)


def streaming_screen_and_maintain(
    docs: DataFrame,
    table: str,
    id_col: str = "doc_id",
    content_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    intra_batch: bool = True,
    sink=None,
):
    """The FULL streaming dedup maintenance loop (VERDICT r4 #8): each
    micro-batch is screened against the bucketed band store written by
    :func:`operators.dedup.write_band_store`, survivors' band rows are
    appended BACK into the store, and the survivors flow to ``sink`` — so
    increment N+1 screens against everything increment N kept, forever.

    This is `foreachBatch` on purpose, not the stateless
    :func:`streaming_screen_vs_store` chain: the store append is a batch
    table write (bucketed saveAsTable), which only a batch context can
    perform; within the batch context the screening join gets the
    bucketed store's shuffle-free corpus side exactly like the batch
    operator (`append_band_store` is the shared implementation — one code
    path for batch and streaming increments, so their keep decisions
    cannot drift).

    ``sink(keepers_df, batch_id)`` receives the surviving rows per batch
    (write them to the lake, forward them downstream); omit it to only
    maintain the store. Returns the started-ready DataStreamWriter —
    caller adds trigger/checkpoint and ``.start()``."""
    from sparsity_spark.operators.dedup import append_band_store

    def _process(batch_df, batch_id):
        decisions = append_band_store(
            batch_df, table, id_col, content_col, k, num_hashes, bands, intra_batch
        )
        if sink is not None:
            keepers = batch_df.join(
                decisions.filter(F.col("keep")).select(id_col), on=id_col
            )
            sink(keepers, batch_id)

    return docs.writeStream.foreachBatch(_process)


def streaming_index_and_screen(
    embeddings: DataFrame,
    index_table: str,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dedup_threshold: float | None = None,
    topk: int = 5,
    nprobe: int = 1,
    intra_batch: bool = True,
    sink=None,
):
    """Streaming ANN index maintenance (the store-family loop applied to
    the IVF-PQ index): each micro-batch of new vectors is optionally
    screened for duplicates against the CURRENT index, then the
    survivors are appended into the persisted index through the frozen
    codebook/centroids and the bucket spec — so increment N+1 is searched
    against everything increment N indexed, forever, with zero corpus
    re-reads.

    Screening semantics (VERDICT r6 #1 fix): when ``dedup_threshold`` is
    set, EXACT twins are always dropped via the CODE-IDENTITY screen
    (:func:`operators.similarity.ivfpq_twin_screen` — SDC-0, exact for
    twins under the frozen codebook). ADC distance alone cannot express
    twin-ness: it is bounded below by the indexed vector's quantization
    error (measured 68.0 for an exact twin in the r6 test fixture), so
    the old min-ADC-≤-threshold rule dropped nothing at threshold 0.
    A ``dedup_threshold > 0`` additionally drops NEAR-dups whose top-1
    ADC distance falls under it — callers must set it ABOVE the index's
    quantization floor (the ADC distance of a twin) for it to fire.
    ``intra_batch=True`` (default) also keeps only the lowest id per code
    signature within each micro-batch, the store-family keep-first rule.

    `foreachBatch` for the same reason as :func:`streaming_screen_and_maintain`:
    the index append is a bucketed batch table write. Inside the batch
    context the screen reuses :func:`operators.similarity.ivfpq_index_topk`
    — the bucket-pruned production query path — and the append reuses
    :func:`operators.similarity.append_ivfpq_index`, one code path for
    batch and streaming increments.

    ``sink(results_df, batch_id)`` receives each batch's top-k matches
    against the pre-append index (query_id, neighbor_id, adc_d2) — the
    "what does this new data resemble" stream; omit it to only maintain
    the index. Returns the started-ready DataStreamWriter."""
    from sparsity_spark.operators.similarity import (
        append_ivfpq_index,
        ivfpq_index_topk,
        ivfpq_twin_screen,
    )

    def _process(batch_df, batch_id):
        batch_df = batch_df.localCheckpoint(eager=True)
        to_add = batch_df
        matches = None
        if dedup_threshold is not None or sink is not None:
            matches = ivfpq_index_topk(
                batch_df, index_table, dim=dim, topk=topk, nprobe=nprobe,
                id_col=id_col, vec_col=vec_col,
            ).localCheckpoint(eager=True)
        if dedup_threshold is not None:
            # exact twins: code identity against the index, keep-first
            # within the batch — frozen before the append mutates the
            # index the screen's lineage reads (the store-family rule)
            decisions = ivfpq_twin_screen(
                batch_df, index_table, dim=dim, id_col=id_col, vec_col=vec_col,
                intra_batch=intra_batch,
            ).localCheckpoint(eager=True)
            to_add = batch_df.join(
                decisions.filter(F.col("keep")).select(id_col), on=id_col
            )
            if dedup_threshold > 0:
                # near-dups: top-1 ADC under the threshold (only meaningful
                # above the quantization floor — see docstring)
                near = (
                    matches.groupBy("query_id")
                    .agg(F.min("adc_d2").alias("best_d2"))
                    .filter(F.col("best_d2") <= dedup_threshold)
                    .select(F.col("query_id").alias(id_col))
                )
                to_add = to_add.join(near, on=id_col, how="left_anti")
        append_ivfpq_index(to_add, index_table, dim=dim, id_col=id_col, vec_col=vec_col)
        if sink is not None:
            sink(matches, batch_id)

    return embeddings.writeStream.foreachBatch(_process)


def streaming_cms_maintain(
    stream_df: DataFrame,
    table: str,
    value_col: str,
    width: int = 256,
    depth: int = 3,
    sink=None,
):
    """Streaming frequency-sketch maintenance (the store-family loop
    applied to the count-min sketch, r7): each micro-batch is sketched and
    folded cell-wise into the persisted sketch table, so after N
    increments the store is BIT-EQUAL to sketching everything ever seen
    (cms_merge is exact, not approximate merging) — the always-current
    "how often have we seen this key" surface a 100 TB ingest keeps
    without ever rescanning. The fold is
    :func:`operators.sketches.merge_cms_store` — the same code path batch
    appends use, so batch and streaming counts cannot drift.

    `foreachBatch` because the store update is a batch table write; the
    sketch is metadata-sized, so each fold rewrites kilobytes.
    ``sink(merged_sketch_df, batch_id)`` observes the post-fold sketch.
    Returns the started-ready DataStreamWriter."""
    from sparsity_spark.operators.sketches import merge_cms_store

    def _process(batch_df, batch_id):
        merged = merge_cms_store(batch_df, table, value_col, width, depth)
        if sink is not None:
            sink(merged, batch_id)

    return stream_df.writeStream.foreachBatch(_process)


def streaming_hll_maintain(
    stream_df: DataFrame,
    table: str,
    value_col: str,
    b: int = 8,
    sink=None,
):
    """Streaming distinct-count maintenance (the store-family loop applied
    to the HLL register file, r7): each micro-batch's registers are folded
    cell-wise-MAX into the persisted file, so after N increments the store
    is BIT-EQUAL to sketching everything ever seen — and because max is
    idempotent, a REPLAYED batch leaves the store unchanged (the
    at-least-once-safety counter sketches lack; cf. streaming_cms_maintain
    where a replay double-counts). The fold is
    :func:`operators.sketches.merge_hll_store` — the same code path batch
    appends use, so batch and streaming registers cannot drift.

    `foreachBatch` because the store update is a batch table write; the
    register file is metadata-sized, so each fold rewrites kilobytes.
    ``sink(merged_registers_df, batch_id)`` observes the post-fold file.
    Returns the started-ready DataStreamWriter."""
    from sparsity_spark.operators.sketches import merge_hll_store

    def _process(batch_df, batch_id):
        merged = merge_hll_store(batch_df, table, value_col, b)
        if sink is not None:
            sink(merged, batch_id)

    return stream_df.writeStream.foreachBatch(_process)


def streaming_bloom_maintain(
    stream_df: DataFrame,
    table: str,
    key_col: str,
    m_bits: int = 1 << 17,
    k: int = 5,
    sink=None,
):
    """Streaming membership-bitmap maintenance (r8 — the store-family
    loop applied to the persisted bloom filter): each micro-batch's keys
    are hashed into (b, bits) rows and OR-folded into the persisted
    bitmap, so after N increments the store is BIT-EQUAL to one built
    from everything ever seen — and because OR is idempotent (set
    union), a REPLAYED batch leaves the bitmap unchanged, the
    at-least-once-safety property the HLL file shares and counter
    sketches lack. The fold is :func:`operators.skew.merge_bloom_store`
    — the same code path batch appends use, so batch and streaming
    membership cannot drift. The always-current use: the bloom-semijoin
    prefilter's bitmap stays fresh as the corpus ingests, without ever
    rescanning it.

    `foreachBatch` because the store update is a batch table write; the
    bitmap is metadata-sized (m_bits/8 bytes), so each fold rewrites
    kilobytes. ``sink(merged_rows_df, batch_id)`` observes the post-fold
    rows. Returns the started-ready DataStreamWriter."""
    from sparsity_spark.operators.skew import merge_bloom_store

    def _process(batch_df, batch_id):
        merged = merge_bloom_store(batch_df, table, key_col, m_bits, k)
        if sink is not None:
            sink(merged, batch_id)

    return stream_df.writeStream.foreachBatch(_process)


def streaming_edge_maintain(
    stream_df: DataFrame,
    table: str,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    top_k: int = 10,
    sink=None,
):
    """Streaming graph maintenance (r9 — VERDICT r8 #10, the store-family
    loop applied to the adjacency table): each micro-batch's edges are
    distinct-union-folded into the persisted edge set
    (:func:`operators.graph.merge_edge_store` — idempotent, replay-safe,
    the same code path batch appends use), then the node ranking is
    recomputed over the maintained set and the top-k surfaced. The
    recompute is deliberately FULL integer pagerank, not an incremental
    approximation: the maintained part is the corpus-sized adjacency
    (never rescanned from raw events); the rank iteration is the
    node-sized part and exact PageRank has no sound incremental form —
    re-running it per micro-batch is both correct and cheap relative to
    the data it would otherwise re-ingest. Batch parity pinned in
    test_streaming: after N increments the top-k equals batch pagerank
    on the union of every edge ever appended.

    `foreachBatch` because the store update is a batch table write.
    ``sink(topk_df, batch_id)`` observes each micro-batch's post-fold
    top-k (node, rank_micro). Returns the started-ready
    DataStreamWriter."""
    from pyspark.sql import functions as F

    from sparsity_spark.operators.graph import merge_edge_store, pagerank

    def _process(batch_df, batch_id):
        edges = merge_edge_store(batch_df, table, src_col, dst_col)
        ranks = pagerank(edges, iterations=iterations)
        top = ranks.orderBy(F.desc("rank_micro"), "node").limit(top_k)
        if sink is not None:
            sink(top, batch_id)

    return stream_df.writeStream.foreachBatch(_process)


def streaming_cluster_maintain(
    stream_df: DataFrame,
    band_table: str,
    cluster_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    sink=None,
):
    """Streaming near-dup CLUSTER maintenance (r9 — the store-family loop
    applied to the cluster store): each micro-batch of documents is
    shingled ONCE into band keys, paired against the bucketed band store
    (corpus side shuffle-free) and against itself (band self-join), and
    the pair increment FOLDS into the persisted doc→cluster store via
    :func:`operators.dedup.fold_cluster_store` — the pseudo-node
    components trick, so after N micro-batches the resolved store is
    BIT-EQUAL to clustering everything ever seen from scratch (pinned in
    test_streaming). The batch's band rows then append through the
    store's bucket spec so the NEXT batch pairs against them.

    Replay-safe end to end: a re-delivered batch's docs map through
    their (now stored) cluster assignments to already-merged
    pseudo-nodes, the fold appends nothing, and the band append
    anti-joins to empty — at-least-once delivery cannot corrupt either
    store. `foreachBatch` because both store updates are batch table
    writes. ``sink(resolved_df, batch_id)`` observes the post-fold
    resolved (doc_id, cluster_id) view. Returns the started-ready
    DataStreamWriter."""
    from pyspark.sql import functions as F

    from sparsity_spark import stores
    from sparsity_spark.operators.dedup import band_keys, band_store, fold_cluster_store

    def _process(batch_df, batch_id):
        spark = batch_df.sparkSession
        nb = band_keys(batch_df, id_col, text_col, k, num_hashes, bands).localCheckpoint(
            eager=True
        )
        store = band_store(spark, band_table)
        cross = (
            nb.join(
                store.select(F.col(id_col).alias("__cid__"), "band", "band_key"),
                ["band", "band_key"],
            )
            .select(F.col(id_col).alias("id_a"), F.col("__cid__").alias("id_b"))
            .distinct()
        )
        left = nb.select(F.col(id_col).alias("id_a"), "band", "band_key")
        right = nb.select(F.col(id_col).alias("id_b"), "band", "band_key")
        intra = (
            left.join(right, ["band", "band_key"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        resolved = fold_cluster_store(
            batch_df.select(id_col), cross.unionByName(intra), cluster_table
        )
        new_bands = nb.join(
            spark.table(band_table).select(id_col).distinct(), id_col, "left_anti"
        ).localCheckpoint(eager=True)
        stores.append(new_bands, band_table)
        if sink is not None:
            sink(resolved, batch_id)

    return stream_df.writeStream.foreachBatch(_process)


def streaming_topk_maintain(
    stream_df: DataFrame,
    table: str,
    key_col: str = "event_type",
    k: int = 10,
    sink=None,
):
    """Streaming exact heavy hitters (r9 — the count-store loop): each
    micro-batch pre-aggregates to one (key, count) row per key and folds
    into the persisted frequency store via
    :func:`operators.sketches.merge_count_store` — counts are the one
    store merge that is NOT idempotent as a set union, so replay safety
    comes from the store's batch_id screen (a re-delivered micro-batch
    appends nothing) plus the read side's MAX-collapse of raced
    duplicates. After N micro-batches :func:`count_store_topk` equals an
    exact groupBy-count over every row ever delivered (batch parity
    pinned in test_streaming), which the CMS loop can only approximate.

    `foreachBatch` because the store update is a batch table write;
    Structured Streaming's batch ids are exactly the replay-stable
    sequence the store screen needs — which also means the store table
    is married to THIS query's checkpoint: wiping the checkpoint restarts
    ids at 0 and the screen would silently drop the fresh batches, so
    drop table and checkpoint together (merge_count_store's single-writer
    contract). ``sink(topk_df, batch_id)``
    observes each post-fold top-k. Returns the started-ready writer."""
    from sparsity_spark.operators.sketches import count_store_topk, merge_count_store

    def _process(batch_df, batch_id):
        merge_count_store(batch_df, table, key_col, batch_id)
        top = count_store_topk(batch_df.sparkSession, table, k=k)
        if sink is not None:
            sink(top, batch_id)

    return stream_df.writeStream.foreachBatch(_process)


def streaming_ohlc_maintain(
    stream_df: DataFrame,
    table: str,
    by: str = "event_type",
    sink=None,
):
    """Streaming OHLC maintenance (r9): each micro-batch folds its
    per-(key, bucket) OHLC partials into the persisted store
    (:func:`operators.temporal.merge_ohlc_store` — mergeable state:
    open/close ride with their order ids, high/low/count combine
    exactly), and the merged view equals a batch
    :func:`operators.temporal.ohlc_resample` over every row ever
    delivered (parity pinned in test_streaming). Counts make the merge
    non-idempotent, so replay safety is the count-store discipline: the
    write-side batch_id screen plus read-side duplicate collapse.
    ``sink(merged_df, batch_id)`` observes the post-fold view. Returns
    the started-ready writer."""
    from sparsity_spark.operators.temporal import merge_ohlc_store, read_ohlc_store

    def _process(batch_df, batch_id):
        merge_ohlc_store(batch_df, table, batch_id, by=by)
        merged = read_ohlc_store(batch_df.sparkSession, table)
        if sink is not None:
            sink(merged, batch_id)

    return stream_df.writeStream.foreachBatch(_process)


def streaming_containment_maintain(
    stream_df: DataFrame,
    table: str,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    sink=None,
):
    """Streaming containment-screen maintenance (r10 — the asymmetric
    complement of :func:`streaming_screen_and_maintain`): each
    micro-batch is screened for lake-CONTAINMENT against the persisted
    gram store (``operators.dedup.containment_screen`` — "is this new
    doc mostly inside something we already hold"), then the SURVIVORS'
    grams/postings/df rows append so the next batch screens against
    them; contained docs never enter the store (the keep-first dedup
    discipline). The first batch seeds the store and keeps everything —
    intra-batch containment is deliberately out of scope here
    (``containment_join`` is the all-pairs form; a screen's contract is
    batch-vs-lake).

    Replay safety (r11, advisor finding): the manifest's max batch id is
    published AFTER the append, so a crash between the two replays the
    batch against its OWN just-appended grams — every originally-kept
    doc would self-match at containment 1.0 and the sink would receive
    keep=False for docs that ARE the store's keepers. Two guards close
    the window: (a) the screen's corpus side anti-joins away the batch's
    own doc ids (restoring the pre-append view, so a replay reproduces
    its original decisions; a no-op in normal operation, where batch ids
    are disjoint from stored ids per the append_* contract), and (b) the
    replay's re-append of the same keepers lands duplicate gram rows,
    which ``containment_screen`` collapses read-side
    (dropDuplicates on the id-bucketed gram table — rows are identical
    by construction, content-derived; the duplicated df increments only
    perturb the rarest-first probe ORDER, never losslessness, since the
    prefix length depends only on the batch doc's own gram count).
    Same single-writer / checkpoint-married contract as
    merge_count_store.

    ``sink(decisions_df, batch_id)`` observes
    (doc_id, n_containments, keep) per batch. Returns the
    started-ready writer."""

    def _process(batch_df, batch_id):
        _containment_process_batch(
            batch_df,
            batch_id,
            table=table,
            threshold=threshold,
            id_col=id_col,
            text_col=text_col,
            sink=sink,
        )

    return stream_df.writeStream.foreachBatch(_process)


def _containment_process_batch(
    batch_df, batch_id, *, table, threshold, id_col, text_col, sink
):
    """foreachBatch body of :func:`streaming_containment_maintain`,
    module-level so tests can drive a crash replay directly — a replay
    IS just a re-invocation with the same (batch_df, batch_id)."""
    from pyspark.sql import functions as F

    from sparsity_spark.operators.dedup import (
        append_containment_store,
        containment_screen,
        write_containment_store,
    )
    from sparsity_spark.stores import _record_max_batch, max_batch

    grams_t = f"{table}__grams"
    spark = batch_df.sparkSession
    mx = max_batch(spark, grams_t)
    if mx is not None and batch_id <= mx:
        return
    if not spark.catalog.tableExists(grams_t):
        # the fresh write also publishes a fresh __grams manifest
        write_containment_store(batch_df, table, id_col, text_col)
        decisions = batch_df.select(
            F.col(id_col).cast("long").alias(id_col),
            F.lit(0).cast("long").alias("n_containments"),
            F.lit(True).alias("keep"),
        ).localCheckpoint(eager=True)
    else:
        hits = (
            containment_screen(batch_df, table, id_col, text_col, threshold)
            # replay guard (see docstring): exclude this batch's own
            # ids from the corpus side so a crash-replayed batch
            # never self-matches its own prior append
            .join(
                batch_df.select(F.col(id_col).cast("long").alias("corpus_id")),
                "corpus_id",
                "left_anti",
            )
            .groupBy(F.col("batch_id").alias(id_col))
            .agg(F.count("*").cast("long").alias("n_containments"))
        )
        decisions = (
            batch_df.select(F.col(id_col).cast("long").alias(id_col))
            .join(hits, id_col, "left")
            .select(
                id_col,
                F.coalesce("n_containments", F.lit(0).cast("long")).alias(
                    "n_containments"
                ),
                (F.coalesce("n_containments", F.lit(0)) == 0).alias("keep"),
            )
            # freeze BEFORE the store mutates (the append_band_store
            # lineage lesson: a lazy plan re-reads the written table)
            .localCheckpoint(eager=True)
        )
        keepers = batch_df.join(
            decisions.filter(F.col("keep")).select(F.col(id_col).alias("__kid__")),
            batch_df[id_col].cast("long") == F.col("__kid__"),
            "leftsemi",
        )
        if keepers.limit(1).count() > 0:
            append_containment_store(keepers, table, id_col, text_col)
    _record_max_batch(spark, grams_t, batch_id)
    if sink is not None:
        sink(decisions, batch_id)


def streaming_tombstone_maintain(
    stream_df,
    index_table: str,
    id_col: str = "vec_id",
    sink=None,
    remover=None,
):
    """Streaming deletion-request ingestion for any tombstone-lifecycle
    store (r11 — the lifecycle complement of ``streaming_index_and_
    screen``): each micro-batch of ids folds into the store's
    ``__tombstones`` side table via its forget function, so the next
    read stops surfacing them with zero store rewrite; physical removal
    stays a maintenance-schedule compaction call.

    ``remover(ids_df, table, id_col)`` selects the store family —
    default ``similarity.delete_from_ivfpq_index`` (ANN index); pass
    ``dedup.remove_from_band_store`` / ``remove_from_hash_store`` /
    ``remove_from_member_store`` / ``remove_from_cluster_store`` /
    ``remove_from_containment_store`` /
    ``pipeline.remove_from_benchmark_store`` (benchmark retirement
    requests) to drive those lakes from the same deletion-request
    stream. All seven share the tombstone contract (append-only
    ``__tombstones`` side table, read-side anti-join), which is what
    makes one loop serve every store.

    Replay safety comes FREE here, unlike every other store loop: a
    tombstone append is naturally idempotent (the read side is an
    anti-join — duplicate tombstone rows change nothing), so this loop
    needs no max-batch screen, no watermark, and no read-side collapse.
    At-least-once delivery IS exactly-once semantics for deletions.

    ``sink(n_tombstones_df, batch_id)`` observes the one-row running
    tombstone count per batch. Returns the started-ready writer."""
    from sparsity_spark.operators.similarity import delete_from_ivfpq_index
    from sparsity_spark.stores import tombstones

    if remover is None:
        remover = delete_from_ivfpq_index

    def _process(batch_df, batch_id):
        spark = batch_df.sparkSession
        if batch_df.limit(1).count() == 0:
            return
        remover(batch_df.select(id_col), index_table, id_col)
        if sink is not None:
            n = tombstones(spark, index_table).distinct().count()
            sink(
                spark.createDataFrame([(int(n),)], "n_tombstoned long"),
                batch_id,
            )

    return stream_df.writeStream.foreachBatch(_process)


def streaming_benchmark_maintain(
    stream_df,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_buckets: int = 16,
    sink=None,
):
    """Streaming ingestion of benchmark/eval-suite drops into the
    persisted decontamination reference (r11 — the append-side
    complement of retiring benchmarks through
    :func:`streaming_tombstone_maintain`): each micro-batch of new
    benchmark docs lands as a bucketed append to
    ``pipeline.write/append_benchmark_store``'s two tables, so the next
    training release's ``fuzzy_decontaminate_store`` screens against it
    with zero suite recomputation. The first batch seeds the store.

    Replay safety: benchmark appends are NOT idempotent (duplicate gram
    rows would double-count verify rows), so the loop runs the
    count-store discipline — the manifest's max batch id is published
    AFTER the append and batches at or below it are screened out; the
    crash window between the two (batch appended, watermark not yet
    published) replays one duplicate append, whose rows the READ side
    collapses (``fuzzy_decontaminate_store`` dropDuplicates the
    id-bucketed gram table and distincts band candidates — both
    bucket-local). Same single-writer / checkpoint-married contract as
    merge_count_store.

    ``sink(n_benchmarks_df, batch_id)`` observes the one-row running
    benchmark count per appended batch. Returns the started-ready
    writer."""

    def _process(batch_df, batch_id):
        _benchmark_process_batch(
            batch_df,
            batch_id,
            table=table,
            id_col=id_col,
            text_col=text_col,
            k=k,
            num_buckets=num_buckets,
            sink=sink,
        )

    return stream_df.writeStream.foreachBatch(_process)


def _benchmark_process_batch(
    batch_df, batch_id, *, table, id_col, text_col, k, num_buckets, sink
):
    """foreachBatch body of :func:`streaming_benchmark_maintain`,
    module-level so tests can drive a crash replay directly."""
    from sparsity_spark.operators.pipeline import (
        append_benchmark_store,
        write_benchmark_store,
    )
    from sparsity_spark.stores import _record_max_batch, max_batch

    spark = batch_df.sparkSession
    bands_t = f"{table}__bands"
    mx = max_batch(spark, bands_t)
    if mx is not None and batch_id <= mx:
        return
    if batch_df.limit(1).count() == 0:
        return
    if not spark.catalog.tableExists(bands_t):
        # the fresh write also publishes a fresh __bands manifest
        write_benchmark_store(
            batch_df, table, id_col, text_col, k, num_buckets=num_buckets
        )
    else:
        append_benchmark_store(batch_df, table, id_col, text_col, k)
    _record_max_batch(spark, bands_t, batch_id)
    if sink is not None:
        n = spark.table(f"{table}__grams").select("bench_id").distinct().count()
        sink(spark.createDataFrame([(int(n),)], "n_benchmarks long"), batch_id)
