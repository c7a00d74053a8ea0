"""Physical-plan assertions: the scale-critical properties the engine
promises (SURVEY §4). These pin the *plan shape*, not just results —
a regression that silently de-optimizes (lost pushdown, lost broadcast,
SortAggregate fallback, lost partition pruning) fails here."""

import re

import pytest
from pyspark.sql import functions as F

from sparsity_spark.data import load_table
from sparsity_spark.queries import QUERIES


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString() + "\n" + (
        df._jdf.queryExecution().optimizedPlan().toString()
    )


def formatted_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = formatted_plan(QUERIES["q1_pricing_summary"](spark, sf_dir))
    # predicate reaches the scan; only needed columns are read
    assert "PushedFilters" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "l_partkey" not in m.group(1), "column pruning lost"
    assert "HashAggregate" in plan


def test_flagship_partial_aggregation(spark, sf_dir):
    plan = formatted_plan(QUERIES["a1_onehot_groupby_sum"](spark, sf_dir))
    # map-side partial + final aggregate pattern, single exchange
    assert plan.count("HashAggregate") >= 2
    assert "SortAggregate" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")[0].split(":")) and "value" not in m.group(1), (
        "one-hot pipeline must not read unused event columns"
    )


def test_q5_broadcasts_all_dimensions(spark, sf_dir):
    plan = formatted_plan(QUERIES["q5_regional_revenue"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, "dimension joins must broadcast"


def test_minhash_stays_hash_aggregate(spark, sf_dir):
    from sparsity_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(minhash_signatures(docs))
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan, "minhash fell back to sort aggregation"


def test_one_hot_is_shuffle_free(spark, sf_dir):
    from sparsity_spark.reshape import sparse_one_hot

    events = load_table(spark, sf_dir, "events")
    sf = sparse_one_hot(events, "event_type", ["click", "error", "purchase", "signup", "view"], index_col="event_id")
    plan = formatted_plan(sf.data)
    assert "Exchange" not in plan, "one-hot must be a pure projection"


def test_frame_parquet_range_pruning(spark, tmp_path):
    """The divisions analog (reference dask/io.py:89-112): a loc_range over a
    range-partitioned frame write must prune files via parquet min/max."""
    import pandas as pd
    import numpy as np

    from sparsity_spark.io import from_pandas, read_parquet_frame, write_parquet_frame

    pdf = pd.DataFrame(np.identity(100), index=range(100), columns=[f"c{i}" for i in range(100)])
    sf = from_pandas(spark, pdf, npartitions=4)
    path = str(tmp_path / "frame")
    write_parquet_frame(sf, path)
    back = read_parquet_frame(spark, path, key_cols=["idx"])
    sliced = back.loc_range(10, 19)
    plan = formatted_plan(sliced.data)
    assert "PushedFilters" in plan and "GreaterThanOrEqual" in plan
    # row-group/file pruning: selected rows land in one of 4 range files
    assert sliced.data.count() == 10


def test_cells_scan_prunes_value_column(spark, sf_dir):
    """Projecting only keys+col must not read the value column."""
    frame = QUERIES["a1_onehot_groupby_sum"](spark, sf_dir)
    proj = frame.select("user_id", "col")
    plan = formatted_plan(proj)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "value" not in m.group(1)


def test_topn_per_group_uses_window_group_limit(spark, sf_dir):
    """rn<=3 over row_number must become a partial+final WindowGroupLimit so
    only N rows per key survive each side of the shuffle — at 100 TB the
    sort never materializes a full partition."""
    df = QUERIES["w3_top_events_per_user"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_q16_exclusion_and_dimension_broadcast(spark, sf_dir):
    """The supplier exclusion list and the part dimension must broadcast;
    the lineitem side must not shuffle before the aggregate."""
    df = QUERIES["q16_supplier_part_counts"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin LeftAnti" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def n_exchanges(plan: str) -> int:
    # formatted plans name each operator twice (tree + detail header);
    # count only the numbered detail headers
    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_pivot_is_single_aggregate_pass(spark, sf_dir):
    # conditional-agg pivot → no pivotfirst pre-pass, one shuffle total
    plan = formatted_plan(QUERIES["r4_pivot_event_counts"](spark, sf_dir))
    assert n_exchanges(plan) == 1, "pivot should be one hash-partition exchange"
    assert "HashAggregate" in plan


def test_cube_keeps_partial_aggregation(spark, sf_dir):
    plan = formatted_plan(QUERIES["a7_cube_revenue"](spark, sf_dir))
    assert "Expand" in plan  # grouping-set expansion is map-side
    assert n_exchanges(plan) == 1, "cube should shuffle once after partial agg"


def test_q8_single_fact_shuffle_rest_broadcast(spark, sf_dir):
    plan = formatted_plan(QUERIES["q8_market_share"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 6, (
        "all dimensions must broadcast"
    )
    # at most the lineitem⋈orders join may shuffle (AQE may broadcast even
    # that at small SF — also fine)
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) <= 1


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    plan = formatted_plan(QUERIES["pipe_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "benchmark shingles must broadcast"


def test_decontaminate_bloom_prefilters_mapside(spark, sf_dir):
    """decontaminate_bloom's bitmap probe must run as a codegen Filter on
    the TRAIN side BELOW the exact gram join — the whole point of the
    operator is that at 100 TB the join input is only the prefilter's
    survivors. xxhash64(shingle, seed) is the probe's fingerprint; it must
    appear in a Filter node, and never inside a Python-UDF stage."""
    plan = formatted_plan(QUERIES["pipe_decontaminate_bloom"](spark, sf_dir))
    assert re.search(r"Filter \[codegen[^\]]*\]|\(\d+\) Filter", plan)
    assert "xxhash64" in plan, "bloom probe must be an expression filter"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_shuffle_shards_no_global_sort(spark, sf_dir):
    """shuffle_shards' within-shard ranking must never plan a GLOBAL
    sort: the window is partitioned by shard, so the only exchange is
    hash partitioning on the shard key — at 100 TB a range-partitioned
    total order would be the bottleneck this operator exists to avoid."""
    plan = formatted_plan(QUERIES["pipe_shuffle_shards"](spark, sf_dir))
    assert "rangepartitioning" not in plan.lower()
    assert re.search(r"hashpartitioning\(shard", plan), plan[:500]


def test_domain_cap_uses_window_group_limit(spark, sf_dir):
    """cap_per_domain's row_number filter must rewrite to partial+final
    WindowGroupLimit — per-domain state bounded at the cap on both shuffle
    sides, so one mega-domain (crawl skew) can't blow a partition."""
    df = QUERIES["web_domain_cap"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_simhash_pairs_no_cartesian_product(spark, sf_dir):
    """Unblocked simhash_pairs must use pigeonhole chunk equi-joins, never
    an all-pairs CartesianProduct / BroadcastNestedLoopJoin (VERDICT r2 #6)."""
    from sparsity_spark.data import load_table
    from sparsity_spark.operators.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(simhash_pairs(docs, max_hamming=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_temperature_mix_broadcasts_rates(spark, sf_dir):
    """temperature_mix's per-domain rate table is domain-cardinality-sized
    and must broadcast — the corpus side never shuffles for the join."""
    from sparsity_spark.data import load_table
    from sparsity_spark.operators.pipeline import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(temperature_mix(docs, "doc_id", "lang", 2.0, 0.5))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_simhash_is_shuffle_free(spark, sf_dir):
    """The expression-form simhash is a pure projection: fingerprinting
    never shuffles (no Exchange, no aggregate) — the property that lets it
    run over 100 TB as a map and inside streaming without state."""
    from sparsity_spark.data import load_table
    from sparsity_spark.operators.dedup import simhash

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(simhash(docs, bits=64))
    # the only allowed exchange is ensure_parallelism's input roundrobin
    # (a no-op on real many-file inputs); never a key shuffle or aggregate
    assert "Exchange hashpartitioning" not in plan
    assert "HashAggregate" not in plan


def test_band_store_screen_corpus_side_shuffle_free(spark, sf_dir):
    """THE r4 #1 property: screening an increment against the bucketed band
    store reads the corpus side with NO Exchange — the bucketed scan IS the
    join layout. Only the (small) batch side exchanges. Broadcast is
    disabled so the bucketed SortMergeJoin path is visible (at real store
    sizes it is the only option anyway)."""
    from sparsity_spark.operators.dedup import band_store, incremental_lsh_dedup, write_band_store

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    write_band_store(corpus, "bs_plancheck", num_buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        dec = incremental_lsh_dedup(batch, band_store(spark, "bs_plancheck"))
        plan = dec._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan, "store scan must use its bucketing"
    # the ONLY difference vs screening an identical plain-parquet band
    # table is the corpus-side Exchange the bucketing removed: exactly one
    # fewer hashpartitioning shuffle, everything else identical
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.table("bs_plancheck").write.mode("overwrite").parquet(d + "/plain")
        old2 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            plain = incremental_lsh_dedup(batch, spark.read.parquet(d + "/plain"))
            plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old2)
    n_bucketed = plan.count("Exchange hashpartitioning")
    n_plain = plain_plan.count("Exchange hashpartitioning")
    assert n_bucketed == n_plain - 1, (
        f"bucketed store must drop exactly the corpus-side shuffle "
        f"(bucketed={n_bucketed}, plain={n_plain})"
    )


def test_assign_centroids_zero_shuffle(spark, sf_dir):
    """r4 #10: the Arrow assignment kernel adds NO Exchange — the corpus is
    never re-partitioned to meet its centroids (they ride in the closure)."""
    from sparsity_spark.operators.similarity import assign_centroids, kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=4, iters=1)
    plan = formatted_plan(assign_centroids(emb, cents))
    assert "Exchange" not in plan, plan
    assert "HashAggregate" not in plan


def test_minhash_expr_bands_is_pure_projection(spark, sf_dir):
    """r4 #10: the streaming-legal band-key expression must plan as a bare
    projection — no aggregate, no shuffle (that is its entire reason to
    exist next to the faster aggregate form)."""
    from sparsity_spark.data import load_table
    from sparsity_spark.operators.dedup import minhash_expr_bands, shingle_hashes_expr

    docs = load_table(spark, sf_dir, "documents")
    out = docs.withColumn("__h__", shingle_hashes_expr("text")).select(
        "doc_id", minhash_expr_bands("text", hashes=F.col("__h__")).alias("bands")
    )
    plan = formatted_plan(out)
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "Exchange" not in plan


def test_span_removal_single_pass_shape(spark, sf_dir):
    """r4 #10: remove_dup_spans keeps the documented shape — the gram
    explode runs ONCE (single-pass count-window hit marking, no second
    explode + join-back), never a SortAggregate over the gram explode and
    never a CartesianProduct."""
    from sparsity_spark.data import load_table
    from sparsity_spark.operators.dedup import remove_dup_spans

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(remove_dup_spans(docs, n=20))
    assert "SortAggregate" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # one corpus explode: exactly one Generate node in the whole plan —
    # the single gram posexplode (the doc-side rewrite adds none, and
    # there is no second explode feeding a join-back)
    assert plan.count("(") and len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan


def test_phash_fingerprint_shuffle_free_and_pairs_blocked(spark, sf_dir):
    """Media dHash fingerprinting must stay a pure projection (no Exchange,
    no aggregate — a 100 TB media lake fingerprints as a map), and the
    pair search must use the pigeonhole equi-join, never an all-pairs
    CartesianProduct."""
    from sparsity_spark.data import load_table
    from sparsity_spark.operators.multimodal import as_binary_assets, dhash_expr, phash_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assets = as_binary_assets(docs)
    fp_plan = formatted_plan(assets.select("doc_id", dhash_expr().alias("dhash")))
    assert "Exchange hashpartitioning" not in fp_plan
    assert "HashAggregate" not in fp_plan
    pair_plan = formatted_plan(phash_pairs(assets))
    assert "CartesianProduct" not in pair_plan
    assert "BroadcastNestedLoopJoin" not in pair_plan


def test_hash_store_screen_corpus_side_shuffle_free(spark, sf_dir):
    """The exact-dedup ledger enjoys the same bucketed-join property as the
    band store: one fewer hashpartitioning Exchange than screening an
    identical plain-parquet ledger."""
    import tempfile

    from sparsity_spark.operators.dedup import write_hash_store

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    write_hash_store(corpus, "hs_plancheck", num_buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bucketed = batch.join(
            spark.table("hs_plancheck").select("content_hash"), on="content_hash", how="left"
        )
        plan_b = bucketed._jdf.queryExecution().executedPlan().toString()
        with tempfile.TemporaryDirectory() as d:
            spark.table("hs_plancheck").write.mode("overwrite").parquet(d + "/plain")
            plain = batch.join(
                spark.read.parquet(d + "/plain").select("content_hash"),
                on="content_hash",
                how="left",
            )
            plan_p = plain._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan_b
    assert plan_b.count("Exchange hashpartitioning") == plan_p.count("Exchange hashpartitioning") - 1


def test_semantic_screen_is_hash_anti_join(spark, sf_dir):
    """semantic_screen's cosine residual rides a cid-keyed HASH anti-join —
    never a nested-loop all-pairs plan."""
    from sparsity_spark.data import load_table
    from sparsity_spark.operators.dedup import semantic_member_store, semantic_screen
    from sparsity_spark.operators.similarity import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    cents = kmeans_fit(corpus, k=4, iters=1)
    plan = formatted_plan(semantic_screen(batch, semantic_member_store(corpus, cents), cents))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_lm_scorer_broadcasts_model(spark, sf_dir):
    """lm_perplexity_score joins the (vocabulary-sized) model broadcast —
    the corpus side never shuffles for the model lookup."""
    from sparsity_spark.data import load_table
    from sparsity_spark.operators.text import lm_perplexity_score, word_bigram_lm

    docs = load_table(spark, sf_dir, "documents")
    model = word_bigram_lm(docs.filter(F.col("doc_id") % 5 != 0))
    plan = formatted_plan(lm_perplexity_score(docs.filter(F.col("doc_id") % 5 == 0), model))
    assert "BroadcastHashJoin" in plan


def test_ivfpq_index_scan_prunes_to_probed_buckets(spark, sf_dir):
    """The persisted IVF-PQ index's query path must read ONLY the probed
    buckets' files (bucket pruning via the pushed centroid-id filter) —
    the plan's SelectedBucketsCount is below the table's bucket count.
    The raw embedding vectors never appear in the scan at all."""
    from sparsity_spark.operators.similarity import (
        ivfpq_index_topk,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    write_ivfpq_index(emb, cents, "ivfpq_plancheck", num_buckets=8)
    queries = emb.filter(F.col("vec_id") < 2)  # 2 queries, nprobe=1
    plan = ivfpq_index_topk(queries, "ivfpq_plancheck")._jdf.queryExecution(
    ).executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, "index scan must be bucket-pruned:\n" + plan
    assert int(m.group(1)) < int(m.group(2))
    # the scoring path reads codes only — never the raw vectors
    scan_line = [l for l in plan.splitlines() if "ivfpq_plancheck[" in l][0]
    assert "embedding" not in scan_line


def test_member_store_screen_corpus_side_shuffle_free(spark, sf_dir):
    """VERDICT r5 #2: the semantic screen against the PERSISTED cid-bucketed
    member store reads the corpus side with NO Exchange — vs an identical
    plain-parquet member table it plans exactly one fewer hashpartitioning
    shuffle (the bucketed scan IS the join layout)."""
    import tempfile

    from sparsity_spark.data import load_table
    from sparsity_spark.operators.dedup import (
        member_store,
        semantic_screen,
        write_member_store,
    )
    from sparsity_spark.operators.similarity import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    cents = kmeans_fit(corpus, k=4, iters=1)
    write_member_store(corpus, cents, "ms_plancheck", num_buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        via_store = semantic_screen(batch, member_store(spark, "ms_plancheck"), cents)
        plan_b = via_store._jdf.queryExecution().executedPlan().toString()
        with tempfile.TemporaryDirectory() as d:
            spark.table("ms_plancheck").write.mode("overwrite").parquet(d + "/plain")
            plain = semantic_screen(batch, spark.read.parquet(d + "/plain"), cents)
            plan_p = plain._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan_b, "store scan must use its bucketing"
    assert "LeftAnti" in plan_b and "CartesianProduct" not in plan_b
    n_b = plan_b.count("Exchange hashpartitioning")
    n_p = plan_p.count("Exchange hashpartitioning")
    assert n_b == n_p - 1, (
        f"bucketed member store must drop exactly the corpus-side shuffle "
        f"(bucketed={n_b}, plain={n_p})"
    )


def test_audio_pairs_blocked_never_cartesian(spark):
    """Acoustic near-dup pair search must use the pigeonhole equi-join on
    fingerprint chunks — never an all-pairs CartesianProduct — same
    contract as the image dHash pair search."""
    from sparsity_spark.operators.multimodal import audio_pairs

    assets = spark.createDataFrame(
        [(i, bytearray(b"RIFF") + bytes(100)) for i in range(4)],
        "doc_id long, content binary",
    )
    plan = formatted_plan(audio_pairs(assets))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_twin_screen_index_scan_bucket_pruned(spark, sf_dir):
    """The r7 code-identity twin screen must read the index bucket-pruned
    to the batch's own probed centroid buckets (SelectedBucketsCount below
    the table's bucket count) — the screen's index IO is batch-probe-sized,
    never corpus-sized — in ONE scan of the index table (the signatures
    group by (id, centroid_id) from that scan; the tombstone table's scan
    is separate), and must never degenerate to a cartesian plan."""
    import re

    from sparsity_spark.data import load_table
    from sparsity_spark.operators.similarity import (
        ivfpq_twin_screen,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    write_ivfpq_index(emb, cents, "twin_plancheck", num_buckets=8)
    batch = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    plan = ivfpq_twin_screen(batch, "twin_plancheck")._jdf.queryExecution(
    ).executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, "twin screen index scan must be bucket-pruned:\n" + plan
    assert int(m.group(1)) < int(m.group(2))
    scans = re.findall(r"FileScan parquet \S*\btwin_plancheck\[", plan)
    assert len(scans) == 1, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_semijoin_prefilter_is_mapside(spark, sf_dir):
    """The bloom probe must be a pure Filter directly over the big side's
    scan — below any Exchange — so at scale the bitmap screens rows
    map-side before shuffle/broadcast-probe; and the final exact join must
    not be a cartesian plan."""
    from sparsity_spark.operators.skew import bloom_semijoin

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 150000
    )
    out = bloom_semijoin(li, orders, "l_orderkey", "o_orderkey")
    plan = formatted_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the probe's xxhash64 expression sits in a Filter in the lineitem
    # branch — absence means the prefilter was lost and the full table
    # flows into the join
    assert "xxhash64" in plan, plan
    # and the filter is NOT separated from the scan by an exchange:
    # scan -> filter -> ... -> join, never scan -> exchange -> filter
    exec_plan = out._jdf.queryExecution().executedPlan().toString()
    li_scan = exec_plan.find("lineitem")
    assert li_scan != -1
    probe_pos = exec_plan.find("xxhash64")
    assert probe_pos != -1 and probe_pos < li_scan or "PushedFilters" in exec_plan


def test_c4_clean_is_pure_projection(spark, sf_dir):
    """r8: the C4 line filter + doc gate is ONE map-only projection —
    no aggregate, no shuffle; a 100 TB crawl cleans at scan speed."""
    from sparsity_spark.operators.text import c4_clean

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(c4_clean(docs))
    assert "Exchange" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


@pytest.mark.parametrize(
    "kernel", ["video_shot_mad", "video_frame_stats", "gif_frame_stats", "frame_sample"]
)
def test_video_shot_mad_no_shuffle(spark, kernel):
    """r8: the media kernels decode once per asset and never shuffle —
    corpus-width map parallelism only, and no Generate: sampled frames
    come out of the one per-asset decode, not a JVM explode that ships
    and decodes the payload once per sampled index."""
    from sparsity_spark.operators import multimodal
    import numpy as np

    fr = (np.arange(2 * 4 * 4, dtype=np.uint8)).reshape(2, 4, 4)
    assets = spark.createDataFrame(
        [(1, bytearray(multimodal.y4m_encode(fr)), ("video/x-yuv4mpeg", 60, 2))],
        "doc_id long, content binary, "
        "meta struct<media_type: string, n_bytes: int, chunk_count: int>",
    )
    plan = formatted_plan(getattr(multimodal, kernel)(assets))
    assert "Exchange" not in plan
    assert "Generate" not in plan
    assert "MapInPandas" in plan


def test_pagerank_iteration_shape(spark):
    """r8 (tightened r9: assert the ROUND plan, not the localCheckpointed
    result whose plan collapses to Scan ExistingRDD): one PageRank
    iteration = an equi-join on src + ONE final hash aggregate on dst —
    no cartesian, no nested-loop join, no window."""
    from pyspark.sql import functions as F

    from sparsity_spark.operators.graph import _pagerank_round, symmetrize_edges

    edges = symmetrize_edges(
        spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "a long, b long"), "a", "b"
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    adj = edges.join(deg, "src")
    ranks = deg.select(F.col("src").alias("node"), F.lit(1000000).cast("long").alias("rank_micro"))
    plan = formatted_plan(_pagerank_round(adj, ranks, 150000, 85))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_triangle_count_never_cartesian(spark):
    """r8: wedge enumeration and closure are equi-joins (shared endpoint
    keys) — an all-pairs plan would be quadratic in nodes, not edges."""
    from sparsity_spark.operators.graph import symmetrize_edges, triangle_count

    edges = symmetrize_edges(
        spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "a long, b long"), "a", "b"
    )
    plan = formatted_plan(triangle_count(edges))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_events_coo_scaled_no_event_sized_single_partition_window(spark, sf_dir):
    """r9 (VERDICT r8 #6): the scaled COO row must number events through
    the bucketed parallel path — its plan has NO SinglePartition
    exchange (the dictionary is a driver-collected, broadcast local
    relation), and a per-bucket Window (partitioned, parallel) does the
    event-sized numbering. The parity row (s5_events_coo) by contrast
    carries the event-sized global window — pinned here so the two rows
    never silently converge."""
    plan = formatted_plan(QUERIES["s5_events_coo_scaled"](spark, sf_dir))
    assert plan.count("SinglePartition") == 0, plan
    assert "__bkt__" in plan  # the bucketed numbering actually engaged
    assert re.findall(r"\(\d+\) Window", plan)  # per-bucket row_number window


def test_edge_store_screen_store_side_shuffle_free(spark, sf_dir):
    """r9 edge store: the increment's anti-join against the bucketed edge
    table must read the store WITHOUT an Exchange (bucketed scan is the
    join layout) — same band-store discipline, corpus-sized store, so a
    rewrite-or-reshuffle fold would be O(store) per micro-batch."""
    from sparsity_spark.operators.graph import merge_edge_store

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_custkey").alias("src"), (F.col("o_orderkey") % 97).alias("dst")
    )
    spark.sql("DROP TABLE IF EXISTS edge_plancheck")
    merge_edge_store(base.filter(F.col("src") % 3 != 0), "edge_plancheck")
    inc = base.filter(F.col("src") % 3 == 0).distinct()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        screened = inc.join(
            spark.table("edge_plancheck"), on=["src", "dst"], how="left_anti"
        )
        plan = screened._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan, "store scan must use its bucketing"


def test_label_propagation_round_shape(spark):
    """r9: one LPA round = an equi-join on src + two hash aggregates —
    no window operator anywhere (the argmax is max(struct)), no
    cartesian; results survive hub skew without a quadratic term."""
    from pyspark.sql import functions as F

    from sparsity_spark.operators.graph import _lpa_round, symmetrize_edges

    edges = symmetrize_edges(
        spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "a long, b long"),
        "a", "b", as_string=False,
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node").cast("long")
    )
    plan = formatted_plan(_lpa_round(edges, labels))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # vote count + argmax


def test_pca_projection_is_map_only(spark, sf_dir):
    """r9: after the driver-side power iteration, the per-vector scoring
    must be a bare scan + projection — zero exchanges, no Python: 100 TB
    projects at scan speed."""
    from sparsity_spark.data import load_table
    from sparsity_spark.operators.similarity import pca_project_int

    emb = load_table(spark, sf_dir, "embeddings")
    proj = pca_project_int(emb, [1000000] * 64)
    plan = formatted_plan(proj)
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "Scan parquet" in plan


def test_bfs_hop_is_frontier_join_plus_anti_join(spark):
    """r9: a BFS hop must be equi-join + anti-join shapes only — no
    cartesian, no window; the visited set check is a join, not a
    collected driver set."""
    from pyspark.sql import functions as F

    from sparsity_spark.operators.graph import _bfs_hop, symmetrize_edges

    edges = symmetrize_edges(
        spark.createDataFrame([(1, 2), (2, 3)], "a long, b long"),
        "a", "b", as_string=False,
    )
    frontier = spark.createDataFrame([(1,)], "node long")
    levels = frontier.withColumn("lvl", F.lit(0).cast("int"))
    plan = formatted_plan(_bfs_hop(edges, frontier, levels))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "LeftAnti" in plan or "left_anti" in plan.lower()


def test_link_prediction_never_cartesian(spark):
    """r9: candidate pairs must come from the shared-neighbor equi-join
    (wedge volume <= n*cap^2) — no cartesian anywhere, existing edges
    leave via an equi-anti-join."""
    from sparsity_spark.operators.graph import link_prediction, symmetrize_edges

    edges = symmetrize_edges(
        spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a long, b long"),
        "a", "b", as_string=False,
    )
    plan = formatted_plan(link_prediction(edges, max_degree=8, min_common=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_phrase_search_posting_joins_no_cartesian(spark, sf_dir):
    """r9: each phrase word keeps only its own posting list and the
    intersection is (doc, position)-keyed equi-joins — posting-list-sized
    communication, no cartesian, no Python."""
    from sparsity_spark.data import load_table
    from sparsity_spark.operators.text import _phrase_search_plan

    docs = load_table(spark, sf_dir, "documents")
    lazy, postings = _phrase_search_plan(docs, "table hash")
    plan = formatted_plan(lazy)
    postings.unpersist()
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_collocations_two_hash_aggregates_no_python(spark, sf_dir):
    """r9: PMI counting is hash aggregates over the exploded token stream
    plus vocabulary-keyed count joins — JVM-side end to end, partial
    aggregation present (map-side combine on the token stream)."""
    from sparsity_spark.data import load_table
    from sparsity_spark.operators.text import _collocations_plan

    docs = load_table(spark, sf_dir, "documents")
    lazy, uni = _collocations_plan(docs, 5, "text")
    plan = formatted_plan(lazy)
    uni.unpersist()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_sq8_topk_broadcasts_queries_corpus_parallel(spark, sf_dir):
    """r9: the int8 scan must broadcast the query codes against the
    partition-parallel corpus (one corpus pass) and stay JVM-side."""
    from pyspark.sql import functions as F

    from sparsity_spark.data import load_table
    from sparsity_spark.operators.similarity import sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    plan = formatted_plan(sq8_topk(emb, emb.filter(F.col("vec_id") < 10), k=5))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Broadcast" in plan


def _containment_candidate_plan(docs):
    from sparsity_spark.operators.dedup import _containment_candidates, gram_set_expr

    grams = docs.select(F.col("doc_id").alias("id"), gram_set_expr("text", 3).alias("g"))
    return _containment_candidates(grams, 0.6)


def _jaccard_prefix_plan(docs):
    from sparsity_spark.operators.dedup import jaccard_prefix_join

    return jaccard_prefix_join(docs, threshold=0.6, k=3)


def _containment_screen_plan(docs):
    from sparsity_spark.operators.dedup import containment_screen, write_containment_store

    write_containment_store(docs.filter(F.col("doc_id") % 10 != 0), "cs_prefix_plancheck")
    return containment_screen(
        docs.filter(F.col("doc_id") % 10 == 0), "cs_prefix_plancheck", threshold=0.6
    )


@pytest.mark.parametrize(
    "build",
    [_containment_candidate_plan, _jaccard_prefix_plan, _containment_screen_plan],
    ids=["containment", "jaccard", "screen"],
)
def test_containment_candidates_no_cartesian_and_pruned_prefix(spark, sf_dir, build):
    """Every prefix-filtered candidate pipeline (containment candidates,
    the Jaccard prefix join, the store-backed containment screen) must be
    pure equi-joins (no cartesian/nested-loop anywhere) with the prefix
    slice visible — the boilerplate bound comes from joining SLICED
    rarest-first grams, not the full posting self-join the r9 plan used."""
    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(build(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "slice(" in plan, "prefix slice must reach the physical plan"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_containment_screen_corpus_side_bucketed(spark, sf_dir):
    """r10 containment store: the screen's posting probe and the
    verification join must read the store through its bucketed layout
    (corpus side shuffle-free — the band-store discipline for the
    asymmetric screen)."""
    from sparsity_spark.data import load_table
    from sparsity_spark.operators.dedup import (
        containment_screen,
        write_containment_store,
    )

    docs = load_table(spark, sf_dir, "documents")
    write_containment_store(docs.filter(F.col("doc_id") % 10 != 0), "cs_plancheck")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = containment_screen(
            docs.filter(F.col("doc_id") % 10 == 0), "cs_plancheck", threshold=0.6
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan, "store scans must use their bucketing"
    assert "CartesianProduct" not in plan


def test_shared_edge_store_scan_is_bucketed(spark, sf_dir):
    """r10 shared graph edge build (VERDICT r9 #7): after the first use,
    graph rows read the session's bucketed-by-src edge table — the scan
    must carry the bucket layout so per-iteration src-keyed joins start
    co-located."""
    from sparsity_spark.queries import _co_purchase_edges

    edges = _co_purchase_edges(spark, sf_dir)
    # a bare scan reports "Bucketed: false (disabled by query planner)" —
    # bucketing only engages when a src-keyed operator can use it, so
    # assert on the DEGREE aggregate every iteration starts from: the
    # bucketed layout must replace the pre-aggregation Exchange
    deg = edges.groupBy("src").count()
    plan = formatted_plan(deg)
    assert "Bucketed: true" in plan, "src-keyed aggregate must use the bucket layout"
    assert "Exchange hashpartitioning(src" not in plan


def test_ivfpq_tombstoned_scan_still_bucket_prunes(spark, sf_dir):
    """r11 deletion lifecycle plan shape: with a live tombstone table,
    the read-side anti-join must NOT defeat bucket pruning — the probed
    centroid-id filter still pushes below the anti-join to the scan
    (SelectedBucketsCount under the bucket count), and the tombstone
    side arrives broadcast."""
    from sparsity_spark.operators.similarity import (
        delete_from_ivfpq_index,
        ivfpq_index_topk,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    t = "ivfpq_plandel"
    write_ivfpq_index(emb, cents, t, num_buckets=8)
    delete_from_ivfpq_index(
        emb.filter(F.col("vec_id") % 13 == 0).select("vec_id"), t
    )
    plan = ivfpq_index_topk(
        emb.filter(F.col("vec_id") < 2), t
    )._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, "tombstoned index scan must stay bucket-pruned:\n" + plan
    assert int(m.group(1)) < int(m.group(2))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_fuzzy_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """r11 fuzzy decontamination plan shape: both the band-bucket
    candidate join and the gram-array verification join must broadcast
    the benchmark side — the training corpus is never shuffled for
    candidate generation (no SortMergeJoin anywhere in the plan)."""
    from sparsity_spark.operators.pipeline import fuzzy_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(
        fuzzy_decontaminate(
            docs.filter(F.col("doc_id") % 20 != 0),
            docs.filter(F.col("doc_id") % 20 == 0),
        )
    )
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_benchmark_store_scans_bucketed(spark, sf_dir):
    """r11 benchmark store: the store-side of BOTH the band-candidate
    join and the gram-verify join must read through the bucketed layout
    (no corpus-side Exchange) — the eval-suite lake is never reshuffled
    per training release."""
    from sparsity_spark.operators.pipeline import (
        fuzzy_decontaminate_store,
        write_benchmark_store,
    )

    docs = load_table(spark, sf_dir, "documents")
    write_benchmark_store(
        docs.filter(F.col("doc_id") % 20 == 0), "bmk_plancheck", num_buckets=4
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = fuzzy_decontaminate_store(
            docs.filter(F.col("doc_id") % 20 != 0), "bmk_plancheck", 0.5
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan, "store scans must use their bucketing"
    assert "CartesianProduct" not in plan


def test_boilerplate_fraction_jvm_only_one_df_aggregate(spark, sf_dir):
    """r11 boilerplate fraction: pure built-in expressions (no Python
    eval nodes anywhere) and the gram df comes from hash aggregates with
    a map-side partial (never a corpus-wide window sort)."""
    from sparsity_spark.operators.text import boilerplate_fraction

    plan = formatted_plan(
        boilerplate_fraction(load_table(spark, sf_dir, "documents"), min_df=3)
    )
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_cross_split_leakage_pair_sized_joins(spark):
    """r11 leakage audit: two id-keyed equi-joins against the skinny
    assignment — never a cartesian."""
    from sparsity_spark.operators.pipeline import cross_split_leakage, split_assign

    ids = spark.range(100).withColumnRenamed("id", "doc_id")
    assign = split_assign(ids, "doc_id")
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    plan = formatted_plan(cross_split_leakage(pairs, assign))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
