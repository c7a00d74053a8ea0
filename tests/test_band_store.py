"""Bucketed LSH band store: the production incremental-dedup loop
(VERDICT r4 #1/#8) — write bucketed BY (band, band_key), screen increments
with a shuffle-free corpus side, append survivors' bands, and the next
increment catches their twins. Plus the r4 loud-failure guards (#5)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparsity_spark.data import load_table
from sparsity_spark.operators.dedup import (
    append_band_store,
    band_keys,
    band_store,
    incremental_lsh_dedup,
    write_band_store,
)

CORPUS = pd.DataFrame(
    {
        "doc_id": [1, 2],
        "text": [
            "the quick brown fox jumps over the lazy dog today",
            "an entirely different document about spark shuffles here",
        ],
    }
)


def test_band_store_screen_matches_inmemory_bands(spark, sf_dir):
    """Screening against the bucketed store == screening against the
    in-memory band table (same decisions, bit for bit)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    write_band_store(corpus, "bs_parity", num_buckets=8)
    via_store = (
        incremental_lsh_dedup(batch, band_store(spark, "bs_parity"))
        .orderBy("doc_id")
        .collect()
    )
    via_memory = (
        incremental_lsh_dedup(batch, band_keys(corpus)).orderBy("doc_id").collect()
    )
    assert [tuple(r) for r in via_store] == [tuple(r) for r in via_memory]
    assert any(not r["keep"] for r in via_store)  # collisions exist at sf


def test_append_band_store_two_increments(spark):
    """Increment 2 must catch a twin of an increment-1 KEEPER — the store
    learned the keeper's bands via the append half of the loop."""
    schema = "doc_id long, text string"
    write_band_store(spark.createDataFrame(CORPUS, schema), "bs_roundtrip", num_buckets=4)
    b1 = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [100, 101],
                "text": [
                    "completely novel content with no overlap whatsoever at all",
                    "the quick brown fox jumps over the lazy dog today",  # dup of 1
                ],
            }
        ),
        schema,
    )
    d1 = {r["doc_id"]: r["keep"] for r in append_band_store(b1, "bs_roundtrip").collect()}
    assert d1 == {100: True, 101: False}
    b2 = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [200, 201],
                "text": [
                    "completely novel content with no overlap whatsoever at all",  # twin of kept 100
                    "yet another brand new passage nothing has ever seen before",
                ],
            }
        ),
        schema,
    )
    d2 = {r["doc_id"]: r["keep"] for r in append_band_store(b2, "bs_roundtrip").collect()}
    assert d2 == {200: False, 201: True}
    # store holds corpus + every keeper's bands (4 bands each)
    assert spark.table("bs_roundtrip").count() == 4 * (2 + 1 + 1)


def test_append_band_store_intra_batch_twins(spark):
    """Two twins arriving in the SAME batch: lower id survives, higher id
    drops (incremental screening alone cannot see this pair — ADVICE r4)."""
    schema = "doc_id long, text string"
    write_band_store(spark.createDataFrame(CORPUS, schema), "bs_intra", num_buckets=4)
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [300, 301],
                "text": [
                    "completely novel content with no overlap whatsoever at all",
                    "completely novel content with no overlap whatsoever at all",
                ],
            }
        ),
        schema,
    )
    d = {r["doc_id"]: r["keep"] for r in append_band_store(batch, "bs_intra").collect()}
    assert d == {300: True, 301: False}
    # only the survivor's bands were appended
    assert spark.table("bs_intra").count() == 4 * 3


def test_streaming_screen_and_maintain_two_increments(spark, tmp_path):
    """availableNow two-file stream through the foreachBatch maintenance
    loop: batch 2's twin of a batch-1 keeper is dropped, and the sink saw
    exactly the keepers."""
    import time

    from sparsity_spark.streaming import streaming_screen_and_maintain

    schema = "doc_id long, text string"
    write_band_store(spark.createDataFrame(CORPUS, schema), "bs_stream", num_buckets=4)
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [100],
                "text": ["completely novel content with no overlap whatsoever at all"],
            }
        ),
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(2)  # distinct mtimes → deterministic file order
    spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [200, 201],
                "text": [
                    "completely novel content with no overlap whatsoever at all",  # twin of 100
                    "yet another brand new passage nothing has ever seen before",
                ],
            }
        ),
        schema,
    ).coalesce(1).write.mode("append").parquet(src)

    kept_ids = []

    def sink(keepers, batch_id):
        kept_ids.extend(r["doc_id"] for r in keepers.select("doc_id").collect())

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_screen_and_maintain(stream, "bs_stream", sink=sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert sorted(kept_ids) == [100, 201]
    assert spark.table("bs_stream").count() == 4 * (2 + 2)


def test_pack_sequences_unsharded_guard(spark):
    """by=None above the row cap raises loudly instead of planning a
    one-task global window (VERDICT r4 #5)."""
    from sparsity_spark.operators.pipeline import pack_sequences

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit(10).alias("n_tokens")
    )
    with pytest.raises(ValueError, match="ONE task"):
        pack_sequences(docs, budget=64, max_unsharded_rows=10)
    # under the cap: packs fine
    assert pack_sequences(docs, budget=64, max_unsharded_rows=100).count() == 50


def test_field_dictionary_cardinality_guard(spark):
    """A high-cardinality field raises in field_dictionary AND read_events
    instead of funneling every value through one window task."""
    from sparsity_spark.events import field_dictionary, read_events

    ev = spark.range(100).select(
        F.col("id").alias("event_id"),
        F.col("id").cast("string").alias("event_type"),
        F.col("id").alias("user_id"),
        F.current_timestamp().alias("ts"),
    )
    with pytest.raises(ValueError, match="distinct"):
        field_dictionary(ev, "event_type", "event_id", max_values=10)
    with pytest.raises(ValueError, match="distinct"):
        read_events(ev, "event_type", order_col="event_id", max_values=10)
    # categorical width passes
    assert field_dictionary(ev, "event_type", "event_id", max_values=1000).count() == 100


def test_streaming_screen_vs_bucketed_store(spark, tmp_path):
    """The stateless streaming screen chain reads the PERSISTED bucketed
    band store directly (stream-static joins against the catalog table,
    re-read per micro-batch) — same keeps as the batch screen."""
    import pandas as pd

    from sparsity_spark.streaming import streaming_screen_vs_store

    schema = "doc_id long, text string"
    write_band_store(spark.createDataFrame(CORPUS, schema), "bs_stream_ro", num_buckets=4)
    src = str(tmp_path / "ro_docs")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [500, 501],
                "text": [
                    "the quick brown fox jumps over the lazy dog today",  # dup of 1
                    "completely novel content with no overlap whatsoever at all",
                ],
            }
        ),
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    kept = streaming_screen_vs_store(stream, band_store(spark, "bs_stream_ro"))
    q = (
        kept.writeStream.format("memory")
        .queryName("ro_screen")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.sql("SELECT doc_id FROM ro_screen").collect())
    assert got == [501]


def test_append_hash_store_increments_and_intra_batch(spark):
    """Exact content-hash ledger loop: corpus twin screened out, intra-batch
    exact twins resolved keep-first, increment-2 catches an increment-1
    keeper's twin."""
    from sparsity_spark.operators.dedup import append_hash_store, write_hash_store

    schema = "doc_id long, text string"
    write_hash_store(spark.createDataFrame(CORPUS, schema), "hs_loop", num_buckets=4)
    b1 = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [100, 101, 102],
                "text": [
                    "fresh content one",
                    "fresh content one",  # intra-batch twin of 100
                    CORPUS["text"][0],    # corpus twin
                ],
            }
        ),
        schema,
    )
    d1 = {r["doc_id"]: r["keep"] for r in append_hash_store(b1, "hs_loop").collect()}
    assert d1 == {100: True, 101: False, 102: False}
    b2 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [200], "text": ["fresh content one"]}), schema
    )
    d2 = {r["doc_id"]: r["keep"] for r in append_hash_store(b2, "hs_loop").collect()}
    assert d2 == {200: False}
    assert spark.table("hs_loop").count() == 2 + 1  # corpus + the one keeper


def test_target_mix_respects_recipe(spark, sf_dir):
    """Explicit-weight mixture: recipe domains survive at ~their weights,
    out-of-recipe domains are dropped, under-supplied domains cap at 1."""
    from sparsity_spark.operators.pipeline import target_mix

    docs = load_table(spark, sf_dir, "documents")
    out = target_mix(
        docs, "doc_id", "lang", {"en": 0.5, "fr": 0.5}, target_fraction=0.5
    )
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(got) <= {"en", "fr"}  # zh/es/de dropped
    n_fr_total = docs.filter("lang = 'fr'").count()
    # fr is under-supplied for a 25%-of-corpus ask -> rate caps at 1 (all kept)
    assert got["fr"] == n_fr_total
    # deterministic: same call, same rows
    again = {r["lang"]: r["n"] for r in target_mix(
        docs, "doc_id", "lang", {"en": 0.5, "fr": 0.5}, target_fraction=0.5
    ).groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert again == got


def test_append_stores_empty_batch(spark):
    """An empty increment is a no-op for both store loops: zero decisions,
    store row count unchanged."""
    from sparsity_spark.operators.dedup import (
        append_hash_store,
        write_hash_store,
    )

    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(CORPUS, schema)
    empty = corpus.filter("doc_id < 0")
    write_band_store(corpus, "bs_empty", num_buckets=4)
    assert append_band_store(empty, "bs_empty").count() == 0
    assert spark.table("bs_empty").count() == 8
    write_hash_store(corpus, "hs_empty", num_buckets=4)
    assert append_hash_store(empty, "hs_empty").count() == 0
    assert spark.table("hs_empty").count() == 2


# ---- persisted SEMANTIC member store (VERDICT r5 #2) ----------------------

EMB_SCHEMA = "vec_id long, embedding array<double>"
EMB_CORPUS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0, 0.0]),
]


def _fit_corpus_cents(spark):
    from sparsity_spark.operators.similarity import kmeans_fit

    corpus = spark.createDataFrame(EMB_CORPUS, EMB_SCHEMA)
    return corpus, kmeans_fit(corpus, k=2, iters=2)


def test_member_store_two_increment_maintenance(spark):
    """Batch-2 must catch a semantic twin of a batch-1 KEEPER: the append
    maintenance makes the store grow with each increment's survivors."""
    from sparsity_spark.operators.dedup import append_member_store, write_member_store

    corpus, cents = _fit_corpus_cents(spark)
    write_member_store(corpus, cents, "ms_maint", num_buckets=4)
    b1 = spark.createDataFrame(
        [
            (100, [0.0, 0.0, 1.0, 0.0]),   # novel direction -> keep
            (101, [0.99, 0.01, 0.0, 0.0]), # near-dup of corpus vec 1 -> drop
        ],
        EMB_SCHEMA,
    )
    d1 = {r["vec_id"]: r["keep"] for r in append_member_store(b1, "ms_maint", cents).collect()}
    assert d1 == {100: True, 101: False}
    assert spark.table("ms_maint").count() == 3  # 2 corpus + 1 survivor
    b2 = spark.createDataFrame(
        [
            (200, [0.0, 0.0, 1.0, 0.01]),  # twin of batch-1 keeper 100 -> drop
            (201, [0.0, 0.0, 0.0, 1.0]),   # novel -> keep
        ],
        EMB_SCHEMA,
    )
    d2 = {r["vec_id"]: r["keep"] for r in append_member_store(b2, "ms_maint", cents).collect()}
    assert d2 == {200: False, 201: True}
    assert spark.table("ms_maint").count() == 4
    # store stays unique per vector and bucketed-appendable
    ids = [r["vec_id"] for r in spark.table("ms_maint").select("vec_id").collect()]
    assert sorted(ids) == [1, 2, 100, 201]


def test_member_store_intra_batch_twins(spark):
    """Two semantic twins arriving in ONE batch: higher id drops (keep-first),
    and only the survivor's member row is appended."""
    from sparsity_spark.operators.dedup import append_member_store, write_member_store

    corpus, cents = _fit_corpus_cents(spark)
    write_member_store(corpus, cents, "ms_intra", num_buckets=4)
    batch = spark.createDataFrame(
        [
            (300, [0.0, 0.0, 1.0, 0.0]),
            (301, [0.0, 0.0, 1.0, 0.001]),  # twin of 300, same batch
        ],
        EMB_SCHEMA,
    )
    d = {r["vec_id"]: r["keep"] for r in append_member_store(batch, "ms_intra", cents).collect()}
    assert d == {300: True, 301: False}
    assert spark.table("ms_intra").count() == 3


def test_streaming_semantic_screen_and_maintain_two_increments(spark, tmp_path):
    """availableNow two-file embedding stream through the foreachBatch
    semantic maintenance loop: batch 2's twin of a batch-1 keeper is
    dropped, and the sink saw exactly the keepers."""
    import time

    from sparsity_spark.operators.dedup import write_member_store
    from sparsity_spark.streaming import streaming_semantic_screen_and_maintain

    corpus, cents = _fit_corpus_cents(spark)
    write_member_store(corpus, cents, "ms_stream", num_buckets=4)
    src = str(tmp_path / "emb")
    spark.createDataFrame(
        [(100, [0.0, 0.0, 1.0, 0.0])], EMB_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(2)  # distinct mtimes -> deterministic file order
    spark.createDataFrame(
        [
            (200, [0.0, 0.0, 1.0, 0.01]),  # twin of 100
            (201, [0.0, 0.0, 0.0, 1.0]),   # novel
        ],
        EMB_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)

    kept_ids = []

    def sink(keepers, batch_id):
        kept_ids.extend(r["vec_id"] for r in keepers.select("vec_id").collect())

    stream = (
        spark.readStream.schema(EMB_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_semantic_screen_and_maintain(stream, "ms_stream", cents, sink=sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert sorted(kept_ids) == [100, 201]
    assert spark.table("ms_stream").count() == 4


def test_append_ivfpq_index_bit_identical_to_full_build(spark, sf_dir):
    """Incremental ANN index maintenance: build the persisted IVF-PQ
    index from the even half, append the odd half in TWO increments with
    the frozen codebook/centroids, and the query result must be
    bit-identical to a one-shot full build with the same codebook — and
    the appended store must still bucket-prune at query time."""
    import re

    from sparsity_spark.data import load_table
    from sparsity_spark.operators.similarity import (
        append_ivfpq_index,
        ivfpq_index_topk,
        pq_sampled_codebook,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    book = pq_sampled_codebook(emb, 4, 16, 64)
    queries = emb.filter(F.col("vec_id") < 5)

    write_ivfpq_index(emb, cents, "ivfpq_full_t", num_buckets=8, codebook=book)
    full = {
        (r["query_id"], r["neighbor_id"], r["adc_d2"])
        for r in ivfpq_index_topk(queries, "ivfpq_full_t").collect()
    }

    write_ivfpq_index(
        emb.filter(F.col("vec_id") % 2 == 0),
        cents,
        "ivfpq_incr_t",
        num_buckets=8,
        codebook=book,
    )
    n0 = spark.table("ivfpq_incr_t").count()
    append_ivfpq_index(emb.filter(F.col("vec_id") % 4 == 1), "ivfpq_incr_t")
    append_ivfpq_index(emb.filter(F.col("vec_id") % 4 == 3), "ivfpq_incr_t")
    assert spark.table("ivfpq_incr_t").count() == spark.table("ivfpq_full_t").count()
    assert spark.table("ivfpq_incr_t").count() > n0
    incr = {
        (r["query_id"], r["neighbor_id"], r["adc_d2"])
        for r in ivfpq_index_topk(queries, "ivfpq_incr_t").collect()
    }
    assert incr == full

    # the appended store still bucket-prunes: probe-sized read, not corpus
    plan = (
        ivfpq_index_topk(emb.filter(F.col("vec_id") < 2), "ivfpq_incr_t")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2)), plan


def test_append_hash_store_ledger_keeps_lowest_id(spark):
    """r6 ADVICE: with intra_batch=False the ledger dedup must persist the
    LOWEST id per content_hash (deterministic keep-first), never an
    arbitrary twin."""
    from sparsity_spark.operators.dedup import append_hash_store, write_hash_store

    schema = "doc_id long, text string"
    write_hash_store(spark.createDataFrame(CORPUS, schema), "hs_minid", num_buckets=4)
    batch = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [307, 301, 305], "text": ["same fresh text"] * 3}
        ),
        schema,
    )
    append_hash_store(batch, "hs_minid", intra_batch=False)
    ledger = spark.table("hs_minid").toPandas()
    new = ledger[~ledger.doc_id.isin(CORPUS["doc_id"])]
    assert len(new) == 1 and int(new.doc_id.iloc[0]) == 301


def test_write_hash_store_dedups_natural_corpus_twins(spark):
    """r8 (caught by the sf0.1 sweep): a corpus containing natural exact
    twins must still produce a UNIQUE ledger — otherwise every later
    screen's left join fans out per duplicate (one batch row came back
    twice: 793 vs 792). Lowest id per hash, matching the append rule."""
    from sparsity_spark.operators.dedup import append_hash_store, write_hash_store

    rows = [
        (1, "alpha beta"), (2, "gamma delta"), (7, "alpha beta"),  # 1 & 7 twins
        (9, "epsilon zeta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    write_hash_store(docs, "hash_store_twin_t", num_buckets=4)
    ledger = spark.table("hash_store_twin_t").toPandas()
    assert len(ledger) == 3  # twins collapsed
    assert ledger.set_index("content_hash")["doc_id"].min() >= 1
    twin_ids = ledger.sort_values("doc_id")["doc_id"].tolist()
    assert 1 in twin_ids and 7 not in twin_ids  # lowest id kept

    batch = spark.createDataFrame(
        [(100, "alpha beta"), (101, "new text here")], "doc_id long, text string"
    )
    out = append_hash_store(batch, "hash_store_twin_t").toPandas()
    assert len(out) == 2  # no fanout against the twin hash
    keep = out.set_index("doc_id")["keep"]
    assert not keep[100] and keep[101]


def test_fold_cluster_store_bridges_merges_and_replays(spark):
    """r9 cluster store: the fold must equal a from-scratch closure in
    the hard cases — a batch doc BRIDGING two stored clusters, chained
    merges across two folds (remap compaction), and an exact replay
    folding to a no-op."""
    import pandas as pd

    from sparsity_spark.operators.dedup import (
        duplicate_clusters,
        fold_cluster_store,
        resolve_cluster_store,
        write_cluster_store,
    )

    # corpus: clusters {5,6,7} (min 5) and {8,9} (min 8), singleton 12
    corpus = spark.createDataFrame(pd.DataFrame({"doc_id": [5, 6, 7, 8, 9, 12]}))
    corpus_pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [5, 5, 8], "id_b": [6, 7, 9]})
    )
    labels = duplicate_clusters(corpus_pairs, corpus)
    write_cluster_store(labels, "cluster_store_test")

    # batch 1: doc 20 bridges both clusters; doc 21 is a singleton
    b1 = spark.createDataFrame(pd.DataFrame({"doc_id": [20, 21]}))
    p1 = spark.createDataFrame(pd.DataFrame({"id_a": [20, 20], "id_b": [6, 9]}))
    resolved = fold_cluster_store(b1, p1, "cluster_store_test")
    got = {r["doc_id"]: r["cluster_id"] for r in resolved.collect()}
    assert got == {5: 5, 6: 5, 7: 5, 8: 5, 9: 5, 12: 12, 20: 5, 21: 21}

    # batch 2: doc 1 (new global minimum) joins the merged cluster via 9,
    # exercising the remap chain 8->5 composed with 5->1
    b2 = spark.createDataFrame(pd.DataFrame({"doc_id": [1]}))
    p2 = spark.createDataFrame(pd.DataFrame({"id_a": [1], "id_b": [9]}))
    resolved2 = fold_cluster_store(b2, p2, "cluster_store_test")
    got2 = {r["doc_id"]: r["cluster_id"] for r in resolved2.collect()}
    assert got2 == {1: 1, 5: 1, 6: 1, 7: 1, 8: 1, 9: 1, 12: 12, 20: 1, 21: 21}
    # remap stays one hop deep (compacted): every old id points at 1 directly
    remap = {
        r["old_id"]: r["new_id"]
        for r in spark.table("cluster_store_test__remap").collect()
    }
    assert remap == {5: 1, 8: 1}

    # replay of batch 2 is a no-op (at-least-once safety)
    resolved3 = fold_cluster_store(b2, p2, "cluster_store_test")
    got3 = {r["doc_id"]: r["cluster_id"] for r in resolved3.collect()}
    assert got3 == got2
    assert spark.table("cluster_store_test").count() == 9  # no duplicate rows

    # and the whole thing equals a from-scratch closure on the union
    every = spark.createDataFrame(
        pd.DataFrame({"doc_id": [5, 6, 7, 8, 9, 12, 20, 21, 1]})
    )
    all_pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [5, 5, 8, 20, 20, 1], "id_b": [6, 7, 9, 6, 9, 9]})
    )
    scratch = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(all_pairs, every).collect()
    }
    assert got3 == scratch


def test_containment_store_screen_finds_planted_leak(spark):
    """r10 containment store: a batch doc mostly contained in a corpus
    doc must surface with the exact overlap/denominator; an unrelated
    batch doc must not. Then append maintenance: after folding the batch
    in, the NEXT batch screens against the first batch's docs too."""
    import pyspark.sql.functions as F
    from sparsity_spark.operators.dedup import (
        append_containment_store,
        containment_screen,
        write_containment_store,
    )

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six"),
        ],
        "doc_id long, text string",
    )
    write_containment_store(corpus, "contain_store_t")
    batch = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),   # 3 of 3 grams in doc 1
            (11, "pure novel words only here now"),   # nothing shared
        ],
        "doc_id long, text string",
    )
    got = {
        (r["batch_id"], r["corpus_id"]): (r["overlap"], r["batch_size"], r["containment"])
        for r in containment_screen(batch, "contain_store_t", threshold=0.9).collect()
    }
    assert got == {(10, 1): (3, 3, 1.0)}

    # fold the batch in; a new doc contained in BATCH doc 11 now surfaces
    append_containment_store(batch, "contain_store_t")
    batch2 = spark.createDataFrame(
        [(20, "pure novel words only")], "doc_id long, text string"
    )
    got2 = {
        (r["batch_id"], r["corpus_id"])
        for r in containment_screen(batch2, "contain_store_t", threshold=0.9).collect()
    }
    assert got2 == {(20, 11)}
    # df table now carries both increments; the store tables stay bucketed
    assert spark.table("contain_store_t__grams").count() == 4


def test_containment_screen_boilerplate_prefix_discipline(spark):
    """Probe discipline under boilerplate: max-df grams sort LAST in the
    batch doc's rarest-first prefix order, so the probe exposes the rare
    tail first and at most the prefix REMAINDER of boilerplate grams —
    never the full gram set — while staying lossless: the planted
    containment is found THROUGH the boilerplate (batch-side denominator
    over mixed rare+common grams) and no sub-threshold pair leaks."""
    from sparsity_spark.operators.dedup import (
        containment_screen,
        write_containment_store,
    )

    header = "all rights reserved contact the webmaster"
    corpus = spark.createDataFrame(
        [(i, f"{header} c{i}a c{i}b c{i}c c{i}d c{i}e") for i in range(1, 80)]
        + [(99, f"{header} alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    write_containment_store(corpus, "contain_boiler_t")
    batch = spark.createDataFrame(
        [(200, f"{header} alpha beta gamma delta")],
        "doc_id long, text string",
    )
    rows = containment_screen(batch, "contain_boiler_t", threshold=0.6).collect()
    got = {(r["batch_id"], r["corpus_id"]) for r in rows}
    # doc 200's grams: 4 header-internal (df=80, sort last), boundary +
    # alpha-beta-gamma-delta tail (df<=1 except those shared with 99) —
    # only 99 passes the 0.6 batch-denominator bar
    assert got == {(200, 99)}


def test_ivfpq_delete_and_compact_lifecycle(spark, sf_dir):
    """r11 deletion lifecycle: a tombstoned vector stops surfacing
    immediately (read-side anti-join); compaction physically removes its
    code rows, clears the tombstone table, and leaves query results
    bit-identical to the tombstone view; deleting after compaction keeps
    working (both mechanisms compose)."""
    from sparsity_spark.data import load_table
    from sparsity_spark.operators.similarity import (
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_index_topk,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    t = "ivfpq_del_t"
    write_ivfpq_index(emb, cents, t, num_buckets=8)
    queries = emb.filter(F.col("vec_id") < 5)
    base = ivfpq_index_topk(queries, t).collect()
    # pick a surfacing neighbor and delete it
    victim = base[0]["neighbor_id"]
    delete_from_ivfpq_index(
        spark.createDataFrame([(int(victim),)], "vec_id long"), t
    )
    after_del = ivfpq_index_topk(queries, t).collect()
    assert victim not in {r["neighbor_id"] for r in after_del}
    rows_before = spark.table(t).count()
    compact_ivfpq_index(spark, t)
    assert not spark.catalog.tableExists(f"{t}__tombstones")
    assert spark.table(t).count() < rows_before  # physically removed
    after_compact = ivfpq_index_topk(queries, t).collect()
    assert sorted(map(tuple, after_compact)) == sorted(map(tuple, after_del))
    # a second deletion on the compacted index still works
    victim2 = after_compact[0]["neighbor_id"]
    delete_from_ivfpq_index(
        spark.createDataFrame([(int(victim2),)], "vec_id long"), t
    )
    final = ivfpq_index_topk(queries, t).collect()
    assert victim2 not in {r["neighbor_id"] for r in final}
    assert victim not in {r["neighbor_id"] for r in final}


def test_containment_store_forget_lifecycle(spark):
    """r11 right-to-be-forgotten for the containment lake: a tombstoned
    corpus doc stops matching immediately; compaction physically removes
    its grams/postings, recomputes df exactly from the live postings,
    and clears the tombstones; screening is bit-identical around the
    compaction; forgetting again post-compaction works; replays of a
    removal are no-ops."""
    from sparsity_spark.operators.dedup import (
        compact_containment_store,
        containment_screen,
        remove_from_containment_store,
        write_containment_store,
    )

    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven"),
         (3, "red green blue cyan magenta yellow")], schema)
    t = "contain_forget_t"
    write_containment_store(corpus, t)
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta"),   # contained in doc 1
         (11, "red green blue cyan")],     # contained in doc 3
        schema)

    def hits():
        return {
            (r["batch_id"], r["corpus_id"])
            for r in containment_screen(batch, t, threshold=0.9).collect()
        }

    assert hits() == {(10, 1), (11, 3)}
    remove_from_containment_store(
        spark.createDataFrame([(1,)], "doc_id long"), t
    )
    assert hits() == {(11, 3)}  # doc 1 forgotten, zero store rewrite
    # replayed removal is a no-op (ids already tombstoned)
    remove_from_containment_store(
        spark.createDataFrame([(1,)], "doc_id long"), t
    )
    before = hits()
    grams_before = spark.table(f"{t}__grams").count()
    compact_containment_store(spark, t)
    assert not spark.catalog.tableExists(f"{t}__tombstones")
    assert spark.table(f"{t}__grams").count() < grams_before
    # df is exactly the live posting counts after compaction
    live_df = {
        r["gram"]: r["df"] for r in spark.table(f"{t}__df").collect()
    }
    assert all(v > 0 for v in live_df.values())
    assert hits() == before  # bit-identical around compaction
    # forgetting post-compaction still works
    remove_from_containment_store(
        spark.createDataFrame([(3,)], "doc_id long"), t
    )
    assert hits() == set()
    for s in (f"{t}__grams", f"{t}__post", f"{t}__df", f"{t}__tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_band_store_forget_lifecycle(spark):
    """r11: a tombstoned band-store doc stops suppressing its near-twin
    immediately; compaction physically removes its rows and clears the
    tombstones with screening bit-identical around it; forgetting after
    compaction still works."""
    from sparsity_spark.operators.dedup import (
        band_store,
        compact_band_store,
        incremental_lsh_dedup,
        remove_from_band_store,
        write_band_store,
    )

    schema = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(1, base), (2, " ".join(f"u{i}" for i in range(30)))], schema)
    t = "band_forget_t"
    write_band_store(corpus, t)
    batch = spark.createDataFrame([(10, base)], schema)  # twin of doc 1

    def keep():
        return {
            r["doc_id"]: r["keep"]
            for r in incremental_lsh_dedup(batch, band_store(spark, t)).collect()
        }

    assert keep() == {10: False}  # suppressed by its stored twin
    remove_from_band_store(spark.createDataFrame([(1,)], "doc_id long"), t)
    assert keep() == {10: True}  # twin forgotten -> arrival survives
    rows_before = spark.table(t).count()
    compact_band_store(spark, t)
    assert not spark.catalog.tableExists(f"{t}__tombstones")
    assert spark.table(t).count() < rows_before
    assert keep() == {10: True}  # bit-identical around compaction
    # post-compaction forget still works
    remove_from_band_store(spark.createDataFrame([(2,)], "doc_id long"), t)
    assert spark.table(t).count() > band_store(spark, t).count()
    for s in (t, f"{t}__tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_hash_store_forget_lifecycle(spark):
    """Forgetting a ledger KEEPER re-admits its byte-identical twin
    immediately; compaction physically removes the row and clears the
    tombstones with screening bit-identical around it; the re-admitted
    twin's append re-creates the hash under its new id."""
    from sparsity_spark.operators.dedup import (
        append_hash_store,
        compact_hash_store,
        hash_store,
        remove_from_hash_store,
        write_hash_store,
    )

    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")], schema
    )
    t = "hash_forget_t"
    write_hash_store(corpus, t, num_buckets=4)

    def keep_of(doc_id, text):
        batch = spark.createDataFrame([(doc_id, text)], schema)
        return {
            r["doc_id"]: r["keep"] for r in append_hash_store(batch, t).collect()
        }

    # twin of doc 1 rejected while 1 is live (append is a no-op: the
    # hash stays in the ledger under id 1 either way)
    assert keep_of(10, "alpha beta gamma") == {10: False}
    remove_from_hash_store(spark.createDataFrame([(1,)], "doc_id long"), t)
    rows_before = spark.table(t).count()
    live_before = {r["content_hash"] for r in hash_store(spark, t).collect()}
    compact_hash_store(spark, t)
    assert not spark.catalog.tableExists(f"{t}__tombstones")
    assert spark.table(t).count() < rows_before
    assert {r["content_hash"] for r in hash_store(spark, t).collect()} == live_before
    # forgotten keeper no longer suppresses: twin admitted, hash re-added
    assert keep_of(11, "alpha beta gamma") == {11: True}
    assert keep_of(12, "alpha beta gamma") == {12: False}  # new keeper active
    # post-compaction forget still works (read-side)
    remove_from_hash_store(spark.createDataFrame([(2,)], "doc_id long"), t)
    assert keep_of(13, "delta epsilon zeta") == {13: True}
    for s in (t, f"{t}__tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_cluster_store_forget_relabel(spark):
    """Cluster-store forget semantics: tombstoned docs vanish from
    resolution immediately but labels move only at compaction (re-elected
    to the minimum SURVIVOR); deletion never splits a cluster; compaction
    is idempotent."""
    from sparsity_spark.operators.dedup import (
        compact_cluster_store,
        remove_from_cluster_store,
        resolve_cluster_store,
        write_cluster_store,
    )

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster_id long",
    )
    t = "cluster_forget_t"
    write_cluster_store(labels, t, num_buckets=4)

    def view():
        return {
            r["doc_id"]: r["cluster_id"]
            for r in resolve_cluster_store(spark, t).collect()
        }

    remove_from_cluster_store(spark.createDataFrame([(1,)], "doc_id long"), t)
    # read-side: doc 1 gone, label still the (forgotten) minimum
    assert view() == {2: 1, 3: 1, 10: 10, 11: 10}
    compact_cluster_store(spark, t)
    # physical removal + re-election to the min survivor
    assert view() == {2: 2, 3: 2, 10: 10, 11: 10}
    assert not spark.catalog.tableExists(f"{t}__tombstones")
    assert spark.table(f"{t}__remap").count() == 0
    # post-compaction forget of the NEW label doc: read-side only
    remove_from_cluster_store(spark.createDataFrame([(2,)], "doc_id long"), t)
    assert view() == {3: 2, 10: 10, 11: 10}
    # compaction is idempotent in effect: re-elects again
    compact_cluster_store(spark, t)
    assert view() == {3: 3, 10: 10, 11: 10}
    for s in (t, f"{t}__remap", f"{t}__tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_cluster_forget_then_fold(spark):
    """A fold between a forget and its compaction still works: the
    tombstoned former minimum serves as an opaque pseudo-node label, and
    the folded store resolves to the live docs only."""
    from sparsity_spark.operators.dedup import (
        compact_cluster_store,
        fold_cluster_store,
        remove_from_cluster_store,
        resolve_cluster_store,
        write_cluster_store,
    )

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5)], "doc_id long, cluster_id long"
    )
    t = "cluster_fold_forget_t"
    write_cluster_store(labels, t, num_buckets=4)
    remove_from_cluster_store(spark.createDataFrame([(1,)], "doc_id long"), t)
    # batch doc 20 bridges cluster 1 (via live member 2) and cluster 5
    fold_cluster_store(
        spark.createDataFrame([(20,)], "doc_id long"),
        spark.createDataFrame([(20, 2), (20, 5)], "id_a long, id_b long"),
        t,
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in resolve_cluster_store(spark, t).collect()
    }
    # everything merged under the (stale, forgotten) minimum label 1
    assert got == {2: 1, 5: 1, 20: 1}
    compact_cluster_store(spark, t)
    got2 = {
        r["doc_id"]: r["cluster_id"]
        for r in resolve_cluster_store(spark, t).collect()
    }
    assert got2 == {2: 2, 5: 2, 20: 2}
    for s in (t, f"{t}__remap", f"{t}__tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_decontaminate_bloom_equals_exact(spark, sf_dir):
    """The bloom-prefilter decontamination plan is bit-identical to the
    broadcast-exact one (bloom FPs die in the exact join; no false
    negatives), with and without the benchmark-df cap."""
    from sparsity_spark.operators.pipeline import decontaminate, decontaminate_bloom

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    for cap in (None, 20):
        exact = {
            (r["doc_id"], r["n_shared_grams"], r["n_bench_docs"])
            for r in decontaminate(train, bench, max_bench_df=cap).collect()
        }
        bloom = {
            (r["doc_id"], r["n_shared_grams"], r["n_bench_docs"])
            for r in decontaminate_bloom(train, bench, max_bench_df=cap).collect()
        }
        assert bloom == exact and len(exact) > 0


def test_member_store_forget_lifecycle(spark):
    """A tombstoned member vector stops semantically suppressing its
    near-twin immediately; compaction physically removes its row and
    clears the tombstones with screening bit-identical around it;
    forgetting after compaction still works."""
    from sparsity_spark.operators.dedup import (
        compact_member_store,
        member_store,
        remove_from_member_store,
        semantic_screen,
        write_member_store,
    )
    from sparsity_spark.operators.similarity import kmeans_fit

    schema = "vec_id long, embedding array<float>"
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])], schema
    )
    cents = kmeans_fit(corpus, k=2, iters=2)
    t = "member_forget_t"
    write_member_store(corpus, cents, t, num_buckets=4)
    batch = spark.createDataFrame([(10, [1.0, 0.0, 0.0, 0.0])], schema)

    def kept():
        return {
            r["vec_id"]
            for r in semantic_screen(
                batch, member_store(spark, t), cents, threshold=0.9
            ).collect()
        }

    assert kept() == set()  # suppressed by its stored twin
    remove_from_member_store(spark.createDataFrame([(1,)], "vec_id long"), t)
    assert kept() == {10}  # twin forgotten -> arrival survives
    rows_before = spark.table(t).count()
    compact_member_store(spark, t)
    assert not spark.catalog.tableExists(f"{t}__tombstones")
    assert spark.table(t).count() < rows_before
    assert kept() == {10}  # bit-identical around compaction
    remove_from_member_store(spark.createDataFrame([(2,)], "vec_id long"), t)
    assert spark.table(t).count() > member_store(spark, t).count()
    for s in (t, f"{t}__tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


class TestBenchmarkStore:
    """r11: persisted decontamination reference — write/append parity,
    retirement (tombstone) release, compaction equivalence + shrink."""

    @staticmethod
    def _mk(spark):
        b1 = " ".join(f"b{i}" for i in range(40))
        b2 = " ".join(f"c{i}" for i in range(40))
        bench = spark.createDataFrame(
            [(100, b1), (200, b2)], "doc_id long, text string"
        )
        t1 = " ".join(f"b{i}" for i in range(39)) + " edited"   # near-dup of 100
        t2 = " ".join(f"c{i}" for i in range(39)) + " altered"  # near-dup of 200
        t3 = " ".join(f"u{i}" for i in range(40))               # clean
        train = spark.createDataFrame(
            [(1, t1), (2, t2), (3, t3)], "doc_id long, text string"
        )
        return bench, train

    def test_append_matches_one_shot_and_inline(self, spark):
        from sparsity_spark.operators.pipeline import (
            append_benchmark_store,
            fuzzy_decontaminate,
            fuzzy_decontaminate_store,
            write_benchmark_store,
        )

        bench, train = self._mk(spark)
        write_benchmark_store(bench, "bmk_oneshot_t", num_buckets=4)
        one_shot = sorted(
            fuzzy_decontaminate_store(train, "bmk_oneshot_t", 0.5).collect()
        )
        write_benchmark_store(
            bench.filter("doc_id = 100"), "bmk_app_t", num_buckets=4
        )
        append_benchmark_store(bench.filter("doc_id = 200"), "bmk_app_t")
        appended = sorted(
            fuzzy_decontaminate_store(train, "bmk_app_t", 0.5).collect()
        )
        inline = sorted(fuzzy_decontaminate(train, bench, 0.5).collect())
        assert one_shot == appended == inline
        assert {r.doc_id for r in one_shot} == {1, 2}

    def test_retire_compact_lifecycle(self, spark):
        from sparsity_spark.operators.pipeline import (
            compact_benchmark_store,
            fuzzy_decontaminate_store,
            remove_from_benchmark_store,
            write_benchmark_store,
        )

        bench, train = self._mk(spark)
        t = "bmk_forget_t"
        write_benchmark_store(bench, t, num_buckets=4)
        # retire benchmark 100 -> train doc 1 released immediately
        remove_from_benchmark_store(
            spark.createDataFrame([(100,)], "bench_id long"), t
        )
        got = {r.doc_id for r in fuzzy_decontaminate_store(train, t, 0.5).collect()}
        assert got == {2}
        # re-delivery of the same retirement is a no-op
        remove_from_benchmark_store(
            spark.createDataFrame([(100,)], "bench_id long"), t
        )
        before = sorted(fuzzy_decontaminate_store(train, t, 0.5).collect())
        n_bands_before = spark.table(f"{t}__bands").count()
        compact_benchmark_store(spark, t)
        after = sorted(fuzzy_decontaminate_store(train, t, 0.5).collect())
        assert before == after                       # reads bit-identical
        assert spark.table(f"{t}__bands").count() < n_bands_before  # shrank
        assert not spark.catalog.tableExists(f"{t}__tombstones")
        assert spark.table(f"{t}__grams").count() == 1
        # post-compaction retirement still composes
        remove_from_benchmark_store(
            spark.createDataFrame([(200,)], "bench_id long"), t
        )
        assert fuzzy_decontaminate_store(train, t, 0.5).count() == 0
