"""Structured Streaming: batch/stream parity for the flagship pipeline and
the custom stateful operator, driven with the availableNow trigger."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sparsity_spark.data import load_table
from sparsity_spark.streaming import (
    stream_events,
    streaming_one_hot_counts,
    streaming_session_stats,
)


@pytest.fixture(scope="module")
def events_dir(spark):
    """Events written as proper micro-timestamp parquet (the raw testdata is
    TIMESTAMP(NANOS) which the streaming file source can't read either)."""
    d = tempfile.mkdtemp(prefix="stream_src_")
    load_table(spark, "/root/testdata/sf0.001", "events").repartition(4).write.mode(
        "overwrite"
    ).parquet(d + "/events")
    yield d + "/events"
    shutil.rmtree(d, ignore_errors=True)


def _run_available_now(stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update" if name == "sessions" else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_windowed_counts_match_batch(spark, events_dir):
    stream = stream_events(spark, events_dir)
    agg = streaming_one_hot_counts(stream, window_duration="1 day", watermark="2 days")
    # append mode only emits closed windows; availableNow + watermark keeps
    # the final (max-ts) window open, so compare on complete mode instead
    q = (
        agg.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM wincounts").toPandas()

    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 day"), F.col("event_type").alias("col"))
        .agg(F.count("*").cast("double").alias("value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "col",
            "value",
        )
        .toPandas()
    )
    key = ["window_start", "window_end", "col"]
    got = got.sort_values(key).reset_index(drop=True)
    batch = batch.sort_values(key).reset_index(drop=True)
    assert len(got) == len(batch)
    assert (got["value"].to_numpy() == batch["value"].to_numpy()).all()


def test_stateful_session_stats_match_batch(spark, events_dir):
    stream = stream_events(spark, events_dir)
    q = _run_available_now(streaming_session_stats(stream), "sessions")
    got = spark.sql(
        "SELECT user_id, max_by(n_events, n_events) AS n_events,"
        " max_by(total_value, n_events) AS total_value FROM sessions GROUP BY user_id"
    ).toPandas().set_index("user_id").sort_index()

    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert (got["n_events"] == batch["n_events"]).all()
    # stateful path accumulates in micro-batch order; compare to 1e-6
    assert (got["total_value"] - batch["total_value"]).abs().max() < 1e-4


def test_watermark_progression_across_batches(spark, tmp_path):
    """Late-data machinery: windows accumulate correctly across micro-batches
    and the watermark advances monotonically (maxFilesPerTrigger=1 forces
    separate batches). Note: observed Spark 4.1 behavior admits a late row
    into fresh window state and emits it at the closing batch — window
    TOTALS stay exact either way, which is what we pin."""
    import datetime as dt

    d = dt.datetime(2024, 3, 1)
    src = str(tmp_path / "late_events")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    batch1 = [(i, d + dt.timedelta(hours=10, minutes=i), 1, "click", 1.0, "") for i in range(5)]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("overwrite").parquet(src)

    # file source orders batches by modification time — make file1 strictly
    # older so it forms the first micro-batch
    import time as _time

    _time.sleep(2)

    # second file: one VERY late row (00:30, far behind watermark 09:04) and
    # one fresh row (12:00)
    batch2 = [
        (100, d + dt.timedelta(minutes=30), 1, "click", 1.0, ""),
        (101, d + dt.timedelta(hours=12), 1, "click", 1.0, ""),
    ]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    agg = streaming_one_hot_counts(stream, window_duration="1 hour", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT window_start, value FROM late_test ORDER BY window_start"
    ).toPandas()
    # the 10:00 window accumulated all 5 first-batch rows and closed exactly
    ten = got[got.window_start.dt.hour == 10]
    assert float(ten.value.sum()) == 5.0
    # watermark advanced monotonically across batches
    marks = [
        p["eventTime"]["watermark"]
        for p in q.recentProgress
        if p.get("eventTime", {}).get("watermark")
    ]
    assert marks == sorted(marks) and len(set(marks)) >= 2


def test_stream_static_enrichment_matches_batch(spark, events_dir):
    from sparsity_spark.streaming import streaming_enriched_counts

    dim = load_table(spark, "/root/testdata/sf0.001", "customer")
    stream = stream_events(spark, events_dir)
    q = (
        streaming_enriched_counts(stream, dim)
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM enriched").toPandas()

    batch = (
        spark.read.parquet(events_dir)
        .join(dim.select(F.col("c_custkey").alias("user_id"), "c_mktsegment"), on="user_id")
        .groupBy(F.window("ts", "1 day"), F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("double").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "segment",
            "n_events",
            "total_value",
        )
        .toPandas()
    )
    key = ["window_start", "window_end", "segment"]
    got = got.sort_values(key).reset_index(drop=True)
    batch = batch.sort_values(key).reset_index(drop=True)
    assert len(got) == len(batch)
    assert (got["n_events"].to_numpy() == batch["n_events"].to_numpy()).all()
    assert (abs(got["total_value"].to_numpy() - batch["total_value"].to_numpy()) < 1e-6).all()


def test_sliding_counts_match_batch(spark, events_dir):
    from sparsity_spark.streaming import streaming_sliding_counts

    stream = stream_events(spark, events_dir)
    agg = streaming_sliding_counts(stream, "2 days", "1 day", watermark="2 days")
    q = (
        agg.writeStream.format("memory")
        .queryName("sliding")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.n)
        for r in spark.sql("SELECT CAST(window_start AS STRING) window_start, n FROM sliding").collect()
    }
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "2 days", "1 day"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").cast("string").alias("window_start"), "n")
    )
    expect = {(r.window_start, r.n) for r in batch.collect()}
    assert got == expect
    # every event lands in exactly window/slide = 2 windows
    n_events = spark.read.parquet(events_dir).count()
    assert sum(n for _, n in got) == 2 * n_events


def test_attribution_join_matches_batch(spark, events_dir):
    from sparsity_spark.streaming import streaming_attribution_join

    views = stream_events(spark, events_dir).filter(F.col("event_type") == "view")
    purch = stream_events(spark, events_dir).filter(F.col("event_type") == "purchase")
    q = (
        streaming_attribution_join(views, purch, within="10 minutes")
        .writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT l_event_id, r_event_id FROM attrib").toPandas()

    ev = spark.read.parquet(events_dir)
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("ts").alias("vts"), F.col("event_id").alias("ve")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u2"), F.col("ts").alias("pts"), F.col("event_id").alias("pe")
    )
    want = (
        v.join(p, (F.col("u") == F.col("u2"))
               & (F.col("pts") > F.col("vts"))
               & (F.col("pts") <= F.col("vts") + F.expr("interval 10 minutes")))
        .select("ve", "pe")
        .toPandas()
    )
    assert len(want) > 0, "fixture produced no attributable pairs"
    got_set = set(map(tuple, got.values.tolist()))
    want_set = set(map(tuple, want[["ve", "pe"]].values.tolist()))
    assert got_set == want_set


def test_streaming_neardup_dedup_drops_fingerprint_twins(spark, tmp_path):
    """Docs streamed across two micro-batch files: a later doc whose token
    SET equals an earlier doc's (identical SimHash) is dropped; genuinely
    different docs survive. First-seen-wins across batches."""
    import pandas as pd

    from sparsity_spark.streaming.ingest import streaming_dedup_neardup

    src = str(tmp_path / "docs_src")
    schema = "doc_id long, ts timestamp, text string"
    b1 = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:01:00"]),
            "text": ["the quick brown fox", "entirely different content here"],
        }
    )
    b2 = pd.DataFrame(
        {
            "doc_id": [3, 4],
            # doc 3 = doc 1's tokens reordered+repeated → same distinct-token
            # set → identical fingerprint → dropped across batches
            "ts": pd.to_datetime(["2024-01-01 00:02:00", "2024-01-01 00:03:00"]),
            "text": ["quick the fox brown quick", "a third unique document text"],
        }
    )
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src, exist_ok=True)
    for name, pdf in [("f1", b1), ("f2", b2)]:
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        tbl = tbl.set_column(
            tbl.schema.get_field_index("ts"), "ts", tbl["ts"].cast(pa.timestamp("us"))
        )
        pq.write_table(tbl, f"{src}/{name}.parquet")

    stream = spark.readStream.schema(schema).parquet(src)
    dedup = streaming_dedup_neardup(stream, "text", "ts")
    q = (
        dedup.writeStream.format("memory")
        .queryName("neardup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select doc_id from neardup").toPandas()
    kept = set(got.doc_id)
    # exactly ONE representative of the fingerprint-twin pair {1, 3}
    assert len(kept & {1, 3}) == 1
    assert {2, 4} <= kept and len(kept) == 3


def test_streaming_ewma_matches_batch_closed_form(spark, events_dir):
    """availableNow replay == temporal.ewma closed form on bounded series
    (same order: ts; pandas ewm(adjust=True) semantics)."""
    import uuid

    import numpy as np

    from sparsity_spark.operators.temporal import ewma
    from sparsity_spark.streaming import streaming_ewma

    name = "ewma_" + uuid.uuid4().hex[:8]
    q = (
        streaming_ewma(stream_events(spark, events_dir), alpha=0.3)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql(f"SELECT user_id, ts, ewma FROM {name}")
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    want = (
        ewma(spark.read.parquet(events_dir), "user_id", "ts", "value", alpha=0.3)
        .select("user_id", "ts", "ewma")
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert np.allclose(got["ewma"].to_numpy(), want["ewma"].to_numpy(), rtol=1e-9)


def test_streaming_ewma_survives_long_series(spark, tmp_path):
    """Past ~2000 points per key at alpha=0.3 the closed form's r^-i
    weights overflow double range (inf/inf -> nan); the stateful
    recurrence stays finite and exact at any length."""
    import uuid

    import numpy as np
    import pandas as pd

    from sparsity_spark.operators.temporal import ewma
    from sparsity_spark.streaming import streaming_ewma

    n = 2500
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": pd.date_range("2024-01-01", periods=n, freq="min"),
            "user_id": np.int64(1),
            "event_type": "x",
            "value": 5.0,
            "props": "{}",
        }
    )
    src = str(tmp_path / "long_events")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)

    closed = (
        ewma(spark.read.parquet(src), "user_id", "ts", "value", alpha=0.3)
        .agg(F.max(F.isnan("ewma").cast("int")).alias("any_nan"))
        .collect()[0]["any_nan"]
    )
    assert closed == 1  # the documented closed-form failure mode

    name = "ewma_long_" + uuid.uuid4().hex[:8]
    q = (
        streaming_ewma(stream_events(spark, src), alpha=0.3, watermark="365 days")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(f"SELECT ts, ewma FROM {name}").toPandas().sort_values("ts")
    assert len(got) == n
    assert np.isfinite(got["ewma"]).all()
    # constant series: ewma == the constant at every step
    assert np.allclose(got["ewma"].to_numpy(), 5.0)


def test_minhash_expr_bands_parity_with_aggregate(spark):
    """The streaming-legal per-row band expression must produce IDENTICAL
    (band, band_key) values to the batch aggregate form, and NULL (not
    md5-of-empty collisions) for shingle-less docs."""
    import pandas as pd

    from sparsity_spark.operators.dedup import band_keys, minhash_expr_bands

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog",
                    "an entirely different document about spark and shuffles",
                    "too short",  # < 3 words -> no shingles
                ],
            }
        )
    )
    agg = band_keys(docs).toPandas()
    expr = (
        docs.select(
            "doc_id", F.explode(minhash_expr_bands("text")).alias("bb")
        )
        .select("doc_id", "bb.band", "bb.band_key")
        .toPandas()
    )
    key = lambda df: set(map(tuple, df[["doc_id", "band", "band_key"]].to_numpy()))
    assert key(agg) == key(expr)  # doc 3 absent from BOTH (NULL explodes to nothing)
    assert set(agg["doc_id"]) == {1, 2}


def test_streaming_screen_vs_store_matches_batch(spark, tmp_path):
    """Two micro-batches screened against a static band store must keep
    exactly the docs the batch operator keeps."""
    import pandas as pd

    from sparsity_spark.operators.dedup import band_keys, incremental_lsh_dedup
    from sparsity_spark.streaming.ingest import streaming_screen_vs_store

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "the quick brown fox jumps over the lazy dog today",
                    "an entirely different document about spark shuffles here",
                ],
            }
        )
    )
    store = band_keys(corpus)
    schema = "doc_id long, text string"
    new_rows = pd.DataFrame(
        {
            "doc_id": [100, 101, 102],
            "text": [
                "the quick brown fox jumps over the lazy dog today",  # dup of 1
                "completely novel content with no overlap whatsoever at all",
                "an entirely different document about spark shuffles here",  # dup of 2
            ],
        }
    )
    src = str(tmp_path / "doc_stream")
    spark.createDataFrame(new_rows.iloc[:2], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    import time as _time

    _time.sleep(2)
    spark.createDataFrame(new_rows.iloc[2:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    kept = streaming_screen_vs_store(stream, store)
    q = (
        kept.writeStream.format("memory")
        .queryName("screen_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r["doc_id"] for r in spark.sql("SELECT doc_id FROM screen_test").collect()
    )
    batch_keep = sorted(
        r["doc_id"]
        for r in incremental_lsh_dedup(
            spark.createDataFrame(new_rows, schema), store
        )
        .filter("keep")
        .collect()
    )
    assert got == batch_keep == [101]


def test_streaming_semantic_screen_matches_batch(spark, tmp_path):
    """Streaming embeddings screened against the semantic member store keep
    exactly what the batch operator keeps (same operator, availableNow)."""
    import numpy as np
    import pandas as pd

    from sparsity_spark.operators.dedup import semantic_member_store, semantic_screen
    from sparsity_spark.operators.similarity import kmeans_fit
    from sparsity_spark.streaming import streaming_semantic_screen

    rng = np.random.RandomState(11)
    a = rng.normal(-3, 0.05, (10, 8))
    b = rng.normal(+3, 0.05, (10, 8))
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": list(range(20)),
                "embedding": [list(map(float, v)) for v in np.vstack([a, b])],
            }
        ),
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_fit(corpus, k=2, iters=2)
    store = semantic_member_store(corpus, cents)
    # 100 = near-twin of a corpus A vector (dropped), 101 = orthogonal-ish
    # novel direction (kept)
    novel = [3.0, -3.0, 3.0, -3.0, 3.0, -3.0, 3.0, -3.0]
    new = pd.DataFrame(
        {
            "vec_id": [100, 101],
            "embedding": [[float(x) for x in a[0]], novel],
        }
    )
    schema = "vec_id long, embedding array<double>"
    batch_keep = sorted(
        r["vec_id"]
        for r in semantic_screen(
            spark.createDataFrame(new, schema), store, cents, threshold=0.9
        ).collect()
    )
    src = str(tmp_path / "emb_stream")
    spark.createDataFrame(new, schema).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    kept = streaming_semantic_screen(stream, store, cents, threshold=0.9)
    q = (
        kept.select("vec_id").writeStream.format("memory")
        .queryName("sem_screen")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["vec_id"] for r in spark.sql("SELECT vec_id FROM sem_screen").collect())
    assert got == batch_keep == [101]


def test_streaming_index_and_screen_two_increments(spark, tmp_path):
    """availableNow two-file stream through the ANN index maintenance
    loop: batch 2's exact twin of a batch-1 indexed vector is screened
    out (CODE IDENTITY against the maintained index — the SDC-0 rule; ADC
    distance to a twin is the quantization error, never 0), the novel
    batch-2 vector is appended, and the final index equals the
    batch-built equivalent bit for bit.

    Fixture discipline (r6 postmortem: the original mod-13 generator made
    the 'novel' vectors exact twins of corpus rows 9/8): corpus vectors
    are injective mod 101, the codebook holds ALL 16 corpus rows
    (k_code=16), so every corpus signature is (cid, i, i) — each row
    quantizes to its own codeword at distance 0. The novel vectors are
    MIXED halves of two different corpus rows, giving signatures (a, b)
    with a != b, which therefore can never collide with a corpus cell."""
    import time

    import pandas as pd

    from sparsity_spark.operators.similarity import (
        ivfpq_index_topk,
        pq_sampled_codebook,
        write_ivfpq_index,
    )
    from sparsity_spark.streaming.ingest import streaming_index_and_screen

    dim = 8
    schema = "vec_id long, embedding array<double>"

    def vec(seed):
        return [float((seed * 31 + j * 7) % 101) for j in range(dim)]

    novel1 = vec(3)[:4] + vec(7)[4:]  # codes (3, 7) — no corpus cell
    novel2 = vec(5)[:4] + vec(2)[4:]  # codes (5, 2) — no corpus cell

    corpus = spark.createDataFrame([(i, vec(i)) for i in range(16)], schema)
    cents = corpus.filter(F.col("vec_id") < 2).selectExpr(
        "vec_id as centroid_id", "embedding"
    )
    book = pq_sampled_codebook(corpus, m=2, k=16, dim=dim)
    write_ivfpq_index(corpus, cents, "ivfpq_stream", m=2, k_code=16, dim=dim,
                      num_buckets=4, codebook=book)

    src = str(tmp_path / "vecs")
    spark.createDataFrame(
        pd.DataFrame({"vec_id": [100], "embedding": [novel1]}), schema
    ).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(2)
    spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [200, 201], "embedding": [novel1, novel2]}
        ),  # 200 = exact twin of batch-1 vector 100; 201 novel
        schema,
    ).coalesce(1).write.mode("append").parquet(src)

    seen = []

    def sink(matches, batch_id):
        seen.extend(matches.select("query_id").distinct().toPandas()["query_id"])

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_index_and_screen(
            stream, "ivfpq_stream", dim=dim, dedup_threshold=0.0, sink=sink
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    # every batch vector was searched; twin 200 was dropped, 100/201 kept
    assert sorted(seen) == [100, 200, 201]
    ids = sorted(
        r["vec_id"]
        for r in spark.table("ivfpq_stream").select("vec_id").distinct().collect()
    )
    assert ids == list(range(16)) + [100, 201]
    # parity: the maintained index answers queries exactly like a batch
    # build over the same final corpus with the same frozen codebook
    final = corpus.unionByName(
        spark.createDataFrame([(100, novel1), (201, novel2)], schema)
    )
    write_ivfpq_index(final, cents, "ivfpq_batch_eq", m=2, k_code=16, dim=dim,
                      num_buckets=4, codebook=book)
    queries = spark.createDataFrame([(900, vec(5)), (901, novel2)], schema)
    got = {
        tuple(r)
        for r in ivfpq_index_topk(queries, "ivfpq_stream", m=2, dim=dim, topk=3).collect()
    }
    want = {
        tuple(r)
        for r in ivfpq_index_topk(queries, "ivfpq_batch_eq", m=2, dim=dim, topk=3).collect()
    }
    assert got == want


def test_streaming_cms_maintain_two_increments(spark, tmp_path):
    """r7 sketch-store loop: after two micro-batches the maintained CMS
    table must be BIT-EQUAL to sketching the full union in one batch
    (cms_merge is exact), and estimates from the maintained store must
    match the batch-built ones."""
    import time as _time

    import pandas as pd

    from sparsity_spark.operators.sketches import cms_estimate, cms_sketch, cms_store
    from sparsity_spark.streaming.ingest import streaming_cms_maintain

    schema = "k long"
    rows1 = pd.DataFrame({"k": [1, 1, 1, 2, 2, 3] * 5})
    rows2 = pd.DataFrame({"k": [1, 4, 4, 5] * 5})
    src = str(tmp_path / "cms_stream")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    _time.sleep(2)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    spark.sql("DROP TABLE IF EXISTS cms_stream_store")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_cms_maintain(stream, "cms_stream_store", "k", width=64, depth=3)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .start()
    )
    q.awaitTermination(120)

    whole = spark.createDataFrame(pd.concat([rows1, rows2]), schema)
    maintained = (
        cms_store(spark, "cms_stream_store").toPandas()
        .sort_values(["d", "bucket"]).reset_index(drop=True)
    )
    direct = (
        cms_sketch(whole, "k", width=64, depth=3).toPandas()
        .sort_values(["d", "bucket"]).reset_index(drop=True)
    )
    assert maintained.equals(direct)

    probes = spark.range(1, 7).withColumnRenamed("id", "k")
    est = {
        r["k"]: r["est_count"]
        for r in cms_estimate(
            cms_store(spark, "cms_stream_store"), probes, "k", width=64, depth=3
        ).collect()
    }
    true = {1: 20, 2: 10, 3: 5, 4: 10, 5: 5, 6: 0}
    for k, t in true.items():
        assert est[k] >= t


def test_streaming_hll_maintain_two_increments_and_replay(spark, tmp_path):
    """r7 sketch-store loop: after two micro-batches the maintained HLL
    register file must be BIT-EQUAL to sketching the full union in one
    batch, and re-folding an already-seen increment (an at-least-once
    replay) must leave the registers unchanged — max is idempotent, the
    property that distinguishes this store from the CMS counter store."""
    import time as _time

    import pandas as pd

    from sparsity_spark.operators.sketches import (
        hll_estimate,
        hll_sketch,
        hll_store,
        merge_hll_store,
    )
    from sparsity_spark.streaming.ingest import streaming_hll_maintain

    schema = "k long"
    rows1 = pd.DataFrame({"k": [i % 40 for i in range(200)]})
    rows2 = pd.DataFrame({"k": [i % 70 for i in range(200)]})
    src = str(tmp_path / "hll_stream")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    _time.sleep(2)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    spark.sql("DROP TABLE IF EXISTS hll_stream_store")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_hll_maintain(stream, "hll_stream_store", "k")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .start()
    )
    q.awaitTermination(120)

    whole = spark.createDataFrame(pd.concat([rows1, rows2]), schema)
    maintained = (
        hll_store(spark, "hll_stream_store").toPandas()
        .sort_values("bucket").reset_index(drop=True)
    )
    direct = (
        hll_sketch(whole, "k").toPandas()
        .sort_values("bucket").reset_index(drop=True)
    )
    assert maintained.equals(direct)

    # replay an increment through the SAME fold path: registers unchanged
    merge_hll_store(spark.createDataFrame(rows1, schema), "hll_stream_store", "k")
    replayed = (
        hll_store(spark, "hll_stream_store").toPandas()
        .sort_values("bucket").reset_index(drop=True)
    )
    assert replayed.equals(direct)

    # 70 distinct in 256 registers is the linear-counting regime: apply
    # the standard small-range correction python-side from the EXACT
    # zero_registers count the estimate row carries (the engine emits the
    # raw estimate only — ln(m/V) is libm-dependent, hll_estimate doc)
    import math

    est = hll_estimate(hll_store(spark, "hll_stream_store")).collect()[0]
    v = est["zero_registers"]
    corrected = 256 * math.log(256 / v) if v > 0 else est["distinct_estimate"]
    assert abs(corrected - 70) / 70 < 0.25


def test_streaming_bloom_maintain_two_increments_and_replay(spark, tmp_path):
    """r8 membership-store loop: after two micro-batches the maintained
    bloom bitmap must be BIT-EQUAL to one built from the full union in
    one batch; re-folding an already-seen increment leaves it unchanged
    (OR is set union — at-least-once safe, like the HLL file); and every
    streamed key passes the probe (no false negatives)."""
    import time as _time

    import pandas as pd

    from sparsity_spark.operators.skew import (
        bloom_build_bytes,
        bloom_probe_expr,
        bloom_store_bytes,
        merge_bloom_store,
    )
    from sparsity_spark.streaming.ingest import streaming_bloom_maintain

    m_bits = 1 << 10
    schema = "k long"
    rows1 = pd.DataFrame({"k": [i * 3 + 1 for i in range(150)]})
    rows2 = pd.DataFrame({"k": [i * 5 + 2 for i in range(150)]})
    src = str(tmp_path / "bloom_stream")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    _time.sleep(2)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    spark.sql("DROP TABLE IF EXISTS bloom_stream_store")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_bloom_maintain(stream, "bloom_stream_store", "k", m_bits=m_bits)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "bloom_ckpt"))
        .start()
    )
    q.awaitTermination(120)

    whole = spark.createDataFrame(pd.concat([rows1, rows2]), schema)
    maintained = bloom_store_bytes(spark, "bloom_stream_store", m_bits=m_bits)
    assert maintained == bloom_build_bytes(whole, "k", m_bits=m_bits)

    merge_bloom_store(
        spark.createDataFrame(rows1, schema), "bloom_stream_store", "k", m_bits=m_bits
    )
    assert bloom_store_bytes(spark, "bloom_stream_store", m_bits=m_bits) == maintained

    hits = whole.filter(bloom_probe_expr(F.col("k"), maintained, m_bits=m_bits)).count()
    assert hits == whole.count()


def test_streaming_edge_maintain_batch_parity_and_replay(spark, tmp_path):
    """r9 graph-store loop (VERDICT r8 #10): after two edge micro-batches
    the maintained adjacency must EQUAL the set union of everything
    appended, the per-batch top-k re-rank must equal batch pagerank on
    that union (integer-exact), and re-folding an already-seen increment
    leaves the store unchanged (distinct union is idempotent)."""
    import time as _time

    import pandas as pd

    from sparsity_spark.operators.graph import (
        merge_edge_store,
        pagerank,
        symmetrize_edges,
    )
    from sparsity_spark.streaming.ingest import streaming_edge_maintain

    # two symmetric edge batches over a small graph
    p1 = [(1, 2), (2, 3), (3, 1), (3, 4)]
    p2 = [(4, 5), (5, 1), (2, 5), (3, 1)]  # (3,1) repeats across batches

    def sym_rows(pairs):
        out = []
        for a, b in pairs:
            out.append((a, b))
            out.append((b, a))
        return pd.DataFrame(out, columns=["src", "dst"])

    schema = "src long, dst long"
    src_dir = str(tmp_path / "edge_stream")
    spark.createDataFrame(sym_rows(p1), schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src_dir)
    _time.sleep(2)
    spark.createDataFrame(sym_rows(p2), schema).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)

    spark.sql("DROP TABLE IF EXISTS edge_stream_store")
    seen_topk = {}
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    )
    q = (
        streaming_edge_maintain(
            stream,
            "edge_stream_store",
            iterations=3,
            top_k=3,
            sink=lambda df, bid: seen_topk.__setitem__(bid, df.collect()),
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "edge_ckpt"))
        .start()
    )
    q.awaitTermination(120)

    # store == set union of both batches
    store = {
        (r["src"], r["dst"]) for r in spark.table("edge_stream_store").collect()
    }
    want_edges = {
        (a, b) for a, b in [*p1, *p2] + [(b, a) for a, b in [*p1, *p2]]
    }
    assert store == want_edges

    # final top-k == batch pagerank over the full union
    all_df = symmetrize_edges(
        spark.createDataFrame(p1 + p2, "a long, b long"), "a", "b", as_string=False
    )
    batch_ranks = sorted(
        ((r["rank_micro"], r["node"]) for r in pagerank(all_df, iterations=3).collect()),
        key=lambda t: (-t[0], t[1]),
    )[:3]
    assert len(seen_topk) >= 1
    final = seen_topk[max(seen_topk)]
    got = [(r["rank_micro"], r["node"]) for r in final]
    assert got == batch_ranks

    # replay idempotence: folding batch 1 again changes nothing
    merge_edge_store(spark.createDataFrame(sym_rows(p1), schema), "edge_stream_store")
    assert {
        (r["src"], r["dst"]) for r in spark.table("edge_stream_store").collect()
    } == want_edges


def test_streaming_cluster_maintain_equals_batch_closure(spark, tmp_path):
    """r9 cluster-store loop: after two micro-batches folded through the
    band-store screen, the resolved doc→cluster store must equal a
    from-scratch duplicate_clusters over EVERYTHING ever seen — the
    bit-equality contract fold_cluster_store carries, proven through the
    streaming path (and its per-batch band appends)."""
    import time as _time

    import pandas as pd

    from sparsity_spark.operators.dedup import (
        duplicate_clusters,
        lsh_candidate_pairs,
        resolve_cluster_store,
        write_band_store,
        write_cluster_store,
    )
    from sparsity_spark.streaming.ingest import streaming_cluster_maintain

    # texts engineered so near-dups exist within AND across batches:
    # docs 0/1 (corpus) share a long shingle run with 100/101 (batch 1)
    # and 200 (batch 2); distinct tails keep other docs apart
    base = "the quick brown fox jumps over the lazy dog again and again "
    def doc(i, tail):
        return base * 3 + tail

    corpus = pd.DataFrame(
        {
            "doc_id": [0, 1, 10, 11],
            "text": [
                doc(0, "alpha beta gamma"),
                doc(1, "alpha beta gamma"),
                "completely different words entirely " * 5 + "one",
                "another unrelated body of text here " * 5 + "two",
            ],
        }
    )
    b1 = pd.DataFrame(
        {
            "doc_id": [100, 101],
            "text": [doc(100, "alpha beta gamma"), "fresh standalone content " * 8],
        }
    )
    b2 = pd.DataFrame({"doc_id": [200], "text": [doc(200, "alpha beta gamma")]})
    schema = "doc_id long, text string"

    cdf = spark.createDataFrame(corpus, schema)
    write_band_store(cdf, "cluster_stream_bands", num_buckets=4)
    write_cluster_store(
        duplicate_clusters(lsh_candidate_pairs(cdf), cdf), "cluster_stream_store"
    )

    src = str(tmp_path / "cluster_stream")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    _time.sleep(2)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_cluster_maintain(stream, "cluster_stream_bands", "cluster_stream_store")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "cluster_ckpt"))
        .start()
    )
    q.awaitTermination(180)

    everything = spark.createDataFrame(pd.concat([corpus, b1, b2]), schema)
    scratch = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(
            lsh_candidate_pairs(everything), everything
        ).collect()
    }
    maintained = {
        r["doc_id"]: r["cluster_id"]
        for r in resolve_cluster_store(spark, "cluster_stream_store").collect()
    }
    assert maintained == scratch
    # the engineered dups actually clustered (the test is discriminative)
    assert maintained[100] == maintained[0] == maintained[200] == 0


def test_count_store_batch_parity_and_replay(spark):
    """r9 count-store fold: three increments + a replayed one must sum to
    the exact per-key counts of everything delivered ONCE; the replay
    appends nothing (batch_id screen) and raced duplicates collapse at
    read (MAX over identical rows)."""
    from sparsity_spark.operators.sketches import count_store_topk, merge_count_store

    rows = [(i, i % 4) for i in range(40)]  # keys 0..3, 10 each
    df = spark.createDataFrame(rows, "event_id long, k long")
    spark.sql("DROP TABLE IF EXISTS count_store_t")
    for b in range(3):
        merge_count_store(df.where(F.col("event_id") % 3 == b), "count_store_t", "k", b)
    before = spark.table("count_store_t").count()
    merge_count_store(df.where(F.col("event_id") % 3 == 1), "count_store_t", "k", 1)
    assert spark.table("count_store_t").count() == before  # replay appended nothing
    got = {r["key"]: r["total"] for r in count_store_topk(spark, "count_store_t", k=10).collect()}
    assert got == {0: 10, 1: 10, 2: 10, 3: 10}


def test_count_store_replay_screen_is_o1(spark):
    """r10 advisor fix: the replay screen reads the store manifest's max
    batch id instead of rescanning the store's batch_id column, so its
    cost no longer grows with the number of batches ever folded. Pins:
    the manifest tracks the max folded id; any id <= max is screened out
    (the single-writer monotone contract)."""
    from sparsity_spark.operators.sketches import count_store_topk, merge_count_store
    from sparsity_spark.stores import max_batch

    df = spark.createDataFrame([(i, i % 2) for i in range(20)], "event_id long, k long")
    t = "count_store_meta_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    for b in range(3):
        merge_count_store(df.where(F.col("event_id") % 3 == b), t, "k", b)
    assert max_batch(spark, t) == 2
    before = spark.table(t).count()
    # replays of EVERY already-folded id are screened without touching data
    for b in range(3):
        merge_count_store(df.where(F.col("event_id") % 3 == b), t, "k", b)
    assert spark.table(t).count() == before
    merge_count_store(df.limit(5), t, "k", 7)
    assert max_batch(spark, t) == 7
    # totals stay exactly-once throughout
    got = {r["key"]: r["total"] for r in count_store_topk(spark, t, k=10).collect()}
    assert sum(got.values()) == 25  # 20 delivered once + 5 from batch 7
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_topk_maintain_equals_exact_counts(spark, tmp_path):
    """r9 streaming heavy hitters: after the availableNow drain, the
    maintained store's top-k equals an exact groupBy count over every
    row delivered — the CMS loop's estimate bar, met exactly."""
    import time as _time

    import pandas as pd

    from sparsity_spark.operators.sketches import count_store_topk
    from sparsity_spark.streaming.ingest import streaming_topk_maintain

    schema = "event_id long, event_type string"
    b1 = pd.DataFrame([(i, "abcd"[i % 4] * (1 + i % 2)) for i in range(30)],
                      columns=["event_id", "event_type"])
    b2 = pd.DataFrame([(100 + i, "ab"[i % 2]) for i in range(20)],
                      columns=["event_id", "event_type"])
    src_dir = str(tmp_path / "cnt_stream")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(src_dir)
    _time.sleep(2)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src_dir)

    spark.sql("DROP TABLE IF EXISTS cnt_stream_store")
    seen = {}
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    )
    q = (
        streaming_topk_maintain(
            stream, "cnt_stream_store", key_col="event_type", k=10,
            sink=lambda df, bid: seen.__setitem__(bid, df.collect()),
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "cnt_ckpt"))
        .start()
    )
    q.awaitTermination(120)

    both = pd.concat([b1, b2])
    expect = both.groupby("event_type").size().to_dict()
    got = {
        r["key"]: r["total"]
        for r in count_store_topk(spark, "cnt_stream_store", k=10).collect()
    }
    assert got == expect
    assert len(seen) >= 1  # sink observed per-batch top-k


def test_streaming_ohlc_maintain_equals_batch_resample(spark, tmp_path):
    """r9 OHLC store loop: after the availableNow drain the merged view
    equals a one-shot ohlc_resample over every row delivered; a
    cross-batch bucket must take its open from batch 1 and close from
    batch 2."""
    import datetime as dt
    import time as _time

    import pandas as pd

    from sparsity_spark.operators.temporal import ohlc_resample, read_ohlc_store
    from sparsity_spark.streaming.ingest import streaming_ohlc_maintain

    t = dt.datetime(2024, 1, 1, 10, 0)
    b1 = pd.DataFrame(
        [(1, t, "a", 5.0), (2, t.replace(minute=10), "a", 9.0)],
        columns=["event_id", "ts", "event_type", "value"],
    )
    b2 = pd.DataFrame(
        [(3, t.replace(minute=20), "a", 2.0), (4, t.replace(hour=11), "a", 7.0),
         (5, t, "b", 1.0)],
        columns=["event_id", "ts", "event_type", "value"],
    )
    schema = "event_id long, ts timestamp, event_type string, value double"
    src_dir = str(tmp_path / "ohlc_stream")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(src_dir)
    _time.sleep(2)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src_dir)

    spark.sql("DROP TABLE IF EXISTS ohlc_stream_store")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    )
    q = (
        streaming_ohlc_maintain(stream, "ohlc_stream_store")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ohlc_ckpt"))
        .start()
    )
    q.awaitTermination(120)

    both = spark.createDataFrame(pd.concat([b1, b2]), schema)
    want = {
        (r["key"], r["bucket"]): (r["open"], r["high"], r["low"], r["close"], r["n_events"])
        for r in ohlc_resample(both).collect()
    }
    got = {
        (r["key"], r["bucket"]): (r["open"], r["high"], r["low"], r["close"], r["n_events"])
        for r in read_ohlc_store(spark, "ohlc_stream_store").collect()
    }
    assert got == want
    # the cross-batch ("a", 10:00) bucket: open 5.0 from batch 1 (event 1),
    # close 2.0 from batch 2 (event 3), n spans both batches
    key = ("a", dt.datetime(2024, 1, 1, 10, 0))
    assert got[key] == (5.0, 9.0, 2.0, 2.0, 3)


def test_streaming_containment_maintain_screens_and_appends(spark, tmp_path):
    """r10 containment-store loop: batch 1 seeds the store (all keep);
    batch 2's doc contained in a batch-1 keeper is flagged and NOT
    appended; a novel batch-2 doc is kept and visible to batch 3's
    screen. Final kept set equals a sequential batch replay of
    screen-then-append-survivors."""
    import time as _time

    import pandas as pd

    from sparsity_spark.streaming.ingest import streaming_containment_maintain

    schema = "doc_id long, text string"
    b1 = pd.DataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
        ],
        columns=["doc_id", "text"],
    )
    b2 = pd.DataFrame(
        [
            (10, "alpha beta gamma delta"),       # contained in doc 1
            (11, "red green blue cyan magenta"),  # novel -> keep
        ],
        columns=["doc_id", "text"],
    )
    b3 = pd.DataFrame(
        [(20, "red green blue cyan")],             # contained in KEPT doc 11
        columns=["doc_id", "text"],
    )
    src = str(tmp_path / "contain_stream")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    _time.sleep(1.2)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.2)
    spark.createDataFrame(b3, schema).coalesce(1).write.mode("append").parquet(src)

    for t in ("contain_ml_t__grams", "contain_ml_t__post", "contain_ml_t__df"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    decisions = {}

    def sink(df, bid):
        for r in df.collect():
            decisions[r["doc_id"]] = (r["n_containments"], r["keep"])

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_containment_maintain(
            stream, "contain_ml_t", threshold=0.9, sink=sink
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "contain_ckpt"))
        .start()
    )
    q.awaitTermination(180)

    assert decisions[1] == (0, True) and decisions[2] == (0, True)
    assert decisions[10][0] >= 1 and decisions[10][1] is False
    assert decisions[11] == (0, True)
    assert decisions[20][0] >= 1 and decisions[20][1] is False
    # store holds exactly the keepers
    kept = {r["id"] for r in spark.table("contain_ml_t__grams").select("id").collect()}
    assert kept == {1, 2, 11}
    # replay screen: the manifest pins the last folded batch id
    from sparsity_spark.stores import max_batch

    assert max_batch(spark, "contain_ml_t__grams") == 2


def test_count_store_out_of_order_backfill_folds(spark):
    """r11 advisor fix: merge_count_store is also a public batch API; a
    genuinely-new but smaller batch_id (backfill) must FOLD via the
    exact-presence fallback, not be silently dropped by the <=-max
    screen — and folding it must not LOWER the max-batch watermark (or
    every batch between the backfill id and the true max would re-fold
    as a duplicate)."""
    from sparsity_spark.operators.sketches import count_store_topk, merge_count_store
    from sparsity_spark.stores import max_batch

    t = "count_store_backfill_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    df = spark.createDataFrame(
        [(i, i % 2) for i in range(20)], "event_id long, k long"
    )
    merge_count_store(df.where(F.col("event_id") < 10), t, "k", 0)
    merge_count_store(df.where(F.col("event_id") >= 15), t, "k", 5)
    assert max_batch(spark, t) == 5
    # out-of-order backfill: batch 2 arrives after batch 5 -> must fold
    merge_count_store(
        df.where((F.col("event_id") >= 10) & (F.col("event_id") < 15)), t, "k", 2
    )
    got = {r["key"]: r["total"] for r in count_store_topk(spark, t, k=10).collect()}
    assert sum(got.values()) == 20  # every event counted exactly once
    # the watermark was NOT lowered by the smaller backfill id
    assert max_batch(spark, t) == 5
    # replaying the backfill and an old in-range id both screen out
    before = spark.table(t).count()
    merge_count_store(
        df.where((F.col("event_id") >= 10) & (F.col("event_id") < 15)), t, "k", 2
    )
    merge_count_store(df.where(F.col("event_id") < 10), t, "k", 0)
    assert spark.table(t).count() == before
    # a genuinely-new id above the max still folds through the O(1) path
    merge_count_store(df.limit(3), t, "k", 9)
    assert max_batch(spark, t) == 9
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_containment_loop_crash_replay_reproduces_decisions(spark):
    """r11 advisor fix: a crash between the keeper append and
    _record_max_batch replays the batch against its OWN just-appended
    grams — without the guard every originally-kept doc self-matches at
    containment 1.0 and the sink sees keep=False for the store's actual
    keepers. Pins: (a) the anti-join guard makes the replay reproduce
    its original decisions; (b) the replay's duplicate re-append is
    invisible to later screens (read-side collapse on the id-bucketed
    gram table)."""
    from sparsity_spark.streaming.ingest import _containment_process_batch

    for t in ("contain_replay_t__grams", "contain_replay_t__post",
              "contain_replay_t__df"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    decisions = {}

    def sink(df, bid):
        decisions[bid] = {
            r["doc_id"]: (r["n_containments"], r["keep"]) for r in df.collect()
        }

    kw = dict(table="contain_replay_t", threshold=0.9, id_col="doc_id",
              text_col="text", sink=sink)
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")], schema)
    b1 = spark.createDataFrame(
        [(10, "alpha beta gamma delta"),        # contained in doc 1
         (11, "red green blue cyan magenta")],  # novel -> keep
        schema)
    _containment_process_batch(b0, 0, **kw)
    _containment_process_batch(b1, 1, **kw)
    first = dict(decisions[1])
    assert first[10][1] is False and first[11][1] is True
    rows_before = spark.table("contain_replay_t__grams").count()

    # simulate the crash window: the keeper append committed but the
    # manifest publish did not -> roll the watermark back and re-deliver
    from sparsity_spark import stores

    manifest = stores._manifest(spark, "contain_replay_t__grams")
    stores._publish(spark, "contain_replay_t__grams", {**manifest, "max_batch_id": 0})
    decisions.pop(1)
    _containment_process_batch(b1, 1, **kw)
    assert decisions[1] == first  # replay reproduces original decisions
    # the replay re-appended keeper 11's rows (duplicates by design)...
    assert spark.table("contain_replay_t__grams").count() > rows_before
    # ...but a later doc contained in keeper 11 sees exactly ONE hit
    b2 = spark.createDataFrame([(20, "red green blue cyan magenta")], schema)
    _containment_process_batch(b2, 2, **kw)
    assert decisions[2][20] == (1, False)
    for t in ("contain_replay_t__grams", "contain_replay_t__post",
              "contain_replay_t__df"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_count_store_reads_bit_identical_and_replay_safe(spark):
    """r11 store compaction (VERDICT r10 #4): compact_count_store must
    (a) shrink the table to one row per key, (b) leave count_store_topk
    bit-identical, (c) screen replays of pre-compaction ids via the
    watermark even though their presence rows are gone, (d) seal the
    store against sub-watermark backfill (loud contract), and (e) keep
    folding genuinely-new ids afterwards."""
    from sparsity_spark.operators.sketches import (
        compact_count_store,
        count_store_topk,
        merge_count_store,
    )

    t = "count_store_compact_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "event_id long, k long"
    )
    for b in range(3):
        merge_count_store(df.where(F.col("event_id") % 3 == b), t, "k", b)
    before = [tuple(r) for r in count_store_topk(spark, t, k=10).collect()]
    n_keys = spark.table(t).select("key").distinct().count()
    compact_count_store(spark, t)
    assert spark.table(t).count() == n_keys  # one row per key
    after = [tuple(r) for r in count_store_topk(spark, t, k=10).collect()]
    assert after == before  # reads bit-identical
    # replay of a pre-compaction id appends nothing (watermark screen)
    rows = spark.table(t).count()
    merge_count_store(df.where(F.col("event_id") % 3 == 1), t, "k", 1)
    assert spark.table(t).count() == rows
    # sealed contract: a genuinely-new sub-watermark id is ALSO screened
    merge_count_store(df.limit(4), t, "k", 0)
    assert spark.table(t).count() == rows
    # new ids above the watermark keep folding
    merge_count_store(df.limit(6), t, "k", 7)
    got = {r["key"]: r["total"] for r in count_store_topk(spark, t, k=10).collect()}
    assert sum(got.values()) == 36  # 30 once + 6 from batch 7
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_ohlc_store_reads_bit_identical(spark):
    """r11: compact_ohlc_store collapses to one valid partial per
    (key, bucket); read_ohlc_store before/after must match exactly,
    including cross-batch buckets whose open comes from one batch and
    close from another."""
    import datetime as dt

    from sparsity_spark.operators.temporal import (
        compact_ohlc_store,
        merge_ohlc_store,
        read_ohlc_store,
    )

    t = "ohlc_compact_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (i, "a" if i % 2 == 0 else "b", base + dt.timedelta(minutes=7 * i), float(100 + ((i * 37) % 50)))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp, value double")
    for b in range(3):
        merge_ohlc_store(df.where(F.col("event_id") % 3 == b), t, b)
    before = {
        (r["key"], r["bucket"]): (r["open"], r["high"], r["low"], r["close"], r["n_events"])
        for r in read_ohlc_store(spark, t).collect()
    }
    n_kb = spark.table(t).select("key", "bucket").distinct().count()
    compact_ohlc_store(spark, t)
    assert spark.table(t).count() == n_kb
    after = {
        (r["key"], r["bucket"]): (r["open"], r["high"], r["low"], r["close"], r["n_events"])
        for r in read_ohlc_store(spark, t).collect()
    }
    assert after == before
    # replay of a folded id still screens post-compaction
    rows_n = spark.table(t).count()
    merge_ohlc_store(df.where(F.col("event_id") % 3 == 0), t, 0)
    assert spark.table(t).count() == rows_n
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_containment_store_screen_unchanged(spark):
    """r11: compact_containment_store collapses the __df side table to
    one row per gram; the screen's df lookup (read-side SUM) and the
    screen OUTPUT are identical before/after, and subsequent appends
    keep folding increments on top of the compacted rows."""
    from sparsity_spark.operators.dedup import (
        append_containment_store,
        compact_containment_store,
        containment_screen,
        write_containment_store,
    )

    t = "contain_compact_t"
    for s in (f"{t}__grams", f"{t}__post", f"{t}__df"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    schema = "doc_id long, text string"
    seed = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")], schema)
    write_containment_store(seed, t)
    append_containment_store(
        spark.createDataFrame(
            [(3, "alpha beta gamma red green blue cyan")], schema
        ),  # shares the "alpha beta gamma" gram with doc 1 -> duplicate df row
        t,
    )
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta"), (11, "nine ten eleven twelve")], schema
    )
    before = {
        (r["batch_id"], r["corpus_id"]): (r["overlap"], r["containment"])
        for r in containment_screen(batch, t, threshold=0.9).collect()
    }
    assert before  # discriminative: doc 10 must hit doc 1
    df_rows_before = spark.table(f"{t}__df").count()
    n_grams = spark.table(f"{t}__df").select("gram").distinct().count()
    compact_containment_store(spark, t)
    assert spark.table(f"{t}__df").count() == n_grams < df_rows_before
    after = {
        (r["batch_id"], r["corpus_id"]): (r["overlap"], r["containment"])
        for r in containment_screen(batch, t, threshold=0.9).collect()
    }
    assert after == before
    # appends still fold increments on top of compacted rows
    append_containment_store(
        spark.createDataFrame([(4, "alpha beta gamma omega psi chi")], schema), t
    )
    assert spark.table(f"{t}__df").count() > n_grams
    for s in (f"{t}__grams", f"{t}__post", f"{t}__df"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_streaming_tombstone_maintain_deletes_and_replays_free(spark, tmp_path):
    """r11 deletion-request loop: two micro-batches of ids fold into the
    IVF-PQ tombstone table via the availableNow drain; the deleted
    vectors stop surfacing, and re-delivering a batch (at-least-once)
    changes nothing — tombstone appends are naturally idempotent, the
    one store loop that needs no replay screen."""
    import time as _time

    from sparsity_spark.data import load_table
    from sparsity_spark.operators.similarity import (
        delete_from_ivfpq_index,
        ivfpq_index_topk,
        write_ivfpq_index,
    )
    from sparsity_spark.streaming.ingest import streaming_tombstone_maintain

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    t = "ivfpq_stream_del_t"
    write_ivfpq_index(emb, cents, t, num_buckets=8)
    queries = emb.filter(F.col("vec_id") < 5)
    base = ivfpq_index_topk(queries, t).collect()
    victims = sorted({r["neighbor_id"] for r in base})[:4]

    src = str(tmp_path / "del_stream")
    spark.createDataFrame([(int(v),) for v in victims[:2]], "vec_id long").coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    _time.sleep(1.2)
    spark.createDataFrame([(int(v),) for v in victims[2:]], "vec_id long").coalesce(
        1
    ).write.mode("append").parquet(src)

    counts = {}
    q = (
        streaming_tombstone_maintain(
            spark.readStream.schema("vec_id long").option(
                "maxFilesPerTrigger", 1
            ).parquet(src),
            t,
            sink=lambda df, bid: counts.__setitem__(bid, df.collect()[0][0]),
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "del_ckpt"))
        .start()
    )
    q.awaitTermination(120)

    after = ivfpq_index_topk(queries, t).collect()
    assert not set(victims) & {r["neighbor_id"] for r in after}
    assert counts[max(counts)] == 4  # running distinct tombstone count
    # at-least-once re-delivery: folding the same ids again changes nothing
    delete_from_ivfpq_index(
        spark.createDataFrame([(int(v),) for v in victims], "vec_id long"), t
    )
    replay = ivfpq_index_topk(queries, t).collect()
    assert sorted(map(tuple, replay)) == sorted(map(tuple, after))


def test_streaming_tombstone_maintain_generic_remover(spark, tmp_path):
    """The deletion-request loop drives ANY tombstone-lifecycle store via
    the remover parameter: a stream of doc ids folds into a BAND store's
    tombstone table, and the forgotten near-twin stops suppressing its
    new arrival — same loop, different lake."""
    from sparsity_spark.operators.dedup import (
        band_store,
        incremental_lsh_dedup,
        remove_from_band_store,
        write_band_store,
    )
    from sparsity_spark.streaming.ingest import streaming_tombstone_maintain

    schema = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(1, base), (2, " ".join(f"u{i}" for i in range(30)))], schema
    )
    t = "band_stream_del_t"
    write_band_store(corpus, t)
    batch = spark.createDataFrame([(10, base)], schema)  # twin of doc 1
    assert [
        r["keep"] for r in incremental_lsh_dedup(batch, band_store(spark, t)).collect()
    ] == [False]

    src = str(tmp_path / "band_del_stream")
    spark.createDataFrame([(1,)], "doc_id long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    counts = {}
    q = (
        streaming_tombstone_maintain(
            spark.readStream.schema("doc_id long").parquet(src),
            t,
            id_col="doc_id",
            sink=lambda df, bid: counts.__setitem__(bid, df.collect()[0][0]),
            remover=remove_from_band_store,
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "band_del_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert counts[max(counts)] == 1
    assert [
        r["keep"] for r in incremental_lsh_dedup(batch, band_store(spark, t)).collect()
    ] == [True]
    for s in (t, f"{t}__tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_streaming_benchmark_maintain_appends_and_replays(spark, tmp_path):
    """r11 benchmark-store loop: batch 1 seeds the store, batch 2 appends
    a new suite; a training screen then flags near-dups of BOTH batches'
    benchmarks; a direct crash replay of batch 2 (same batch_df, same
    batch_id) changes nothing (max-batch screen), and even a replayed
    APPEND's duplicate rows collapse read-side."""
    import time as _time

    import pandas as pd

    from sparsity_spark.operators.pipeline import fuzzy_decontaminate_store
    from sparsity_spark.streaming.ingest import (
        _benchmark_process_batch,
        streaming_benchmark_maintain,
    )

    schema = "doc_id long, text string"
    b1_text = " ".join(f"b{i}" for i in range(40))
    b2_text = " ".join(f"c{i}" for i in range(40))
    b1 = pd.DataFrame([(100, b1_text)], columns=["doc_id", "text"])
    b2 = pd.DataFrame([(200, b2_text)], columns=["doc_id", "text"])
    src = str(tmp_path / "bmk_stream")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    _time.sleep(1.2)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    t = "bmk_stream_t"
    for side in ("__bands", "__grams", "__tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {t}{side}")
    counts = {}

    def sink(df, bid):
        counts[bid] = df.collect()[0]["n_benchmarks"]

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_benchmark_maintain(stream, t, num_buckets=4, sink=sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "bmk_ckpt"))
        .start()
    )
    q.awaitTermination(180)
    assert counts == {0: 1, 1: 2}

    train = spark.createDataFrame(
        [
            (1, " ".join(f"b{i}" for i in range(39)) + " edited"),
            (2, " ".join(f"c{i}" for i in range(39)) + " altered"),
            (3, " ".join(f"u{i}" for i in range(40))),
        ],
        schema,
    )
    screened = sorted(fuzzy_decontaminate_store(train, t, 0.5).collect())
    assert {r.doc_id for r in screened} == {1, 2}

    # 1. clean replay of batch 1 (id <= max): screened out, store unchanged
    _benchmark_process_batch(
        spark.createDataFrame(b1, schema), 0,
        table=t, id_col="doc_id", text_col="text", k=3, num_buckets=4, sink=sink,
    )
    assert spark.table(f"{t}__grams").count() == 2
    # 2. crash-window replay: data appended but watermark lost — simulate
    # by a direct duplicate append; reads still collapse to the same result
    from sparsity_spark.operators.pipeline import append_benchmark_store

    append_benchmark_store(spark.createDataFrame(b2, schema), t)
    assert spark.table(f"{t}__grams").count() == 3  # physical duplicate
    assert sorted(fuzzy_decontaminate_store(train, t, 0.5).collect()) == screened
