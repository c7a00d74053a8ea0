"""Skew-safe distinct counting (exactness under salting) and bucketed-table
co-located joins (no shuffle before the join — plan-asserted)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from sparsity_spark.operators.skew import distinct_count_skew_safe
from sparsity_spark.stores import write_bucketed


def test_salted_distinct_count_exact(spark):
    rng = np.random.RandomState(9)
    pdf = pd.DataFrame(
        {
            # key 0 is hot: 80% of rows
            "key": np.where(rng.rand(5000) < 0.8, 0, rng.randint(1, 20, 5000)),
            "val": rng.randint(0, 500, 5000),
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        distinct_count_skew_safe(df, ["key"], "val", num_salts=16)
        .toPandas()
        .set_index("key")["n_distinct"]
        .sort_index()
    )
    want = pdf.groupby("key")["val"].nunique().sort_index()
    assert (got == want).all()


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    from sparsity_spark.data import load_table
    from tests.test_plans import formatted_plan

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    spend = ev.groupBy("user_id").agg(F.sum("value").alias("spend"))
    write_bucketed(counts, "t_counts", ["user_id"], num_buckets=8)
    write_bucketed(spend, "t_spend", ["user_id"], num_buckets=8)

    joined = spark.table("t_counts").join(
        spark.table("t_spend").hint("merge"), on="user_id"
    )
    plan = formatted_plan(joined)
    assert "Exchange" not in plan, "bucketed join must not shuffle"
    assert joined.count() == counts.count()


def test_streaming_dedup_exact(spark, tmp_path):
    import datetime as dt

    from sparsity_spark.streaming.ingest import streaming_dedup_exact

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, "aaa"),
        (2, t0 + dt.timedelta(minutes=1), "bbb"),
        (3, t0 + dt.timedelta(minutes=2), "aaa"),  # dup of 1
        (4, t0 + dt.timedelta(minutes=3), "ccc"),
        (5, t0 + dt.timedelta(minutes=4), "bbb"),  # dup of 2
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, ts timestamp, text string").write.parquet(src)
    stream = spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(src)
    q = (
        streaming_dedup_exact(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT text, count(*) AS n FROM dedup_stream GROUP BY text").toPandas()
    assert len(got) == 3
    assert (got["n"] == 1).all()


def test_salted_join_equals_plain_join(spark):
    """90%-hot-key fact joined to a dim: the salted join must reproduce the
    plain join exactly (row multiset, not just counts)."""
    from sparsity_spark.operators.skew import salted_join

    fact = spark.range(0, 5000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("attr"))
    got = (
        salted_join(fact, dim, on="k", num_salts=8)
        .toPandas()
        .sort_values(["k", "payload"])
        .reset_index(drop=True)
    )
    want = (
        fact.join(dim, on="k")
        .toPandas()
        .sort_values(["k", "payload"])
        .reset_index(drop=True)
    )
    assert got.shape == want.shape
    assert (got[["k", "payload", "attr"]].to_numpy() == want[["k", "payload", "attr"]].to_numpy()).all()


def test_partitioned_sink_prunes_directories(spark, tmp_path):
    """A day predicate over the partitioned layout must show up as a
    PartitionFilters entry (directory pruning), not a data filter."""
    from sparsity_spark.data import (
        load_events_partitioned,
        load_table,
        write_events_partitioned,
    )

    path = str(tmp_path / "events_by_day")
    write_events_partitioned(load_table(spark, "/root/testdata/sf0.001", "events"), path)
    ev = load_events_partitioned(spark, path)
    one_week = ev.filter((F.col("day") >= "2024-01-08") & (F.col("day") < "2024-01-15"))
    plan = one_week._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and "day" in m[0], plan
    # 7 of 30 day-directories survive; the filtered count proves pruning kept the right ones
    total = load_table(spark, "/root/testdata/sf0.001", "events").filter(
        (F.col("ts") >= "2024-01-08") & (F.col("ts") < "2024-01-15")
    ).count()
    assert one_week.count() == total


def test_bloom_store_merge_idempotent_and_equals_oneshot(spark):
    """r8 persisted bloom: two-increment maintained store bit-equal to a
    one-shot build over the union; replaying an increment changes
    nothing (byte-wise OR is set union — at-least-once safe); the loaded
    bitmap has NO false negatives against every inserted key."""
    from sparsity_spark.operators.skew import (
        bloom_build_bytes,
        bloom_probe_expr,
        bloom_store_bytes,
        merge_bloom_store,
        write_bloom_store,
    )

    m_bits = 1 << 10
    keys = spark.range(0, 500).select((F.col("id") * 17 + 3).alias("key"))
    a = keys.filter(F.col("key") % 2 == 0)
    b = keys.filter(F.col("key") % 2 == 1)

    write_bloom_store(a, "bloom_store_t", "key", m_bits=m_bits)
    merge_bloom_store(b, "bloom_store_t", "key", m_bits=m_bits)
    merged = bloom_store_bytes(spark, "bloom_store_t", m_bits=m_bits)
    oneshot = bloom_build_bytes(keys, "key", m_bits=m_bits)
    assert merged == oneshot

    merge_bloom_store(b, "bloom_store_t", "key", m_bits=m_bits)  # replay
    assert bloom_store_bytes(spark, "bloom_store_t", m_bits=m_bits) == oneshot

    # no false negatives: every inserted key passes the probe
    hits = keys.filter(bloom_probe_expr(F.col("key"), merged, m_bits=m_bits)).count()
    assert hits == keys.count()
