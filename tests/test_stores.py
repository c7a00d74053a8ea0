"""The shared store core (sparsity_spark/stores.py) across the store
families: a fresh write starts a fresh lifecycle, and the bucketed
writers emit at most one file per bucket per write."""

import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from sparsity_spark.data import load_table
from tests.conftest import jobs_run_by

DOCS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "one two three four five six seven eight"),
    (3, "red green blue cyan magenta yellow black white"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _ids(spark, col, *ids):
    return spark.createDataFrame([(i,) for i in ids], f"{col} long")


# Each family below returns (write, forget, visible): a fresh write of a
# small store, a forget of one id, and whether that id reads back through
# the family's public read path.


def _band(spark, sf_dir, t):
    from sparsity_spark.operators.dedup import band_store, remove_from_band_store, write_band_store

    return (
        lambda: write_band_store(_docs(spark), t, num_buckets=4),
        lambda: remove_from_band_store(_ids(spark, "doc_id", 1), t),
        lambda: 1 in {r.doc_id for r in band_store(spark, t).collect()},
    )


def _hash(spark, sf_dir, t):
    from sparsity_spark.operators.dedup import hash_store, remove_from_hash_store, write_hash_store

    return (
        lambda: write_hash_store(_docs(spark), t, num_buckets=4),
        lambda: remove_from_hash_store(_ids(spark, "doc_id", 1), t),
        lambda: 1 in {r.doc_id for r in hash_store(spark, t).collect()},
    )


def _member(spark, sf_dir, t):
    from sparsity_spark.operators.dedup import (
        member_store,
        remove_from_member_store,
        write_member_store,
    )
    from sparsity_spark.operators.similarity import kmeans_fit

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    cents = kmeans_fit(emb, k=2, iters=2)
    return (
        lambda: write_member_store(emb, cents, t, num_buckets=4),
        lambda: remove_from_member_store(_ids(spark, "vec_id", 1), t),
        lambda: 1 in {r.vec_id for r in member_store(spark, t).collect()},
    )


def _cluster(spark, sf_dir, t):
    from sparsity_spark.operators.dedup import (
        remove_from_cluster_store,
        resolve_cluster_store,
        write_cluster_store,
    )

    labels = spark.createDataFrame([(1, 1), (2, 1), (3, 3)], "doc_id long, cluster_id long")
    return (
        lambda: write_cluster_store(labels, t, num_buckets=4),
        lambda: remove_from_cluster_store(_ids(spark, "doc_id", 1), t),
        lambda: 1 in {r.doc_id for r in resolve_cluster_store(spark, t).collect()},
    )


def _containment(spark, sf_dir, t):
    from sparsity_spark.operators.dedup import (
        containment_screen,
        remove_from_containment_store,
        write_containment_store,
    )

    probe = spark.createDataFrame([(10, DOCS[0][1])], "doc_id long, text string")
    return (
        lambda: write_containment_store(_docs(spark), t, num_buckets=4),
        lambda: remove_from_containment_store(_ids(spark, "doc_id", 1), t),
        lambda: 1 in {r.corpus_id for r in containment_screen(probe, t, threshold=0.9).collect()},
    )


def _benchmark(spark, sf_dir, t):
    from sparsity_spark.operators.pipeline import (
        fuzzy_decontaminate_store,
        remove_from_benchmark_store,
        write_benchmark_store,
    )

    train = spark.createDataFrame([(10, DOCS[0][1])], "doc_id long, text string")
    return (
        lambda: write_benchmark_store(_docs(spark), t, num_buckets=4),
        lambda: remove_from_benchmark_store(_ids(spark, "bench_id", 1), t),
        # train doc 10 copies benchmark doc 1: flagged only while 1 is live
        lambda: 10 in {r.doc_id for r in fuzzy_decontaminate_store(train, t, 0.5).collect()},
    )


def _ivfpq(spark, sf_dir, t):
    from sparsity_spark.operators.similarity import (
        delete_from_ivfpq_index,
        ivfpq_index_topk,
        write_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("centroid_id"), "embedding")
    queries = emb.filter(F.col("vec_id") < 5)
    victim = {}

    def write():
        write_ivfpq_index(emb, cents, t, num_buckets=8)
        victim.setdefault("id", ivfpq_index_topk(queries, t).collect()[0]["neighbor_id"])

    return (
        write,
        lambda: delete_from_ivfpq_index(_ids(spark, "vec_id", victim["id"]), t),
        lambda: victim["id"] in {r.neighbor_id for r in ivfpq_index_topk(queries, t).collect()},
    )


FAMILIES = [_band, _hash, _member, _cluster, _containment, _benchmark, _ivfpq]


@pytest.mark.parametrize("family", FAMILIES, ids=[f.__name__[1:] for f in FAMILIES])
def test_fresh_write_clears_tombstones(spark, sf_dir, family):
    """Write, forget one id, write fresh: the forgotten id reads back,
    because a rebuilt store must not inherit the dead incarnation's
    tombstones."""
    t = f"fresh{family.__name__}_t"
    write, forget, visible = family(spark, sf_dir, t)
    write()
    assert visible()
    forget()
    assert not visible()
    write()
    assert visible()
    for tb in spark.catalog.listTables():
        if tb.name.startswith(t):
            spark.sql(f"DROP TABLE IF EXISTS {tb.name}")


# part-<task>-<write job uuid>_<bucket id>.c<n>.<codec>.parquet
_BUCKET_FILE = re.compile(r"part-\d+-([0-9a-f-]{36})_(\d{5})\.c\d+\..*parquet$")


def _files_per_bucket_per_write(spark, table: str) -> Counter:
    loc = next(
        r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
        if r["col_name"] == "Location"
    ).removeprefix("file:")
    names = [f for f in os.listdir(loc) if f.endswith(".parquet")]
    keys = [_BUCKET_FILE.match(f) for f in names]
    assert names and all(keys), names
    return Counter(m.groups() for m in keys)


def test_band_store_writes_one_file_per_bucket(spark, sf_dir):
    """The shared writers repartition to one partition per bucket, so
    each append or rewrite emits at most one parquet file per bucket."""
    from sparsity_spark.operators.dedup import (
        append_band_store,
        compact_band_store,
        remove_from_band_store,
        write_band_store,
    )

    docs = load_table(spark, sf_dir, "documents").repartition(4)
    t = "one_file_per_bucket_t"
    write_band_store(docs.filter(F.col("doc_id") % 2 == 0), t, num_buckets=4)
    append_band_store(docs.filter(F.col("doc_id") % 2 == 1), t)
    after_append = _files_per_bucket_per_write(spark, t)
    assert len({job for job, _ in after_append}) == 2  # the create and the append
    assert max(after_append.values()) == 1
    remove_from_band_store(_ids(spark, "doc_id", 1, 2), t)
    compact_band_store(spark, t)
    after_compact = _files_per_bucket_per_write(spark, t)
    assert len({job for job, _ in after_compact}) == 1
    assert max(after_compact.values()) == 1
    for s in (t, f"{t}__tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def _count_fold(spark):
    from sparsity_spark.operators.sketches import merge_count_store

    df = spark.createDataFrame([(i, i % 3) for i in range(30)], "event_id long, k long")
    return lambda t, b: merge_count_store(df.where(F.col("event_id") % 3 == b), t, "k", b)


def _ohlc_fold(spark):
    import datetime as dt

    from sparsity_spark.operators.temporal import merge_ohlc_store

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], base + dt.timedelta(minutes=7 * i), float(i)) for i in range(30)],
        "event_id long, event_type string, ts timestamp, value double",
    )
    return lambda t, b: merge_ohlc_store(df.where(F.col("event_id") % 3 == b), t, b)


FOLDS = [_count_fold, _ohlc_fold]


@pytest.mark.parametrize("family", FOLDS, ids=["count", "ohlc"])
def test_fold_job_counts(spark, family):
    """A new-batch fold runs three jobs (the bucketed append of the
    unfrozen increment) and a replay two (the presence scan); the replay
    screen and the watermark publish read and write the manifest, not
    Spark."""
    t = f"jobs{family.__name__}_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    fold = family(spark)
    fold(t, 0)
    fold(t, 1)
    assert jobs_run_by(spark, lambda: fold(t, 2)) == 3
    assert jobs_run_by(spark, lambda: fold(t, 1)) == 2
    spark.sql(f"DROP TABLE IF EXISTS {t}")


# Each batch-id store below returns (deliver, tables, rows): fold batch b
# into the store named t, the store's data tables, and the ids it holds
# (batch b holds id b).


def _count_store(spark, t):
    from sparsity_spark.operators.sketches import merge_count_store

    def deliver(b):
        ev = spark.createDataFrame([(3 * b + j, b) for j in range(3)], "event_id long, k long")
        merge_count_store(ev, t, "k", b)

    return deliver, [t], lambda: sorted(r.key for r in spark.table(t).collect())


def _batch_docs(spark, b):
    text = " ".join(f"w{b}x{j}" for j in range(12))
    return spark.createDataFrame([(b, text)], "doc_id long, text string")


def _containment_loop(spark, t):
    from sparsity_spark.streaming.ingest import _containment_process_batch

    def deliver(b):
        _containment_process_batch(
            _batch_docs(spark, b), b, table=t, threshold=0.9, id_col="doc_id",
            text_col="text", sink=None,
        )

    tables = [f"{t}__grams", f"{t}__post", f"{t}__df"]
    return deliver, tables, lambda: sorted(r.id for r in spark.table(f"{t}__grams").collect())


def _benchmark_loop(spark, t):
    from sparsity_spark.streaming.ingest import _benchmark_process_batch

    def deliver(b):
        _benchmark_process_batch(
            _batch_docs(spark, b), b, table=t, id_col="doc_id", text_col="text",
            k=3, num_buckets=4, sink=None,
        )

    tables = [f"{t}__bands", f"{t}__grams"]
    return deliver, tables, lambda: sorted(r.bench_id for r in spark.table(f"{t}__grams").collect())


RESEEDED = [_count_store, _containment_loop, _benchmark_loop]


@pytest.mark.parametrize("family", RESEEDED, ids=[f.__name__[1:] for f in RESEEDED])
def test_dropped_store_reseeds(spark, family):
    """DROP TABLE leaves the manifest file behind with max_batch_id 5; the
    catalog, not that file, decides whether the store exists, so batch 0
    seeds the new store instead of screening out as a replay."""
    from sparsity_spark import stores

    t = f"reseed{family.__name__}_t"
    deliver, tables, rows = family(spark, t)
    for tb in tables:
        spark.sql(f"DROP TABLE IF EXISTS {tb}")
    for b in range(6):
        deliver(b)
    for tb in tables:
        spark.sql(f"DROP TABLE {tb}")
    assert os.path.exists(stores._manifest_path(spark, tables[0]))
    deliver(0)
    fresh = rows()
    for tb in tables:
        spark.sql(f"DROP TABLE IF EXISTS {tb}")
    assert fresh == [0]
