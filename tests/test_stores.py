"""The shared store core (sparsity_spark/stores.py) across the store
families: a fresh write starts a fresh lifecycle, and the bucketed
writers emit at most one file per bucket per write."""

import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from sparsity_spark.data import load_table

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
