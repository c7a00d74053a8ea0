"""Exact Spark job counts of public ingest, frame, store and dedup calls.

Each Spark job costs tens of milliseconds of driver CPU however warm the
JVM is, so a call that starts issuing an extra action or shuffle is a
regression even when its answer is right. Every case runs on a fixed
small input and consumes a lazy result the way a client keeps it
(``localCheckpoint`` of the cells and of an explicit index, as
``perfbench/workloads.py`` does), and counts the same call three times to
show the count is stable."""

import pytest
from pyspark.sql import functions as F

from sparsity_spark import SparseFrame, read_events, sparse_one_hot
from sparsity_spark.operators.dedup import (
    append_band_store,
    duplicate_clusters,
    jaccard_prefix_join,
    remove_from_band_store,
    write_band_store,
)
from tests.conftest import jobs_run_by


def _keep(out):
    """Materialize a call's result the way a client keeps it."""
    if isinstance(out, SparseFrame):
        cells = out.data.localCheckpoint(eager=True)
        index = out._index.localCheckpoint(eager=True) if out._index is not None else None
        return SparseFrame(cells, out.key_cols, out.columns, index)
    return out.localCheckpoint(eager=True)


def _stable_jobs(spark, fn, setup=lambda: None) -> int:
    counts = []
    for _ in range(3):
        setup()
        counts.append(jobs_run_by(spark, fn))
    assert len(set(counts)) == 1, counts
    return counts[0]


@pytest.fixture(scope="module")
def frames(spark):
    events = spark.createDataFrame(
        [(i, i % 5, i // 2, "abcd"[(i * 7) % 4]) for i in range(40)],
        "event_id long, user_id long, ts long, event_type string",
    ).localCheckpoint(eager=True)
    orders = spark.createDataFrame(
        [(i % 7 + 3, i, "xyz"[i % 3]) for i in range(30)],
        "user_id long, order_id long, priority string",
    ).localCheckpoint(eager=True)
    ev = _keep(read_events(events, "event_type", order_col="event_id"))
    users = _keep(ev.groupby_sum("user_id"))
    o = sparse_one_hot(orders, "priority", ["x", "y", "z"], index_col=["user_id", "order_id"])
    return dict(
        events=events,
        ev=ev,
        users=users,
        o_users=_keep(o.groupby_sum("user_id")),
        lo=_keep(users.loc_range(None, 2)),
        hi=_keep(users.loc_range(3, None)),
    )


# call: (jobs, fn). read_events runs one dictionary aggregate; the outer
# join and add one distinct over the unioned labels; mean, std and max
# read their statistics and the row count N from one aggregate.
FRAME_CALLS = {
    "read_events": (5, lambda f: _keep(read_events(f["events"], "event_type", order_col="event_id"))),
    "groupby_sum": (4, lambda f: _keep(f["ev"].groupby_sum("user_id"))),
    "join_outer": (3, lambda f: _keep(f["users"].join(f["o_users"], axis=1, how="outer"))),
    "add_outer": (4, lambda f: _keep(f["lo"].add(f["hi"], how="outer"))),
    "mean_axis0": (2, lambda f: f["users"].mean(axis=0)),
    "mean_axis1": (4, lambda f: f["users"].mean(axis=1)),
    "sum": (2, lambda f: f["users"].sum()),
    "std": (3, lambda f: f["users"].std()),
    "max": (3, lambda f: f["users"].max()),
}


@pytest.mark.parametrize("call", FRAME_CALLS)
def test_frame_call_job_counts(spark, frames, call):
    jobs, fn = FRAME_CALLS[call]
    assert _stable_jobs(spark, lambda: fn(frames)) == jobs


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"the quick brown fox {i % 4} jumps over the dog {i % 3}") for i in range(12)],
        "doc_id long, text string",
    ).localCheckpoint(eager=True)


def _fresh_band_store(spark, docs, t):
    def setup():
        for s in (t, f"{t}__tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {s}")
        write_band_store(docs.where("doc_id < 6"), t, num_buckets=4)

    return setup


def test_remove_from_band_store_job_count(spark, docs):
    """The tombstone append writes the distinct ids straight from their
    plan: no freeze job ahead of it."""
    t = "jobcount_forget_t"
    ids = spark.createDataFrame([(1,), (2,)], "doc_id long")
    setup = _fresh_band_store(spark, docs, t)
    assert _stable_jobs(spark, lambda: remove_from_band_store(ids, t), setup) == 2


def test_append_band_store_job_count(spark, docs):
    """12 jobs, or 14: in some runs adaptive execution materializes the
    decisions' query stages in one more wave (two more stage jobs),
    depending on which concurrent stage finishes first. The count is
    not stable across runs, so it is pinned as that pair."""
    t = "jobcount_append_t"
    setup = _fresh_band_store(spark, docs, t)
    new = docs.where("doc_id >= 6")
    for _ in range(3):
        setup()
        assert jobs_run_by(spark, lambda: _keep(append_band_store(new, t))) in (12, 14)


def test_dedup_kernel_job_counts(spark, docs):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    ids = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    assert _stable_jobs(spark, lambda: _keep(duplicate_clusters(pairs, ids))) == 8
    assert _stable_jobs(spark, lambda: _keep(jaccard_prefix_join(docs, threshold=0.5))) == 8
