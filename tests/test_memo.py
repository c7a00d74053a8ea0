"""Session memos in the query registry: each builds once per (application,
data directory), and its tables are named by that directory, so running a
query on a second directory never changes what the first one answers."""

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sparsity_spark import queries

SETUP_MEMO_QUERIES = [
    "dedup_cluster_fold_only",
    "dedup_containment_screen",
    "dedup_band_forget",
    "dedup_containment_forget",
]


def _batch_only_dir(sf_dir, tmp_path):
    """A data directory holding only sf_dir's batch documents
    (doc_id % 10 == 0): the corpus each setup memo builds from is empty."""
    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    batch = docs.filter(pa.array(docs["doc_id"].to_numpy() % 10 == 0))
    pq.write_table(batch, tmp_path / "documents.parquet")
    return str(tmp_path)


def _sorted(df) -> pd.DataFrame:
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", SETUP_MEMO_QUERIES)
def test_setup_memo_is_per_data_directory(spark, sf_dir, tmp_path, name):
    q = queries.QUERIES[name]
    first = _sorted(q(spark, sf_dir))
    other = _sorted(q(spark, _batch_only_dir(sf_dir, tmp_path)))
    assert not other.equals(first), "the two directories must answer differently"
    built = dict(queries.MEMO_BUILD_SECONDS)
    again = _sorted(q(spark, sf_dir))
    pd.testing.assert_frame_equal(again, first)
    assert queries.MEMO_BUILD_SECONDS == built, "the third run must be a memo hit"


def test_edge_memo_builds_once_per_key(spark, sf_dir):
    queries._co_purchase_edges(spark, sf_dir)
    built = queries.MEMO_BUILD_SECONDS["edges_co_purchase"]
    queries._co_purchase_edges(spark, sf_dir)
    assert queries.MEMO_BUILD_SECONDS["edges_co_purchase"] == built
