"""Regression tests for the code-review findings: positional ops on
filtered frames, vstack pos collision, keep-first contract, NULL one-hot,
all-zero rows in indexed arrays, duplicate-label row sums, numpy-bool
masks, non-numeric scan order at scale."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparsity_spark import from_pandas, sparse_one_hot


def test_iloc_on_filtered_frame_uses_current_positions(spark):
    sf = from_pandas(spark, pd.DataFrame(np.identity(5), index=list("ABCDE")))
    sub = sf.loc[["B", "C", "E"]]  # absolute POS {1, 2, 4}
    first = sub.iloc[0].todense()
    assert list(first.index) == ["B"]
    last_two = sub.iloc[1:3].todense().sort_index()
    assert list(last_two.index) == ["C", "E"]
    taken = sub.take([0, 2]).todense().sort_index()
    assert list(taken.index) == ["B", "E"]
    masked = sub.loc_mask([False, True, False]).todense()
    assert list(masked.index) == ["C"]


def test_vstack_after_slicing_no_pos_collision(spark):
    sf = from_pandas(spark, pd.DataFrame(np.diag([1.0, 2, 3, 4, 5]), index=list("ABCDE")))
    a = sf.iloc[2:5]  # C, D, E (absolute pos 2..4)
    b = sf.iloc[0:3]  # A, B, C
    stacked = a.vstack(b)
    dense = stacked.todense()
    assert stacked.shape == (6, 5)
    assert len(dense) == 6  # no merged physical rows
    assert dense.to_numpy().sum() == (3 + 4 + 5) + (1 + 2 + 3)
    # order preserved: a's rows first, then b's
    assert list(dense.index) == ["C", "D", "E", "A", "B", "C"]


def test_drop_duplicate_idx_unordered_raises(spark):
    from sparsity_spark.frame import SparseFrame

    cells = spark.createDataFrame(
        [(1, "x", 2.0), (1, "x", 3.0)], "k long, col string, value double"
    )
    sf = SparseFrame(cells, ["k"], ["x"])
    with pytest.raises(ValueError, match="known row order"):
        sf.drop_duplicate_idx()


def test_one_hot_null_value_raises(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None)], "id long, cat string"
    )
    with pytest.raises(ValueError):
        sparse_one_hot(df, "cat", ["a", "b"], index_col="id")


def test_indexed_arrays_keep_all_zero_rows(spark):
    pdf = pd.DataFrame([[1.0, 0.0], [0.0, 0.0]], index=[7, 8], columns=["x", "y"])
    out = from_pandas(spark, pdf).to_indexed_arrays().toPandas().set_index("idx")
    assert len(out) == 2
    assert list(out.loc[8, "indices"]) == [] and list(out.loc[8, "values"]) == []


def test_sum_axis1_duplicate_labels_stay_distinct(spark):
    pdf = pd.DataFrame([[1.0], [2.0]], index=[5, 5], columns=["x"])
    sums = from_pandas(spark, pdf).sum(axis=1)
    assert list(sums) == [1.0, 2.0]  # two physical rows, not one merged 3.0


def test_numpy_bool_list_mask(spark):
    sf = from_pandas(spark, pd.DataFrame(np.identity(3), index=list("abc")))
    mask = list(np.array([1, 0, 1]) > 0)  # np.bool_ elements
    out = sf.loc[mask].todense().sort_index()
    assert list(out.index) == ["a", "c"]


def test_scan_order_non_numeric_small_falls_back_large_raises(spark, monkeypatch):
    """Non-numeric order columns: single-partition sort is fine BELOW the
    threshold, but above it the silent one-task funnel must raise
    (r5 VERDICT #4)."""
    import sparsity_spark.events as ev_mod

    df = spark.createDataFrame(
        [("b", 1), ("a", 2), ("c", 3)], "k string, v int"
    )
    out = ev_mod.scan_order_ids(df, "k").toPandas().sort_values("__scan_idx__")
    assert list(out.k) == ["a", "b", "c"]  # small: correct order, no crash
    monkeypatch.setattr(ev_mod, "SCAN_ORDER_SINGLE_PARTITION_MAX", 0)
    with pytest.raises(ValueError, match="non-numeric"):
        ev_mod.scan_order_ids(df, "k").collect()


def test_scan_order_timestamp_takes_bucketed_path(spark, monkeypatch):
    """Timestamp order columns get a unix_micros surrogate onto the
    parallel bucketed path: above the threshold the plan must show a
    PARTITIONED window, not the global single-task WindowExec
    (r5 VERDICT #4)."""
    import sparsity_spark.events as ev_mod

    df = spark.range(0, 1000).select(
        F.col("id").alias("v"),
        F.timestamp_micros((F.col("id") * 1_000_000 + F.lit(1_600_000_000_000_000)).cast("long")).alias("ts"),
    )
    monkeypatch.setattr(ev_mod, "SCAN_ORDER_SINGLE_PARTITION_MAX", 0)
    out_df = ev_mod.scan_order_ids(df, "ts")
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert "__bkt__" in plan  # bucketed path, not the global-window branch
    out = out_df.toPandas().sort_values("__scan_idx__")
    assert list(out.v) == list(range(1000))  # numbering still exact


def test_melt_numeric_escapes_identifiers(spark):
    from sparsity_spark.io import melt_numeric

    df = spark.createDataFrame([(1, 2.0)], ["id", "it's"])
    out = melt_numeric(df, ["id"], ["it's"]).data.collect()
    assert len(out) == 1 and out[0]["col"] == "it's"


# ---- round-4 core-review findings ---------------------------------------


def _dup_label_frame(spark):
    """Pos-less frame with COEXISTING duplicate (key, col) cells under a
    distinct index — the shape merge-producing flows (read_events at equal
    (uuid, ts), duplicate-label unions) leave behind. Dense truth:
    {1: 3.0, 2: -5.0}."""
    from sparsity_spark.frame import SparseFrame

    cells = spark.createDataFrame(
        [(1, "x", 1.0), (1, "x", 2.0), (2, "x", -5.0)],
        "k long, col string, value double",
    )
    index = spark.createDataFrame([(1,), (2,)], "k long")
    return SparseFrame(cells, ["k"], ["x"], index)


def test_extrema_and_std_use_merged_cells(spark):
    """Coexisting duplicate (key, col) cells must SUM before any non-linear
    aggregate: dense cells are {1: 3.0, 2: -5.0}, so max is 3.0 (not the
    pre-merge 2.0) and std matches numpy on the merged dense values."""
    import numpy as np

    sf = _dup_label_frame(spark)
    assert sf.max() == 3.0
    assert sf.min() == -5.0
    mm = sf.minmax_df().collect()[0]
    assert (mm["max_value"], mm["min_value"]) == (3.0, -5.0)
    assert sf.std() == pytest.approx(np.std([3.0, -5.0]))


def test_to_indexed_arrays_merges_duplicate_indices(spark):
    """SparseVector rejects duplicate indices — merged cells must emit one
    entry per (row, column)."""
    sf = _dup_label_frame(spark)
    rows = {r["k"]: r for r in sf.to_indexed_arrays().collect()}
    assert list(rows[1]["indices"]) == [0] and list(rows[1]["values"]) == [3.0]
    assert list(rows[2]["values"]) == [-5.0]


def test_drop_duplicate_idx_refuses_unattributable_cells(spark):
    """Index ordered but cells pos-less + real duplicates: keep-first is
    unanswerable, must raise (it silently summed before)."""
    import numpy as np

    from sparsity_spark import from_pandas

    sf = from_pandas(spark, pd.DataFrame({"x": [1.0, 2.0, 5.0]}, index=[1, 1, 2]))
    # strip cell positions but keep the index's, via the internal ctor
    from sparsity_spark.frame import COL, VAL, SparseFrame

    bare = SparseFrame(
        sf._cells.drop("__pos__"), sf.key_cols, sf.columns, sf._index
    )
    with pytest.raises(ValueError, match="row_number|attribut"):
        bare.drop_duplicate_idx()
    # without duplicates the same shape is a clean no-op
    clean = from_pandas(spark, pd.DataFrame({"x": [1.0, 2.0]}, index=[1, 2]))
    bare2 = SparseFrame(
        clean._cells.drop("__pos__"), clean.key_cols, clean.columns, clean._index
    )
    assert bare2.drop_duplicate_idx().index.count() == 2


def test_set_index_column_refuses_duplicate_labels(spark):
    from sparsity_spark.frame import SparseFrame

    cells = spark.createDataFrame(
        [(1, "x", 1.0), (1, "x", 2.0), (2, "x", -5.0), (1, "y", 7.0)],
        "k long, col string, value double",
    )
    index = spark.createDataFrame([(1,), (1,), (2,)], "k long")  # dup label
    sf = SparseFrame(cells, ["k"], ["x", "y"], index)
    with pytest.raises(ValueError, match="drop_duplicate_idx"):
        sf.set_index(column="x")


def test_loc_tuple_composite_and_ambiguous(spark):
    """Tuple loc on a composite-key frame is ONE row; on a single-key frame
    it raises instead of silently OR-ing the labels."""
    from sparsity_spark import from_pandas
    from sparsity_spark.frame import SparseFrame

    cells = spark.createDataFrame(
        [("u1", 5, "a", 1.0), ("u1", 6, "a", 2.0), ("u2", 5, "a", 3.0)],
        "u string, t long, col string, value double",
    )
    index = spark.createDataFrame(
        [("u1", 5), ("u1", 6), ("u2", 5)], "u string, t long"
    )
    sf = SparseFrame(cells, ["u", "t"], ["a"], index)
    got = sf.loc[("u1", 5)]
    assert got.index.count() == 1
    assert got.todense().iloc[0] == 1.0

    single = from_pandas(spark, pd.DataFrame({"a": [1.0, 2.0]}, index=["x", "y"]))
    with pytest.raises(ValueError, match="ambiguous"):
        single.loc[("x", "y")]


def test_take_negative_and_duplicate_positions(spark):
    from sparsity_spark import from_pandas

    sf = from_pandas(spark, pd.DataFrame({"a": [1.0, 2.0, 3.0]}, index=[10, 11, 12]))
    last = sf.take([-1])
    assert list(last.todense().index) == [12]
    with pytest.raises(ValueError, match="repeated"):
        sf.take([0, 0])
    with pytest.raises(IndexError):
        sf.take([-7])


def test_loc_mask_length_validated(spark):
    from sparsity_spark import from_pandas

    sf = from_pandas(spark, pd.DataFrame({"a": [1.0, 2.0, 3.0]}))
    with pytest.raises(IndexError, match="length"):
        sf.loc[[True, False]]


def test_todense_empty_single_column_is_named_series(spark):
    from sparsity_spark import from_pandas

    sf = from_pandas(spark, pd.DataFrame({"only": [1.0]}, index=[5]))
    empty = sf.loc_range(100, 200).todense()
    assert isinstance(empty, pd.Series) and empty.name == "only" and len(empty) == 0


def test_read_events_null_field_and_duplicate_keys(spark):
    """NULL field values: no phantom 'None' column, no lost rows elsewhere;
    duplicate (uuid, ts): ONE merged row, not replicated merged rows."""
    from sparsity_spark.events import read_events

    ev = spark.createDataFrame(
        [
            (1, 10, 100, "a"),
            (2, 10, 100, "b"),  # same (uuid, ts) as event 1
            (3, 20, 200, None),  # null field
            (4, 20, 300, "a"),
        ],
        "event_id long, user_id long, ts long, kind string",
    )
    sf = read_events(ev, "kind", uuid_col="user_id", ts_col="ts", order_col="event_id")
    assert sf.columns == ["a", "b"]  # no 'None' column
    dense = sf.todense()
    # (10, 100) merged: a=1, b=1; (20, 200) all-zero row kept; (20, 300) a=1
    assert dense.shape == (3, 2)
    assert dense.loc[(10, 100)].tolist() == [1.0, 1.0]
    assert dense.loc[(20, 200)].tolist() == [0.0, 0.0]
    assert dense.loc[(20, 300)].tolist() == [1.0, 0.0]


def test_scan_order_ids_null_order_raises(spark):
    from sparsity_spark.events import scan_order_ids

    df = spark.createDataFrame([(1,), (None,)], "o long")
    with pytest.raises(ValueError, match="NULL"):
        scan_order_ids(df, "o").collect()


# ---- r5 ADVICE regressions ------------------------------------------------


def test_gram_poly_second_fold_uses_independent_fingerprint(spark):
    """The two Horner folds must consume INDEPENDENT per-token fingerprints
    (md5 hex 1-8 vs 9-16) — sharing one collapses the combined key to ~31
    bits (r5 ADVICE, medium). Pin the exact value against a pure-Python
    mirror so a regression to a shared fingerprint breaks loudly."""
    import hashlib

    from sparsity_spark.operators.dedup import (
        SPAN_B1,
        SPAN_B2,
        SPAN_M1,
        SPAN_M2,
        _gram_poly_keys,
    )

    text = "alpha beta gamma delta"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {
        (r["pos"], r["g"])
        for r in _gram_poly_keys(docs, 2, "doc_id", "text").collect()
    }

    toks = text.split(" ")
    md = [hashlib.md5(t.encode()).hexdigest() for t in toks]
    th1 = [int(h[0:8], 16) % SPAN_M1 for h in md]
    th2 = [int(h[8:16], 16) % SPAN_M2 for h in md]

    def fold(vals, b, m):
        acc = 0
        for v in vals:
            acc = (acc * b + v) % m
        return acc

    want = {
        (i + 1, fold(th1[i : i + 2], SPAN_B1, SPAN_M1) * 4294967296
         + fold(th2[i : i + 2], SPAN_B2, SPAN_M2))
        for i in range(len(toks) - 1)
    }
    assert got == want
    # and the two fingerprint streams genuinely differ
    assert th1 != th2


def test_append_hash_store_no_intra_batch_keeps_ledger_unique(spark, tmp_path):
    """intra_batch=False keeps in-batch twins, but the LEDGER must still
    receive each content_hash at most once or later increments fan out
    (r5 ADVICE)."""
    from sparsity_spark.operators.dedup import append_hash_store, write_hash_store

    table = "t_advice_hash_ledger"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    base = spark.createDataFrame([(1, "seed doc")], "doc_id long, text string")
    write_hash_store(base, table, num_buckets=2)
    batch = spark.createDataFrame(
        [(2, "twin text"), (3, "twin text"), (4, "fresh text")],
        "doc_id long, text string",
    )
    dec = append_hash_store(batch, table, intra_batch=False).toPandas()
    # decision semantics unchanged: both twins kept vs the corpus
    assert sorted(dec[dec.keep].doc_id) == [2, 3, 4]
    ledger = spark.table(table).toPandas()
    assert ledger.content_hash.is_unique
    # a later increment must not fan out decision rows
    batch2 = spark.createDataFrame([(5, "twin text")], "doc_id long, text string")
    dec2 = append_hash_store(batch2, table, intra_batch=False).toPandas()
    assert len(dec2) == 1 and not dec2.keep.iloc[0]
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_read_events_cardinality_probe_fires_before_window(spark):
    """A high-cardinality field must fail in read_events' bounded
    dictionary collect (at most max_values + 1 rows reach the driver),
    before any cell is built (r5 ADVICE)."""
    from sparsity_spark.events import read_events

    ev = spark.range(0, 500).select(
        F.lit("u").alias("user_id"),
        F.col("id").alias("ts"),
        F.col("id").cast("string").alias("f"),
    )
    with pytest.raises(ValueError, match="field_dictionary"):
        read_events(ev, "f", max_values=100)


def test_dhash_kernel_null_content(spark):
    """NULL binary payloads must null-propagate through the Arrow kernel
    like dhash_expr, not raise (r5 ADVICE)."""
    from sparsity_spark.operators.multimodal import dhash_fingerprints

    assets = spark.createDataFrame(
        [(1, bytearray(b"x" * 600)), (2, None), (3, bytearray(b"t"))],
        "doc_id long, content binary",
    )
    out = dhash_fingerprints(assets).toPandas().set_index("doc_id")
    assert out.loc[1, "dhash"] == out.loc[1, "dhash"]  # not NaN
    assert pd.isna(out.loc[2, "dhash"])  # NULL payload
    assert pd.isna(out.loc[3, "dhash"])  # too small


def test_money_math_hash_stable_across_partitioning(spark, sf_dir):
    """VERDICT r6 #2: the money-math query family must be hash-exact under
    any shuffle-partition setting (the judge's 1/8/32/200 sweep). w5's
    integer-cents rewrite makes the per-customer sum an exact BIGINT, so
    the result is bit-identical regardless of summation order."""
    from sparsity_spark.queries import QUERIES

    baseline = None
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("1", "8", "32", "200"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            pdf = QUERIES["w5_spend_quartiles"](spark, sf_dir).toPandas()
            pdf = pdf[sorted(pdf.columns)].sort_values(
                list(sorted(pdf.columns))
            ).reset_index(drop=True)
            snap = pdf.to_csv(index=False)
            if baseline is None:
                baseline = snap
            assert snap == baseline, f"hash flip at shuffle.partitions={parts}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_r9_review_node2vec_steps_validate(spark):
    """r9 review: node2vec_walks(steps=0) would silently emit the step-1
    hop — it must raise instead."""
    import pytest

    from sparsity_spark.operators.graph import node2vec_walks, symmetrize_edges

    edges = symmetrize_edges(
        spark.createDataFrame([(1, 2)], "a long, b long"), "a", "b", as_string=False
    )
    starts = spark.createDataFrame([(1,)], "node long")
    with pytest.raises(ValueError, match="steps"):
        node2vec_walks(edges, starts, steps=0)


def test_r9_review_join_level_axis0_raises(spark):
    """r9 review: join(level=, axis=0) silently fell through to vstack."""
    import pandas as pd
    import pytest

    from sparsity_spark import from_pandas

    f = from_pandas(spark, pd.DataFrame({"x": [1.0]}, index=[1]))
    with pytest.raises(ValueError, match="axis=1"):
        f.join(f.rename(lambda c: c + "_b"), axis=0, level=0)


def test_r9_review_cluster_store_custom_columns_roundtrip(spark):
    """r9 review: write_cluster_store(id_col=, cluster_col=) persisted the
    input names, which resolve/fold could never read back — the store
    must always carry the canonical (doc_id, cluster_id) schema."""
    import pandas as pd

    from sparsity_spark.operators.dedup import (
        fold_cluster_store,
        resolve_cluster_store,
        write_cluster_store,
    )

    labels = spark.createDataFrame(
        pd.DataFrame({"img_id": [5, 6], "cid": [5, 5]})
    )
    write_cluster_store(labels, "cluster_store_named", id_col="img_id", cluster_col="cid")
    got = {r["doc_id"]: r["cluster_id"] for r in resolve_cluster_store(spark, "cluster_store_named").collect()}
    assert got == {5: 5, 6: 5}
    batch = spark.createDataFrame(pd.DataFrame({"doc_id": [9]}))
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [9], "id_b": [6]}))
    resolved = fold_cluster_store(batch, pairs, "cluster_store_named")
    assert {r["doc_id"]: r["cluster_id"] for r in resolved.collect()} == {5: 5, 6: 5, 9: 5}


def test_r9_review_moments_global_overflow_and_null_group_raise(spark):
    """r9 review: the per-partition overflow guard alone weakens with
    parallelism — per-partition-passing partials whose GLOBAL sum could
    wrap must raise; and a NULL group label must raise loudly instead of
    crashing inside numpy."""
    import pandas as pd
    import pytest

    from sparsity_spark.operators import similarity

    # |x_q| = 2.2e9 at scale 1e6: one row per partition passes the local
    # check (limit ~1.9 rows), two rows across partitions trip the global
    # n*mx^2 >= 2^63 invariant
    # |x_q| = 2e9 at scale 1e6: the local limit is floor(2^63/4e18) = 2
    # rows, so one row per partition passes every LOCAL check and the
    # cross-partition combine is where the wrap would happen. On this
    # engine config Spark's ANSI sum raises ARITHMETIC_OVERFLOW at that
    # combine; with ansi.enabled=false the driver's global
    # n*mx^2 >= 2^63 invariant ("across partitions") fires instead —
    # either way the corruption is caught loudly, never returned
    big = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0, 1, 2], "embedding": [[2000.0, 0.0]] * 3})
    ).repartitionByRange(3, "vec_id")
    with pytest.raises(Exception, match="across partitions|ARITHMETIC_OVERFLOW"):
        similarity.moments_int(big)

    nulled = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [0, 1], "label": [0, None], "embedding": [[0.1, 0.2]] * 2}
        )
    )
    with pytest.raises(Exception, match="NULL values in group column"):
        similarity.grouped_moments_int(nulled)


# ---------------------------------------------------------------------------
# r9 second-session review fixes
# ---------------------------------------------------------------------------


def test_sq8_zero_vector_codes_to_zero(spark):
    """Review: x/0 is NaN whose floor-cast NULLs in Spark but ERRORS in
    DuckDB — the zero vector must code to all-zero (zero similarity to
    everything) on both engines."""
    from pyspark.sql import functions as F

    from sparsity_spark.operators.similarity import sq8_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r["neighbor_id"]: r["score_i8"]
        for r in sq8_topk(emb, emb.where(F.col("vec_id") == 0), k=5).collect()
    }
    assert rows[2] == 0  # not NULL, not an error
    assert rows[1] > 0


def test_mmr_corpus_exhausted_before_k(spark):
    """Review: k beyond the candidate count must return the candidates it
    has, not crash on a null argmax."""
    from pyspark.sql import functions as F

    from sparsity_spark.operators.similarity import mmr_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.1, 0.9])],
        "vec_id long, embedding array<double>",
    )
    rows = mmr_topk(emb, emb.where(F.col("vec_id") == 0), k=10).collect()
    assert sorted(r["neighbor_id"] for r in rows) == [1, 2]
    assert sorted(r["step"] for r in rows) == [1, 2]


def test_phrase_search_single_scan_after_fix(spark, sf_dir):
    """Review: the posting build must appear ONCE in the final plan (the
    filtered+persisted postings table), not once per phrase word."""
    from sparsity_spark.data import load_table
    from sparsity_spark.operators.text import phrase_search

    out = phrase_search(load_table(spark, sf_dir, "documents"), "table hash")
    # correctness is oracle-pinned; here just assert it still answers
    assert out.count() > 0


def test_top_keywords_matches_tfidf_frame_cells(spark):
    """Review refactor: the no-dictionary cells path must score identically
    to tfidf_frame's cells."""
    from pyspark.sql import functions as F

    from sparsity_spark.operators.text import tfidf_frame, top_keywords

    docs = spark.createDataFrame(
        [(1, "a b b c"), (2, "b c c d"), (3, "a d d d")],
        "doc_id long, text string",
    )
    cells = {
        (r["doc_id"], r["col"]): r["value"]
        for r in tfidf_frame(docs).data.collect()
    }
    for r in top_keywords(docs, k=2).collect():
        assert cells[(r["doc_id"], r["keyword"])] == r["tfidf"]


def test_ab_conversion_z_degenerate_days_dropped(spark):
    """Review: a day where nobody (or everybody) converts has a zero z
    denominator — ANSI Spark would throw on the divide; such days must
    be absent, not crash."""
    import datetime as dt

    from pyspark.sql import functions as F

    from sparsity_spark.operators.pipeline import ab_conversion_z

    rows = []
    d0 = dt.datetime(2024, 1, 1, 9)   # nobody converts
    d1 = dt.datetime(2024, 1, 2, 9)   # everybody converts
    d2 = dt.datetime(2024, 1, 3, 9)   # mixed — must survive
    for u in range(4):
        rows.append((d0, u, "view"))
        rows.append((d1, u, "purchase"))
        rows.append((d2, u, "purchase" if u == 0 else "view"))
    df = spark.createDataFrame(rows, "ts timestamp, user_id long, event_type string")
    got = {r["day"]: r["z"] for r in ab_conversion_z(df).collect()}
    assert set(got) == {"2024-01-03"}


def test_rfm_segments_single_aggregate_results_unchanged(spark):
    """Review: the persist/one-pass refactor must not change any value."""
    import datetime as dt

    from sparsity_spark.operators.pipeline import rfm_segments

    rows = []
    for u, (day, n, v) in enumerate(
        [(10, 8, 100.0), (8, 6, 50.0), (5, 4, 20.0), (1, 2, 5.0)]
    ):
        for i in range(n):
            rows.append((dt.datetime(2024, 1, day, 9 + i % 8), u, v / n))
    df = spark.createDataFrame(rows, "ts timestamp, user_id long, value double")
    got = {r["user_id"]: r["segment"] for r in rfm_segments(df).collect()}
    assert got == {0: "111", 1: "222", 2: "333", 3: "444"}


def test_modularity_rejects_empty_and_releases_cache(spark):
    from pyspark.sql import functions as F

    from sparsity_spark.operators.graph import modularity

    empty = spark.createDataFrame([], "src long, dst long")
    labels = spark.createDataFrame([(1, 1)], "node long, label long")
    import pytest as _p

    with _p.raises(ValueError):
        modularity(empty, labels)
