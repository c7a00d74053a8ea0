"""The benchmark workloads: one closed-loop client each.

A workload has a ``prepare`` step (untimed set-up over the generated
inputs), a ``run_pass`` step (one timed pass of library calls, issued one after
another) and a ``check`` step (untimed: compare the last pass's outputs
with an independent computation). Every library call goes through
``Client.call``, which opens a span named ``<module>.<function>`` around
the call and around the consumption of its result, so lazy Spark plans
run inside the span of the call that built them.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparsity_spark import SparseFrame, read_events, read_parquet_frame, sparse_one_hot
from sparsity_spark.io import write_parquet_frame
from sparsity_spark.operators import dedup, graph, pipeline, similarity, sketches, skew, temporal, text

from gen import OFFSET, PRIORITIES


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _freeze_frame(sf: SparseFrame) -> SparseFrame:
    cells = sf.data.localCheckpoint(eager=True)
    index = sf._index.localCheckpoint(eager=True) if sf._index is not None else None
    return SparseFrame(cells, sf.key_cols, sf.columns, index)


def _consume(out, sink: str | None):
    """Finish a call's work the way its client would."""
    if sink is None:
        return out
    if isinstance(out, SparseFrame):
        if sink == "keep":
            return _freeze_frame(out)
        out = out.data
    if not isinstance(out, DataFrame):
        return out
    if sink == "keep":
        return out.localCheckpoint(eager=True)
    if sink == "collect":
        return out.toPandas()
    if sink == "count":
        return out.count()
    raise ValueError(f"unknown sink {sink!r}")


class Client:
    """Issues library calls one at a time, each inside its own span."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0

    def call(self, fn, *args, sink: str | None = "collect", kind: str | None = None, **kw):
        layer = fn.__module__.rsplit(".", 1)[-1]
        self.attempted += 1
        try:
            with self.tracer.span(f"{layer}.{fn.__name__}", layer, kind):
                return _consume(fn(*args, **kw), sink)
        except Exception:
            self.failed += 1
            raise


def _sorted_cells(pdf: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    cols = keys + ["col", "value"]
    out = pdf[cols].copy()
    out["col"] = out["col"].astype(str)
    return out.sort_values(keys + ["col"]).reset_index(drop=True)


def _same_cells(got: pd.DataFrame, want: pd.DataFrame, keys: list[str], what: str) -> None:
    g, w = _sorted_cells(got, keys), _sorted_cells(want, keys)
    expect(len(g) == len(w), f"{what}: {len(g)} cells, expected {len(w)}")
    for k in keys + ["col"]:
        expect((g[k].to_numpy() == w[k].to_numpy()).all(), f"{what}: {k} differs")
    expect(np.allclose(g["value"].to_numpy(), w["value"].to_numpy()), f"{what}: values differ")


def union_find_labels(pairs: pd.DataFrame, a: str, b: str, ids) -> dict:
    """Component-minimum label of every id, by union-find over ``pairs``."""
    parent = {int(i): int(i) for i in ids}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for x, y in zip(pairs[a].to_numpy(), pairs[b].to_numpy()):
        parent.setdefault(int(x), int(x))
        parent.setdefault(int(y), int(y))
        rx, ry = find(int(x)), find(int(y))
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return {x: find(x) for x in parent}


def _check_labels(labels: pd.DataFrame, id_col: str, pairs: pd.DataFrame, a: str, b: str, ids, what: str):
    want = union_find_labels(pairs, a, b, ids)
    got = dict(zip(labels[id_col].astype("int64"), labels["cluster_id"].astype("int64")))
    expect(len(got) == len(want), f"{what}: {len(got)} labels, expected {len(want)}")
    bad = sum(1 for k, v in want.items() if got.get(k) != v)
    expect(bad == 0, f"{what}: {bad} labels differ from union-find")


class Workload:
    name = ""
    max_passes = 1 << 30  # a workload that consumes input per pass lowers this

    def __init__(self, spark, paths: dict, work_dir: str):
        self.spark = spark
        self.paths = paths
        self.work_dir = work_dir
        self.inputs = {k: spark.read.parquet(p) for k, p in paths.items()}

    def input_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.paths.values())

    def prepare(self, c: Client) -> None:
        pass

    def run_pass(self, c: Client, n: int) -> dict:
        raise NotImplementedError

    def check(self, c: Client, out: dict) -> dict:
        """Raise CheckFailed on a wrong output; return per-layer extras."""
        return {}

    def end_pass(self, n: int) -> None:
        pass


class FrameAlgebra(Workload):
    name = "frame_algebra"

    def run_pass(self, c: Client, n: int) -> dict:
        ev, orders = self.inputs["events"], self.inputs["orders"]
        S = SparseFrame
        a = c.call(read_events, ev, "event_type", uuid_col="user_id", ts_col="ts",
                   order_col="event_id", sink="keep")
        users = c.call(S.groupby_sum, a, "user_id", sink="keep")
        ords = orders.select(F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderpriority")
        o = c.call(sparse_one_hot, ords, "o_orderpriority", PRIORITIES,
                   index_col=["user_id", "o_orderkey"], sink="keep")
        o_users = c.call(S.groupby_sum, o, "user_id", sink="keep")
        joined = c.call(S.join, users, o_users, axis=1, how="outer", sink="keep")
        lo = c.call(S.loc_range, users, None, OFFSET - 1, sink="keep")  # replica 0
        hi = c.call(S.loc_range, users, OFFSET, None, sink="keep")
        added = c.call(S.add, lo, hi, sink="keep")
        stacked = c.call(S.vstack, lo, hi, sink="keep")
        total = c.call(S.sum, joined, sink=None)
        col_mean = c.call(S.mean, joined, 0, sink=None)
        pq_path = os.path.join(self.work_dir, f"joined_{n}")
        c.call(write_parquet_frame, joined, pq_path, sink=None)
        back = c.call(read_parquet_frame, self.spark, pq_path, ["user_id"], sink="collect")
        return dict(users=users, o_users=o_users, joined=joined, added=added, stacked=stacked,
                    total=total, col_mean=col_mean, back=back)

    def end_pass(self, n: int) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.work_dir, f"joined_{n - 1}"), ignore_errors=True)

    def check(self, c: Client, out: dict) -> dict:
        import duckdb

        con = duckdb.connect()
        ev_p, ord_p = self.paths["events"], self.paths["orders"]
        want_u = con.execute(
            f"SELECT user_id, event_type AS col, COUNT(*)::DOUBLE AS value "
            f"FROM read_parquet('{ev_p}') GROUP BY ALL"
        ).df()
        want_o = con.execute(
            f"SELECT o_custkey AS user_id, o_orderpriority AS col, COUNT(*)::DOUBLE AS value "
            f"FROM read_parquet('{ord_p}') GROUP BY ALL"
        ).df()
        con.close()
        cells = lambda sf: sf.data.toPandas()  # noqa: E731
        _same_cells(cells(out["users"]), want_u, ["user_id"], "groupby_sum(user_id)")
        _same_cells(cells(out["o_users"]), want_o, ["user_id"], "orders one-hot groupby_sum")
        want_j = pd.concat([want_u, want_o], ignore_index=True)
        _same_cells(cells(out["joined"]), want_j, ["user_id"], "outer join")
        _same_cells(cells(out["added"]), want_u, ["user_id"], "add of the loc_range halves")
        _same_cells(cells(out["stacked"]), want_u, ["user_id"], "vstack of loc_range halves")
        _same_cells(out["back"], want_j, ["user_id"], "parquet round trip")
        expect(abs(out["total"] - want_j["value"].sum()) < 1e-6, "sum()")
        n_rows = want_j["user_id"].nunique()
        col_sum = want_j.groupby("col")["value"].sum()
        mean = out["col_mean"]
        expect(all(abs(mean[c] - col_sum[c] / n_rows) < 1e-9 for c in col_sum.index), "mean(axis=0)")
        return {}


LOOP_ROUNDS = 2  # pagerank iterations
STORES = ("band", "count", "hll", "ohlc", "bloom")


class IncrementalStores(Workload):
    """The stores are built from the 50% base during set-up; each pass
    then folds the next micro-batch into every store, reads the stores,
    forgets two documents and compacts, and curates the base documents as
    one batch job (quality, exact and LSH dedup, prefix-filter join,
    connected components, split, pagerank, IVF top-k). A batch is
    replayed during the check, outside the passes.

    The curation shares these passes rather than having a workload of its
    own: every run pays about 20 s of session start, loading and shutdown,
    so one workload fewer keeps the whole set of runs short."""

    name = "incremental_stores"

    def prepare(self, c: Client) -> None:
        docs, events = self.inputs["documents"], self.inputs["events"]
        batches = sorted(b for b in pq.read_table(self.paths["documents"], columns=["batch_id"])
                         .column(0).unique().to_pylist() if b >= 0)
        # the last batch is held out: it is only ever screened, never folded
        self.held_out = batches[-1]
        self.batches = batches[:-1]
        self.max_passes = len(self.batches)
        self.doc_batch = {b: docs.where(F.col("batch_id") == b).drop("batch_id") for b in batches + [-1]}
        self.ev_batch = {b: events.where(F.col("batch_id") == b).drop("batch_id") for b in batches + [-1]}
        # forget only docs that share no LSH band with any other doc, so
        # replaying a batch after a forget cannot re-admit a near-twin
        bands = dedup.band_keys(docs).toPandas()
        colliding = set(bands.loc[bands.duplicated(["band", "band_key"], keep=False), "doc_id"])
        candidates = [int(x) for x in self.inputs["forget"].toPandas()["doc_id"]]
        self.forget = [x for x in candidates if x not in colliding][:2 * len(self.batches)]
        expect(len(self.forget) == 2 * len(self.batches), "too few documents to forget")
        self.forget_ids = [
            self.spark.createDataFrame([(x,) for x in self.forget[2 * i:2 * i + 2]], "doc_id long")
            for i in range(len(self.batches))
        ]
        self.corpus = self.doc_batch[-1]
        emb = self.inputs["embeddings"]
        self.queries = emb.join(self.inputs["queries"], "vec_id")
        self.centroids = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        self.t = {s: f"pb_{s}" for s in STORES}
        self.decisions, self.forgotten, self.folded = [], [], []
        c.call(dedup.write_band_store, self.doc_batch[-1], self.t["band"], num_buckets=8,
               sink=None, kind="append")
        self._fold_events(c, self.ev_batch[-1], 0, "append")

    def _fold_events(self, c: Client, ev, batch_id: int, kind: str) -> None:
        t = self.t
        c.call(sketches.merge_count_store, ev, t["count"], "user_id", batch_id, sink=None, kind=kind)
        c.call(sketches.merge_hll_store, ev, t["hll"], "user_id", sink=None, kind=kind)
        c.call(temporal.merge_ohlc_store, ev, t["ohlc"], batch_id, sink=None, kind=kind)
        c.call(skew.merge_bloom_store, ev, t["bloom"], "user_id", sink=None, kind=kind)

    def _fold_batch(self, c: Client, b: int, kind: str):
        dec = c.call(dedup.append_band_store, self.doc_batch[b], self.t["band"], sink="collect", kind=kind)
        self._fold_events(c, self.ev_batch[b], b + 1, kind)
        return dec

    def run_pass(self, c: Client, n: int) -> dict:
        t, spark = self.t, self.spark
        b = self.batches[n]
        self.decisions.append(self._fold_batch(c, b, "append"))
        self.folded.append(b)
        store = c.call(dedup.band_store, spark, t["band"], sink=None)
        c.call(dedup.incremental_lsh_dedup, self.doc_batch[self.held_out], store,
               sink="collect", kind="read")
        c.call(sketches.count_store_topk, spark, t["count"], sink="collect", kind="read")
        c.call(temporal.read_ohlc_store, spark, t["ohlc"], sink="collect", kind="read")
        c.call(dedup.remove_from_band_store, self.forget_ids[n], t["band"], sink=None, kind="forget")
        self.forgotten += self.forget[2 * n:2 * n + 2]
        c.call(dedup.compact_band_store, spark, t["band"], sink=None, kind="compact")
        return self._curate(c)

    def _curate(self, c: Client) -> dict:
        docs, emb = self.corpus, self.inputs["embeddings"]
        c.call(text.quality_score, docs, sink="count")
        exact = c.call(dedup.exact_dedup, docs, sink="collect")
        cand = c.call(dedup.lsh_candidate_pairs, docs, sink="keep")
        jacc = c.call(dedup.jaccard_prefix_join, docs, threshold=0.9, k=3, sink="count")
        labels = c.call(dedup.duplicate_clusters, cand, docs, sink="keep")
        split = c.call(pipeline.split_by_cluster, labels, sink="count")
        edges = c.call(graph.symmetrize_edges, cand, "id_a", "id_b", as_string=False, sink="keep")
        ranks = c.call(graph.pagerank, edges, iterations=LOOP_ROUNDS, sink="collect")
        topk = c.call(similarity.ivf_topk, emb, self.queries, self.centroids, k=3, sink="collect")
        return dict(exact=exact, cand=cand, jacc=jacc, labels=labels, split=split, ranks=ranks, topk=topk)

    def _check_curation(self, out: dict) -> dict:
        import duckdb

        con = duckdb.connect()
        want = con.execute(
            f"SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id "
            f"FROM read_parquet('{self.paths['documents']}') WHERE batch_id = -1 GROUP BY 1"
        ).df()
        con.close()
        got = out["exact"].sort_values("text_hash").reset_index(drop=True)
        want = want.sort_values("text_hash").reset_index(drop=True)
        expect(len(got) == len(want), "exact_dedup: group count")
        expect((got["keep_id"].to_numpy() == want["keep_id"].to_numpy()).all(), "exact_dedup: survivors")
        expect((got["n_docs"].to_numpy() == want["n_docs"].to_numpy()).all(), "exact_dedup: sizes")
        pairs = out["cand"].toPandas()
        ids = self.corpus.select("doc_id").toPandas()["doc_id"]
        _check_labels(out["labels"].toPandas(), "doc_id", pairs, "id_a", "id_b", ids, "duplicate_clusters")
        expect(out["split"] == len(ids), "split_by_cluster: row count")
        expect(out["jacc"] > 0, "jaccard_prefix_join: no pairs kept")
        per_query = out["topk"].groupby("query_id").size()
        expect(len(per_query) > 0 and per_query.max() <= 3, "ivf_topk: at most k neighbours per query")
        nodes = set(pairs.id_a) | set(pairs.id_b)
        expect(len(out["ranks"]) == len(nodes), "pagerank: one rank per node")
        return {"dedup.candidates_per_pair": len(pairs) / out["jacc"]}

    def check(self, c: Client, out: dict) -> dict:
        spark, t = self.spark, self.t
        extras = self._check_curation(out)
        # replay the last folded batch: it must leave every store table,
        # side tables included, with the same rows and bytes
        before = self.store_state()
        replay = self._fold_batch(c, self.folded[-1], "replay")
        expect(not replay["keep"].any(), "replayed batch was admitted again")
        after = self.store_state()
        changed = sorted(name for name in before.keys() | after.keys() if before.get(name) != after.get(name))
        expect(not changed, f"replayed batch changed store tables {changed}")

        seen = [-1] + self.folded
        docs = self.inputs["documents"].where(F.col("batch_id").isin(seen))
        events = self.inputs["events"].where(F.col("batch_id").isin(seen))
        # count store: exact per-user totals
        want = events.groupBy("user_id").count().toPandas().set_index("user_id")["count"]
        got = spark.table(t["count"]).groupBy("key").agg(F.sum("c").alias("c")).toPandas().set_index("key")["c"]
        expect(got.sort_index().equals(want.sort_index().astype(got.dtype)), "count store vs scratch")
        # HLL and bloom stores: bit-equal to one-shot builds
        regs = lambda df: df.toPandas().sort_values(list(df.columns)).reset_index(drop=True)  # noqa: E731
        expect(regs(spark.table(t["hll"])).equals(regs(sketches.hll_sketch(events, "user_id"))),
               "hll store vs scratch")
        scratch = "pb_bloom_scratch"
        skew.write_bloom_store(events, scratch, "user_id")
        expect(skew.bloom_store_bytes(spark, t["bloom"]) == skew.bloom_store_bytes(spark, scratch),
               "bloom store vs scratch")
        # OHLC store: its merged view equals resampling every folded event
        cols = ["key", "bucket", "open", "high", "low", "close", "n_events"]
        got_o = temporal.read_ohlc_store(spark, t["ohlc"]).toPandas()[cols]
        want_o = temporal.ohlc_resample(events).toPandas()
        want_o = want_o.rename(columns={want_o.columns[0]: "key"})[cols]
        srt = lambda d: d.sort_values(["key", "bucket"]).reset_index(drop=True)  # noqa: E731
        expect(srt(got_o).astype(str).equals(srt(want_o).astype(str)), "ohlc store vs scratch")
        # band store: one row per band of every base and kept batch doc,
        # minus the forgotten ones
        kept = set(docs.where(F.col("batch_id") == -1).select("doc_id").toPandas()["doc_id"])
        for dec in self.decisions:
            kept |= set(dec.loc[dec["keep"], "doc_id"])
        kept -= set(self.forgotten)
        band = dedup.band_store(spark, t["band"]).toPandas()
        expect(set(band["doc_id"]) == kept, "band store: ids differ from scratch")
        expect(len(band) == 4 * len(kept), "band store: not one row per band and doc")
        extras["store.live_rows"] = sum(before[t[s]][0] for s in STORES)
        extras["store.bytes"] = sum(nbytes for _, nbytes in before.values())
        return extras

    def store_state(self) -> dict:
        """``{table: (rows, bytes on disk)}`` of every store table and its
        side tables."""
        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        state = {}
        for tb in self.spark.catalog.listTables():
            if tb.name.split("__")[0] in self.t.values():
                rows = nbytes = 0
                for root, _, files in os.walk(os.path.join(wh, tb.name.lower())):
                    for f in files:
                        path = os.path.join(root, f)
                        nbytes += os.path.getsize(path)
                        if f.endswith(".parquet"):
                            rows += pq.ParquetFile(path).metadata.num_rows
                state[tb.name] = (rows, nbytes)
        return state


WORKLOADS = {w.name: w for w in (FrameAlgebra, IncrementalStores)}
