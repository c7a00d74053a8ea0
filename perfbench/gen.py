"""Seeded input generator for the benchmark workloads.

The benchmark cannot read the repo's sf0.1 fixtures when it runs, so
every table starts from a fixed synthetic base whose shape copies the
sf0.1 figures in ``FIXTURE``: row and key counts scaled by the
workload's ``fraction`` (so rows per key stay as in sf0.1), the same
value ranges and category shares, and the same near-duplicate rule. The
base is then replicated with shifted keys the way
``tools/make_scale_data.replicate_sf`` scales fixtures: id columns shift
by ``replica * OFFSET``, every document token of replica r > 0 gets the
suffix ``\\x1f<r>`` so replicas share no vocabulary, embeddings of
replica r > 0 move by ``r * 0.001`` on their first dimension, and a
table has one row group per 1/64 of its rows (at least 1024 rows).

The base content never depends on the seed. The seed picks only the row
order, which documents get near-duplicate copies, which vectors are
queries and the batch membership of the incremental workload. So
one seed always gives byte-identical parquet, and two seeds give tables
of the same sizes with different order and membership. The library
under test only ever sees the written parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Figures of the sf0.1 fixtures, as printed by
#   python3 perfbench/fixture_stats.py <dir of the sf0.1 parquet files>
# What the generator copies from each:
# - events: user_id uniform over 0..users-1 (the busiest user has 99
#   events against a mean of 66.7; the top 1% of users hold 1.34% of
#   them); the five event types equally likely (each 0.198-0.203);
#   value exponential with the measured mean (max 560.21); props
#   '{"k": <0..99>}'; ts spread over 30 days from 2024-01-01.
# - orders: o_custkey uniform over 0..customers-1 (10 orders a
#   customer); the five priorities equally likely (each 0.199-0.201);
#   o_totalprice uniform over the measured range.
# - documents: one line each; a uniform word count in ``words``; tokens
#   drawn uniformly from the 30-word VOCAB (each 1/30 of tokens, within
#   0.003); ``near_dup_share`` of them are a copy of another document
#   with " dup" appended (243 of 250 copy a document directly, the rest
#   copy a copy); lang drawn with the measured shares; source cycles
#   over ``sources`` names.
# - embeddings: unit vectors, labels uniform; the spread of per-label
#   means (0.0089 a dimension) is what sampling noise alone gives, so
#   the vectors are independent of their label.
FIXTURE = {
    "events": {"rows": 100_000, "users": 1_500, "value_mean": 49.87, "props_k": 100, "days": 30},
    "orders": {"rows": 150_000, "customers": 15_000, "price": (1_001.91, 499_993.18)},
    "documents": {
        "rows": 5_000,
        "words": (10, 100),
        "near_dup_share": 0.05,
        "lang_share": {"de": 0.1404, "en": 0.4118, "es": 0.1488, "fr": 0.1484, "zh": 0.1506},
        "sources": 20,
    },
    "embeddings": {"rows": 2_000, "dim": 64, "labels": 10},
}
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
OFFSET = 1 << 33
BASE_SEED = 20240101
TS0_US = 1704067200 * 1_000_000  # 2024-01-01 UTC

# Fixed sizes per workload: ``fraction`` of every sf0.1 row and key count,
# then ``replicas`` key-shifted copies. "full" is what the benchmark
# measures; "smoke" is the sf0.001-sized cut the smoke test runs.
SIZES = {
    "full": {
        "frame_algebra": {"fraction": 0.2, "replicas": 2},
        "incremental_stores": {"fraction": 0.05, "replicas": 2, "batches": 8},
    },
    "smoke": {
        "frame_algebra": {"fraction": 0.01, "replicas": 1},
        "incremental_stores": {"fraction": 0.01, "replicas": 1, "batches": 4},
    },
}
# seeded near-duplicate injection, on top of the fixture's own copies
DUP_FRACTION = 0.10


def _scaled(table: str, key: str, fraction: float) -> int:
    return max(1, round(FIXTURE[table][key] * fraction))


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, row_group_size=max(1024, table.num_rows // 64), compression="snappy")
    return path


def _replicate(cols: dict, keys: list[str], factor: int) -> dict:
    """``factor`` key-shifted copies of a column dict (replicate_sf rules)."""
    out = {}
    for name, arr in cols.items():
        parts = []
        for rep in range(factor):
            a = arr
            if name in keys:
                a = arr + rep * OFFSET
            elif name == "text" and rep > 0:
                suffix = "\x1f" + str(rep)
                a = np.array([" ".join(w + suffix for w in t.split(" ")) for t in arr], dtype=object)
            elif name == "embedding" and rep > 0:
                a = arr.copy()
                a[:, 0] += rep * 0.001
            parts.append(a)
        out[name] = np.concatenate(parts)
    return out


def _base_events(fraction: float) -> dict:
    fx = FIXTURE["events"]
    n, users = _scaled("events", "rows", fraction), _scaled("events", "users", fraction)
    rng = np.random.default_rng(BASE_SEED)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.sort(TS0_US + rng.integers(0, fx["days"] * 86400 * 1_000_000, n)).astype(np.int64),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(fx["value_mean"], n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, fx["props_k"], n)], dtype=object),
    }


def _base_orders(fraction: float) -> dict:
    n, customers = _scaled("orders", "rows", fraction), _scaled("orders", "customers", fraction)
    rng = np.random.default_rng(BASE_SEED + 1)
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, customers, n).astype(np.int64),
        "o_totalprice": np.round(rng.uniform(*FIXTURE["orders"]["price"], n), 2),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, len(PRIORITIES), n)],
    }


def _base_documents(fraction: float) -> dict:
    fx = FIXTURE["documents"]
    n = _scaled("documents", "rows", fraction)
    n_copies = round(n * fx["near_dup_share"])
    rng = np.random.default_rng(BASE_SEED + 2)
    vocab = np.array(VOCAB, dtype=object)
    lo, hi = fx["words"]
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(lo, hi + 1))]) for _ in range(n - n_copies)]
    for _ in range(n_copies):
        texts.append(texts[rng.integers(0, len(texts))] + " dup")
    langs = np.array(list(fx["lang_share"]), dtype=object)
    share = np.array(list(fx["lang_share"].values()))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": np.array(texts, dtype=object)[rng.permutation(n)],
        "lang": langs[rng.choice(len(langs), n, p=share / share.sum())],
        "source": np.array([f"src{i % fx['sources']}" for i in range(n)], dtype=object),
    }


def _base_embeddings(fraction: float) -> dict:
    fx = FIXTURE["embeddings"]
    n = _scaled("embeddings", "rows", fraction)
    rng = np.random.default_rng(BASE_SEED + 3)
    vecs = rng.normal(0.0, 1.0, (n, fx["dim"]))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": vecs.astype(np.float32),
        "label": rng.integers(0, fx["labels"], n).astype(np.int32),
    }


def _table(cols: dict, order: np.ndarray) -> pa.Table:
    arrays = {}
    for name, arr in cols.items():
        arr = arr[order]
        if name == "ts":
            arrays[name] = pa.array(arr, type=pa.timestamp("us"))
        elif name == "embedding":
            arrays[name] = pa.array(list(arr), type=pa.list_(pa.float32()))
        else:
            arrays[name] = pa.array(arr)
    return pa.table(arrays)


def _near_dups(docs: dict, rng: np.random.Generator, n_dups: int) -> tuple[dict, np.ndarray]:
    """Append ``n_dups`` near-duplicate copies of seed-chosen documents,
    made by the fixture's rule (the text plus " dup"). Also returns the
    ids of the copied documents."""
    n = len(docs["doc_id"])
    src = np.sort(rng.choice(n, n_dups, replace=False))
    extra = {
        "doc_id": docs["doc_id"].max() + 1 + np.arange(n_dups, dtype=np.int64),
        "text": np.array([t + " dup" for t in docs["text"][src]], dtype=object),
        "lang": docs["lang"][src],
        "source": docs["source"][src],
    }
    return {k: np.concatenate([docs[k], extra[k]]) for k in docs}, docs["doc_id"][src]


def _with_chars(docs: dict) -> dict:
    docs["n_chars"] = np.array([len(t) for t in docs["text"]], dtype=np.int64)
    return docs


def generate(workload: str, seed: int, out_dir: str, scale: str = "full") -> dict:
    """Write ``workload``'s input tables for ``seed`` under ``out_dir`` and
    return ``{table name: parquet path}``."""
    sz = SIZES[scale][workload]
    frac, rep = sz["fraction"], sz["replicas"]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    paths = {}

    def put(name, cols):
        n = len(next(iter(cols.values())))
        paths[name] = _write(_table(cols, rng.permutation(n)), os.path.join(out_dir, f"{name}.parquet"))

    if workload == "frame_algebra":
        put("events", _replicate(_base_events(frac), ["event_id", "user_id"], rep))
        put("orders", _replicate(_base_orders(frac), ["o_orderkey", "o_custkey"], rep))
    elif workload == "incremental_stores":
        docs = _replicate(_base_documents(frac), ["doc_id"], rep)
        n_orig = len(docs["doc_id"])
        docs, copied = _near_dups(docs, rng, int(n_orig * DUP_FRACTION))
        docs = _with_chars(docs)
        events = _replicate(_base_events(frac), ["event_id", "user_id"], rep)
        emb = _replicate(_base_embeddings(frac), ["vec_id"], rep)
        put("embeddings", emb)
        n_queries = max(2, len(emb["vec_id"]) // 100)
        put("queries", {"vec_id": np.sort(rng.choice(emb["vec_id"], n_queries, replace=False))})
        for name, cols in (("documents", docs), ("events", events)):
            # batch -1 is the 50% base; the rest splits into micro-batches
            n = len(next(iter(cols.values())))
            perm = rng.permutation(n)
            batch = np.full(n, -1, dtype=np.int32)
            batch[perm[n // 2:]] = np.arange(n - n // 2) % sz["batches"]
            cols["batch_id"] = batch
            put(name, cols)
        # candidates to forget, in seeded order: base docs with no injected
        # near-duplicate (the workload also drops any with an LSH collision)
        lonely = (docs["batch_id"] == -1) & (np.arange(len(docs["doc_id"])) < n_orig)
        lonely &= ~np.isin(docs["doc_id"], copied)
        pool = docs["doc_id"][lonely]
        put("forget", {"doc_id": rng.choice(pool, min(len(pool), 4 * sz["batches"]), replace=False)})
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return paths
