"""Tests of the benchmark itself: the seeded input generator and a smoke
run of every workload that prints every metric of BENCHMARK.json.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOAD_NAMES = sorted(gen.SIZES["full"])


def _files(paths: dict) -> dict:
    out = {}
    for name, path in paths.items():
        with open(path, "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_same_seed_gives_identical_parquet(tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"), "smoke")
    b = gen.generate(workload, 7, str(tmp_path / "b"), "smoke")
    assert _files(a) == _files(b)


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_other_seed_keeps_sizes_and_changes_order(tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"), "smoke")
    b = gen.generate(workload, 8, str(tmp_path / "b"), "smoke")
    assert sorted(a) == sorted(b)
    changed = False
    for name in a:
        ta, tb = pq.read_table(a[name]), pq.read_table(b[name])
        assert ta.num_rows == tb.num_rows, name
        assert ta.schema == tb.schema, name
        changed |= not ta.equals(tb)
    assert changed


def test_incremental_batches_follow_the_seed(tmp_path):
    a = gen.generate("incremental_stores", 7, str(tmp_path / "a"), "smoke")
    b = gen.generate("incremental_stores", 8, str(tmp_path / "b"), "smoke")
    for name in ("documents", "events"):
        da = pq.read_table(a[name]).to_pandas().set_index(gen_key(name))["batch_id"].sort_index()
        db = pq.read_table(b[name]).to_pandas().set_index(gen_key(name))["batch_id"].sort_index()
        # same batch sizes, different membership
        assert (da.value_counts().sort_index() == db.value_counts().sort_index()).all()
        assert not da.equals(db)


def gen_key(table: str) -> str:
    return "doc_id" if table == "documents" else "event_id"


def test_base_tables_follow_the_fixture_figures():
    fx = gen.FIXTURE
    docs = gen._base_documents(1.0)
    words = np.array([len(t.split(" ")) for t in docs["text"]])
    lo, hi = fx["documents"]["words"]
    assert len(docs["text"]) == fx["documents"]["rows"]
    assert words.min() == lo and words.max() <= hi + 1
    copies = np.mean([t.endswith(" dup") for t in docs["text"]])
    assert copies == pytest.approx(fx["documents"]["near_dup_share"], abs=1e-9)
    assert np.mean(docs["lang"] == "en") == pytest.approx(fx["documents"]["lang_share"]["en"], abs=0.02)
    ev = gen._base_events(1.0)
    assert len(ev["user_id"]) / len(np.unique(ev["user_id"])) == pytest.approx(
        fx["events"]["rows"] / fx["events"]["users"], rel=0.01
    )
    orders = gen._base_orders(1.0)
    assert len(np.unique(orders["o_custkey"])) == pytest.approx(fx["orders"]["customers"], rel=0.01)


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_smoke_run_prints_every_metric(workload):
    e2e = _run(workload, 0)
    assert e2e["correct"] and e2e["failed"] == 0 and e2e["attempted"] > 0
    assert {k: v["unit"] for k, v in e2e["metrics"].items()} == metrics.units("end_to_end")
    assert all(v["value"] > 0 for v in e2e["metrics"].values())
    layers = _run(workload, 1)
    assert layers["correct"]
    assert {k: v["unit"] for k, v in layers["metrics"].items()} == metrics.units("per_layer")
    assert layers["metrics"]["trace.untagged_jobs"]["value"] == 0
    assert layers["metrics"]["trace.coverage"]["value"] >= 0.95
