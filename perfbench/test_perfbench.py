"""Tests of the benchmark itself: ``python -m pytest perfbench -q``.

The smoke tests start Spark (about a minute each); deselect them with
``-k 'not smoke'``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SMALL = {"lineitem_rows": 3000, "documents": 120, "embeddings": 60, "files": 3}


def _tables(tmp_path, seed):
    d, meta = gen.prepare(str(tmp_path), "warehouse", seed, SMALL, {})
    out = {}
    for t in gen.ALL_TABLES:
        paths = sorted(os.listdir(os.path.join(d, f"{t}.parquet")))
        out[t] = [open(os.path.join(d, f"{t}.parquet", p), "rb").read() for p in paths]
    return out, meta


def test_generator_is_deterministic_per_seed(tmp_path):
    a, meta_a = _tables(tmp_path / "a", 7)
    b, _ = _tables(tmp_path / "b", 7)
    c, _ = _tables(tmp_path / "c", 8)
    assert a == b
    assert all(a[t] != c[t] for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"))
    assert meta_a["stats"]["lineitem"] == {"rows": 3000, "bytes": meta_a["stats"]["lineitem"]["bytes"], "files": 3}


def test_generator_cache_is_reused(tmp_path):
    gen.prepare(str(tmp_path), "warehouse", 1, SMALL, {})
    _, meta = gen.prepare(str(tmp_path), "warehouse", 1, SMALL, {})
    assert meta["cached"]


def test_etl_batches_are_deterministic_and_consistent():
    r1, bad1 = gen.etl_batch(5, 3, 200, 0.25, 0.05)
    r2, bad2 = gen.etl_batch(5, 3, 200, 0.25, 0.05)
    r3, _ = gen.etl_batch(6, 3, 200, 0.25, 0.05)
    assert (r1, bad1) == (r2, bad2) and r1 != r3
    ids = [r["id"] for r in r1]
    assert len(ids) == len(set(ids)) == 250  # keys are unique within a batch
    assert sum(1 for i in ids if i < 600) == 50  # updates hit earlier batches' keys
    assert len(bad1) == round(250 * 0.05)
    for r in r1:
        broken = r["amount"] < 0 or r["country"] not in gen.COUNTRIES or r["qty"] < 1
        assert broken == (r["id"] in bad1)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert bench["paths"] == ["perfbench"]


def test_nearest_rank():
    assert workloads.nearest_rank([3, 1, 2, 4], 50) == 2
    assert workloads.nearest_rank([3, 1, 2, 4], 75) == 3
    assert workloads.nearest_rank([5.0], 90) == 5.0


def test_refuses_to_run_outside_a_checkout(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "warehouse", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_tiny_run_prints_every_metric(workload):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "1", "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.splitlines()
    last = json.loads(lines[-1])
    report = json.loads(next(x for x in lines if x.startswith("perfbench report: "))[len("perfbench report: "):])
    assert last["correct"] and last["failed"] == 0 and last["attempted"] > 0
    assert set(last["metrics"]) == set(run.per_layer_units())
    assert set(report["end_to_end"]) == set(run.END_TO_END)
    assert report["diagnostics"]["failed_ratio"]["value"] == 0
