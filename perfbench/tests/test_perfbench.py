"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload at sf0.001 through ``run.py`` and
take a few minutes; ``-k "not smoke"`` keeps the fast ones.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import gen, trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SMOKE_SF = "0.001"


def run_bench(workload: str, trace_on: int, seed: int = 1) -> tuple[dict, dict]:
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace_on), "--sf", SMOKE_SF],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_spec_names_every_workload():
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)


def test_seed_permutes_rows_only(tmp_path):
    tables = gen.content(0.001)
    gen.write(tables, 1, str(tmp_path / "a"))
    gen.write(tables, 1, str(tmp_path / "b"))
    gen.write(tables, 2, str(tmp_path / "c"))
    for t in gen.TABLES:
        a, b, c = (pq.read_table(tmp_path / d / f"{t}.parquet") for d in "abc")
        assert a.equals(b)
        key = a.column_names[0]
        assert sorted(a.column(key).to_pylist()) == sorted(c.column(key).to_pylist())
        if a.num_rows > 50:
            assert not a.equals(c)


def test_self_times_partition_the_wall_time():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 2, "start": 3.0, "end": 4.0},
    ]
    st = trace.self_times(spans)
    # [3, 4] has two open leaves (1 and 3): half each
    assert st == pytest.approx({0: 5.0, 1: 2.5, 2: 2.0, 3: 0.5})
    assert sum(st.values()) == pytest.approx(10.0)


def test_decoder_probe_asserts_byte_equality(monkeypatch):
    from perfbench.engine import decode_probe

    rates = decode_probe(seed=3, size=1 << 12)
    assert set(rates) == {"inflate", "bzip2", "xz", "zstd", "lz4", "snappy"}
    assert all(v > 0 for v in rates.values())

    from etl_everywhere_hub_spark.multimodal import snappy

    monkeypatch.setattr(snappy, "snappy_decompress_raw", lambda b: b"not the payload")
    with pytest.raises(RuntimeError, match="snappy"):
        decode_probe(seed=3, size=1 << 12)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_prints_every_metric_with_its_unit(workload):
    for trace_on, kind in ((0, "end_to_end"), (1, "per_layer")):
        info, res = run_bench(workload, trace_on)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        assert info["fail_ratio"] == 0.0
        want = {m["name"]: m["unit"] for m in SPEC[kind]}
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want
        assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
        if trace_on:
            check_trace_accounts_for_passes(workload, res)


def check_trace_accounts_for_passes(workload: str, res: dict) -> None:
    with open(os.path.join(BENCH, ".results", f"{workload}-seed1-trace.json")) as fh:
        out = json.load(fh)
    overhead = abs(res["metrics"]["trace.overhead_s"]["value"])
    assert out["passes"]
    for p in out["passes"]:
        assert abs(p["self.sum_s"] - p["pass_s"]) <= max(overhead, 1e-6)
    spans = {s["id"]: s for s in out["spans"]}
    for s in out["spans"]:
        if s["parent"] is not None:
            parent = spans[s["parent"]]
            assert parent["start"] <= s["start"] <= s["end"] <= parent["end"] + 1e-9


def test_smoke_corrupted_answer_raises_fail_ratio():
    wl = "relational"
    run_bench(wl, 0)  # make sure the cache exists
    path = os.path.join(BENCH, ".cache", f"sf{float(SMOKE_SF):g}", "oracle.json")
    backup = path + ".bak"
    shutil.copy(path, backup)
    try:
        answers = json.load(open(path))
        victim = WORKLOADS[wl].queries[0]
        answers[victim]["rows"] = answers[victim]["rows"][1:]
        json.dump(answers, open(path, "w"))
        info, res = run_bench(wl, 0)
        assert not res["correct"] and res["failed"] >= 1
        assert info["fail_ratio"] > 0
        assert any(f.startswith(victim + "_") for f in info["failures"])
    finally:
        os.replace(backup, path)
