"""Tests for the benchmark's own code.

    python3 -m pytest perfbench -q

The end-to-end tests start Spark once per workload and mode (about a
minute each).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import re

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import gen  # noqa: E402
import workloads  # noqa: E402
from workloads import _batches_of_files, percentile, tail_quantile  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _md5(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.md5(fh.read()).hexdigest()


def test_same_seed_writes_identical_bytes(tmp_path):
    for d in ("a", "b"):
        ev = gen.make_events(42, 5000)
        gen.write_events_parquet(ev, str(tmp_path / d))
        os.makedirs(tmp_path / d / "chunks")
        gen.write_chunk(gen.canon_table(ev, 0, 100), str(tmp_path / d / "chunks"), "c.parquet")
    for f in ("events.parquet", "chunks/c.parquet"):
        assert _md5(str(tmp_path / "a" / f)) == _md5(str(tmp_path / "b" / f))
    other = tmp_path / "c"
    gen.write_events_parquet(gen.make_events(43, 5000), str(other))
    assert _md5(str(other / "events.parquet")) != _md5(str(tmp_path / "a" / "events.parquet"))


def test_generated_events_have_the_properties_the_workloads_need():
    ev = gen.make_events(1, 20000)
    d = gen.describe_events(ev)
    assert d["events"] == 20000
    assert set(ev["event_type"]) == {"view", "click", "purchase"}
    assert d["events_per_session"] > 3  # multi-event sessions
    assert d["gaps_1500_1800s"] > 0 and d["gaps_1801_1900s"] > 0  # both sides of the gap
    assert 0 < d["out_of_order_events"] < 0.05 * d["events"]
    assert d["top1pct_item_share"] > 0.3  # Zipf, not uniform
    late = ev["ts_us"][:-1] - ev["ts_us"][1:]
    assert late.max() < 120 * gen.US  # well inside the 1 h stream watermark


def test_chunks_use_microsecond_utc_timestamps(tmp_path):
    t = gen.canon_table(gen.make_events(3, 50))
    assert str(t.schema.field("event_time").type) == "timestamp[us, tz=UTC]"
    gen.write_chunk(t, str(tmp_path), "x.parquet")
    assert sorted(os.listdir(tmp_path)) == ["x.parquet"]  # no temp file left


def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))
    assert percentile(vals, 0.5) == 50
    assert percentile(vals, 0.9) == 90
    assert percentile([7.0], 0.9) == 7.0


def test_tail_quantile_leaves_ten_samples_above_it():
    assert tail_quantile(150) == 0.9
    assert tail_quantile(40) == 0.75
    vals = list(range(40))
    assert sum(v > percentile(vals, tail_quantile(40)) for v in vals) == 10
    assert tail_quantile(3) == 0.5  # too few samples: the median


def test_batches_of_files_reads_the_source_log(tmp_path):
    src = tmp_path / "sources" / "0"
    os.makedirs(src)
    (src / "0").write_text('v1\n{"path":"file:///x/chunk_00000.parquet","timestamp":1,"batchId":0}\n')
    (src / "1").write_text(
        'v1\n{"path":"file:///x/chunk_00001.parquet","timestamp":2,"batchId":1}\n'
        '{"path":"file:///x/chunk_00002.parquet","timestamp":3,"batchId":1}\n'
    )
    assert _batches_of_files(str(tmp_path)) == {
        "chunk_00000.parquet": 0, "chunk_00001.parquet": 1, "chunk_00002.parquet": 1,
    }


def test_benchmark_json_is_well_formed():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"] and b["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in b["workloads"]} == set(workloads.WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    metrics = b["end_to_end"] + b["per_layer"]
    names = [m["name"] for m in metrics + b["workloads"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) and m["better"] in ("lower", "higher") for m in metrics)
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_run_prints_every_metric_and_passes_its_checks(workload, trace):
    proc = _run(REPO, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    b = _bench()
    names = {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == names
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "replay_backlog", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
