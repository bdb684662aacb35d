"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q

The end-to-end test runs every workload once, traced, at sf0.001 (a few
minutes in all); the rest need no Spark.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import host
import layers
import run
import spans
import workloads

PERFBENCH = Path(__file__).resolve().parents[1]
ROOT = PERFBENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _result(cpus: int, sf: str, wall: float) -> dict:
    return {
        "host": {"cpus": cpus, "sf": sf},
        "end_to_end": {"wall_s": {"value": wall, "unit": "s", "samples": 1}},
    }


def test_host_mismatch_is_refused(tmp_path):
    base, same, other_cpus, other_sf = (
        _result(4, "0.01", 10.0), _result(4, "0.01", 11.0), _result(32, "0.01", 5.0), _result(4, "0.1", 90.0)
    )
    assert "+10.0%" in host.compare(base, same)[0]
    for other in (other_cpus, other_sf):
        with pytest.raises(host.HostMismatch):
            host.compare(base, other)
    paths = []
    for i, r in enumerate((base, other_cpus)):
        paths.append(tmp_path / f"r{i}.json")
        paths[-1].write_text(json.dumps(r))
    assert host.main(["compare", str(paths[0]), str(paths[1])]) == 2
    assert host.main(["compare", str(paths[0]), str(paths[0])]) == 0


def test_parse_metric_reads_status_store_strings():
    assert layers.parse_metric("18,095") == 18095
    assert layers.parse_metric("464.0 B") == 464
    assert layers.parse_metric("1.5 KiB") == 1536
    assert layers.parse_metric("462 ms") == 462
    assert layers.parse_metric("1.4 s") == 1400
    multi = "total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 3.0: task 7))"
    assert layers.parse_metric(multi) == 2 * 1024 * 1024


def test_tracer_nests_clamps_and_counts_self_time():
    tr = spans.Tracer()
    top = tr.add("pass", "pass", 0.0, 10.0)
    op = tr.add("op", "op", 1.0, 9.0, top)
    ex = tr.add("execute", "execute", 2.0, 9.0, op)
    # inside; overhanging by less than the tolerance (clamped); outside
    assert tr.add_inside("q1", "sql", 3.0, 4.0, [ex]) is not None
    clamped = tr.add_inside("q2", "sql", 8.0, 9.0 + spans.CLAMP_TOLERANCE_S / 2, [ex])
    assert clamped is not None and clamped.end == 9.0 and tr.clamped == 1
    assert tr.add_inside("q3", "sql", 9.5, 9.8, [ex]) is None and tr.unattached == 1
    assert tr.misnested() == []
    selfs = tr.self_times()
    assert selfs["pass"] == pytest.approx(2.0)
    assert selfs["op"] == pytest.approx(1.0)
    assert selfs["execute"] == pytest.approx(5.0)
    assert selfs["sql"] == pytest.approx(2.0)
    tr.add("bad", "sql", 0.5, 1.5, ex)
    assert [s.name for s in tr.misnested()] == ["bad"]


def test_benchmark_json_names_what_the_code_prints():
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in SPEC["workloads"]} <= set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert {m["name"] for m in SPEC["end_to_end"]} == set(run.END_TO_END)


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    command exits non-zero without printing a result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(PERFBENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                           "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_short_traced_run(workload, tmp_path):
    """One short sf0.001 run prints every metric BENCHMARK.json names with
    its unit, verifies its outputs, and writes spans that nest."""
    proc = subprocess.run(
        [sys.executable, str(PERFBENCH / "run.py"), "--workload", workload, "--seed", "3", "--seconds", "0",
         "--trace", "1", "--sf", "0.001", "--out", str(tmp_path)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    for m in SPEC["per_layer"]:
        assert last["metrics"][m["name"]]["unit"] == m["unit"]
    for m in SPEC["end_to_end"]:
        assert any(line.split()[1:2] == [m["name"]] and f" {m['unit']} " in line for line in lines), m
    (result_file,) = [p for p in tmp_path.glob("*.json") if not p.name.endswith("-spans.json")]
    result = json.loads(result_file.read_text())
    assert result["host"]["cpus"] == host.cpus() and result["host"]["sf"] == "0.001"
    assert result["fail_share"] == 0
    assert result["per_layer"]["trace.evicted_executions"] == 0
    assert result["per_layer"]["trace.spans"] > 0
    trace = json.loads((tmp_path / result["spans_file"]).read_text())
    by_id = {s["id"]: s for s in trace}
    assert len({s["run_id"] for s in trace}) == 1
    for s in trace:
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (s, p)
    kinds = {s["kind"] for s in trace}
    assert {"pass", "op", "plan", "execute", "sql"} <= kinds
    if workload == "ingest":
        assert {"micro_batch", "dag_stage"} <= kinds
