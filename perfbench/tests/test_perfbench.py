"""Self-tests for the benchmark harness.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The unit tests need no Spark. The smoke tests run each workload once
untraced and once traced, each in its own process, on the bundled
sf0.001 inputs (``--sf sf0.001``) with a one-second measure; they take
one to two minutes each.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import types
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH_DIR = HERE.parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))

import run as R  # noqa: E402
import tracing as T  # noqa: E402
import workloads as W  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
DESIGN = json.loads((BENCH_DIR / "design.json").read_text())


def test_benchmark_json_matches_the_harness():
    assert set(BENCH) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert [w["name"] for w in BENCH["workloads"]] == list(R.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == R.E2E_UNITS
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == R.LAYER_UNITS
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert all(m["better"] in ("lower", "higher") for m in BENCH["end_to_end"] + BENCH["per_layer"])


def test_design_maps_every_layer_metric():
    assert set(DESIGN["layer_map"]) == set(R.LAYER_UNITS)
    assert set(DESIGN["workloads"]) == set(R.WORKLOADS)
    moved = {e for m in DESIGN["layer_map"].values() for e in m["moves"]}
    assert moved <= set(R.E2E_UNITS)


def test_spans_nest_share_the_run_id_and_unwrap():
    name = f"{T.PKG}._perfbench_probe"
    mod = types.ModuleType(name)

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    mod.inner, mod.outer = inner, outer
    alias = types.ModuleType(f"{T.PKG}._perfbench_alias")
    alias.inner = inner  # a `from probe import inner` binding
    sys.modules[mod.__name__], sys.modules[alias.__name__] = mod, alias
    try:
        tracer = T.Tracer("run-x")
        tracer.patch_function(name, "inner", "probe.inner")
        tracer.patch_function(name, "outer", "probe.outer")
        assert alias.inner is not inner
        with tracer.span("pass"):
            assert mod.outer(1) == 4
            assert alias.inner(1) == 2
        tracer.uninstall()
        assert mod.inner is inner and mod.outer is outer and alias.inner is inner
        assert T.installed_wrappers() == []
    finally:
        del sys.modules[mod.__name__], sys.modules[alias.__name__]
    names = [s["name"] for s in tracer.spans]
    assert names == ["pass", "probe.outer", "probe.inner", "probe.inner"]
    assert {s["run_id"] for s in tracer.spans} == {"run-x"}
    by_id = {s["id"]: s for s in tracer.spans}
    assert [s["parent"] for s in tracer.spans] == [None, 0, 1, 0]
    for s in tracer.spans[1:]:
        p = by_id[s["parent"]]
        assert p["start"] <= s["start"] <= s["end"] <= p["end"]
    assert T.layer_seconds(tracer.spans, "probe.inner") > 0


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert R.tail_percentile(30) == 66.0
    assert R.tail_percentile(40) == 75.0
    assert R.tail_percentile(100) == 90.0
    assert R.tail_percentile(6) is None
    values = [float(i) for i in range(1, 41)]
    assert R.nearest_rank(values, 75.0) == 30.0
    assert sum(v > R.nearest_rank(values, 75.0) for v in values) == 10
    assert R.nearest_rank(values, None) == 40.0


def test_busy_seconds_merges_overlapping_jobs():
    jobs = [
        {"submit": 0.0, "end": 2.0},
        {"submit": 1.0, "end": 3.0},
        {"submit": 5.0, "end": 6.0},
        {"submit": 7.0, "end": None},
    ]
    assert T.busy_seconds(jobs) == 4.0


def test_bundled_inputs_match_the_repo_fingerprint(tmp_path):
    for sf in R.SCALES:
        assert R.verify_inputs(R.DATA, sf)["documents"]["rows"] == 500
    # a changed byte in one table is refused before anything is timed
    shutil.copytree(R.DATA / "sf0.001", tmp_path / "sf0.001")
    victim = tmp_path / "sf0.001" / "region.parquet"
    raw = bytearray(victim.read_bytes())
    raw[len(raw) // 2] ^= 0xFF
    victim.write_bytes(bytes(raw))
    with pytest.raises(RuntimeError, match="sf0.001/region"):
        R.verify_inputs(tmp_path, "sf0.001")


def _copy_bench(dst: Path) -> None:
    shutil.copy(ROOT / "BENCHMARK.json", dst / "BENCHMARK.json")
    shutil.copytree(
        BENCH_DIR, dst / BENCH_DIR.name,
        ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"),
    )


def test_fails_without_the_engine(tmp_path):
    _copy_bench(tmp_path)
    p = subprocess.run(
        BENCH["command"] + ["--workload", R.WORKLOADS[0], "--seed", "1",
                            "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _smoke(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        BENCH["command"] + ["--workload", workload, "--seed", "7",
                            "--seconds", "1", "--trace", str(trace), "--sf", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    return result, detail


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", R.WORKLOADS)
def test_smoke(workload, trace):
    result, detail = _smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], detail["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    metrics = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in metrics
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert detail["seed"] == 7 and detail["workload"] == workload
    assert detail["host"]["SPARK_GRAFT_CPUS"] == str(detail["host"]["nproc"])
    if not trace:
        assert detail["wrappers_installed"] == 0
        assert "spans" not in detail
        assert all(v["value"] > 0 for v in result["metrics"].values())
        return
    assert detail["wrappers_installed"] > 0
    spans = [
        json.loads(line)
        for line in (ROOT / detail["spans"]["path"]).read_text().splitlines()
    ]
    assert {s["run_id"] for s in spans} == {detail["run_id"]}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
    assert any(s["name"] == "pass" and s["traced"] for s in spans)
    assert any(s["parent"] is not None for s in spans)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    if workload == "lake_lifecycle":
        assert detail["corpus_rows"] == dict(zip(W.CORPUS_STAGES, W.CORPUS_ROWS["sf0.001"]))
        assert m["codec.avro_s"] > 0 and m["pipeline.stage_s.events_count"] > 0
    else:
        assert m["mv.refresh_s"] > 0 and m["search.query_ms"] > 0
