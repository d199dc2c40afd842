"""Smoke test: every workload at tiny sizes, untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Asserts the result line's shape, that every metric BENCHMARK.json names
prints with its unit, that every end-to-end figure of the workload
prints by name and unit on the detail line, and that the output checks
pass.
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

# the end-to-end figures each workload reports on its detail line
CRAWL = {"wall_s": "s", "frontier_urls_per_s": "1/s", "pages_per_s": "1/s",
         "generation_s_p50": "s"}
DETAIL = {
    "frontier_mega": CRAWL,
    "crawl_deep": CRAWL,
    "crawl_resume": {**CRAWL, "resume_s": "s"},
    "curate": {"wall_s": "s", "curate_rows_per_s": "1/s"},
}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    detail = json.loads(lines[-2])["detail"]
    assert detail["problems"] == []
    return json.loads(lines[-1]), detail


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["frontier_mega", "crawl_resume", "curate", "crawl_deep"])
def test_workload_prints_every_metric(workload, trace):
    res, detail = run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["attempted"] >= 1 and res["failed"] == 0
    specs = BENCH["per_layer" if trace else "end_to_end"]
    if trace or workload in {w["name"] for w in BENCH["workloads"]}:
        assert set(res["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        if m["name"] in res["metrics"]:
            got = res["metrics"][m["name"]]
            assert got["unit"] == m["unit"], m["name"]
            assert isinstance(got["value"], (int, float)), m["name"]
    for name, unit in {**DETAIL[workload], "error_rate": "ratio", "peak_rss_mb": "MB"}.items():
        assert detail["metrics"][name]["unit"] == unit, name
    assert detail["metrics"]["error_rate"]["value"] == 0


def test_refuses_to_run_without_the_package(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        src = os.path.join(ROOT, "perfbench", name)
        if os.path.isfile(src):
            (tmp_path / "perfbench" / name).write_bytes(open(src, "rb").read())
    (tmp_path / "BENCHMARK.json").write_bytes(
        open(os.path.join(ROOT, "BENCHMARK.json"), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "frontier_mega", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
