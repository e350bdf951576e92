"""The benchmark's own tests, at a tiny input scale.

Each case runs ``perfbench/run.py`` as a subprocess from the repository
root (one Spark session per run, ~30 s each).  Run with::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SCALE = "0.05"
WORKLOADS = ("points_join", "image_pairs")
PRINTED = {
    "points_join": ("distance_join_s", "knn_join_s", "pip_join_s", "kde_s",
                    "kde.cells_out_per_input"),
    "image_pairs": ("tile_images_s", "phash_pairs_s", "cosine_pairs_s",
                    "tiling.tiles_per_image", "tiling.output_mb"),
}
TRACED_PRINTED = {
    "points_join": ("knn.shuffle_bytes_per_input_byte", "distance_join.task_skew",
                    "knn_join.core_busy_frac", "kde.exec_cpu_s"),
    "image_pairs": ("imagedup.shuffle_records_per_pair",
                    "similarity.shuffle_bytes_per_input_byte",
                    "similarity.shuffle_records_per_pair", "cosine_pairs.shuffle_write_mb"),
}


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


_RUNS: dict = {}


def run_bench(tmp_path_factory, workload: str, seed: int, trace: int) -> dict:
    key = (workload, seed, trace)
    if key not in _RUNS:
        report = tmp_path_factory.mktemp("report") / "report.json"
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
             "--seconds", "1", "--trace", str(trace), "--scale", SCALE,
             "--report", str(report)],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
        lines = p.stdout.strip().splitlines()
        with open(report) as fh:
            _RUNS[key] = {"result": json.loads(lines[-1]), "stdout": p.stdout,
                          "report": json.load(fh)}
    return _RUNS[key]


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted_with_its_unit(tmp_path_factory, workload, trace):
    spec = _spec()
    r = run_bench(tmp_path_factory, workload, 1, trace)
    res = r["result"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if not trace:  # end-to-end metrics are never 0
        assert all(v["value"] != 0 for v in res["metrics"].values())
    printed = PRINTED[workload] + (TRACED_PRINTED[workload] if trace else ())
    for name in printed + ("ops_failed_frac", "run_s", "rows_per_s", "run_cpu_s"):
        assert f"\n{name} = " in r["stdout"], name
    ctx = r["report"]["context"]
    for k in ("nproc", "cores", "shuffle_partitions", "seed", "git_commit",
              "loadavg_entry", "loadavg_exit"):
        assert k in ctx


def test_two_seeds_differ_in_inputs_not_in_metric_names(tmp_path_factory):
    a = run_bench(tmp_path_factory, "points_join", 1, 0)
    b = run_bench(tmp_path_factory, "points_join", 2, 0)
    assert set(a["result"]["metrics"]) == set(b["result"]["metrics"])
    assert a["report"]["output_digest"]["distance_join"] != b["report"]["output_digest"][
        "distance_join"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_and_untraced_outputs_are_identical(tmp_path_factory, workload):
    a = run_bench(tmp_path_factory, workload, 1, 0)
    b = run_bench(tmp_path_factory, workload, 1, 1)
    assert a["report"]["output_digest"] == b["report"]["output_digest"]


def test_fails_fast_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "points_join", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
