"""The benchmark's own smoke mode: every workload at tiny size, traced and
untraced, prints every declared metric with its unit, and every gate
fires on a corrupted result. Takes a few minutes (one Spark session per
workload and mode)."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

RUN = Path(__file__).resolve().parents[1] / "run.py"


@pytest.mark.slow
def test_smoke_mode_passes(tmp_path):
    # run from an unrelated working directory: the launcher must find the
    # package and make it importable for Spark's Python workers itself
    r = subprocess.run([sys.executable, str(RUN), "--smoke"], cwd=tmp_path,
                       capture_output=True, text=True, timeout=1500)
    assert r.returncode == 0, r.stderr[-4000:]
    spec = json.loads((RUN.parents[1] / "BENCHMARK.json").read_text())
    assert r.stdout.count("smoke ") == 2 * len(spec["workloads"])


def test_refuses_to_run_without_the_package(tmp_path):
    # only BENCHMARK.json and the benchmark's own files: a declared
    # workload must stop at the package check, without a result line
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in RUN.parent.glob("*.py"):
        (bench / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text((RUN.parents[1] / "BENCHMARK.json").read_text())
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve_mixed",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert r.returncode != 0
    assert r.stdout.strip() == ""
    assert "no mlx_vector_db_spark package" in r.stderr
