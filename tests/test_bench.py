"""Pin bench.py's stdout contract: one JSON line whose keys and numbers
the driver reads, plus the sidecar's raw passes behind each reported row."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

from tests.conftest import REPO, SF_DIR
from ut_data_engineering_group_project_2022_spark.plans import all_queries

STDOUT_KEYS = {
    "metric", "value", "unit", "queries", "cold_total", "star_load_seconds",
    "noise_probe_seconds", "job_latency_ms_start", "r1_suite_total", "sf",
}


def test_bench_stdout_contract(tmp_path):
    # Run a copy so the sidecar lands in tmp_path, never over the repo's.
    shutil.copy(REPO / "bench.py", tmp_path / "bench.py")
    env = dict(
        os.environ,
        PYTHONPATH=str(REPO),
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SPARK_GRAFT_QUIET_WAIT_S="0",
    )
    proc = subprocess.run(
        [sys.executable, str(tmp_path / "bench.py")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    lines = proc.stdout.strip().splitlines()
    assert len(lines) == 1, proc.stdout
    payload = json.loads(lines[0])
    assert set(payload) == STDOUT_KEYS
    assert payload["metric"] == "headline_suite_wall_seconds"
    assert payload["unit"] == "sec"
    assert payload["sf"] == float(Path(SF_DIR).name.removeprefix("sf"))
    queries = payload["queries"]
    assert set(queries) == {n for n, s in all_queries().items() if s.bench}
    assert payload["value"] == round(sum(queries.values()), 3)

    detail = json.loads((tmp_path / "BENCH_local.json").read_text())
    runs = detail.pop("queries_runs")
    assert detail == payload
    assert set(runs) == set(queries)
    for name, r in runs.items():
        assert len(r) == (3 if max(r[:2]) > 1.4 * min(r[:2]) else 2), (name, r)
        assert queries[name] == (min(r) if len(r) == 2 else statistics.median(r)), (name, r)
    assert payload["cold_total"] == round(sum(r[0] for r in runs.values()), 3)
