"""Smoke runs of the parametrized tools (README.md, "Tools"):
each runs in its own process against the current engine API, so an
API change breaks a test instead of a tool."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from .conftest import SF_DIR

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _run(tool: str, *args: str, cwd, env: dict[str, str] | None = None) -> str:
    p = subprocess.run(
        [sys.executable, os.path.join(TOOLS, tool), *args],
        cwd=cwd, env={**os.environ, **(env or {})},
        capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, f"{tool} failed:\n{p.stdout[-2000:]}\n{p.stderr[-4000:]}"
    return p.stdout


def test_replay_stream_cost_compacts_and_passes_its_checksum_gate(tmp_path):
    out = _run("replay_stream_cost.py", "--increments", "4", "--max-runs", "2", cwd=tmp_path)
    records = [json.loads(line) for line in out.splitlines() if line.startswith("{")]
    *batches, summary = records
    assert [b["batch"] for b in batches] == [0, 1, 2, 3, 4]  # snapshot + 4 increments
    assert all(b["run_bytes"] > 0 for b in batches)
    assert summary["compactions"] == sum(b["compacted"] for b in batches) >= 1
    assert summary["state_equals_compact"] is True
    # batch 4 is the second compaction, so the superseded slot is
    # dropped: one live base plus run 4.  This sub-MB state is one bucket
    assert 0 < summary["state_bytes"] < 1 << 20
    assert summary["base_buckets"] == 1
    # each increment's input is far below openCostInBytes: one-bucket runs
    assert summary["run_buckets"] == 1


def test_capture_plans_writes_pseudo_target_plans(tmp_path):
    sf_dir = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
    if not os.path.isdir(sf_dir):
        sf_dir = SF_DIR
    out_dir = tmp_path / "plans"
    targets = ("jvm_stream_compaction", "cdc_incremental_merge_4x")
    _run(
        "capture_plans.py", "smoke", *targets, cwd=tmp_path,
        env={"SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_GRAFT_PLANS_OUT": str(out_dir)},
    )
    for name in targets:
        plan = (out_dir / f"{name}_smoke.txt").read_text()
        assert "== Physical Plan ==" in plan
        assert "SortMergeJoin FullOuter" in plan, plan
