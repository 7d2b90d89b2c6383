"""Exact-count self-test: two short traced runs of each workload with the
same seed must agree exactly on the counts the benchmark relies on.

    python3 -m pytest perfbench/test_selftest.py -q

Takes about five minutes on 4 cores (four Spark processes, one at a time).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 4242


def traced_run(workload: str, tmp_path, tag: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "4", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, result
    src = os.path.join(HERE, "results", f"{workload}-seed{SEED}-trace1.json")
    dst = tmp_path / f"{workload}-{tag}.json"
    shutil.copy(src, dst)
    with open(dst) as f:
        return json.load(f)


def counts(run: dict) -> dict:
    """Per op index: the counts that must repeat exactly."""
    out = {}
    for op in run["ops"]:
        info = op.get("info") or {}
        # warm-up and timed ops share the index space; a probe is keyed by
        # its name, since the number of timed ops before it varies
        key = op["phase"] if op["phase"].startswith("probe") else op["i"]
        out[key] = {
            "phase": op["phase"],
            "jobs": op["stats"]["jobs"],
            "exec_mem_peak_mb": op["stats"]["peak_exec_mb"],
            "bytes_ratio": info.get("bytes_ratio"),
            "funnel": info.get("funnel"),
            "compiles": op["compiles"],
        }
    return out


@pytest.mark.parametrize("workload", ["lloyd-fixedcost", "table-merge"])
def test_counts_repeat_exactly(workload, tmp_path):
    a, b = (counts(traced_run(workload, tmp_path, t)) for t in ("a", "b"))
    # the timed window may fit a different number of ops: compare the
    # workload's ops both runs made, and every probe
    common = [k for k in a if k in b and isinstance(k, int)]
    assert len(common) >= 3
    for k in common:
        ca, cb = a[k], b[k]
        assert ca["jobs"] == cb["jobs"], k
        assert ca["exec_mem_peak_mb"] == cb["exec_mem_peak_mb"], k
        assert ca["bytes_ratio"] == cb["bytes_ratio"], k
        if workload == "lloyd-fixedcost":
            assert ca["compiles"] == cb["compiles"], k
    probes = [k for k in a if isinstance(k, str)]
    assert sorted(probes) == sorted(k for k in b if isinstance(k, str))
    for k in probes:
        for field in ("jobs", "funnel", "bytes_ratio", "exec_mem_peak_mb"):
            assert a[k][field] == b[k][field], (k, field)
    # corpus compiles vary with JIT and cache timing: shown, not pinned
    corpus = [r["probe:corpus"]["compiles"] for r in (a, b) if "probe:corpus" in r]
    print(f"corpus probe compiles: {corpus}")
