"""tools/driver_sweep.py fails the sweep, and says why in its artifact,
when the run-end metrics commit fails."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUN = """
import runpy, sys
from osmquadtree_spark import metrics
metrics.commit_pending = lambda run_id=None: {
    "bases": 1, "base_paths": ["/m"], "run_id": "r0", "sec": 0.0,
    "errors": {"/m": "OSError: disk full"}, "rows": {"/m": []},
}
sys.argv = ["driver_sweep.py"] + sys.argv[1:]
runpy.run_path("tools/driver_sweep.py", run_name="__main__")
"""


def test_failed_metrics_commit_fails_the_sweep(tmp_path, sf_dir):
    out = tmp_path / "sweep.json"
    r = subprocess.run(
        [sys.executable, "-c", _RUN, "--sf", sf_dir, "--cpus", "2",
         "--queries", "tpch_q1", "--json-out", str(out)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 1, r.stdout[-2000:] + r.stderr[-2000:]
    assert "disk full" in r.stderr
    artifact = json.loads(out.read_text())
    assert artifact["failures"] == []  # the gate itself was EQ
    assert artifact["metrics_errors"] == {"/m": "OSError: disk full"}
    # the qts store is built before the timed gates, its cost reported apart
    assert "store_build_sec" in artifact
