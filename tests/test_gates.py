"""tools/gates.py: a failed run-end metrics commit or a gate that is not EQ
fails the run, and the result says why; unknown gate names exit 2 before
any Spark session starts."""

import json
import os
import runpy
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATES_PY = os.path.join(REPO, "tools", "gates.py")

# two harness runs in one process (one JVM start):
# 1. every metrics write fails with "disk full"; the gates are EQ
# 2. the writes work; one gate is forced to MISMATCH; two sweeps
_RUN = """
import json, runpy, sys
from osmquadtree_spark import metrics
from osmquadtree_spark import queries as Q

main = runpy.run_path("tools/gates.py")["main"]
sf, out1, out2 = sys.argv[1:]


@Q.gate("metric_probe", oracle=lambda: "SELECT 0::BIGINT AS id")
def _probe(spark, sf_dir):  # EQ, and leaves a metric for the run-end commit
    metrics.record("/m", "probe", "rows", 1)
    return spark.range(1)


@Q.gate("forced_mismatch", oracle=lambda: "SELECT 1::BIGINT AS id")
def _mismatch(spark, sf_dir):
    return spark.range(1)


def disk_full(table, path):
    raise OSError("disk full")


real, metrics.atomic_export_local = metrics.atomic_export_local, disk_full
base = ["--check", "--sf", sf, "--cpus", "2"]
rc1 = main(base + ["--queries", "tpch_q1", "metric_probe", "--json-out", out1])
metrics.atomic_export_local = real
rc2 = main(base + ["--queries", "tpch_q1", "forced_mismatch", "--repeats", "2",
                   "--json-out", out2])
print(json.dumps([rc1, rc2]))
"""


def test_failed_commit_and_mismatch_fail_the_run(tmp_path, sf_dir):
    out1, out2 = tmp_path / "commit.json", tmp_path / "mismatch.json"
    r = subprocess.run(
        [sys.executable, "-c", _RUN, sf_dir, str(out1), str(out2)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    rc1, rc2 = json.loads(r.stdout.splitlines()[-1])

    # a failed metrics commit fails the run, and the result names the base
    assert rc1 == 1
    assert "disk full" in r.stderr
    artifact = json.loads(out1.read_text())
    assert artifact["failures"] == []  # the gates themselves were EQ
    assert artifact["metrics_errors"] == {"/m": "OSError: disk full"}
    # the qts store is built before the timed gates, its cost reported apart
    assert "store_build_sec" in artifact

    # a gate that is not EQ fails the run and is the only failure
    assert rc2 == 1
    artifact = json.loads(out2.read_text())
    assert artifact["failures"] == ["forced_mismatch"]
    assert artifact["metrics_errors"] == {}
    assert artifact["results"]["forced_mismatch"]["status"] == "MISMATCH"
    # --repeats 2 records two attempts per gate, each split in two
    for res in artifact["results"].values():
        assert len(res["attempts"]) == len(res["construct"]) == len(res["exec"]) == 2
        assert res["best"] == min(res["attempts"])
    assert len(artifact["metrics_commit"]) == 2


def test_unknown_gate_exits_2_before_any_session(monkeypatch, capsys):
    from osmquadtree_spark import session

    def no_session(*a, **k):
        raise AssertionError("a session was started")

    monkeypatch.setattr(session, "build", no_session)
    main = runpy.run_path(GATES_PY)["main"]
    assert main(["--queries", "tpch_q1", "no_such_gate"]) == 2
    assert "no_such_gate" in capsys.readouterr().err
