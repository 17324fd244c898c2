"""spark-submit --py-files launch contract (the north-rule run form).

Runs the REAL spark-submit binary with the packaged zip and the
submit.py launcher, from a scratch cwd where `import binlogpipe` can
only resolve from the --py-files zip — so the test fails if the
packaging misses a module, the launcher breaks relative imports, or
build_spark tramples the spark-submit-provided master."""
from __future__ import annotations

import json
import os
import shutil
import subprocess
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(not Path(SPARK_SUBMIT).exists(),
                    reason="spark-submit binary not available")
def test_spark_submit_pyfiles_full_dag(tmp_path):
    from tools.package_pyfiles import build

    zip_path = build(tmp_path / "binlogpipe.zip")
    out = tmp_path / "out"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # the submitted master (local[3]) is DELIBERATELY distinct from the
    # SPARK_GRAFT_CPUS-derived default (local[4]): round 5 submitted the
    # exact master build_spark would force anyway, so the test passed
    # while build_spark was in fact trampling every submitted master (a
    # fresh driver's SparkConf() is empty pre-gateway) — the assert on
    # metrics["master"] below is the regression detector
    env["SPARK_GRAFT_CPUS"] = "4"
    p = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[3]",
         "--py-files", str(zip_path),
         str(REPO / "submit.py"),
         "--input", str(REPO / "data" / "fixture_events.parquet"),
         "--out", str(out), "--run-id", "submit_smoke", "--no-resume"],
        capture_output=True, text=True, timeout=600,
        cwd=tmp_path, env=env)  # cwd OUTSIDE the repo: the zip must carry
    # the whole package, or the import fails here instead of on a cluster
    assert p.returncode == 0, p.stderr[-4000:]
    # job.main prints the metrics JSON on its last stdout line
    metrics = json.loads(p.stdout.strip().splitlines()[-1])
    assert metrics["master"] == "local[3]"
    # the workers cannot import binlogpipe.pydaemon before --py-files
    # reach them: a submitted master keeps the default Python daemon
    assert metrics["daemon_module"] is None
    assert metrics["rows"] == 166
    assert metrics["stages"]["route"]["rows"] == 166
    sinks = sorted(d.name for d in (out / "sinks").iterdir())
    assert len(sinks) == 18 and "QUERY" in sinks and "GTID" in sinks
