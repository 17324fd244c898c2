"""Pin the session factory's measured-in defaults.

zstd shuffle codec, committer v2, and conservative speculation were each
adopted on interleaved A/B evidence (BENCH/BASELINE.md round-5 appendix)
and speculation doubles as the rescue for a measured JVM<->Python socket
deadlock — losing any of them in a refactor would be a silent perf or
robustness regression no functional test notices. Runs in a SUBPROCESS:
inside pytest the shared SparkContext already exists, and getOrCreate
would hand back the fixture's session with the factory's confs ignored.

The same probe pins what the local-master Python daemon
(binlogpipe.pydaemon) buys inside a real pandas-UDF task: pyspark imported
from the installed package, no zipimporter left to re-read on the per-task
importlib.invalidate_caches(); and what the generated-class cache size
buys: the fixture pipeline run twice in the session compiles nothing the
second time.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from binlogpipe.pydaemon import trimmed_path
from binlogpipe.session import local_python_daemon

REPO = Path(__file__).resolve().parent.parent

PROBE = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from binlogpipe.session import build_spark
s = build_spark(app="conf-pin", cores=2)
c = s.sparkContext.getConf()
print(json.dumps({
    "codec": c.get("spark.io.compression.codec", None),
    "committer": c.get(
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        None),
    "speculation": c.get("spark.speculation", None),
    "spec_mult": c.get("spark.speculation.multiplier", None),
    "spec_quant": c.get("spark.speculation.quantile", None),
    "udf_batch": c.get(
        "spark.sql.execution.python.udf.maxRecordsPerBatch", None),
    "master": c.get("spark.master", None),
    "override": s.conf.get("spark.sql.shuffle.partitions"),
    "daemon": c.get("spark.python.daemon.module", None),
    "codegen_cache": c.get("spark.sql.codegen.cache.maxEntries", None),
}))

import pandas as pd
from pyspark.sql.functions import pandas_udf

@pandas_udf("string")
def worker(x: pd.Series) -> pd.Series:
    import importlib, sys, time, zipimport
    import pyspark
    t = time.thread_time()
    importlib.invalidate_caches()
    ms = (time.thread_time() - t) * 1e3
    return x.map(lambda _: json.dumps({
        "invalidate_ms": ms,
        "zipimporters": sum(isinstance(v, zipimport.zipimporter)
                            for v in sys.path_importer_cache.values()),
        "pyspark_file": pyspark.__file__,
        "pyspark_version": pyspark.__version__}))

w = s.range(1, numPartitions=1).select(worker("id")).first()[0]
print(json.dumps(dict(json.loads(w), spark_version=s.version)))

from binlogpipe.job import run_pipeline
print(json.dumps([
    run_pipeline(s, sys.argv[2], f"{sys.argv[3]}/run{i}").get(
        "codegen_compiles") for i in (1, 2)]))
s.stop()
"""


@pytest.fixture(scope="module")
def probe(fixture_parquet, tmp_path_factory) -> tuple[dict, dict, list]:
    """(session conf, worker report, codegen compiles of two fixture
    pipeline runs into fresh out dirs) from one build_spark(cores=2)
    session."""
    out = tmp_path_factory.mktemp("probe")
    p = subprocess.run([sys.executable, "-c", PROBE, str(REPO),
                        fixture_parquet, str(out)],
                       capture_output=True, text=True, timeout=600,
                       cwd=REPO)
    assert p.returncode == 0, p.stderr[-2000:]
    return tuple(map(json.loads, p.stdout.strip().splitlines()[-3:]))


def test_session_defaults_pinned(probe):
    conf, _, _ = probe
    assert conf["codec"] == "zstd"
    assert conf["committer"] == "2"
    assert conf["speculation"] == "true"
    assert conf["spec_mult"] == "4"
    assert conf["spec_quant"] == "0.9"
    assert conf["udf_batch"] == "20000"  # Spark 4 defaults this to 100
    assert conf["master"] == "local[2]"  # explicit cores pins local[N]
    # build_spark picked the local master, so it picks the daemon too
    assert conf["daemon"] == "binlogpipe.pydaemon"
    assert conf["codegen_cache"] == "1000"  # Spark's default is 100


DEFAULT_CORES = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from binlogpipe.session import build_spark
s = build_spark(app="default-cores")
print(json.dumps({"master": s.sparkContext.master,
                  "shuffle": s.conf.get("spark.sql.shuffle.partitions"),
                  "cpus": len(os.sched_getaffinity(0))}))
s.stop()
"""


def test_default_cores_follow_cpu_affinity():
    """With no `cores` argument, no SPARK_GRAFT_CPUS and no submitted
    master, the local master runs one task slot per CPU this process may
    use, not a fixed count that oversubscribes a small host."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "PYSPARK_GATEWAY_PORT")}
    p = subprocess.run([sys.executable, "-c", DEFAULT_CORES, str(REPO)],
                       capture_output=True, text=True, timeout=300,
                       cwd=REPO, env=env)
    assert p.returncode == 0, p.stderr[-2000:]
    got = json.loads(p.stdout.strip().splitlines()[-1])
    assert got["master"] == f"local[{got['cpus']}]"
    assert got["shuffle"] == str(max(2 * got["cpus"], 32))


def test_worker_imports_installed_pyspark(probe):
    """Inside a pandas-UDF task: the per-task invalidate_caches() is cheap
    (it was 170-210 ms CPU with Spark's archives on the path), no
    zipimporter is cached, and pyspark comes from a directory at the
    JVM's version."""
    _, w, _ = probe
    assert w["invalidate_ms"] < 5
    assert w["zipimporters"] == 0
    assert not any(part.endswith((".zip", ".jar"))
                   for part in Path(w["pyspark_file"]).parts)
    assert w["pyspark_version"] == w["spark_version"]


def test_second_run_compiles_no_class(probe):
    """The generated-class cache holds every class one pipeline run
    makes: the first run in the JVM compiles them, a second run of the
    same plans into a fresh out dir compiles none (at Spark's default
    of 100 entries the run's sources evict each other and every run
    recompiles)."""
    _, _, (first, second) = probe
    assert first > 0
    assert second == 0


def _zip(path: Path, files: dict[str, str]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _site(root: Path, version: str, py4j: bool = True) -> str:
    (root / "pyspark").mkdir(parents=True)
    (root / "pyspark" / "__init__.py").write_text("")
    (root / "pyspark" / "version.py").write_text(
        f"__version__ = {version!r}\n")
    if py4j:
        (root / "py4j").mkdir()
        (root / "py4j" / "__init__.py").write_text("")
    return str(root)


def test_trimmed_path_version_guard(tmp_path):
    """Spark's archives leave the path only for an installed pyspark of
    the zip's exact version.py plus an installed py4j; no other zip ever
    leaves it."""
    spark = tmp_path / "spark"
    archives = [
        _zip(spark / "python/lib/pyspark.zip",
             {"pyspark/__init__.py": "",
              "pyspark/version.py": "__version__ = '4.1.2'\n"}),
        _zip(spark / "python/lib/py4j-0.10.9.9-src.zip",
             {"py4j/__init__.py": ""}),
        _zip(spark / "jars/spark-core_2.13-4.1.2.jar",
             {"META-INF/MANIFEST.MF": ""}),
    ]
    others = [
        str(tmp_path / "cwd"),
        _zip(tmp_path / "userFiles/binlogpipe.zip",  # a --py-files zip
             {"binlogpipe/__init__.py": ""}),
        str(tmp_path / "lib/python311.zip"),  # absent, as is usual
    ]

    def path(site: str) -> list[str]:
        return [others[0], others[1], *archives, others[2], site]

    same = _site(tmp_path / "same", "4.1.2")
    assert trimmed_path(path(same)) == [*others, same]
    for site in (_site(tmp_path / "older", "4.0.1"),
                 _site(tmp_path / "no_py4j", "4.1.2", py4j=False)):
        assert trimmed_path(path(site)) == path(site)
    # nothing installed past the archives: pyspark would not import
    empty = str(tmp_path / "empty")
    assert trimmed_path(path(empty)) == path(empty)


class _Builder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def config(self, key: str, value: str) -> "_Builder":
        self.conf[key] = value
        return self


def test_daemon_only_where_workers_import_it(tmp_path, monkeypatch):
    """The daemon starts as `python -m binlogpipe.pydaemon` in the driver's
    cwd with its PYTHONPATH; a session started where that import fails
    keeps the default daemon instead of failing every Python task."""
    key = "spark.python.daemon.module"
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(REPO)
    assert local_python_daemon(_Builder()).conf == {
        key: "binlogpipe.pydaemon"}
    monkeypatch.chdir(tmp_path)
    assert local_python_daemon(_Builder()).conf == {}
    monkeypatch.setenv("PYTHONPATH", str(REPO))
    assert key in local_python_daemon(_Builder()).conf
