import hashlib
import shutil
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

FIXTURE_PARQUET = REPO / "data" / "fixture_events.parquet"


def _data_hashes() -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted((REPO / "data").glob("*.parquet"))}


@pytest.fixture(scope="session", autouse=True)
def data_dir_is_read_only():
    """The committed tables under data/ are inputs, never outputs: fail
    the session if any test created, removed or rewrote one."""
    before = _data_hashes()
    yield
    after = _data_hashes()
    changed = sorted(k for k in before.keys() | after.keys()
                     if before.get(k) != after.get(k))
    if changed:
        pytest.fail(f"tests modified data/: {changed}", pytrace=False)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("binlogpipe-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_parquet():
    """The committed 166-event input table (read-only; its provenance
    against the reference .bin files is test_fixture_sync's job)."""
    return str(FIXTURE_PARQUET)


@pytest.fixture(scope="session")
def fixture_bins(tmp_path_factory):
    """Directory of per-case `<case>/log.bin` raw binlog files rebuilt
    from the committed table (magic + the case's events in order)."""
    from tools import fixture_gen

    d = tmp_path_factory.mktemp("events")
    fixture_gen.write_fixture_bins(d)
    return d


@pytest.fixture(scope="session")
def pipeline_out(spark, fixture_parquet, tmp_path_factory):
    """One full pipeline run shared by all golden tests."""
    from binlogpipe.job import run_pipeline

    out = tmp_path_factory.mktemp("pipe") / "out"
    shutil.rmtree(out, ignore_errors=True)
    metrics = run_pipeline(spark, fixture_parquet, str(out), run_id="test")
    return {"out": str(out), "metrics": metrics}


def sink_df(spark, pipeline_out, sink):
    return spark.read.parquet(f"{pipeline_out['out']}/sinks/{sink}")
