"""End-to-end pipeline gates (BASELINE.md §2 / BASELINE.json):
per-sink counts exact, routed-row token-array equality vs the fixtures,
quarantine behavior, lineage consistency, checkpoint/resume."""

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tools import fixture_gen

GOLDEN_COUNTS = {
    "QUERY": 38, "GTID": 32, "FORMAT_DESC": 16, "PREV_GTIDS": 16,
    "ROTATE": 15, "XID": 13, "TABLE_MAP": 9, "WRITE_ROWS_V2": 7,
    "ROWS_QUERY": 6, "ANON_GTID": 3, "USER_VAR": 3, "INTVAR": 2,
    "DELETE_ROWS_V2": 1, "UPDATE_ROWS_V2": 1, "RAND": 1, "STOP": 1,
    "BEGIN_LOAD_QUERY": 1, "EXEC_LOAD_QUERY": 1,
}


def test_per_sink_counts_exact(spark, pipeline_out):
    got = {
        r["sink"]: r["n"]
        for r in spark.read.parquet(f"{pipeline_out['out']}/agg/sink_counts").collect()
    }
    assert got == GOLDEN_COUNTS
    assert sum(got.values()) == 166


def test_routed_token_array_equality(spark, pipeline_out):
    """Routed rows must carry token content byte-identical to the fixture
    events (BASELINE.json 'token-array equality'), compared sorted by
    doc_id. The routed table packs tokens as binary (lossless); the check
    unpacks back to the contract array form."""
    from binlogpipe import parse

    expected = {
        doc_id: list(ev) for doc_id, _, ev in fixture_gen.load_fixture_events()
    }
    routed = (
        spark.read.parquet(f"{pipeline_out['out']}/routed")
        .select("doc_id",
                parse.unpack_tokens_udf()(F.col("tokens_bin")).alias("tokens"))
        .collect()
    )
    assert len(routed) == len(expected)
    for r in sorted(routed, key=lambda x: x["doc_id"]):
        assert list(r["tokens"]) == expected[r["doc_id"]], r["doc_id"]


def test_no_parse_errors_and_no_quarantine(spark, pipeline_out):
    routed = spark.read.parquet(f"{pipeline_out['out']}/routed")
    assert routed.filter(F.col("sink") == "QUARANTINE").count() == 0
    for sink_dir in sorted(Path(pipeline_out["out"], "sinks").iterdir()):
        df = spark.read.parquet(str(sink_dir))
        if "parse_error" in df.columns:
            bad = df.filter(F.col("parse_error").isNotNull()).count()
            assert bad == 0, f"{sink_dir.name}: {bad} parse errors"


def test_sink_schemas_are_typed(spark, pipeline_out):
    xid = spark.read.parquet(f"{pipeline_out['out']}/sinks/XID")
    assert dict(xid.dtypes)["xid"] == "bigint"
    q = spark.read.parquet(f"{pipeline_out['out']}/sinks/QUERY")
    for col in ("slave_proxy_id", "query", "schema", "statement_kind"):
        assert col in q.columns


def test_lineage(spark, pipeline_out):
    lin = spark.read.parquet(f"{pipeline_out['out']}/lineage")
    rows = [r.asDict() for r in lin.collect()]
    assert sum(r["rows_in"] for r in rows) == 166
    assert sum(r["rows_routed"] for r in rows) == 166
    for r in rows:
        if r["rows_in"]:
            assert r["first_doc_id"] is not None
            assert r["last_doc_id"] is not None
    assert len({r["partition_id"] for r in rows}) == len(rows)


def test_metrics_emitted(pipeline_out):
    m = json.loads(Path(pipeline_out["out"], "metrics.json").read_text())
    assert m["rows"] == 166
    assert set(m["stages"]) >= {"route", "enrich", "decode", "aggregate", "lineage"}
    assert m["stages"]["route"]["rows"] == 166


def test_decode_units_recorded(pipeline_out):
    """metrics record each decode unit's sinks, routed bytes and width:
    on the fixture every unit is one task, and the units cover exactly
    the present sinks."""
    units = pipeline_out["metrics"]["stages"]["decode"]["units"]
    assert all(u["width"] == 1 for u in units), units
    assert all(u["bytes"] > 0 for u in units), units
    sinks = [s for u in units for s in u["sinks"]]
    assert sorted(sinks) == sorted(GOLDEN_COUNTS)


def test_decode_width(spark):
    from binlogpipe import job

    par = spark.sparkContext.defaultParallelism
    assert job.decode_width(0, par) == 1
    assert job.decode_width(job.DECODE_TASK_BYTES, par) == 1
    assert job.decode_width(job.DECODE_TASK_BYTES + 1, par) == 2
    assert job.decode_width(10**15, par) == par


def test_full_width_decode_matches(spark, fixture_parquet, tmp_path,
                                   monkeypatch, pipeline_out):
    """With one byte per decode task every unit runs at full scan width;
    every sink's rows equal the one-task-per-unit run's."""
    from binlogpipe import job

    monkeypatch.setattr(job, "DECODE_TASK_BYTES", 1)
    out = tmp_path / "out"
    m = job.run_pipeline(spark, fixture_parquet, str(out), run_id="wide")
    par = spark.sparkContext.defaultParallelism
    assert all(u["width"] == par
               for u in m["stages"]["decode"]["units"])
    base = Path(pipeline_out["out"]) / "sinks"
    sinks = sorted(p.name for p in base.iterdir() if p.is_dir())
    assert sorted(p.name for p in (out / "sinks").iterdir()
                  if p.is_dir()) == sinks
    for sink in sinks:
        a = spark.read.parquet(str(base / sink))
        b = spark.read.parquet(str(out / "sinks" / sink)).select(*a.columns)
        assert sorted(map(repr, a.collect())) == \
            sorted(map(repr, b.collect())), sink


def test_iceberg_seam(spark, fixture_parquet, tmp_path):
    """The sink_format='iceberg' path is code, not a docstring: dispatch
    reaches writeTo(...).using('iceberg'), and without the runtime jars it
    fails with a catalog/classpath error — never a silent parquet
    fallback. With iceberg-spark-runtime on the classpath + a configured
    catalog the same call succeeds unchanged."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import CapturedException

    from binlogpipe import job

    df = spark.read.parquet(fixture_parquet)
    with pytest.raises(ValueError, match="unknown sink_format"):
        job.write_output(df, "bogus", str(tmp_path / "x"))
    with pytest.raises(ValueError, match="table identifier"):
        job.write_output(df, "iceberg", str(tmp_path / "x"))
    has_iceberg = "iceberg" in spark.conf.get(
        "spark.sql.extensions", "").lower()
    if not has_iceberg:
        with pytest.raises((Py4JJavaError, CapturedException)):
            job.write_output(df, "iceberg", str(tmp_path / "x"),
                             table="local.binlog.routed_test")
    else:  # pragma: no cover - real-cluster path
        job.write_output(df, "iceberg", str(tmp_path / "x"),
                         table="local.binlog.routed_test")
        assert spark.table("local.binlog.routed_test").count() == df.count()


def test_checkpoint_resume(spark, fixture_parquet, tmp_path):
    """A second invocation with the same run_id skips completed stages."""
    from binlogpipe.job import run_pipeline

    out = tmp_path / "resume_out"
    m1 = run_pipeline(spark, fixture_parquet, str(out), run_id="r1")
    state = json.loads((out / "_checkpoint" / "state.json").read_text())
    assert set(state["stages"]) >= {"route", "enrich", "decode", "aggregate"}
    m2 = run_pipeline(spark, fixture_parquet, str(out), run_id="r1")
    # resumed run does no stage work
    assert m2["stages"] == {}
    # and the outputs are still there
    assert spark.read.parquet(str(out / "agg" / "sink_counts")).count() == 18


def test_resume_reads_rows_from_the_ledger(spark, fixture_parquet,
                                          pipeline_out, tmp_path,
                                          monkeypatch):
    """A resumed run takes its row count from the ledger's route entry
    instead of rescanning the routed table, and its metrics name every
    stage it skipped."""
    import shutil

    from binlogpipe.job import run_pipeline

    out = tmp_path / "out"
    shutil.copytree(pipeline_out["out"], out)

    def no_scan(self):
        raise AssertionError("resumed run scanned a table")

    # the concrete DataFrame class: it overrides the base class's count
    monkeypatch.setattr(type(spark.range(0)), "count", no_scan)
    m = run_pipeline(spark, fixture_parquet, str(out), run_id="test")
    assert m["rows"] == 166 and m["stages"] == {}
    assert m["resumed"] == ["route", "lineage", "aggregate", "enrich",
                            "decode"]
    assert pipeline_out["metrics"]["resumed"] == []


def test_resume_refuses_another_inputs_output(spark, fixture_parquet,
                                              tmp_path):
    """Resuming a run_id whose ledger was committed for a DIFFERENT input
    must refuse, not skip every stage and report the other input's rows;
    resume=False reruns the stages on the new input."""
    from binlogpipe.job import run_pipeline

    rare = str(Path(fixture_parquet).with_name("rare_events.parquet"))
    out = str(tmp_path / "out")
    assert run_pipeline(spark, fixture_parquet, out, run_id="cli")["rows"] == 166
    with pytest.raises(ValueError, match="--no-resume"):
        run_pipeline(spark, rare, out, run_id="cli")
    m = run_pipeline(spark, rare, out, run_id="cli", resume=False)
    assert m["rows"] == 34 and "route" in m["stages"]
    assert spark.read.parquet(f"{out}/routed").count() == 34
    # the ledger now records the rare input: resuming it skips every stage
    assert run_pipeline(spark, rare, out, run_id="cli")["stages"] == {}


def test_compact_sink(spark, fixture_parquet, tmp_path):
    from binlogpipe.job import compact_sink, run_pipeline

    out = tmp_path / "compact_out"
    run_pipeline(spark, fixture_parquet, str(out), run_id="c")
    before = spark.read.parquet(str(out / "sinks" / "QUERY"))
    rows_before = sorted(r["doc_id"] for r in before.select("doc_id").collect())
    n_files = compact_sink(spark, str(out), "QUERY", target_file_mb=256)
    assert n_files == 1
    after = spark.read.parquet(str(out / "sinks" / "QUERY"))
    assert sorted(r["doc_id"] for r in after.select("doc_id").collect()) == rows_before
    files = list((out / "sinks" / "QUERY").rglob("*.parquet"))
    assert len(files) == 1


def test_compact_sink_crash_recovery(spark, fixture_parquet, tmp_path):
    """The directory swap is crash-safe: a leftover *_old dir (crash between
    `src -> _old` and `tmp -> src`) is recovered as the live data; a stale
    *_compacting dir is discarded; re-compaction after recovery works."""
    import shutil

    from binlogpipe.job import compact_sink, run_pipeline

    out = tmp_path / "ccr_out"
    run_pipeline(spark, fixture_parquet, str(out), run_id="ccr")
    sink = out / "sinks" / "XID"
    rows = sorted(r["doc_id"] for r in
                  spark.read.parquet(str(sink)).select("doc_id").collect())

    # crash scenario 1: src renamed aside, tmp never moved in -> only _old
    old = sink.parent / "XID_old"
    sink.rename(old)
    (sink.parent / "XID_compacting").mkdir()  # stale partial rewrite
    n = compact_sink(spark, str(out), "XID", target_file_mb=256)
    assert n == 1
    got = sorted(r["doc_id"] for r in
                 spark.read.parquet(str(sink)).select("doc_id").collect())
    assert got == rows
    assert not old.exists()
    assert not (sink.parent / "XID_compacting").exists()

    # crash scenario 2: _old left behind AFTER tmp moved in (live src OK) —
    # the leftover must be dropped, live data kept
    shutil.copytree(sink, old)
    n = compact_sink(spark, str(out), "XID", target_file_mb=256)
    assert n == 1 and not old.exists()
    got = sorted(r["doc_id"] for r in
                 spark.read.parquet(str(sink)).select("doc_id").collect())
    assert got == rows


def test_malformed_rows_quarantined(spark, tmp_path):
    """Truncated/corrupt events route to QUARANTINE instead of failing the
    job (reference would panic: mod.rs:405-415)."""
    from binlogpipe import parse

    good = fixture_gen.load_fixture_events()[0][2]
    bad_size = list(good)
    bad_size_tokens = list(bad_size) + [0]  # n_tok != event_size
    unknown_type = list(good)
    unknown_type[4] = 0x55
    v1_rows = list(good)
    v1_rows[4] = 0x17  # v0/v1 rows events explicitly unsupported
    magic_row = [254, 98, 105, 110] + list(good)

    df = spark.createDataFrame(
        [
            ("bad/0", bad_size_tokens, len(bad_size_tokens), "bad"),
            ("bad/1", unknown_type, len(unknown_type), "bad"),
            ("bad/2", v1_rows, len(v1_rows), "bad"),
            ("bad/3", magic_row, len(magic_row), "bad"),
            ("ok/0", list(good), len(good), "ok"),
            # short rows: < 4 bytes (checksum guard), < 19 bytes (header
            # fields null via try_element_at), empty — must quarantine,
            # never throw INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI mode
            ("bad/4", [254, 98, 105], 3, "bad"),
            ("bad/5", list(range(12)), 12, "bad"),
            ("bad/6", [], 0, "bad"),
        ],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    hdr = parse.with_header(df)
    sinks = {r["doc_id"]: r["sink"] for r in hdr.select("doc_id", "sink").collect()}
    for k in ("bad/0", "bad/1", "bad/2", "bad/3", "bad/4", "bad/5", "bad/6"):
        assert sinks[k] == "QUARANTINE"
    assert sinks["ok/0"] == "FORMAT_DESC"


def test_decode_error_flagged_not_fatal(spark):
    """A structurally-valid event with a corrupt payload yields parse_error,
    not an executor failure."""
    from binlogpipe import parse

    ev = bytearray(fixture_gen.load_fixture_events()[0][2])  # FORMAT_DESC
    ev[4] = 0x13  # claim TABLE_MAP; payload won't parse as one
    df = spark.createDataFrame(
        [("x/0", list(ev), len(ev), "x")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    schema, factory = parse.DECODERS["TABLE_MAP"]
    out = df.withColumn("d", factory()(F.col("tokens"))).select("d.*").collect()
    # decode either errors cleanly or returns garbage fields — never raises
    assert len(out) == 1


def test_lineage_first_last_are_positional(spark, fixture_parquet,
                                           pipeline_out):
    """first/last doc_id must be the POSITIONAL first/last row of each
    input partition — cross-checked against the mapInPandas reference
    implementation (partition_lineage), which walks rows in order. The
    fixture has >=10 events per source, so a lexicographic min/max would
    disagree ('s/9' > 's/10')."""
    from binlogpipe import lineage, parse

    hdr = parse.with_header(spark.read.parquet(fixture_parquet))
    ref = {r.partition_id: (r.first_doc_id, r.last_doc_id, r.rows_in,
                            r.rows_routed)
           for r in lineage.partition_lineage(hdr).collect()
           if r.rows_in}
    routed = spark.read.parquet(f"{pipeline_out['out']}/routed")
    got = {r.partition_id: (r.first_doc_id, r.last_doc_id, r.rows_in,
                            r.rows_routed)
           for r in lineage.lineage_from_routed(routed).collect()}
    assert got == ref
    # regression pin: the digit-length boundary actually occurs
    assert any("/" in f and f.rsplit("/", 1)[1].isdigit()
               and int(l.rsplit("/", 1)[1]) >= 10
               for f, l, *_ in got.values())


def test_pipeline_empty_input_completes(spark, tmp_path):
    """Zero input rows must complete with zero-row metrics, not die on
    schema inference over an empty routed dir or a zero-width thread
    pool."""
    from binlogpipe import job

    empty = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string")
    inp = tmp_path / "empty_in"
    empty.write.parquet(str(inp))
    m = job.run_pipeline(spark, str(inp), str(tmp_path / "out"), run_id="e")
    assert m["rows"] == 0 and m.get("empty_input") is True
    # resume path: a second invocation is also graceful
    m2 = job.run_pipeline(spark, str(inp), str(tmp_path / "out"), run_id="e")
    assert m2["rows"] == 0


def test_metrics_failure_does_not_fake_empty_input(
        spark, fixture_parquet, tmp_path, monkeypatch):
    """A transient Observation failure on NON-empty input must not take the
    empty-input early return (which skips decode and persists rows=0 into
    the checkpoint for every resumed run after) — the except path confirms
    emptiness against the written routed output first."""
    from binlogpipe import job, lineage

    class _BoomObs:
        @property
        def get(self):
            raise RuntimeError("transient metrics failure")

    monkeypatch.setattr(job, "Observation", lambda name: _BoomObs())
    monkeypatch.setattr(lineage, "observe_counts", lambda df, obs: df)
    m = job.run_pipeline(spark, fixture_parquet, str(tmp_path / "out"),
                         run_id="metrics-boom")
    assert not m.get("empty_input")
    assert "decode" in m["stages"]
    assert m["rows"] == 166


def test_side_stages_complete_when_enrich_fails(spark, fixture_parquet,
                                               tmp_path, monkeypatch,
                                               pipeline_out):
    """Failure semantics of the lineage/aggregate side pool: when enrich
    raises, run_pipeline re-raises only after the side stages finished,
    so their outputs and checkpoint marks have landed; a rerun with the
    same run_id skips them and completes with the reference run's
    per-sink counts."""
    from binlogpipe import enrich, job

    def boom(_):
        raise RuntimeError("injected enrich failure")

    monkeypatch.setattr(enrich, "table_map_dim", boom)
    out = tmp_path / "out"
    with pytest.raises(RuntimeError, match="injected enrich failure"):
        job.run_pipeline(spark, fixture_parquet, str(out), run_id="side")
    stages = json.loads(
        (out / "_checkpoint" / "state.json").read_text())["stages"]
    assert {"route", "lineage", "aggregate"} <= set(stages)
    assert "enrich" not in stages and "decode" not in stages
    assert (out / "lineage" / "_SUCCESS").exists()
    assert (out / "agg" / "sink_counts" / "_SUCCESS").exists()

    monkeypatch.undo()
    m = job.run_pipeline(spark, fixture_parquet, str(out), run_id="side")
    assert set(m["stages"]) == {"enrich", "decode"}  # the rest resumed
    assert m["rows"] == 166

    def counts(root):
        agg = {r["sink"]: r["n"] for r in spark.read.parquet(
            f"{root}/agg/sink_counts").collect()}
        sinks = {p.name: spark.read.parquet(str(p)).count()
                 for p in (Path(root) / "sinks").iterdir() if p.is_dir()}
        return agg, sinks

    assert counts(out) == counts(pipeline_out["out"])


def test_fold_and_singles_sink_layouts_identical(spark, fixture_parquet,
                                                 tmp_path, monkeypatch,
                                                 pipeline_out):
    """The same-schema sink fold is parallelism-conditional (job.py: fold
    when defaultParallelism <= FOLD_MAX_PARALLELISM), so BOTH
    write shapes are production paths — one job per sink at wide
    parallelism, grouped partitionBy(sink) + renames when slots are
    scarce. Their sinks/ trees must be indistinguishable: same sink dirs,
    same columns (partitionBy must drop the `sink` column from data
    files), same rows. pipeline_out runs at local[4] => the FOLD path;
    this run forces singles."""
    from binlogpipe import job

    monkeypatch.setattr(job, "FOLD_MAX_PARALLELISM", 0)
    out = tmp_path / "out"
    m = job.run_pipeline(spark, fixture_parquet, str(out), run_id="singles")
    assert m["rows"] == 166
    base = Path(pipeline_out["out"]) / "sinks"
    sinks = sorted(p.name for p in base.iterdir() if p.is_dir())
    assert sorted(p.name for p in (out / "sinks").iterdir()
                  if p.is_dir()) == sinks
    for sink in sinks:
        # fold-written dirs must keep the Hadoop _SUCCESS completeness
        # convention (decode_group recreates it after the rename —
        # downstream validation tooling treats a marker-less dir as a
        # partial write)
        assert (base / sink / "_SUCCESS").exists(), sink
        assert (out / "sinks" / sink / "_SUCCESS").exists(), sink
        a = spark.read.parquet(str(base / sink))
        b = spark.read.parquet(str(out / "sinks" / sink))
        assert sorted(a.columns) == sorted(b.columns), sink
        assert "sink" not in a.columns, sink
        ka = {r["doc_id"]: r.asDict() for r in a.collect()}
        kb = {r["doc_id"]: r.asDict() for r in b.collect()}
        assert ka == kb, sink


def test_stale_group_staging_swept_on_resume(spark, fixture_parquet,
                                             tmp_path, monkeypatch):
    """A run killed mid-decode_group leaves a `sinks/_grp_*` staging dir
    (the job's temp partitionBy output) holding duplicate data for the
    not-yet-renamed members. On re-entry to the decode stage every
    `_grp_*` dir is garbage by construction (per-sink marks say what to
    redo), so the stage sweeps them — otherwise directory-listing
    consumers (cli dump/status) would surface `_grp_X` as a sink."""
    from binlogpipe import job

    monkeypatch.setattr(job, "FOLD_MAX_PARALLELISM", 10**6)
    out = tmp_path / "out"
    job.run_pipeline(spark, fixture_parquet, str(out), run_id="g1")
    counts = {r["sink"]: r["n"] for r in
              spark.read.parquet(str(out / "agg" / "sink_counts")).collect()}

    # simulate the mid-group crash: GTID renamed+marked, ANON_GTID not —
    # the staging dir survives with ANON_GTID's partition still inside
    ck_path = out / "_checkpoint" / "state.json"
    state = json.loads(ck_path.read_text())
    for stage in ("decode", "decode:ANON_GTID"):
        state["stages"].pop(stage)
    ck_path.write_text(json.dumps(state))
    stale = out / "sinks" / "_grp_GTID"
    (stale / "sink=ANON_GTID").mkdir(parents=True)
    (stale / "sink=ANON_GTID" / "part-junk.parquet").write_bytes(b"junk")
    (stale / "_SUCCESS").write_bytes(b"")
    anon_rows = sorted(
        r["doc_id"] for r in
        spark.read.parquet(str(out / "sinks" / "ANON_GTID")).collect())
    import shutil as _sh

    _sh.rmtree(out / "sinks" / "ANON_GTID")

    job.run_pipeline(spark, fixture_parquet, str(out), run_id="g1")
    assert not stale.exists()
    got = sorted(
        r["doc_id"] for r in
        spark.read.parquet(str(out / "sinks" / "ANON_GTID")).collect())
    assert got == anon_rows
    # untouched (still-marked) members were not rewritten or damaged
    assert spark.read.parquet(str(out / "sinks" / "GTID")).count() == \
        counts["GTID"]
    # the sweep also clears staging dirs that do NOT collide with the
    # rerun's own tmp name (a crash in a DIFFERENT group's unit)
    leftover = out / "sinks" / "_grp_LEFTOVER"
    leftover.mkdir()
    state = json.loads(ck_path.read_text())
    state["stages"].pop("decode")
    ck_path.write_text(json.dumps(state))
    job.run_pipeline(spark, fixture_parquet, str(out), run_id="g1")
    assert not leftover.exists()


def test_fold_empty_member_falls_back_to_single_write(spark, fixture_parquet,
                                                      tmp_path, monkeypatch):
    """A routed-table sink partition can exist as a directory yet hold
    zero rows (stale leftover of a dynamic-partition overwrite or a swept
    compaction). It is then listed as `present` and joins its same-schema
    fold group, but partitionBy writes no `sink=<s>` dir for it — the
    rename loop must fall back to the single-sink write, leaving the
    standard consumer-readable shape: a schema'd empty parquet dir with
    `_SUCCESS` and a checkpoint mark."""
    from binlogpipe import job

    monkeypatch.setattr(job, "FOLD_MAX_PARALLELISM", 10**6)
    out = tmp_path / "out"
    job.run_pipeline(spark, fixture_parquet, str(out), run_id="f1")
    stop_count = spark.read.parquet(str(out / "sinks" / "STOP")).count()

    # stale zero-row partition: dir exists under routed/, no data files.
    # HEARTBEAT is header-only like STOP, so the two fold into one group
    # and partitionBy emits a dir only for STOP.
    (out / "routed" / "sink=HEARTBEAT").mkdir()
    ck_path = out / "_checkpoint" / "state.json"
    state = json.loads(ck_path.read_text())
    for stage in ("decode", "decode:STOP"):
        state["stages"].pop(stage)
    ck_path.write_text(json.dumps(state))

    job.run_pipeline(spark, fixture_parquet, str(out), run_id="f1")

    hb = out / "sinks" / "HEARTBEAT"
    assert (hb / "_SUCCESS").exists()
    hb_df = spark.read.parquet(str(hb))
    assert hb_df.count() == 0
    stop_df = spark.read.parquet(str(out / "sinks" / "STOP"))
    assert sorted(hb_df.columns) == sorted(stop_df.columns)
    assert stop_df.count() == stop_count
    # the fallback marked the sink: a third resume is a decode no-op
    state = json.loads(ck_path.read_text())
    assert "decode:HEARTBEAT" in state["stages"]
