"""Distributed raw-binlog file source: reading per-case
`<case>/log.bin` files (rebuilt from the committed fixture table in the
reference's `tests/events` layout) through the binaryFile + mapInPandas
splitter must reproduce the fixture table exactly (same events, same
per-sink counts), and malformed files must quarantine, not fail."""

from pyspark.sql import functions as F

from binlogpipe import binsource, layout, parse

MAGIC = bytes(layout.MAGIC)


def test_binlog_dir_matches_fixture_table(spark, fixture_parquet,
                                          fixture_bins):
    src = binsource.read_binlog_dir(spark, f"{fixture_bins}/*")
    fixture = spark.read.parquet(fixture_parquet)
    got = {(r.doc_id, r.n_tok): list(r.tokens)
           for r in src.collect()}
    want = {(r.doc_id, r.n_tok): list(r.tokens)
            for r in fixture.collect()}
    assert got == want  # byte-identical events, same ids

    # and the routed counts match the golden distribution
    counts = {r["sink"]: r["n"]
              for r in parse.with_header(src).groupBy("sink")
              .agg(F.count("*").alias("n")).collect()}
    fixture_counts = {r["sink"]: r["n"]
                      for r in parse.with_header(fixture).groupBy("sink")
                      .agg(F.count("*").alias("n")).collect()}
    assert counts == fixture_counts


def test_binlog_malformed_files_quarantine(spark, tmp_path):
    # good file: one minimal STOP event (header only + 4B checksum)
    import struct
    ev = (struct.pack("<IBIII", 1000, 0x03, 1, 23, 4)[:17]
          + struct.pack("<H", 0) + b"\x12\x34\x56\x78")
    (tmp_path / "good.bin").write_bytes(MAGIC + ev)
    (tmp_path / "nomagic.bin").write_bytes(b"not a binlog at all")
    # truncated: valid first event then a lying event_size
    (tmp_path / "trunc.bin").write_bytes(
        MAGIC + ev
        + struct.pack("<IBIII", 1000, 0x03, 1, 9999, 4)[:17]
        + struct.pack("<H", 0))
    rows = {r.doc_id: r for r in
            binsource.read_binlog_dir(spark, str(tmp_path)).collect()}
    assert rows["good/0"].n_tok == 23
    assert "nomagic/_corrupt" in rows and "trunc/_corrupt" in rows
    assert rows["trunc/0"].n_tok == 23  # valid prefix kept
    # corrupt rows land in QUARANTINE via the normal header validation
    hdr = parse.with_header(
        binsource.read_binlog_dir(spark, str(tmp_path)))
    sinks = {r.doc_id: r.sink for r in hdr.select("doc_id", "sink").collect()}
    assert sinks["good/0"] == "STOP"
    assert sinks["nomagic/_corrupt"] == "QUARANTINE"
    assert sinks["trunc/_corrupt"] == "QUARANTINE"


def test_binlog_streaming_source(spark, tmp_path, fixture_bins):
    """Raw .bin files through the STREAMING source (binaryFile readStream +
    the shared splitter): two catch-up drains — the second processes only
    the file added in between, and rows events decode against the TableMap
    arriving in the same batch."""
    import shutil

    from binlogpipe import streaming

    ind = tmp_path / "in"
    ind.mkdir()
    shutil.copy(fixture_bins / "02_query" / "log.bin", ind / "a.bin")
    out, ck = tmp_path / "out", tmp_path / "ck"
    streaming.run_full_available_now(
        spark, str(ind), str(out), str(ck), input_format="binlog")
    n0 = spark.read.parquet(str(out / "routed")).count()
    shutil.copy(fixture_bins / "30_write_rows_v2" / "log.bin", ind / "b.bin")
    streaming.run_full_available_now(
        spark, str(ind), str(out), str(ck), input_format="binlog")
    routed = spark.read.option("basePath", str(out / "routed")) \
        .parquet(str(out / "routed"))
    assert routed.count() > n0
    batches = {r.batch for r in routed.select("batch").distinct().collect()}
    assert batches == {0, 1}
    # the WriteRows in batch 1 decoded against its same-batch TableMap
    wr = spark.read.parquet(str(out / "sinks" / "WRITE_ROWS_V2"))
    rows = wr.where(F.col("parse_error").isNull()).collect()
    assert rows and all(r.tm_table_name is not None for r in rows)


def test_quarantine_preserves_full_evidence():
    """A file failing the magic check must keep ALL its bytes as evidence
    (the consumed-offset used to count the absent magic and cut 4 bytes)."""
    events, err = binsource.split_binlog_bytes(b"XYZ")
    assert events == [] and err == "missing binlog magic"
    # the module-level arithmetic the splitter row uses:
    data = b"XYZ"
    consumed = (len(MAGIC) if data.startswith(MAGIC)
                else 0) + 0
    assert data[consumed:] == b"XYZ"


def test_compact_refuses_streaming_sink_layout(spark, tmp_path):
    """compact_sink must not flatten a batch=<id> streaming sink — mixed
    partition layouts break the next read and replays would duplicate."""
    import pytest

    from binlogpipe import job

    d = tmp_path / "sinks" / "QUERY" / "batch=0"
    d.mkdir(parents=True)
    (d / "part-0.parquet").write_bytes(b"")
    with pytest.raises(ValueError, match="streaming sink"):
        job.compact_sink(spark, str(tmp_path), "QUERY")


def test_same_named_files_in_different_dirs_stay_distinct(spark, tmp_path,
                                                         fixture_bins):
    """Multi-host layout: host1/binlog.000042.bin and host2/binlog.000042.bin
    must keep distinct (source, doc_id) — the per-source transaction state
    machine and doc_id-keyed consumers depend on it."""
    import shutil

    for host in ("host1", "host2"):
        d = tmp_path / host
        d.mkdir()
        shutil.copy(fixture_bins / "16_xid" / "log.bin",
                    d / "binlog.000042.bin")
    rows = binsource.read_binlog_dir(spark, str(tmp_path) + "/*").collect()
    sources = {r.source for r in rows}
    assert sources == {"host1/binlog.000042", "host2/binlog.000042"}
    doc_ids = [r.doc_id for r in rows]
    assert len(doc_ids) == len(set(doc_ids))


def test_uri_scheme_roots_and_collision_free_fallback(spark):
    """Root-prefix matching must survive scheme://authority URI forms
    (hdfs://, s3a:// — binaryFile returns resolved URIs, not the literal
    input string), and a root mismatch must fall back to the FULL path,
    never the basename: with the reference's <case>/log.bin layout a
    basename fallback collapses every file to stem 'log', colliding
    (source, doc_id) across files."""
    import struct

    ev = (struct.pack("<IBIII", 1000, 0x03, 1, 23, 4)[:17]
          + struct.pack("<H", 0) + b"\x12\x34\x56\x78")
    blob = MAGIC + ev
    files = spark.createDataFrame(
        [("hdfs://nn:8020/logs/host1/log.bin", bytearray(blob)),
         ("hdfs://nn:8020/logs/host2/log.bin", bytearray(blob))],
        "path string, content binary")
    rows = binsource.split_stream(files, root="hdfs://nn:8020/logs").collect()
    assert {r.source for r in rows} == {"host1", "host2"}

    # s3a-style: authority (bucket) strips identically on both sides
    files_s3 = spark.createDataFrame(
        [("s3a://bucket/raw/h1/log.bin", bytearray(blob))],
        "path string, content binary")
    rows = binsource.split_stream(files_s3, root="s3a://bucket/raw").collect()
    assert rows[0].source == "h1"

    # mismatched root: full-path fallback keeps sources distinct
    rows = binsource.split_stream(files, root="/other").collect()
    assert {r.source for r in rows} == {"logs/host1", "logs/host2"}
    assert len({r.doc_id for r in rows}) == len(rows)

    # component-boundary match: root /logs/host1 must NOT prefix-match
    # /logs/host1x/...
    files_b = spark.createDataFrame(
        [("file:/logs/host1x/a.bin", bytearray(blob))],
        "path string, content binary")
    rows = binsource.split_stream(files_b, root="/logs/host1").collect()
    assert rows[0].source == "logs/host1x/a"


def test_single_file_input_keeps_basename_identity(spark, tmp_path):
    """`trans --binlog /path/file.bin` (the reference CLI's single-file
    usage): the input path IS the file, so rel would be empty — the source
    must fall back to the file's basename, never '' (which made every
    doc_id '/<i>')."""
    import struct

    ev = (struct.pack("<IBIII", 1000, 0x03, 1, 23, 4)[:17]
          + struct.pack("<H", 0) + b"\x12\x34\x56\x78")
    f = tmp_path / "binlog.000042.bin"
    f.write_bytes(MAGIC + ev)
    rows = binsource.read_binlog_dir(spark, str(f), glob="*").collect()
    assert rows and rows[0].source == "binlog.000042"
    assert rows[0].doc_id == "binlog.000042/0"
