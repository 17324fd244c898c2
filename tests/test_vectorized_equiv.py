"""The decode UDF body (`parse._arrow_tokens` -> `_decode_frame` ->
`_frame_to_struct`), which every `parse.DECODERS` entry runs around its one
`bytes -> dict` decoder: both tokens input forms decode alike, a bad row
becomes a `parse_error` row without touching its batch neighbours, and
64-bit fields wrap into their LongType columns."""

import pyarrow as pa
import pytest

from binlogpipe import parse
from binlogpipe.layout import HEADER_LEN as H


def _hdr(event_type: int, size: int) -> bytes:
    return (b"\x00\x00\x00\x00" + bytes([event_type])
            + b"\x01\x00\x00\x00" + size.to_bytes(4, "little")
            + b"\x00\x00\x00\x00" + b"\x00\x00")


def _udf_body(sink: str, tokens) -> list[dict]:
    """Decode one tokens batch as the sink's arrow_udf does, without Spark."""
    schema, factory = parse.DECODERS[sink]
    _, fn = factory.args
    names = [f.name for f in schema.fields]
    cols = parse._decode_frame(parse._arrow_tokens(tokens), names, fn)
    return parse._frame_to_struct(cols, schema).to_pylist()


def test_rotate_high_bit_position_wraps_identically():
    """position >= 2^63 wraps two's-complement to a negative i64 (an
    unsigned int >= 2^63 would fail the LongType Arrow conversion)."""
    pos = (0xFEDCBA9876543210).to_bytes(8, "little")
    body = pos + b"binlog.000042"
    event = _hdr(0x04, H + len(body) + 4) + body
    scalar = parse.decode_rotate_py(event)
    assert scalar["position"] == 0xFEDCBA9876543210 - (1 << 64)
    assert scalar["next_binlog"] == "binlog.000042"


def test_xid_u64_wraps_to_i64(spark):
    """The XID sink decoder (the arrow_udf the decode stage runs) wraps a
    u64 >= 2**63 two's-complement into its LongType column."""
    from pyspark.sql import functions as F

    bufs = [bytes(range(19)) + b"\xff" * 8 + b"\x00" * 4,
            bytes(range(19)) + b"\x00" * 7 + b"\x80" + b"\x00" * 4]
    _, factory = parse.DECODERS["XID"]
    df = spark.createDataFrame([(i, b) for i, b in enumerate(bufs)],
                               "i int, tokens_bin binary")
    rows = (df.select("i", factory()(F.col("tokens_bin")).alias("d"))
            .orderBy("i").select("d.*").collect())
    assert [tuple(r) for r in rows] == [(-1, None), (-(2 ** 63), None)]


@pytest.mark.parametrize("sink,event_type,load_fields", [
    ("QUERY", 0x02, b""),
    # file_id, start_pos, end_pos, dup_handling
    ("EXEC_LOAD_QUERY", 0x12, b"\x02\x00\x00\x00" + b"\x00" * 9),
])
def test_status_vars_overrunning_the_row_is_a_row_error(sink, event_type,
                                                        load_fields):
    """A status-vars length that runs past the row end fails that row
    (the reference's take(svl) fails), even when the bytes it would
    truncate to parse as status vars; the valid rows around it decode."""
    def event(svl: int, status_vars: bytes, schema: bytes, query: bytes):
        body = (b"\x01\x00\x00\x00" + b"\x00\x00\x00\x00"
                + bytes([len(schema)]) + b"\x00\x00"
                + svl.to_bytes(2, "little") + load_fields
                + status_vars + schema + b"\x00" + query)
        return _hdr(event_type, H + len(body) + 4) + body + b"\x00" * 4

    flags2 = b"\x00" + b"\x00\x00\x00\x00"  # one Q_FLAGS2 entry
    good = [event(len(flags2), flags2, b"db", b"SELECT %d" % i)
            for i in range(3)]
    # declared 6 with nothing left after the prefix but the skip byte and
    # the 4 checksum bytes: truncated to those 5 bytes, the block reads as
    # a clean Q_FLAGS2 entry
    bad = event(6, b"", b"", b"")
    rows = _udf_body(sink, pa.array(good[:2] + [bad] + good[2:], pa.binary()))
    assert [r["parse_error"] is not None for r in rows] == [
        False, False, True, False]
    assert all(v is None for k, v in rows[2].items() if k != "parse_error")
    assert [r["query"] for r in rows] == [
        "SELECT 0", "SELECT 1", None, "SELECT 2"]
    assert rows[0]["status_vars"].startswith('[{"key":0,')


def test_decoders_take_the_contract_array_form(fixture_parquet):
    """Every decoder present in the fixture tables decodes the contract
    list<int32> tokens batch (the form the oracle queries pass) to the
    same struct rows as the packed-binary batch, and an empty batch of
    either form to zero rows."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from binlogpipe import layout
    from binlogpipe import np_codec as c

    rare = Path(fixture_parquet).with_name("rare_events.parquet")
    tokens = pa.concat_arrays([pq.read_table(p)["tokens"].combine_chunks()
                               for p in (fixture_parquet, rare)])
    by_sink: dict[str, list[int]] = {}
    for i, t in enumerate(tokens.to_pylist()):
        by_sink.setdefault(layout.EVENT_TYPES.get(t[4]), []).append(i)
    checked = []
    for sink in sorted(parse.DECODERS):
        if sink not in by_sink:
            continue
        arr = tokens.take(by_sink[sink])
        assert pa.types.is_list(arr.type)
        packed = pa.array([c.tokens_to_bytes(t) for t in arr.to_pylist()],
                          pa.binary())
        got = _udf_body(sink, arr)
        assert got == _udf_body(sink, packed), sink
        assert any(r["parse_error"] is None for r in got), sink
        assert _udf_body(sink, arr.slice(0, 0)) == [], sink
        assert _udf_body(sink, packed.slice(0, 0)) == [], sink
        checked.append(sink)
    assert checked == sorted(parse.DECODERS)


def test_null_tokens_cell_is_a_parse_error_row(spark):
    """A null tokens cell — packed binary or contract array — decodes to a
    parse_error row through the Spark UDF; the other rows of its batch
    still decode and the task does not fail."""
    from pyspark.sql import functions as F

    xid = _hdr(0x10, 31) + (7).to_bytes(8, "little") + b"\x00" * 4
    _, factory = parse.DECODERS["XID"]
    for ddl, cell in (("tokens binary", xid), ("tokens array<int>", list(xid))):
        df = spark.createDataFrame([(0, cell), (1, None)], f"i int, {ddl}")
        rows = (df.select("i", factory()(F.col("tokens")).alias("d"))
                .orderBy("i").select("d.*").collect())
        assert rows[0]["xid"] == 7 and rows[0]["parse_error"] is None, ddl
        assert rows[1]["xid"] is None and rows[1]["parse_error"], ddl


def test_rows_shorter_than_the_checksum_read_no_neighbour():
    """The checksum cut never reaches into the next row: a null cell (packed
    to b"") or a 2-byte row is a parse_error row wherever it sits in the
    batch, first included, and the XID beside it decodes alone."""
    xid = _hdr(0x10, 31) + (7).to_bytes(8, "little") + b"\x00" * 4
    for short in (None, b"ab"):
        for batch in ([short, xid], [xid, short]):
            rows = _udf_body("XID", pa.array(batch, pa.binary()))
            assert [r["xid"] for r in rows] == [
                None if b is short else 7 for b in batch], batch
            assert [r["parse_error"] is None for r in rows] == [
                b is not short for b in batch], batch
