"""Decoder unit tests for event types and column types the reference
fixtures never exercise (SURVEY §2.3/§2.4 completeness): the file-ops
family, Load/NewLoad, Incident, NULL user vars, the rare Query status
vars, and the full ColTypes width matrix. Events are hand-assembled per
the reference layouts (mod.rs / mysql.rs file:line in each test).

Decoders take an event without its 4-byte checksum (the decode UDF cuts
it), so each direct call passes ``make_event(...)[:-4]``."""

import struct

from binlogpipe import parse
from binlogpipe.coltypes import decode_cell, decode_row, parse_defs
from tools.fixture_gen import make_event


def test_create_file_append_block(tmp_path):
    # parse_file_data (mod.rs:663-670): u32 file_id + block to checksum
    ev = make_event(0x08, struct.pack("<I", 9) + b"hello block")
    d = parse.decode_file_data_py(ev[:-4])
    assert d == {"file_id": 9, "block_data": "hello block"}


def test_exec_load_delete_file():
    # u16 file_id (mod.rs:698-718)
    ev = make_event(0x0A, struct.pack("<H", 77))
    assert parse.decode_file_id16_py(ev[:-4]) == {"file_id": 77}


def test_incident():
    # u16 type + u8 len + message (mod.rs:1020-1041)
    ev = make_event(0x1A, struct.pack("<H", 1) + bytes([4]) + b"oops")
    d = parse.decode_incident_py(ev[:-4])
    assert d == {"d_type": "LostEvents", "message_length": 4,
                 "message": "oops"}


def test_user_var_null():
    # is_null short-circuits the tail (mod.rs:802-819)
    name = b"v"
    ev = make_event(0x0E, struct.pack("<I", 1) + name + bytes([1]))
    d = parse.decode_user_var_py(ev[:-4])
    assert d["name"] == "v" and d["is_null"] is True
    assert d["d_type"] is None and d["value"] is None


def test_load_event():
    # mod.rs:596-656 layout
    fields = [b"a", b"bb"]
    payload = struct.pack("<III", 7, 1, 2)          # thread, exec, skip
    payload += bytes([1, 1])                         # table_len, schema_len
    payload += struct.pack("<I", len(fields))        # num_fields
    payload += bytes([44, 34, 10, 0, 92])            # sep chars , " \n \0 \\
    payload += bytes([0b0101])                       # opt_flags
    payload += bytes([0b00010])                      # empty_flags
    payload += bytes(len(f) for f in fields)         # field_name_lengths
    payload += b"".join(f + b"\x00" for f in fields)
    # the reference's file-length arithmetic (mod.rs:570-581) subtracts 3
    # for the two NUL terminators it consumed (+1 extra — kept verbatim);
    # a trailing NUL pad makes the layout line up
    payload += b"t\x00" + b"s\x00" + b"/tmp/f\x00"
    ev = make_event(0x06, payload)
    d = parse.decode_load_py(ev[:-4])
    assert d["thread_id"] == 7 and d["skip_lines"] == 2
    assert d["num_fields"] == 2 and d["field_names"] == ["a", "bb"]
    assert d["table_name"] == "t" and d["schema_name"] == "s"
    assert d["file_name"] == "/tmp/f"
    assert d["field_term"] == 44 and d["escaped_by"] == 92


def test_new_load_event_parses():
    # mod.rs:725-771; the reference reuses Load's file-length arithmetic,
    # which we replicate faithfully — just assert clean parse + fields
    payload = struct.pack("<III", 7, 1, 2)
    payload += bytes([1, 1])
    payload += struct.pack("<I", 1)
    for sep in (b",", b'"', b"\n", b"", b"\\"):
        payload += bytes([len(sep)]) + sep
    payload += bytes([0])                            # opt_flags
    payload += bytes([1]) + b"x\x00"                 # field lens + names
    payload += b"t\x00" + b"s\x00" + b"/tmp/f....."
    ev = make_event(0x0C, payload)
    d = parse.decode_new_load_py(ev[:-4])
    assert d["field_names"] == ["x"] and d["table_name"] == "t"
    assert d["field_term"] == "," and d["line_start"] == ""


def test_status_vars_rare_keys():
    # query.rs:132-177: catalog, invokers, updated-db-names, microseconds
    buf = b""
    buf += bytes([0x02, 3]) + b"std" + b"\x00"
    buf += bytes([0x03]) + struct.pack("<HH", 2, 5)
    buf += bytes([0x05, 6]) + b"+08:00"
    buf += bytes([0x07]) + struct.pack("<H", 4)
    buf += bytes([0x09]) + struct.pack("<Q", 123456789)
    buf += bytes([0x0A]) + struct.pack("<I", 42)
    buf += bytes([0x0B, 4]) + b"root" + bytes([9]) + b"localhost"
    buf += bytes([0x0C, 2]) + b"db1\x00db2\x00"
    buf += bytes([0x0D]) + struct.pack("<I", 999)
    out = parse.parse_status_vars(buf)
    by_name = {v["name"]: v for v in out}
    assert by_name["Q_CATALOG"]["value"] == "std"
    assert by_name["Q_AUTO_INCREMENT"] == {
        "key": 3, "name": "Q_AUTO_INCREMENT", "incr": 2, "offset": 5}
    assert by_name["Q_TIME_ZONE_CODE"]["value"] == "+08:00"
    assert by_name["Q_LC_TIME_NAMES_CODE"]["value"] == 4
    assert by_name["Q_TABLE_MAP_FOR_UPDATE_CODE"]["value"] == 123456789
    assert by_name["Q_MASTER_DATA_WRITTEN_CODE"]["value"] == 42
    assert by_name["Q_INVOKERS"] == {
        "key": 11, "name": "Q_INVOKERS", "user": "root", "host": "localhost"}
    assert by_name["Q_UPDATED_DB_NAMES"]["value"] == ["db1", "db2"]
    assert by_name["Q_MICROSECONDS"]["value"] == 999


def test_coltypes_width_matrix():
    # mysql.rs:148-267 — widths and kinds across the 30-type matrix
    assert decode_cell(b"\x07\x00", 0, 2, []) == (("Short", [7, 0], None), 2)
    assert decode_cell(b"\x01\x02\x03\x04", 0, 9, []) == (
        ("Int24", [1, 2, 3, 4], None), 4)  # reference reads 4 bytes
    assert decode_cell(b"\xD0\x07", 0, 13, []) == (("Year", [208, 7], None), 2)
    assert decode_cell(struct.pack("<q", -5), 0, 8, [])[0][0] == "LongLong"
    # VarChar with declared max_len > 255 -> 2-byte length prefix
    cell, off = decode_cell(b"\x02\x00hi", 0, 15, [300])
    assert cell == ("VarChar", [104, 105], None) and off == 4
    # VarChar small -> 1-byte prefix
    cell, off = decode_cell(b"\x02hi", 0, 15, [40])
    assert off == 3
    # String quirk -> VarChar kind (mysql.rs:255-261)
    cell, _ = decode_cell(b"\x01Q", 0, 254, [253, 10])
    assert cell[0] == "VarChar"
    # VarString keeps its own kind
    cell, _ = decode_cell(b"\x01Q", 0, 253, [1, 0])
    assert cell[0] == "VarString"
    # Bit(12, 4) -> 2+1 bytes? ((12+7)//8 + (4+7)//8) = 2 + 1... = 2+1
    cell, off = decode_cell(b"\xAA\xBB\xCC", 0, 16, [12, 4])
    assert off == (12 + 7) // 8 + (4 + 7) // 8
    # Blob with 2-byte length prefix
    cell, off = decode_cell(b"\x03\x00abc", 0, 252, [2])
    assert cell == ("Blob", [97, 98, 99], None) and off == 5
    # NewDecimal(18, 9) -> 8 bytes
    cell, off = decode_cell(bytes(range(8)), 0, 246, [18, 9])
    assert cell[0] == "NewDecimal" and off == 8
    # packed temporal: 1-byte len + payload, len byte kept (mysql.rs:270-276)
    cell, off = decode_cell(b"\x04\x01\x02\x03\x04", 0, 12, [])
    assert cell == ("DateTime", [4, 1, 2, 3, 4], None) and off == 5
    # v2 temporals fixed 4 bytes
    cell, off = decode_cell(b"\x01\x02\x03\x04", 0, 17, [0])
    assert cell[0] == "Timestamp2" and off == 4
    # Null / NewDate / Enum / Set / blobs-internal consume nothing
    for tid in (6, 14, 247, 248, 249, 250, 251):
        cell, off = decode_cell(b"", 0, tid, [])
        assert off == 0


def test_varstring_advance_quirk():
    # mysql.rs:255-267 + mod.rs:1222-1224 — VarString/String parsers return
    # (len, value) where len OMITS the 1-byte length prefix they consumed,
    # and parse_row advances by that reported len against the original
    # slice. Net effect: the cursor lands 1 byte short, so the next column
    # re-reads the string's final byte. Replicated byte-for-byte.
    for tid in (253, 254):  # VarString, String
        cell, off = decode_cell(b"\x02QR\x07\x00", 0, tid, [253, 10])
        assert cell[1] == [81, 82]
        assert off == 2  # NOT 3: prefix byte excluded from the advance
    # multi-column row: Short after a String re-reads the final string byte
    buf = b"\x00" + b"\x02QR" + b"\x07\x00"  # bitmap + String("QR") + Short
    cells, _ = decode_row(buf, 1, [(254, [253, 10]), (2, [])])
    assert cells[0][1] == [81, 82]
    assert cells[1] == ("Short", [82, 7], None)  # starts on 'R' (0x52)


def test_decode_row_skips_null_bitmap():
    # init_idx skips the per-row NULL bitmap without reading it
    # (mod.rs:1214-1227); empty input resets to 0 (mod.rs:1219)
    buf = b"\xFF" + b"\x2A\x00\x00\x00"  # bitmap byte + Long cell
    cells, used = decode_row(buf, 1, [(3, [])])
    assert cells == [("Long", [42, 0, 0, 0], None)] and used == 5
    cells, used = decode_row(b"", 1, [])
    assert cells == [] and used == 0


def test_parse_defs_full_matrix():
    # mysql.rs:122-146 metadata widths
    type_ids = [4, 5, 15, 246, 252, 253, 254, 16, 255, 17, 18, 19, 3]
    meta = bytes([4,            # Float
                  8,            # Double
                  0x2C, 0x01,   # VarChar 300
                  10, 4,        # NewDecimal
                  2,            # Blob
                  1, 2,         # VarString
                  253, 8,       # String
                  12, 4,        # Bit
                  1,            # Geometry
                  3, 6, 5])     # Timestamp2, DateTime2, Time2(->Timestamp2)
    out = parse_defs(type_ids, meta)
    assert out == [
        (4, [4]), (5, [8]), (15, [300]), (246, [10, 4]), (252, [2]),
        (253, [1, 2]), (254, [253, 8]), (16, [12, 4]), (255, [1]),
        (17, [3]), (18, [6]), (17, [5]), (3, []),
    ]


def test_rows_extra_data_formats():
    """extra_data_len > 2 path (rows.rs:48-79): every ExtraDataFormat plus
    the many1 two-entry case — the reference fixtures only hit the ==2
    empty block. Mirrors the committed rare-table events (fixture_gen)."""
    import json as _json
    defs = [(3, [])]  # one Long column

    def rows_event(entries, value):
        extra = b"".join(bytes([0x00, len(pl), fmt]) + pl
                         for fmt, pl in entries)
        p = struct.pack("<IH", 0x0505, 0)[:6]
        p += struct.pack("<H", 1)
        p += struct.pack("<H", 2 + len(extra)) + extra
        p += bytes([1, 0x01, 0x00]) + struct.pack("<i", value)
        return make_event(0x1E, p)[:-4]

    cases = {
        "NDB": [(0x00, b"ndbinfo")],
        "OPEN1": [(0x40, b"open1pay")],
        "OPEN2": [(0x41, b"open2")],
        "MULTI": [(0xFF, b"multi")],
    }
    for fmt_name, entries in cases.items():
        d = parse.decode_rows_py(rows_event(entries, 7), defs, 1)
        got = _json.loads(d["extra_data"])
        assert got == [{"length": len(entries[0][1]), "format": fmt_name,
                        "payload": entries[0][1].decode()}]
        assert d["rows"] == [[{"kind": "Long", "bytes": [7, 0, 0, 0],
                               "num_val": None}]]
    # many1: two entries in one block
    d = parse.decode_rows_py(
        rows_event([(0x40, b"a"), (0xFF, b"bc")], 9), defs, 1)
    assert _json.loads(d["extra_data"]) == [
        {"length": 1, "format": "OPEN1", "payload": "a"},
        {"length": 2, "format": "MULTI", "payload": "bc"}]
    # unknown format byte is a hard error (reference unreachable!())
    import pytest as _pytest
    with _pytest.raises(ValueError):
        parse.decode_rows_py(rows_event([(0x42, b"x")], 1), defs, 1)


def test_decode_cell_overrun_raises():
    """A declared cell length overrunning the row image must FAIL the row
    (reference nom take() semantics) — silent truncation would put wrong
    bytes in typed sinks with a null parse_error."""
    import pytest

    # Long needs 4 bytes, only 3 present
    with pytest.raises(ValueError, match="overruns"):
        decode_cell(b"\x01\x02\x03", 0, 3, [])
    # VarChar length byte says 5, only 2 payload bytes present
    with pytest.raises(ValueError, match="overruns"):
        decode_cell(b"\x05ab", 0, 15, [160])
    # Blob 2-byte length prefix at the buffer edge
    with pytest.raises(ValueError, match="overruns"):
        decode_cell(b"\x10", 0, 252, [2])
    # and a whole corrupt rows event quarantines instead of emitting rows
    p = struct.pack("<IH", 0x0505, 0)[:6] + struct.pack("<H", 1)
    p += struct.pack("<H", 2) + bytes([1, 0x01, 0x00]) + b"\x01\x02\x03"
    ev = make_event(0x1E, p)
    with pytest.raises(ValueError):
        parse.decode_rows_py(ev[:-4], [(3, [])], 1)


def test_truncated_status_vars_and_short_format_desc_quarantine():
    """Review pins: a truncated status-vars block (declared string length
    overrunning the block / missing NUL) and a self-consistent short
    FORMAT_DESC event must produce parse_error rows, never clean rows with
    silently-truncated or positionally-wrong fields."""
    import pytest

    from binlogpipe import parse

    # Q_TIME_ZONE_CODE declaring 10 bytes with 3 present
    with pytest.raises(ValueError):
        parse.parse_status_vars(bytes([0x05, 10]) + b"abc")
    # Q_INVOKERS host truncated
    with pytest.raises(ValueError):
        parse.parse_status_vars(bytes([0x0B, 1]) + b"u" + bytes([9]) + b"hh")
    # Q_UPDATED_DB_NAMES entry missing its NUL terminator
    with pytest.raises(ValueError):
        parse.parse_status_vars(bytes([0x0C, 1]) + b"dbname")
    # intact blocks still parse
    assert parse.parse_status_vars(
        bytes([0x05, 3]) + b"UTC")[0]["value"] == "UTC"

    # FORMAT_DESC shorter than its fixed layout: n_tok == event_size so it
    # passes routing; decode must raise (-> parse_error), not read
    # checksum_alg out of the server-version bytes
    short = (b"\x00\x00\x00\x00" + bytes([0x0F]) + b"\x01\x00\x00\x00"
             + (79).to_bytes(4, "little") + b"\x00\x00\x00\x00" + b"\x00\x00"
             + b"\x00" * (79 - 19))
    assert len(short) == 79
    with pytest.raises(ValueError):
        parse.decode_format_desc_py(short[:-4])


def test_inconsistent_n_tok_quarantines(spark):
    """valid_size must check the ACTUAL array length against event_size
    AND that n_tok agrees — a row whose n_tok matches the embedded
    event_size while the array carries extra junk bytes previously passed
    validation and decoded garbage with a null parse_error."""
    import struct

    from binlogpipe import parse

    ev = (struct.pack("<IBIII", 1000, 0x03, 1, 23, 4)[:17]
          + struct.pack("<H", 0) + b"\x12\x34\x56\x78")   # valid 23B STOP
    junk = list(ev) + [0xAA] * 4                          # array lies
    rows = [("ok/0", list(ev), 23, "s"),
            ("bad/0", junk, 23, "s"),                     # n_tok==event_size, array longer
            ("bad/1", list(ev), 27, "s")]                 # n_tok disagrees with array
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    sinks = {r["doc_id"]: r["sink"]
             for r in parse.with_header(df).select("doc_id", "sink").collect()}
    assert sinks["ok/0"] == "STOP"
    assert sinks["bad/0"] == "QUARANTINE"
    assert sinks["bad/1"] == "QUARANTINE"


def test_rows_many1_prefix_and_failure_semantics():
    """Reference parity pins (mod.rs:1244-1250 `let (_, rows) = many1`):
    a failing tail AFTER >=1 complete row keeps the parsed prefix and the
    event succeeds (remainder silently discarded); zero parsable rows —
    including empty col_data — fails the whole event; corrupt declared
    column_count cannot silently truncate bitmaps into the checksum."""
    import pytest

    defs = [(3, [])]  # one Long column -> row = bitmap(1) + 4 bytes

    def rows_event(col_data: bytes, cc: int = 1) -> bytes:
        p = struct.pack("<IH", 0x0505, 0)[:6]   # u48 table_id
        p += struct.pack("<H", 1)               # flags
        p += struct.pack("<H", 2)               # extra_data_len == 2
        p += bytes([cc])                        # column_count lenenc
        p += bytes([0x01])                      # image bits1
        p += col_data
        return make_event(0x1E, p)[:-4]

    one_row = bytes([0x00]) + struct.pack("<i", 42)
    # complete row + 2-byte garbage tail: prefix kept, event clean
    d = parse.decode_rows_py(rows_event(one_row + b"\xAA\xBB"), defs, 1)
    assert len(d["rows"]) == 1
    assert d["rows"][0][0]["bytes"] == [42, 0, 0, 0]
    # first row already incomplete: many1 needs >=1 -> event fails
    with pytest.raises(Exception):
        parse.decode_rows_py(rows_event(b"\x00\x2A"), defs, 1)
    # empty col_data: zero rows -> event fails
    with pytest.raises(Exception):
        parse.decode_rows_py(rows_event(b""), defs, 1)
    # corrupt column_count (250 -> 32-byte bitmap > event): bitmap
    # overrun raises instead of truncating into the checksum
    with pytest.raises(ValueError, match="bitmaps overrun"):
        parse.decode_rows_py(rows_event(one_row, cc=250), defs, 1)

    # corrupt NewDecimal metadata (scale > precision) fails the row
    # instead of silently decoding a wrong-width cell
    from binlogpipe.coltypes import new_decimal_len
    with pytest.raises(ValueError, match="scale"):
        new_decimal_len(2, 10)
