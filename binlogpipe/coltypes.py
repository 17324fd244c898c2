"""MySQL column-type registry: metadata decode + row-image cell decode.

Re-expresses the semantics of the reference's ColTypes/ColValues
(`/root/reference/crates/old/src/mysql.rs:13-310`): 30 wire column types,
per-type metadata widths (`mysql.rs:48-81`), metadata decode `parse_def`
(`mysql.rs:122-146`) and cell decode `parse` (`mysql.rs:148-267`).

Representation in the Spark build (SURVEY §1.2):
- the enrich dictionary stores each column as ``(type_id:int, meta:[int])``
  where meta holds the *decoded* metadata values (VarChar max_len,
  NewDecimal (precision, scale), Blob len_bytes, Bit (b1, b2), ...);
- decoded cells keep **raw little-endian bytes** exactly as the reference
  does (tests assert on raw bytes, e.g. tests/test.rs:249), except
  Float/Double which are converted (mysql.rs:158-167). Cell =
  ``struct<kind:string, bytes:array<int>, num_val:double>``.

Replicated reference quirks (SURVEY §1.2):
- ColTypes::String cells are emitted with kind "VarChar" (mysql.rs:255-261);
- TableMap metadata for Time2 decodes to a Timestamp2 type (mysql.rs:143) —
  cell width is identical (4 bytes) so only the kind string changes;
- the per-row NULL bitmap is skipped without being interpreted
  (mod.rs:1219): cell decode never consults null bits;
- VarString/String cells advance the row cursor by ``len`` only: the
  reference's parse returns ``(len, value)`` for these two types — omitting
  the 1-byte length prefix it consumed — and parse_row does
  ``index += offset`` against the *original* slice (mysql.rs:255-267,
  mod.rs:1222-1224), so the next column re-reads the string's final byte.
  Replicated byte-for-byte (pinned by test_varstring_advance_quirk).
"""

from __future__ import annotations

from . import np_codec as c

# type_id constants (mysql.rs:83-120)
T_DECIMAL, T_TINY, T_SHORT, T_LONG, T_FLOAT, T_DOUBLE, T_NULL = 0, 1, 2, 3, 4, 5, 6
T_TIMESTAMP, T_LONGLONG, T_INT24, T_DATE, T_TIME, T_DATETIME, T_YEAR = 7, 8, 9, 10, 11, 12, 13
T_NEWDATE, T_VARCHAR, T_BIT, T_TIMESTAMP2, T_DATETIME2, T_TIME2 = 14, 15, 16, 17, 18, 19
T_NEWDECIMAL, T_ENUM, T_SET = 246, 247, 248
T_TINYBLOB, T_MEDIUMBLOB, T_LONGBLOB, T_BLOB, T_VARSTRING, T_STRING, T_GEOMETRY = (
    249, 250, 251, 252, 253, 254, 255,
)

KIND_NAMES: dict[int, str] = {
    T_DECIMAL: "Decimal", T_TINY: "Tiny", T_SHORT: "Short", T_LONG: "Long",
    T_FLOAT: "Float", T_DOUBLE: "Double", T_NULL: "Null",
    T_TIMESTAMP: "Timestamp", T_LONGLONG: "LongLong", T_INT24: "Int24",
    T_DATE: "Date", T_TIME: "Time", T_DATETIME: "DateTime", T_YEAR: "Year",
    T_NEWDATE: "NewDate", T_VARCHAR: "VarChar", T_BIT: "Bit",
    T_TIMESTAMP2: "Timestamp2", T_DATETIME2: "DateTime2", T_TIME2: "Time2",
    T_NEWDECIMAL: "NewDecimal", T_ENUM: "Enum", T_SET: "Set",
    T_TINYBLOB: "TinyBlob", T_MEDIUMBLOB: "MediumBlob", T_LONGBLOB: "LongBlob",
    T_BLOB: "Blob", T_VARSTRING: "VarString", T_STRING: "String",
    T_GEOMETRY: "Geometry",
}

# dig2bytes table, copied by the reference from mysql-server
# (mysql.rs:216-229)
_DIG2BYTES = [0, 1, 1, 2, 2, 3, 3, 4, 4, 4]


def new_decimal_len(precision: int, scale: int) -> int:
    """Packed-BCD byte length for NewDecimal(p, s) (mysql.rs:216-229).

    scale > precision is corrupt metadata: Python's floor division on the
    negative intg would silently yield a small positive length and decode
    wrong-width cells with no error, desyncing every later column; the
    reference's u8 subtraction underflows and the row never decodes
    cleanly there — fail the row instead."""
    if scale > precision:
        raise ValueError(
            f"NewDecimal scale {scale} > precision {precision}")
    intg = precision - scale
    intg0, frac0 = intg // 9, scale // 9
    intg0x, frac0x = intg - intg0 * 9, scale - frac0 * 9
    return intg0 * 4 + _DIG2BYTES[intg0x] + frac0 * 4 + _DIG2BYTES[frac0x]


def parse_defs(type_ids: list[int], meta_buf: bytes) -> list[tuple[int, list[int]]]:
    """Decode the TableMap column-metadata block (mysql.rs:122-146).

    Returns [(type_id, meta_values)] per column. Mirrors the quirk that
    Time2 metadata yields a Timestamp2 type (mysql.rs:143).
    """
    out: list[tuple[int, list[int]]] = []
    off = 0
    for tid in type_ids:
        if tid in (T_FLOAT, T_DOUBLE, T_BLOB, T_GEOMETRY, T_TIMESTAMP2, T_DATETIME2):
            out.append((tid, [meta_buf[off]]))
            off += 1
        elif tid == T_TIME2:
            out.append((T_TIMESTAMP2, [meta_buf[off]]))  # reference quirk
            off += 1
        elif tid == T_VARCHAR:
            v, off = c.u16(meta_buf, off)
            out.append((tid, [v]))
        elif tid in (T_NEWDECIMAL, T_VARSTRING, T_STRING, T_BIT):
            out.append((tid, [meta_buf[off], meta_buf[off + 1]]))
            off += 2
        else:
            out.append((tid, []))
    return out


# fixed-width cells: raw little-endian bytes of this many bytes
# (mysql.rs:148-267); Int24 reads 4 bytes like the reference
# (mysql.rs:172-174), and the v2 temporals a fixed 4 (mysql.rs:207-215; an
# acknowledged approximation in the reference)
_FIXED_WIDTH = {
    T_DECIMAL: 4, T_TINY: 1, T_SHORT: 2, T_LONG: 4, T_LONGLONG: 8,
    T_INT24: 4, T_YEAR: 2, T_TIMESTAMP2: 4, T_DATETIME2: 4, T_TIME2: 4,
}


def decode_cell(buf: bytes, off: int, type_id: int, meta: list[int]):
    """Decode one row-image cell (mysql.rs:148-267).

    Returns ``((kind, bytes_list, num_val), new_off)`` where bytes_list is
    the raw little-endian byte values (list of int) or None, and num_val is
    the converted Float/Double value or None. Every width goes through
    ``np_codec.take``, so a cell that overruns the row image fails the row.
    """
    t = type_id
    n = _FIXED_WIDTH.get(t)
    if n is not None:
        b, end = c.take(buf, off, n, KIND_NAMES[t])
        return (KIND_NAMES[t], list(b), None), end
    if t == T_FLOAT:
        v, n = c.f32(buf, off)
        return ("Float", None, v), n
    if t == T_DOUBLE:
        v, n = c.f64(buf, off)
        return ("Double", None, v), n
    if t in (T_TIMESTAMP, T_DATE, T_TIME, T_DATETIME):
        # packed temporal: 1-byte length + payload, length byte kept in the
        # value (parse_packed, mysql.rs:270-276)
        b, end = c.take(buf, off, 1 + buf[off], KIND_NAMES[t])
        return (KIND_NAMES[t], list(b), None), end
    if t == T_VARCHAR:
        max_len = meta[0] if meta else 0
        # 2-byte length prefix iff declared max_len > 255 (mysql.rs:190-202)
        if max_len > 255:
            ln, o = c.u16(buf, off)
        else:
            ln, o = buf[off], off + 1
        b, end = c.take(buf, o, ln, "VarChar")
        return ("VarChar", list(b), None), end
    if t == T_BIT:
        b1, b2 = (meta + [0, 0])[:2]
        b, end = c.take(buf, off, (b1 + 7) // 8 + (b2 + 7) // 8, "Bit")
        return ("Bit", list(b), None), end
    if t == T_NEWDECIMAL:
        p, s = (meta + [10, 0])[:2]
        b, end = c.take(buf, off, new_decimal_len(p, s), "NewDecimal")
        return ("NewDecimal", list(b), None), end
    if t in (T_NULL, T_NEWDATE, T_ENUM, T_SET, T_TINYBLOB, T_MEDIUMBLOB,
             T_LONGBLOB):
        return (KIND_NAMES[t], None, None), off
    if t == T_BLOB:
        lb, o = c.take(buf, off, meta[0] if meta else 1, "Blob length")
        b, end = c.take(buf, o, int.from_bytes(lb, "little"), "Blob")
        return ("Blob", list(b), None), end
    if t in (T_VARSTRING, T_STRING):
        # quirks: the consumed length omits the 1-byte prefix (module
        # docstring), and String cells are emitted as VarChar
        # (mysql.rs:255-261)
        ln = buf[off]
        b, _ = c.take(buf, off + 1, ln, KIND_NAMES[t])
        return ("VarString" if t == T_VARSTRING else "VarChar", list(b),
                None), off + ln
    if t == T_GEOMETRY:
        b, end = c.take(buf, off, meta[0] if meta else 1, "Geometry")
        return ("Geometry", list(b), None), end
    raise ValueError(f"unknown column type id {t}")


def decode_row(buf: bytes, init_idx: int, col_defs: list[tuple[int, list[int]]]):
    """Decode one row image (mod.rs:1214-1227).

    `init_idx` skips the per-row NULL bitmap without interpreting it
    (mod.rs:1219); when the remaining input is empty the skip is zero.
    Returns (cells, consumed_bytes).
    """
    idx = init_idx if len(buf) != 0 else 0
    cells = []
    for tid, meta in col_defs:
        cell, idx = decode_cell(buf, idx, tid, meta)
        cells.append(cell)
    return cells, idx
