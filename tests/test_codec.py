"""Unit tests for the wire primitives (utils.rs / codec.rs semantics)."""

import pytest

from binlogpipe import np_codec as c
from binlogpipe.coltypes import new_decimal_len, parse_defs


def test_fixed_ints():
    buf = bytes([1, 2, 3, 4, 5, 6, 7, 8])
    assert c.u8(buf, 0) == (1, 1)
    assert c.u16(buf, 0) == (0x0201, 2)
    assert c.u32(buf, 0) == (0x04030201, 4)
    assert c.u48(buf, 0) == (0x060504030201, 6)
    assert c.u64(buf, 0) == (0x0807060504030201, 8)


def test_i64_negative():
    # u64 wraps two's-complement into the i64 LongType range
    assert c.u64(b"\xff" * 8, 0) == (-1, 8)


def test_lenenc_old_crate_boundaries():
    # old crate: 0..=0xfa immediate; 0xfb/0xfc -> 2-byte (utils.rs:35-58)
    assert c.int_lenenc(bytes([0xFA]), 0) == (0xFA, 1)
    assert c.int_lenenc(bytes([0xFB, 0x34, 0x12]), 0) == (0x1234, 3)
    assert c.int_lenenc(bytes([0xFC, 0x34, 0x12]), 0) == (0x1234, 3)
    assert c.int_lenenc(bytes([0xFD, 1, 2, 3]), 0) == (0x030201, 4)
    assert c.int_lenenc(bytes([0xFE]) + bytes(range(1, 9)), 0) == (
        0x0807060504030201, 9)
    with pytest.raises(ValueError):
        c.int_lenenc(bytes([0xFF]), 0)


def test_strings():
    assert c.extract_string(b"abc\x00def") == "abc"
    assert c.extract_string(b"abc") == "abc"
    assert c.string_nul(b"xx\x00yy", 0) == ("xx", 3)
    assert c.string_fixed(b"\x03abcdef", 0) == (3, "abc", 4)
    # lossy utf-8 like String::from_utf8_lossy
    assert c.extract_string(b"\xff\xfe") == "��"


def test_take_bounds():
    """take is the reference's nom take(n): the exact bytes and the offset
    after them, or a ValueError when n < 0 or the bytes run past buf."""
    buf = b"abcdef"
    assert c.take(buf, 2, 4) == (b"cdef", 6)        # exact fit
    assert c.take(buf, 6, 0) == (b"", 6)            # n == 0 at the end
    with pytest.raises(ValueError, match="schema overruns"):
        c.take(buf, 2, 5, "schema")                 # one byte over
    with pytest.raises(ValueError, match="overruns"):
        c.take(buf, 0, -1)                          # negative length


def test_byte_decimal_concat():
    assert c.byte_decimal_concat(bytes([1, 44])) == "144"
    assert c.byte_decimal_concat(bytes([0, 0])) == "00"


def test_new_decimal_len():
    # DECIMAL(10,4): intg=6 -> dig2bytes[6]=3; frac 4 -> dig2bytes[4]=2 => 5
    assert new_decimal_len(10, 4) == 5
    assert new_decimal_len(10, 0) == 5  # intg=10: 4 + dig2bytes[1]=1
    assert new_decimal_len(18, 9) == 8


def test_parse_defs_varchar_and_quirks():
    # VarChar meta is u16le; Time2 def yields Timestamp2 (mysql.rs:143)
    defs = parse_defs([3, 15, 19], bytes([160, 0, 5]))
    assert defs == [(3, []), (15, [160]), (17, [5])]


def test_lenenc_truncated_payload_raises():
    """A lenenc prefix whose payload overruns the buffer must FAIL (nom
    take parity), not silently decode a short slice into a wrong value —
    e.g. a TABLE_MAP truncated right after a 0xFC column-count prefix
    would otherwise build a clean dim row with column_count 0."""
    import pytest

    from binlogpipe import np_codec as c

    for buf in (b"\xfc\x01", b"\xfd\x01\x02", b"\xfe" + b"\x01" * 7):
        with pytest.raises(ValueError):
            c.int_lenenc(buf, 0)
    # exact-fit payloads still decode
    assert c.int_lenenc(b"\xfc\x01\x02", 0) == (0x0201, 3)


def test_tokens_to_bytes_wraps_to_low_byte():
    """tokens_to_bytes keeps each token's low byte for every value class:
    plain bytes, the wrap boundary, negatives, and multi-byte ints."""
    from binlogpipe import np_codec as c

    vals = [0, 1, 127, 128, 255, 256, 257, -1, -128, -256, 300,
            65535, -65536, 2**31 - 1, -(2**31)]
    assert c.tokens_to_bytes(vals).hex() == "00017f80ff0001ff80002cff00ff00"
