"""Wire-format primitives for binlog byte payloads.

Re-implements the decoding semantics of the reference's scalar helpers
(`/root/reference/crates/old/src/utils.rs:13-109`,
`/root/reference/crates/core/src/codec.rs:99-223`) as plain Python/numpy
functions used *inside* Arrow-batched UDFs. These never surface as
Spark types; they are decoder details (SURVEY §1.2).

All functions take `(buf: bytes, off: int)` and return `(value, new_off)`
unless noted. `int.from_bytes` is a C-level call, so per-event decode stays
cheap.

Decoder contract: a decoder's `buf` is one event's header + payload, without
the 4-byte checksum (`parse._arrow_tokens` cuts it), so "to the end of the
event" is `len(buf)`. Every length-derived read goes through `take`, the
reference's nom `take(n)`: a declared length that runs past the buffer
fails the row instead of truncating into a clean-looking value. The
fixed-width readers below are `take`s too.
"""

from __future__ import annotations

import numpy as np


def take(buf: bytes, off: int, n: int, what: str = "field") -> tuple[bytes, int]:
    """The `n` bytes at `off` and the offset after them. Raises ValueError
    when `n < 0` or the bytes run past `buf`: the reference's nom take(n)
    fails there, where a Python slice would truncate silently. `what`
    names the field in the error."""
    end = off + n
    if n < 0 or end > len(buf):
        raise ValueError(f"{what} overruns: {n} bytes at {off}, "
                         f"buffer of {len(buf)}")
    return buf[off:end], end


def u8(buf: bytes, off: int) -> tuple[int, int]:
    return buf[off], off + 1


def u16(buf: bytes, off: int) -> tuple[int, int]:
    b, end = take(buf, off, 2)
    return int.from_bytes(b, "little"), end


def u32(buf: bytes, off: int) -> tuple[int, int]:
    b, end = take(buf, off, 4)
    return int.from_bytes(b, "little"), end


def u48(buf: bytes, off: int) -> tuple[int, int]:
    b, end = take(buf, off, 6)
    return int.from_bytes(b, "little"), end


def u64(buf: bytes, off: int) -> tuple[int, int]:
    """64-bit little-endian read, wrapped two's-complement to i64: the sink
    columns are Spark LongType, and an unsigned Python int >= 2^63 would
    fail the Arrow conversion of the whole decoded batch."""
    b, end = take(buf, off, 8)
    return int.from_bytes(b, "little", signed=True), end


def f32(buf: bytes, off: int) -> tuple[float, int]:
    return float(np.frombuffer(buf, dtype="<f4", count=1, offset=off)[0]), off + 4


def f64(buf: bytes, off: int) -> tuple[float, int]:
    return float(np.frombuffer(buf, dtype="<f8", count=1, offset=off)[0]), off + 8


_LENENC_WIDTH = {0xFB: 2, 0xFC: 2, 0xFD: 3, 0xFE: 8}


def int_lenenc(buf: bytes, off: int) -> tuple[int, int]:
    """Length-encoded integer (utils.rs:35-58).

    Follows the *old* crate's boundary semantics (0xfb and 0xfc both mark a
    2-byte int); the core crate disagrees (codec.rs:123-155 treats 0..=0xfb
    as immediate) — SURVEY §1.2 note. Fixture values never hit the
    disputed 0xfb byte.
    """
    first = buf[off]
    if first <= 0xFA:
        return first, off + 1
    # payload reads are bounds-checked like the fixed-width readers: a
    # prefix at the buffer end must FAIL the row (nom take parity), not
    # silently decode a short slice into a confident wrong value
    n = _LENENC_WIDTH.get(first)
    if n is None:
        raise ValueError("lenenc prefix 0xff is invalid")
    b, end = take(buf, off + 1, n, "lenenc integer")
    return int.from_bytes(b, "little"), end


def utf8_lossy(b: bytes) -> str:
    """String::from_utf8_lossy equivalent."""
    return b.decode("utf-8", errors="replace")


def extract_string(b: bytes) -> str:
    """Trim at first NUL, lossy-decode the prefix (utils.rs:82-88)."""
    null_end = b.find(b"\x00")
    if null_end == -1:
        null_end = len(b)
    return utf8_lossy(b[:null_end])


def string_nul(buf: bytes, off: int) -> tuple[str, int]:
    """NUL-terminated string; consumes the terminator (utils.rs:73-79)."""
    end = buf.find(b"\x00", off)
    if end == -1:
        end = len(buf)
    return utf8_lossy(buf[off:end]), min(end + 1, len(buf))


def string_fixed(buf: bytes, off: int) -> tuple[int, str, int]:
    """1-byte length + that many bytes, lossy (utils.rs:104-109)."""
    n = buf[off]
    b, end = take(buf, off + 1, n, "length-prefixed string")
    return n, utf8_lossy(b), end


def tokens_to_bytes(arr) -> bytes:
    """One row's token column -> bytes. Polymorphic: accepts the contract
    array<int32> form or the internal packed-binary form (the routed table
    stores tokens as binary — parquet list<int32> encode is memory-bound
    and ~3x the whole write cost; binary is lossless and fast). A NULL
    cell maps to b'' — such rows are already QUARANTINE-routed by
    with_header, and the pack UDF must never fail the task over one."""
    if arr is None or (isinstance(arr, float) and arr != arr):  # None/NaN
        return b""
    if isinstance(arr, (bytes, bytearray)):
        return bytes(arr)
    return np.asarray(arr, dtype=np.int64).astype(np.uint8).tobytes()


_BYTE_DECIMAL = tuple(str(x) for x in range(256))


def byte_decimal_concat(b: bytes) -> str:
    """Per-byte *decimal* concatenation used by the reference's GTID
    source_id/transaction_id rendering (mod.rs:1067-1097) — NOT hex uuid.
    E.g. bytes [1, 44] -> "144".
    """
    return "".join([_BYTE_DECIMAL[x] for x in b])
