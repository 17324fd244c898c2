"""Binlog event layout constants + JVM-side header decode expressions.

Semantics mirror the reference parser's fixed 19-byte header
(`/root/reference/crates/old/src/events/mod.rs:52-81`) and its event-type
dispatch table (`mod.rs:380-417`), re-expressed as Spark column expressions
so the hot route/aggregate path stays inside whole-stage codegen (zero
Python).

The input contract (BASELINE.json input_hint): one row per event,
``tokens: array<int32>`` holding the event's raw bytes (values 0..255),
``n_tok = size(tokens)``, ``doc_id``, ``source``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 4-byte file magic [0xfe, 'b', 'i', 'n'] (mod.rs:83-85). The fixture
# generator strips it; a runtime validation filter quarantines any row that
# still starts with it.
MAGIC = (254, 98, 105, 110)

HEADER_LEN = 19

# event_type byte -> sink name, per the dispatch match (mod.rs:380-417).
EVENT_TYPES: dict[int, str] = {
    0x00: "UNKNOWN",
    0x02: "QUERY",
    0x03: "STOP",
    0x04: "ROTATE",
    0x05: "INTVAR",
    0x06: "LOAD",
    0x07: "SLAVE",
    0x08: "CREATE_FILE",
    0x09: "APPEND_BLOCK",
    0x0A: "EXEC_LOAD",
    0x0B: "DELETE_FILE",
    0x0C: "NEW_LOAD",
    0x0D: "RAND",
    0x0E: "USER_VAR",
    0x0F: "FORMAT_DESC",
    0x10: "XID",
    0x11: "BEGIN_LOAD_QUERY",
    0x12: "EXEC_LOAD_QUERY",
    0x13: "TABLE_MAP",
    0x1A: "INCIDENT",
    0x1B: "HEARTBEAT",
    0x1D: "ROWS_QUERY",
    0x1E: "WRITE_ROWS_V2",
    0x1F: "UPDATE_ROWS_V2",
    0x20: "DELETE_ROWS_V2",
    0x21: "GTID",
    0x22: "ANON_GTID",
    0x23: "PREV_GTIDS",
}

# v0/v1 rows events 0x14..0x19 are explicitly unsupported in the reference
# (`unreachable!()`, mod.rs:405); we quarantine instead of panicking.
QUARANTINE_SINK = "QUARANTINE"

# Hot-type salt factors (BASELINE.md skew: QUERY 38/166, GTID 32/166) used
# by the router's salted repartition. Factors are per 1M rows of a sink at
# scale; tuned so one hot event type never serializes into one task.
SALT_FACTORS: dict[str, int] = {
    "QUERY": 16,
    "GTID": 16,
    "FORMAT_DESC": 8,
    "PREV_GTIDS": 8,
    "ROTATE": 8,
    "XID": 8,
}
DEFAULT_SALT_FACTOR = 4


def _b(col: Column, off: int) -> Column:
    """Byte at 0-based offset `off` of the tokens array, as long.

    try_element_at, not element_at: under ANSI mode an out-of-bounds index
    throws, so a single truncated row (< 19 header bytes) would fail the
    whole route stage. Null-on-short-row flows into a null event_size ->
    null valid_size -> QUARANTINE (with_header coalesces to False)."""
    return F.try_element_at(col, F.lit(off + 1)).cast("long")


def u8(col: Column, off: int) -> Column:
    return _b(col, off)


def u16le(col: Column, off: int) -> Column:
    return _b(col, off) + _b(col, off + 1) * 256


def u24le(col: Column, off: int) -> Column:
    return u16le(col, off) + _b(col, off + 2) * 65536


def u32le(col: Column, off: int) -> Column:
    return u24le(col, off) + _b(col, off + 3) * 16777216


def u48le(col: Column, off: int) -> Column:
    return u32le(col, off) + _b(col, off + 4) * (1 << 32) + _b(col, off + 5) * (1 << 40)


def header_columns(tokens: Column) -> dict[str, Column]:
    """Fixed 19-byte header (mod.rs:52-81) as pure column expressions."""
    return {
        "timestamp": u32le(tokens, 0),
        "event_type": u8(tokens, 4).cast("int"),
        "server_id": u32le(tokens, 5),
        "event_size": u32le(tokens, 9),
        "log_pos": u32le(tokens, 13),
        "flags": u16le(tokens, 17).cast("int"),
    }


def flag_columns(flags: Column) -> dict[str, Column]:
    """The 10 EventFlag booleans (mod.rs:28-40, 58-69)."""
    names = [
        "in_use", "forced_rotate", "thread_specific", "suppress_use",
        "update_table_map_version", "artificial", "relay_log", "ignorable",
        "no_filter", "mts_isolate",
    ]
    return {
        f"flag_{n}": (F.shiftright(flags, i) % 2 == 1) for i, n in enumerate(names)
    }


def sink_expr(event_type: Column) -> Column:
    """event_type byte -> sink name; unknown/v0-v1 rows -> QUARANTINE."""
    expr = F.lit(QUARANTINE_SINK)
    # Build as a chained CASE WHEN (codegen-friendly, no Python).
    c = None
    for tid, name in EVENT_TYPES.items():
        cond = event_type == tid
        c = F.when(cond, name) if c is None else c.when(cond, name)
    return c.otherwise(expr)


def checksum_expr(tokens: Column) -> Column:
    """Trailing CRC32 bytes as u32le (parsed, never verified — H3).

    Guarded: element_at(tokens, 0) throws in Spark, so a malformed row with
    exactly 3 tokens would otherwise fail the whole route stage instead of
    quarantining — rows shorter than the 4 checksum bytes yield null."""
    n = F.size(tokens)
    return F.when(
        n >= 4,
        F.element_at(tokens, n - 3).cast("long")
        + F.element_at(tokens, n - 2).cast("long") * 256
        + F.element_at(tokens, n - 1).cast("long") * 65536
        + F.element_at(tokens, n).cast("long") * 16777216,
    )
