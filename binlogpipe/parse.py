"""Parse stage: header decode (pure JVM expressions) + per-event-type
payload decoders (Arrow-batched UDFs).

Each payload decoder is one ``bytes -> dict`` function that re-implements
the semantics of the matching reference parser (the old crate's
``src/events/mod.rs``; file:line cited per function). It is the only
decoder of its event type: ``_rowwise`` wraps it, the rows decoder
included, as a Spark arrow_udf that packs the tokens batch (packed binary,
or the contract array<int32>) once, splits it into per-row ``bytes`` and
runs ``_decode_frame``'s per-row loop. The loop runs per Arrow batch: no
row-at-a-time Spark UDFs. Strings use lossy UTF-8 exactly like the
reference (utils.rs:66,75,87,94).

Each decoder gets the event's header + payload: ``_arrow_tokens`` cuts the
4-byte checksum, so "to the end of the event" is ``len(buf)`` and a
fixed-width read that runs into the checksum fails. Every length-derived
read goes through ``np_codec.take``, which fails the row when the length
runs past the event (the reference's nom ``take``).

Decode errors never panic an executor (the reference `unreachable!()`s,
mod.rs:405-415): every decode struct carries a ``parse_error`` field, and the
router sends rows with a non-null error to the quarantine sink.
"""

from __future__ import annotations

import functools as _functools
import json
import struct as _struct
from typing import Callable

import pandas as pd
import pyarrow as pa  # module-level: arrow_udf type-hint resolution needs
                      # `pa` in module globals under future-annotations
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from . import layout
from . import np_codec as c
from .coltypes import decode_row, parse_defs

# ---------------------------------------------------------------------------
# header / validation (JVM-only, whole-stage codegen)
# ---------------------------------------------------------------------------


def with_header(df: DataFrame) -> DataFrame:
    """Add header fields, sink, checksum and validation flags.

    Pure column expressions (layout.py) — the route/aggregate hot path never
    leaves the JVM. Mirrors parse_header (mod.rs:52-81) + dispatch
    (mod.rs:380-417) + checksum tail (H3).
    """
    tokens = F.col("tokens")
    cols = layout.header_columns(tokens)
    df = df.select("*", *[v.alias(k) for k, v in cols.items()])
    df = df.withColumn("checksum", layout.checksum_expr(tokens))
    # Validation invariants (SURVEY §2.1 S2/S3): header length field must
    # equal the token count; magic-prefixed rows are file headers that the
    # splitter should have stripped; event type must be known.
    magic = layout.MAGIC
    # guard on the ACTUAL array size, not the n_tok data column: a row
    # whose n_tok disagrees with its tokens array (inconsistent contract
    # columns) must quarantine, not throw INVALID_ARRAY_INDEX under
    # Spark 4's default ANSI mode and kill the whole route stage
    is_magic = (
        (F.size(tokens) >= 4)
        & (F.element_at(tokens, 1) == magic[0])
        & (F.element_at(tokens, 2) == magic[1])
        & (F.element_at(tokens, 3) == magic[2])
        & (F.element_at(tokens, 4) == magic[3])
    )
    # valid_size checks the ACTUAL array length against the embedded
    # event_size AND that the n_tok contract column agrees: trusting
    # n_tok alone let a row whose tokens array disagreed with it (corrupt
    # contract columns) pass validation and decode garbage with a null
    # parse_error. The DuckDB oracle gate (__spark_entry__._VALID) mirrors
    # both conjuncts.
    df = (
        df.withColumn(
            "valid_size",
            (F.size(tokens).cast("long") == F.col("event_size"))
            & (F.col("n_tok").cast("long") == F.size(tokens).cast("long")))
        .withColumn("is_magic", is_magic)
        .withColumn("sink", layout.sink_expr(F.col("event_type")))
    )
    # null-safe: rows with n_tok < 13 have a null event_size, so valid_size
    # is null — coalesce to False so short rows quarantine instead of
    # slipping into typed sinks through a null predicate.
    df = df.withColumn(
        "sink",
        F.when(
            ~F.coalesce(F.col("valid_size"), F.lit(False)) | F.col("is_magic"),
            layout.QUARANTINE_SINK,
        ).otherwise(F.col("sink")),
    )
    return df


# ---------------------------------------------------------------------------
# Arrow-UDF plumbing
# ---------------------------------------------------------------------------

def _struct_with_error(fields: list[T.StructField]) -> T.StructType:
    return T.StructType(fields + [T.StructField("parse_error", T.StringType())])


def _decode_frame(tokens: list[bytes], names: list[str],
                  fn: Callable[..., dict], *extra) -> dict[str, list]:
    """One Arrow batch -> one list per decoded column: the per-row loop,
    whose try/except turns a bad row into a parse_error row. Each row calls
    ``fn(row_bytes, *row_extra)``, with one value per `extra` column (the
    rows decoder's ``columns_type``)."""
    cols: dict[str, list] = {n: [] for n in names}
    for args in zip(tokens, *extra):
        try:
            r = fn(*args)
            r["parse_error"] = None
        except Exception as e:  # noqa: BLE001 — quarantine, don't panic
            r = dict.fromkeys(names)
            r["parse_error"] = f"{type(e).__name__}: {e}"
        for n in names:
            cols[n].append(r[n])
    return cols


def _arrow_tokens(arr) -> list[bytes]:
    """One arrow_udf input batch of the tokens column -> each row's header
    + payload bytes, the one form every decoder consumes. Any input goes
    through _pack_arrow_array first (the route stage's pack: list<int32> is
    one whole-batch cast, a null cell becomes b"", which its decoder turns
    into a parse_error row), then the packed batch is copied out once and
    sliced per row at its Arrow offsets, less the 4-byte checksum."""
    import numpy as np

    n = len(arr)
    if n == 0:  # an empty IPC batch may carry no offsets buffer at all
        return []
    arr = _pack_arrow_array(arr)
    _, offs_buf, data_buf = arr.buffers()
    offs = np.frombuffer(offs_buf, dtype=np.int32)[
        arr.offset:arr.offset + n + 1]
    base = int(offs[0])
    packed = data_buf[base:int(offs[-1])].to_pybytes()
    offs = (offs - base).tolist()
    # max(): a row shorter than the checksum (a null cell is b"") becomes
    # b"", not a negative bound that reads on into its neighbours
    return [packed[a:max(a, b - 4)] for a, b in zip(offs, offs[1:])]


def _frame_to_struct(cols: dict[str, list], schema: T.StructType):
    """Decoded column lists -> pa.StructArray with the schema's exact arrow
    field types (the declared Spark types drive every conversion)."""
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.StructArray.from_arrays(
        [pa.array(cols[f.name], type=to_arrow_type(f.dataType),
                  from_pandas=True) for f in schema.fields],
        names=[f.name for f in schema.fields])


def _rowwise(schema: T.StructType, fn: Callable[..., dict]):
    """Wrap a per-event ``bytes -> dict`` decoder as a Spark 4.1 arrow_udf
    returning ``schema`` (+ parse_error). Every decoder is built here and
    is the only decoder of its event type: the tokens batch becomes
    per-row bytes (_arrow_tokens; no pandas round-trip on input or output)
    and _decode_frame runs the one per-row loop. The Python loop is per
    Arrow batch, never per Spark row; records accumulate columnar
    (dict-of-lists), and each list becomes its Arrow column directly.

    Columns after the tokens column (the rows decoder's ``columns_type``)
    reach ``fn`` as extra per-row values, converted by Arrow's C++
    ``to_numpy`` (``to_pylist`` boxes every nested scalar: ~3x slower on a
    columns_type batch)."""
    from pyspark.sql.functions import arrow_udf

    names = [f.name for f in schema.fields]

    @arrow_udf(schema)
    def audf(tokens: pa.Array, *extra: pa.Array) -> pa.Array:
        return _frame_to_struct(
            _decode_frame(_arrow_tokens(tokens), names, fn,
                          *(e.to_numpy(zero_copy_only=False) for e in extra)),
            schema)

    return audf


def _pack_arrow_array(tokens):
    """One Arrow batch of the tokens column -> BinaryArray, byte-identical
    to `tokens.map(c.tokens_to_bytes)`.

    Fast path (the contract list<int32> batch, unsliced, no nulls
    anywhere): a ListArray's offsets buffer plus its values buffer cast
    int32->uint8 ARE a BinaryArray — one whole-batch C cast, zero per-row
    Python and zero per-row allocation. The unsafe cast truncates to the
    low byte exactly like numpy's astype(np.uint8) wrap in
    tokens_to_bytes. Anything off the fast path (slices, null cells,
    unexpected types) falls back to the per-row tokens_to_bytes loop,
    which owns the polymorphic/None semantics."""
    if isinstance(tokens, pa.ChunkedArray):
        tokens = tokens.combine_chunks()
    if (pa.types.is_list(tokens.type) and tokens.offset == 0
            and tokens.null_count == 0):
        vals = tokens.values
        if vals.offset == 0 and vals.null_count == 0:
            u8 = vals.cast(pa.uint8(), safe=False)
            return pa.Array.from_buffers(
                pa.binary(), len(tokens),
                [None, tokens.buffers()[1], u8.buffers()[1]])
    if (pa.types.is_binary(tokens.type) and tokens.null_count == 0):
        return tokens  # already the internal packed form
    return pa.array([c.tokens_to_bytes(t) for t in tokens.to_pandas()],
                    pa.binary())


def pack_tokens_udf():
    """array<int32> -> packed binary (internal routed-table form). One
    vectorized Arrow pass at route time (a Spark 4.1 arrow_udf over
    _pack_arrow_array: one whole-batch cast, no per-row copies — see
    OPTIMIZATION_r07.md "route: pack UDF"); every downstream stage reads
    binary, which writes/reads ~3x faster than parquet list<int32>."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(T.BinaryType())
    def pack_arrow(tokens: pa.Array) -> pa.Array:
        return _pack_arrow_array(tokens)

    return pack_arrow


def unpack_tokens_udf():
    """packed binary -> array<int32> (for token-array equality checks and
    any consumer that wants the contract form back)."""
    import numpy as np

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def unpack(b: pd.Series) -> pd.Series:
        return b.map(lambda x: np.frombuffer(x, dtype=np.uint8).astype(np.int32))

    return unpack


# ---------------------------------------------------------------------------
# shared sub-decoders
# ---------------------------------------------------------------------------

def _sv_string_nul(buf: bytes, off: int) -> tuple[str, int]:
    """NUL-terminated string that REQUIRES the terminator (the lenient
    np_codec.string_nul reads to end-of-buffer, which here would silently
    swallow a truncated Q_UPDATED_DB_NAMES block)."""
    end = buf.find(b"\x00", off)
    if end == -1:
        raise ValueError(f"status-var string at {off} missing NUL")
    raw, end = c.take(buf, off, end - off)
    return c.utf8_lossy(raw), end + 1


def parse_status_vars(buf: bytes) -> list[dict]:
    """Query status-var block (query.rs:75-177), bounded sub-slice with the
    same exhaustion check (`assert_eq!(remain, 0)`, mod.rs:475-477): every
    read is a take, so a truncated block raises (-> parse_error row)
    instead of exiting the loop early with a partial result."""
    out: list[dict] = []
    off = 0
    while off < len(buf):
        key = buf[off]
        off += 1
        if key == 0x00:  # Q_FLAGS2 (inverted semantics, query.rs:78-93)
            code, off = c.u32(buf, off)
            out.append({
                "key": key, "name": "Q_FLAGS2_CODE",
                "auto_is_null": (code >> 14) % 2 == 1,
                "auto_commit": (code >> 19) % 2 == 0,
                "foreign_key_checks": (code >> 26) % 2 == 0,
                "unique_checks": (code >> 27) % 2 == 0,
            })
        elif key == 0x01:  # Q_SQL_MODE: 32 bool bits (query.rs:94-131)
            code, off = c.u64(buf, off)
            names = [
                "real_as_float", "pipes_as_concat", "ansi_quotes",
                "ignore_space", "not_used", "only_full_group_by",
                "no_unsigned_subtraction", "no_dir_in_create", "postgresql",
                "oracle", "mssql", "db2", "maxdb", "no_key_options",
                "no_table_options", "no_field_options", "mysql323", "mysql40",
                "ansi", "no_auto_value_on_zero", "no_backslash_escapes",
                "strict_trans_tables", "strict_all_tables", "no_zero_in_date",
                "no_zero_date", "invalid_dates",
                "error_for_division_by_zero", "traditional",
                "no_auto_create_user", "high_not_precedence",
                "no_engine_substitution", "pad_char_to_full_length",
            ]
            d = {"key": key, "name": "Q_SQL_MODE_CODE"}
            d.update({n: (code >> i) % 2 == 1 for i, n in enumerate(names)})
            out.append(d)
        elif key == 0x02:  # Q_CATALOG: len + str + NUL (query.rs:132-138)
            raw, off = c.take(buf, off + 1, buf[off], "Q_CATALOG")
            if buf[off] != 0:
                raise ValueError("Q_CATALOG missing NUL terminator")
            off += 1
            out.append({"key": key, "name": "Q_CATALOG",
                        "value": c.utf8_lossy(raw)})
        elif key == 0x03:
            incr, off = c.u16(buf, off)
            offset, off = c.u16(buf, off)
            out.append({"key": key, "name": "Q_AUTO_INCREMENT",
                        "incr": incr, "offset": offset})
        elif key == 0x04:
            cl, off = c.u16(buf, off)
            co, off = c.u16(buf, off)
            sv, off = c.u16(buf, off)
            out.append({"key": key, "name": "Q_CHARSET_CODE",
                        "client": cl, "conn": co, "server": sv})
        elif key == 0x05:
            raw, off = c.take(buf, off + 1, buf[off], "Q_TIME_ZONE_CODE")
            out.append({"key": key, "name": "Q_TIME_ZONE_CODE",
                        "value": c.extract_string(raw)})
        elif key == 0x06:
            raw, off = c.take(buf, off + 1, buf[off], "Q_CATALOG_NZ_CODE")
            out.append({"key": key, "name": "Q_CATALOG_NZ_CODE",
                        "value": c.extract_string(raw)})
        elif key == 0x07:
            v, off = c.u16(buf, off)
            out.append({"key": key, "name": "Q_LC_TIME_NAMES_CODE", "value": v})
        elif key == 0x08:
            v, off = c.u16(buf, off)
            out.append({"key": key, "name": "Q_CHARSET_DATABASE_CODE", "value": v})
        elif key == 0x09:
            v, off = c.u64(buf, off)
            out.append({"key": key, "name": "Q_TABLE_MAP_FOR_UPDATE_CODE", "value": v})
        elif key == 0x0A:
            v, off = c.u32(buf, off)
            out.append({"key": key, "name": "Q_MASTER_DATA_WRITTEN_CODE", "value": v})
        elif key == 0x0B:
            raw, off = c.take(buf, off + 1, buf[off], "Q_INVOKERS user")
            user = c.utf8_lossy(raw)
            raw, off = c.take(buf, off + 1, buf[off], "Q_INVOKERS host")
            host = c.utf8_lossy(raw)
            out.append({"key": key, "name": "Q_INVOKERS", "user": user, "host": host})
        elif key == 0x0C:
            count = buf[off]
            off += 1
            names_ = []
            for _ in range(count):
                s, off = _sv_string_nul(buf, off)
                names_.append(s)
            out.append({"key": key, "name": "Q_UPDATED_DB_NAMES", "value": names_})
        elif key == 0x0D:
            # reference reads 4 bytes though the doc says 3 (query.rs:27,174)
            v, off = c.u32(buf, off)
            out.append({"key": key, "name": "Q_MICROSECONDS", "value": v})
        else:
            raise ValueError(f"unknown status var key {key:#x}")
    return out


@_functools.lru_cache(maxsize=8192)
def _status_vars_json(buf: bytes) -> str:
    """Memoized: status-var blocks repeat across Query events of a session
    (same flags2/sql_mode/charset), so the sub-parse + JSON render runs
    once per distinct byte pattern per worker."""
    return json.dumps(parse_status_vars(buf), separators=(",", ":"))


# flag, source id, transaction id, ts_type, last_committed, sequence_number
_GTID = _struct.Struct("<B16s8sBqq")


def _gtid_fields(buf: bytes) -> dict:
    """Shared GTID/AnonymousGtid body (parse_events_gtid, mod.rs:1063-1114).
    source_id renders as per-byte decimal concat in 4-2-2-2-6 groups — NOT a
    hex uuid (mod.rs:1067-1091)."""
    flag, s, tid, ts_type, last_committed, sequence_number = (
        _GTID.unpack_from(buf, layout.HEADER_LEN))
    source_id = "-".join(
        c.byte_decimal_concat(s[a:b])
        for a, b in ((0, 4), (4, 6), (6, 8), (8, 10), (10, 16))
    )
    return {
        "rbr_only": flag == 0, "source_id": source_id,
        "transaction_id": c.byte_decimal_concat(tid), "ts_type": ts_type,
        "last_committed": last_committed, "sequence_number": sequence_number,
    }


# ---------------------------------------------------------------------------
# per-type decoders: bytes -> dict. Offsets start at 19 (end of header);
# `buf` ends where the checksum begins (event_size == len(buf) + 4 is
# validated upstream).
# ---------------------------------------------------------------------------

H = layout.HEADER_LEN


def decode_query_py(buf: bytes) -> dict:
    """Query event (mod.rs:469-514). Fixed 13-byte prefix in one struct
    call; status vars memoized (hot path: QUERY is 23% of all events)."""
    slave_proxy_id, execution_time, schema_length, error_code, svl = (
        _struct.unpack_from("<IIBHH", buf, H))
    raw, off = c.take(buf, H + 13, svl, "status vars")
    status_vars = _status_vars_json(raw)
    # the schema and the byte after it (mod.rs:481)
    schema, off = c.take(buf, off, schema_length + 1, "schema")
    return {
        "slave_proxy_id": slave_proxy_id, "execution_time": execution_time,
        "schema_length": schema_length, "error_code": error_code,
        "status_vars_length": svl, "status_vars": status_vars,
        "schema": schema[:-1].decode("utf-8"),
        "query": c.extract_string(buf[off:]),
    }


QUERY_SCHEMA = _struct_with_error([
    T.StructField("slave_proxy_id", T.LongType()),
    T.StructField("execution_time", T.LongType()),
    T.StructField("schema_length", T.IntegerType()),
    T.StructField("error_code", T.IntegerType()),
    T.StructField("status_vars_length", T.IntegerType()),
    T.StructField("status_vars", T.StringType()),
    T.StructField("schema", T.StringType()),
    T.StructField("query", T.StringType()),
])


STATUS_TYPED_SCHEMA = _struct_with_error([
    T.StructField("n_vars", T.IntegerType()),
    T.StructField("f2_auto_is_null", T.IntegerType()),
    T.StructField("f2_auto_commit", T.IntegerType()),
    T.StructField("f2_fk_checks", T.IntegerType()),
    T.StructField("f2_unique_checks", T.IntegerType()),
    T.StructField("sm_only_full_group_by", T.IntegerType()),
    T.StructField("sm_strict_trans_tables", T.IntegerType()),
    T.StructField("sm_no_engine_subst", T.IntegerType()),
    T.StructField("cs_client", T.LongType()),
    T.StructField("cs_conn", T.LongType()),
    T.StructField("cs_server", T.LongType()),
    T.StructField("catalog_nz", T.StringType()),
    T.StructField("updated_dbs", T.StringType()),
])


def decode_status_typed_py(buf: bytes) -> dict:
    """Typed projection of the Query status-vars block (query.rs:75-177):
    the inverted-FLAGS2 booleans, three SQL_MODE bits, the charset triple,
    catalog, and updated-db names as flat oracle-checkable columns. Reuses
    the golden-tested `parse_status_vars` sub-parser."""
    svl, off = c.u16(buf, H + 11)
    entries = parse_status_vars(c.take(buf, off, svl, "status vars")[0])
    by_key = {e["key"]: e for e in entries}
    b = lambda e, k: None if e is None else int(e[k])  # noqa: E731
    e0, e1, e4 = by_key.get(0), by_key.get(1), by_key.get(4)
    e6, e12 = by_key.get(6), by_key.get(12)
    return {
        "n_vars": len(entries),
        "f2_auto_is_null": b(e0, "auto_is_null"),
        "f2_auto_commit": b(e0, "auto_commit"),
        "f2_fk_checks": b(e0, "foreign_key_checks"),
        "f2_unique_checks": b(e0, "unique_checks"),
        "sm_only_full_group_by": b(e1, "only_full_group_by"),
        "sm_strict_trans_tables": b(e1, "strict_trans_tables"),
        "sm_no_engine_subst": b(e1, "no_engine_substitution"),
        "cs_client": None if e4 is None else e4["client"],
        "cs_conn": None if e4 is None else e4["conn"],
        "cs_server": None if e4 is None else e4["server"],
        "catalog_nz": None if e6 is None else e6["value"],
        "updated_dbs": None if e12 is None else ",".join(e12["value"]),
    }


def decode_rotate_py(buf: bytes) -> dict:
    """Rotate event (mod.rs:521-535)."""
    position, off = c.u64(buf, H)
    return {"position": position, "next_binlog": c.utf8_lossy(buf[off:])}


ROTATE_SCHEMA = _struct_with_error([
    T.StructField("position", T.LongType()),
    T.StructField("next_binlog", T.StringType()),
])


def decode_intvar_py(buf: bytes) -> dict:
    """IntVar event (mod.rs:537-554)."""
    kinds = {0: "InvalidIntEvent", 1: "LastInsertIdEvent", 2: "InsertIdEvent"}
    t = buf[H]
    if t not in kinds:
        raise ValueError(f"bad intvar type {t}")
    value, _ = c.u64(buf, H + 1)
    return {"e_type": kinds[t], "value": value}


INTVAR_SCHEMA = _struct_with_error([
    T.StructField("e_type", T.StringType()),
    T.StructField("value", T.LongType()),
])


def decode_rand_py(buf: bytes) -> dict:
    """Rand event (mod.rs:773-784)."""
    seed1, off = c.u64(buf, H)
    seed2, _ = c.u64(buf, off)
    return {"seed1": seed1, "seed2": seed2}


RAND_SCHEMA = _struct_with_error([
    T.StructField("seed1", T.LongType()),
    T.StructField("seed2", T.LongType()),
])


_USER_VAR_TYPES = {0: "STRING", 1: "REAL", 2: "INT", 3: "ROW", 4: "DECIMAL",
                   5: "VALUE_TYPE_COUNT"}


def decode_user_var_py(buf: bytes) -> dict:
    """UserVar event (mod.rs:797-858); INT values carry a trailing flags
    byte (mod.rs:833-840)."""
    off = H
    name_length, off = c.u32(buf, off)
    name, off = c.take(buf, off, name_length, "user var name")
    name = c.utf8_lossy(name)
    is_null = buf[off] == 1
    off += 1
    d = {"name_length": name_length, "name": name, "is_null": is_null,
         "d_type": None, "charset": None, "value_length": None,
         "value": None, "value_flags": None}
    if is_null:
        return d
    d["d_type"] = _USER_VAR_TYPES.get(buf[off], "Unknown")
    off += 1
    d["charset"], off = c.u32(buf, off)
    vl, off = c.u32(buf, off)
    d["value_length"] = vl
    value, off = c.take(buf, off, vl, "user var value")
    d["value"] = list(value)
    if d["d_type"] == "INT":
        d["value_flags"] = buf[off]
    return d


USER_VAR_SCHEMA = _struct_with_error([
    T.StructField("name_length", T.LongType()),
    T.StructField("name", T.StringType()),
    T.StructField("is_null", T.BooleanType()),
    T.StructField("d_type", T.StringType()),
    T.StructField("charset", T.LongType()),
    T.StructField("value_length", T.LongType()),
    T.StructField("value", T.ArrayType(T.IntegerType())),
    T.StructField("value_flags", T.IntegerType()),
])


def decode_format_desc_py(buf: bytes) -> dict:
    """FormatDescription event (mod.rs:860-882)."""
    binlog_version, off = c.u16(buf, H)
    server_version, off = c.take(buf, off, 50, "server version")
    create_timestamp, off = c.u32(buf, off)
    # the rest: event_header_length, supported_types, checksum_alg
    supported_types, end = c.take(buf, off + 1, len(buf) - off - 2,
                                  "supported types")
    return {
        "binlog_version": binlog_version,
        "mysql_server_version": c.extract_string(server_version),
        "create_timestamp": create_timestamp,
        "event_header_length": buf[off],
        "supported_types": list(supported_types),
        "checksum_alg": buf[end],
    }


FORMAT_DESC_SCHEMA = _struct_with_error([
    T.StructField("binlog_version", T.IntegerType()),
    T.StructField("mysql_server_version", T.StringType()),
    T.StructField("create_timestamp", T.LongType()),
    T.StructField("event_header_length", T.IntegerType()),
    T.StructField("supported_types", T.ArrayType(T.IntegerType())),
    T.StructField("checksum_alg", T.IntegerType()),
])


def decode_xid_py(buf: bytes) -> dict:
    """Xid event (mod.rs:884-894)."""
    xid, _ = c.u64(buf, H)
    return {"xid": xid}


XID_SCHEMA = _struct_with_error([T.StructField("xid", T.LongType())])


def decode_file_data_py(buf: bytes) -> dict:
    """Shared CreateFile/AppendBlock/BeginLoadQuery body
    (parse_file_data, mod.rs:663-670)."""
    file_id, off = c.u32(buf, H)
    return {"file_id": file_id, "block_data": c.extract_string(buf[off:])}


FILE_DATA_SCHEMA = _struct_with_error([
    T.StructField("file_id", T.LongType()),
    T.StructField("block_data", T.StringType()),
])


def decode_file_id16_py(buf: bytes) -> dict:
    """ExecLoad/DeleteFile body (mod.rs:698-718)."""
    file_id, _ = c.u16(buf, H)
    return {"file_id": file_id}


FILE_ID16_SCHEMA = _struct_with_error([T.StructField("file_id", T.IntegerType())])


_DUP_HANDLING = {0: "Error", 1: "Ignore", 2: "Replace"}


# thread_id, execution_time, schema_length, error_code, status_vars_length,
# file_id, start_pos, end_pos, dup_handling
_EXEC_LOAD_QUERY = _struct.Struct("<IIBHHIIIB")


def decode_execute_load_query_py(buf: bytes) -> dict:
    """ExecuteLoadQuery event (mod.rs:909-964)."""
    (thread_id, execution_time, schema_length, error_code, svl, file_id,
     start_pos, end_pos, dup_byte) = _EXEC_LOAD_QUERY.unpack_from(buf, H)
    dup = _DUP_HANDLING.get(dup_byte)
    if dup is None:
        raise ValueError(f"bad dup_handling {dup_byte}")
    raw, off = c.take(buf, H + _EXEC_LOAD_QUERY.size, svl, "status vars")
    status_vars = _status_vars_json(raw)
    schema, off = c.take(buf, off, schema_length + 1, "schema")
    return {
        "thread_id": thread_id, "execution_time": execution_time,
        "schema_length": schema_length, "error_code": error_code,
        "status_vars_length": svl, "file_id": file_id,
        "start_pos": start_pos, "end_pos": end_pos,
        "dup_handling_flags": dup, "status_vars": status_vars,
        "schema": schema[:-1].decode("utf-8"),
        "query": c.extract_string(buf[off:]),
    }


EXEC_LOAD_QUERY_SCHEMA = _struct_with_error([
    T.StructField("thread_id", T.LongType()),
    T.StructField("execution_time", T.LongType()),
    T.StructField("schema_length", T.IntegerType()),
    T.StructField("error_code", T.IntegerType()),
    T.StructField("status_vars_length", T.IntegerType()),
    T.StructField("file_id", T.LongType()),
    T.StructField("start_pos", T.LongType()),
    T.StructField("end_pos", T.LongType()),
    T.StructField("dup_handling_flags", T.StringType()),
    T.StructField("status_vars", T.StringType()),
    T.StructField("schema", T.StringType()),
    T.StructField("query", T.StringType()),
])


def decode_table_map_py(buf: bytes) -> dict:
    """TableMap event (mod.rs:966-1018). The dictionary row that feeds the
    enrich broadcast join (replaces the reference's global registry,
    mod.rs:23-26, 999-1001).

    ``DECODERS["TABLE_MAP"]`` runs it once per row, with no memo: a memo
    keyed on the event never hits, since
    every event carries its own header (timestamp, log_pos) and CRC even
    when two bodies are byte-identical."""
    off = H
    table_id, off = c.u48(buf, off)
    tm_flags, off = c.u16(buf, off)
    schema_length, schema_name, off = c.string_fixed(buf, off)
    if buf[off] != 0:
        raise ValueError("missing NUL after schema")
    off += 1
    table_name_length, table_name, off = c.string_fixed(buf, off)
    if buf[off] != 0:
        raise ValueError("missing NUL after table name")
    off += 1
    column_count, off = c.int_lenenc(buf, off)
    type_ids, off = c.take(buf, off, column_count, "column types")
    meta_count, off = c.int_lenenc(buf, off)
    meta, off = c.take(buf, off, meta_count, "column metadata")
    defs = parse_defs(list(type_ids), meta)
    null_bits, _ = c.take(buf, off, (column_count + 7) // 8, "null bitmap")
    return {
        "table_id": table_id, "tm_flags": tm_flags,
        "schema_name": schema_name, "table_name": table_name,
        "column_count": column_count,
        "columns_type": [{"type_id": t, "meta": m} for t, m in defs],
        "null_bits": list(null_bits),
    }


COLUMNS_TYPE_T = T.ArrayType(T.StructType([
    T.StructField("type_id", T.IntegerType()),
    T.StructField("meta", T.ArrayType(T.IntegerType())),
]))

TABLE_MAP_SCHEMA = _struct_with_error([
    T.StructField("table_id", T.LongType()),
    T.StructField("tm_flags", T.IntegerType()),
    T.StructField("schema_name", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("column_count", T.IntegerType()),
    T.StructField("columns_type", COLUMNS_TYPE_T),
    T.StructField("null_bits", T.ArrayType(T.IntegerType())),
])


def decode_incident_py(buf: bytes) -> dict:
    """Incident event (mod.rs:1020-1041)."""
    d_type, off = c.u16(buf, H)
    kinds = {0: "None", 1: "LostEvents"}
    if d_type not in kinds:
        raise ValueError(f"bad incident type {d_type}")
    ln = buf[off]
    message, _ = c.take(buf, off + 1, ln, "message")
    return {"d_type": kinds[d_type], "message_length": ln,
            "message": c.utf8_lossy(message)}


INCIDENT_SCHEMA = _struct_with_error([
    T.StructField("d_type", T.StringType()),
    T.StructField("message_length", T.IntegerType()),
    T.StructField("message", T.StringType()),
])


def decode_rows_query_py(buf: bytes) -> dict:
    """RowsQuery event (mod.rs:1048-1061)."""
    ln = buf[H]
    query_text, _ = c.take(buf, H + 1, ln, "query text")
    return {"length": ln, "query_text": c.utf8_lossy(query_text)}


ROWS_QUERY_SCHEMA = _struct_with_error([
    T.StructField("length", T.IntegerType()),
    T.StructField("query_text", T.StringType()),
])


GTID_SCHEMA = _struct_with_error([
    T.StructField("rbr_only", T.BooleanType()),
    T.StructField("source_id", T.StringType()),
    T.StructField("transaction_id", T.StringType()),
    T.StructField("ts_type", T.IntegerType()),
    T.StructField("last_committed", T.LongType()),
    T.StructField("sequence_number", T.LongType()),
])


def decode_previous_gtids_py(buf: bytes) -> dict:
    """PreviousGtids event (mod.rs:1164-1177); gtid_sets stays raw bytes."""
    # gtid_sets runs up to the trailing u32 buf_size
    gtid_sets, off = c.take(buf, H, len(buf) - H - 4, "gtid sets")
    buf_size, _ = c.u32(buf, off)
    return {"gtid_sets": list(gtid_sets), "buf_size": buf_size}


PREV_GTIDS_SCHEMA = _struct_with_error([
    T.StructField("gtid_sets", T.ArrayType(T.IntegerType())),
    T.StructField("buf_size", T.LongType()),
])


def _load_flags(flags: int) -> dict:
    return {
        "dump_file": flags % 2 == 1,
        "opt_enclosed": (flags >> 1) % 2 == 1,
        "replace": (flags >> 2) % 2 == 1,
        "ignore": (flags >> 3) % 2 == 1,
    }


# thread_id, execution_time, skip_lines, table_name_length, schema_length,
# num_fields: the prefix Load and NewLoad share
_LOAD_PREFIX = _struct.Struct("<IIIBBI")


def _extract_many_fields(buf: bytes, off: int, num_fields: int,
                         table_name_length: int, schema_length: int):
    """Shared Load/NewLoad tail (extract_many_fields, mod.rs:556-594): the
    field names, table and schema names, and the file name. The file name
    is the rest of the event but its last byte: the reference's Load
    file-length arithmetic (mod.rs:570-581) subtracts 3 for the two NUL
    terminators it consumed, one more than it read."""
    field_name_lengths, off = c.take(buf, off, num_fields, "field name lengths")
    raw, off = c.take(buf, off, sum(field_name_lengths) + num_fields,
                      "field names")
    field_names, p = [], 0
    for _ in range(num_fields):
        s, p = c.string_nul(raw, p)
        field_names.append(s)
    table_name, off = c.take(buf, off, table_name_length + 1, "table name")
    schema_name, off = c.take(buf, off, schema_length + 1, "schema name")
    file_name, _ = c.take(buf, off, len(buf) - off - 1, "file name")
    return (field_names, c.extract_string(table_name),
            c.extract_string(schema_name), c.extract_string(file_name))


def decode_load_py(buf: bytes) -> dict:
    """Load event (mod.rs:596-656)."""
    (thread_id, execution_time, skip_lines, table_name_length, schema_length,
     num_fields) = _LOAD_PREFIX.unpack_from(buf, H)
    seps, off = c.take(buf, H + _LOAD_PREFIX.size, 7, "separators")
    field_term, enclosed_by, line_term, line_start, escaped_by, opt, ef = seps
    opt = _load_flags(opt)
    empty_flags = {
        "field_term_empty": ef % 2 == 1,
        "enclosed_empty": (ef >> 1) % 2 == 1,
        "line_term_empty": (ef >> 2) % 2 == 1,
        "line_start_empty": (ef >> 3) % 2 == 1,
        "escape_empty": (ef >> 4) % 2 == 1,
    }
    fns, table_name, schema_name, file_name = _extract_many_fields(
        buf, off, num_fields, table_name_length, schema_length)
    return {
        "thread_id": thread_id, "execution_time": execution_time,
        "skip_lines": skip_lines, "num_fields": num_fields,
        "field_term": field_term, "enclosed_by": enclosed_by,
        "line_term": line_term, "line_start": line_start,
        "escaped_by": escaped_by,
        "opt_flags": json.dumps(opt, separators=(",", ":")),
        "empty_flags": json.dumps(empty_flags, separators=(",", ":")),
        "field_names": fns, "table_name": table_name,
        "schema_name": schema_name, "file_name": file_name,
    }


LOAD_SCHEMA = _struct_with_error([
    T.StructField("thread_id", T.LongType()),
    T.StructField("execution_time", T.LongType()),
    T.StructField("skip_lines", T.LongType()),
    T.StructField("num_fields", T.LongType()),
    T.StructField("field_term", T.IntegerType()),
    T.StructField("enclosed_by", T.IntegerType()),
    T.StructField("line_term", T.IntegerType()),
    T.StructField("line_start", T.IntegerType()),
    T.StructField("escaped_by", T.IntegerType()),
    T.StructField("opt_flags", T.StringType()),
    T.StructField("empty_flags", T.StringType()),
    T.StructField("field_names", T.ArrayType(T.StringType())),
    T.StructField("table_name", T.StringType()),
    T.StructField("schema_name", T.StringType()),
    T.StructField("file_name", T.StringType()),
])


def decode_new_load_py(buf: bytes) -> dict:
    """NewLoad event (mod.rs:725-771): length-prefixed separator strings."""
    (thread_id, execution_time, skip_lines, table_name_length, schema_length,
     num_fields) = _LOAD_PREFIX.unpack_from(buf, H)
    off = H + _LOAD_PREFIX.size
    seps = {}
    for nm in ("field_term", "enclosed_by", "line_term", "line_start", "escaped_by"):
        sep, off = c.take(buf, off + 1, buf[off], nm)
        seps[nm] = c.utf8_lossy(sep)
    opt = _load_flags(buf[off]); off += 1
    fns, table_name, schema_name, file_name = _extract_many_fields(
        buf, off, num_fields, table_name_length, schema_length)
    return {
        "thread_id": thread_id, "execution_time": execution_time,
        "skip_lines": skip_lines, "num_fields": num_fields,
        **seps,
        "opt_flags": json.dumps(opt, separators=(",", ":")),
        "field_names": fns, "table_name": table_name,
        "schema_name": schema_name, "file_name": file_name,
    }


NEW_LOAD_SCHEMA = _struct_with_error([
    T.StructField("thread_id", T.LongType()),
    T.StructField("execution_time", T.LongType()),
    T.StructField("skip_lines", T.LongType()),
    T.StructField("num_fields", T.LongType()),
    T.StructField("field_term", T.StringType()),
    T.StructField("enclosed_by", T.StringType()),
    T.StructField("line_term", T.StringType()),
    T.StructField("line_start", T.StringType()),
    T.StructField("escaped_by", T.StringType()),
    T.StructField("opt_flags", T.StringType()),
    T.StructField("field_names", T.ArrayType(T.StringType())),
    T.StructField("table_name", T.StringType()),
    T.StructField("schema_name", T.StringType()),
    T.StructField("file_name", T.StringType()),
])


# ---------------------------------------------------------------------------
# rows events (post-enrich decode: needs the broadcast-joined columns_type)
# ---------------------------------------------------------------------------

CELL_T = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("bytes", T.ArrayType(T.IntegerType())),
    T.StructField("num_val", T.DoubleType()),
])

ROWS_SCHEMA = _struct_with_error([
    T.StructField("table_id", T.LongType()),
    T.StructField("end_of_stmt", T.BooleanType()),
    T.StructField("foreign_key_checks", T.BooleanType()),
    T.StructField("unique_key_checks", T.BooleanType()),
    T.StructField("has_columns", T.BooleanType()),
    T.StructField("extra_data_len", T.IntegerType()),
    T.StructField("extra_data", T.StringType()),
    T.StructField("column_count", T.IntegerType()),
    T.StructField("image_bits1", T.ArrayType(T.IntegerType())),
    T.StructField("image_bits2", T.ArrayType(T.IntegerType())),
    T.StructField("rows", T.ArrayType(T.ArrayType(CELL_T))),
])

_EXTRA_FORMATS = {0x00: "NDB", 0x40: "OPEN1", 0x41: "OPEN2", 0xFF: "MULTI"}


def decode_rows_py(buf: bytes, col_defs: list[tuple[int, list[int]]],
                   n_images: int) -> dict:
    """Write/Update/DeleteRowsV2 (mod.rs:1229-1349).

    `n_images` = 1 for write/delete, 2 for update (before/after image
    bitmaps, rows alternate before,after,...). Inverted flag-bit semantics
    per rows.rs:5-11 / mod.rs:1187-1192.
    """
    off = H
    table_id, off = c.u48(buf, off)
    flag, off = c.u16(buf, off)
    end_of_stmt = flag % 2 == 1
    foreign_key_checks = (flag >> 1) % 2 == 0
    unique_key_checks = (flag >> 2) % 2 == 0
    has_columns = (flag >> 3) % 2 == 0
    extra_data_len, off = c.u16(buf, off)
    if extra_data_len < 2:
        raise ValueError("extra_data_len < 2")
    # many1(parse_extra_data) (rows.rs:48-79) over the block; fixtures
    # always hit the ==2 empty case (mod.rs:1194-1198)
    block, off = c.take(buf, off, extra_data_len - 2, "extra data")
    extra, p = [], 0
    while p < len(block):
        if block[p] != 0x00:
            raise ValueError(f"unknown extra data type {block[p]}")
        length = block[p + 1]
        fmt = _EXTRA_FORMATS.get(block[p + 2])
        if fmt is None:
            raise ValueError(f"unknown extra data format {block[p + 2]}")
        payload, p = c.take(block, p + 3, length, "extra data payload")
        extra.append({"length": length, "format": fmt,
                      "payload": c.extract_string(payload)})
    column_count, off = c.int_lenenc(buf, off)
    bit_len = (column_count + 7) // 8
    bits1, off = c.take(buf, off, bit_len, "image bitmaps")
    bits2 = None
    if n_images == 2:
        bits2, off = c.take(buf, off, bit_len, "image bitmaps")
        bits2 = list(bits2)
    # col_data runs to the end of the event (mod.rs:1234-1243 / 1316-1325).
    # many1(parse_row) parity (mod.rs:1244-1250): the remainder after the
    # last COMPLETE row is discarded (`let (_, rows) = many1(...)`), so a
    # failing tail after >=1 parsed row keeps the prefix and the event
    # SUCCEEDS; zero parsed rows — including empty col_data — fails the
    # whole event (many1 requires at least one).
    rows, p = [], off
    while p < len(buf):
        try:
            # absolute offsets into buf: re-slicing per row copies the
            # shrinking tail — O(rows^2) bytes on a bulk insert event with
            # thousands of rows
            cells, end = decode_row(buf, p + bit_len, col_defs)
        except Exception:  # noqa: BLE001 — nom many1 prefix semantics
            if rows:
                break
            raise
        if end <= p:
            raise ValueError("row decode made no progress")
        rows.append([{"kind": k, "bytes": b, "num_val": v}
                     for k, b, v in cells])
        p = end
    if not rows:
        raise ValueError("rows event carries no row image (many1 needs >=1)")
    return {
        "table_id": table_id, "end_of_stmt": end_of_stmt,
        "foreign_key_checks": foreign_key_checks,
        "unique_key_checks": unique_key_checks, "has_columns": has_columns,
        "extra_data_len": extra_data_len,
        # the ==2 empty block is the overwhelmingly common case (every
        # reference fixture); skip json.dumps for it (~30% of this
        # function's profile on empty-extra batches)
        "extra_data": ("[]" if not extra
                       else json.dumps(extra, separators=(",", ":"))),
        "column_count": column_count, "image_bits1": list(bits1),
        "image_bits2": bits2, "rows": rows,
    }


def _decode_rows_event(buf: bytes, defs, n_images: int) -> dict:
    """One rows event with its enriched ``columns_type``: an array of
    ``{type_id, meta}`` dicts with ``meta`` an int32 ndarray (Arrow
    ``to_numpy``), or None when the broadcast join found no TableMap for
    the event's table_id."""
    if defs is None:
        raise ValueError("no table-map entry for table_id")
    return decode_rows_py(
        buf, [(d["type_id"], d["meta"].tolist()) for d in defs], n_images)


def make_rows_udf(n_images: int):
    """Rows decoder: an arrow_udf over (tokens, columns_type) built by
    _rowwise like every other decoder; its per-row loop is _decode_frame's."""
    return _rowwise(ROWS_SCHEMA, _functools.partial(
        _decode_rows_event, n_images=n_images))


# ---------------------------------------------------------------------------
# decoder registry: sink name -> (schema, arrow_udf factory)
# ---------------------------------------------------------------------------

def _decoder(schema: T.StructType, fn: Callable[[bytes], dict]):
    """(schema, factory): the factory builds the sink's arrow_udf, and its
    ``.args`` are ``(schema, fn)``."""
    return schema, _functools.partial(_rowwise, schema, fn)


DECODERS: dict[str, tuple[T.StructType, Callable]] = {
    "QUERY": _decoder(QUERY_SCHEMA, decode_query_py),
    "ROTATE": _decoder(ROTATE_SCHEMA, decode_rotate_py),
    "INTVAR": _decoder(INTVAR_SCHEMA, decode_intvar_py),
    "RAND": _decoder(RAND_SCHEMA, decode_rand_py),
    "USER_VAR": _decoder(USER_VAR_SCHEMA, decode_user_var_py),
    "FORMAT_DESC": _decoder(FORMAT_DESC_SCHEMA, decode_format_desc_py),
    "XID": _decoder(XID_SCHEMA, decode_xid_py),
    "BEGIN_LOAD_QUERY": _decoder(FILE_DATA_SCHEMA, decode_file_data_py),
    "CREATE_FILE": _decoder(FILE_DATA_SCHEMA, decode_file_data_py),
    "APPEND_BLOCK": _decoder(FILE_DATA_SCHEMA, decode_file_data_py),
    "EXEC_LOAD": _decoder(FILE_ID16_SCHEMA, decode_file_id16_py),
    "DELETE_FILE": _decoder(FILE_ID16_SCHEMA, decode_file_id16_py),
    "EXEC_LOAD_QUERY": _decoder(EXEC_LOAD_QUERY_SCHEMA,
                                decode_execute_load_query_py),
    "TABLE_MAP": _decoder(TABLE_MAP_SCHEMA, decode_table_map_py),
    "INCIDENT": _decoder(INCIDENT_SCHEMA, decode_incident_py),
    "ROWS_QUERY": _decoder(ROWS_QUERY_SCHEMA, decode_rows_query_py),
    "GTID": _decoder(GTID_SCHEMA, _gtid_fields),
    "ANON_GTID": _decoder(GTID_SCHEMA, _gtid_fields),
    "PREV_GTIDS": _decoder(PREV_GTIDS_SCHEMA, decode_previous_gtids_py),
    "LOAD": _decoder(LOAD_SCHEMA, decode_load_py),
    "NEW_LOAD": _decoder(NEW_LOAD_SCHEMA, decode_new_load_py),
}

# Header-only sinks (STOP/SLAVE/HEARTBEAT/UNKNOWN) need no payload decoder:
# their typed sink is header + checksum only (mod.rs:516-519, 658-661,
# 1043-1046, 462-467).


def statement_kind(query_col: Column) -> Column:
    """Grok-style statement classification on decoded SQL text
    (SURVEY §2.3 Query row: regexp on the query string)."""
    head = F.upper(F.regexp_extract(F.ltrim(query_col), r"^([A-Za-z]+)", 1))
    known = ["INSERT", "UPDATE", "DELETE", "CREATE", "DROP", "ALTER", "BEGIN",
             "COMMIT", "ROLLBACK", "SET", "GRANT", "FLUSH", "TRUNCATE",
             "RENAME", "LOAD", "REPLACE", "ANALYZE", "OPTIMIZE"]
    return F.when(head.isin(known), head).otherwise(F.lit("OTHER"))
