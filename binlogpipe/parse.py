"""Parse stage: header decode (pure JVM expressions) + per-event-type
payload decoders (Arrow-batched UDFs).

Each decoder re-implements the semantics of the matching reference parser in
`/root/reference/crates/old/src/events/mod.rs` (file:line cited per
function). Every payload decoder, the rows decoder included, is a Spark
arrow_udf built by ``_rowwise`` over one input form: the tokens batch
(packed binary, or the contract array<int32>) becomes a ``_FlatBatch`` over
packed-binary buffers, a whole-batch numpy fast path decodes it where one
exists, and ``_decode_frame``'s per-row loop decodes the rest. No
row-at-a-time Spark UDFs; strings use lossy UTF-8 exactly like the
reference (utils.rs:66,75,87,94).

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


def with_header(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Add header fields, sink, checksum and validation flags.

    Pure column expressions (layout.py) — the route/aggregate hot path never
    leaves the JVM. Mirrors parse_header (mod.rs:52-81) + dispatch
    (mod.rs:380-417) + checksum tail (H3).
    """
    tokens = F.col(tokens_col)
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


def _decode_frame(tokens: _FlatBatch, names: list[str],
                  fn: Callable[..., dict], vectorized: Callable | None,
                  *extra) -> pd.DataFrame:
    """One Arrow batch -> decoded DataFrame: the whole-batch numpy fast
    path when available (returns None to refuse a batch), else the scalar
    per-row loop whose try/except turns a bad row into a parse_error row.
    Each row calls ``fn(row_bytes, *row_extra)``, with one value per
    `extra` column (the rows decoder's ``columns_type``)."""
    if vectorized is not None:
        try:
            out = vectorized(tokens)
        except Exception:  # noqa: BLE001 — a whole-batch fast-path
            # failure must degrade to the per-row loop (where errors
            # become parse_error rows), never fail the Spark task
            out = None
        if out is not None:
            return out
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
    # object dtype per column: pandas otherwise coerces an int column
    # containing any None (an errored row in the batch) to float64, which
    # silently rounds i64 values beyond 2**53 before Arrow casts them back
    return pd.DataFrame(
        {n: pd.Series(cols[n], dtype=object) for n in names},
        columns=names)


def _arrow_tokens(arr) -> _FlatBatch:
    """One arrow_udf input batch of the tokens column -> the one form
    every decoder consumes: a _FlatBatch over packed-binary buffers.
    Any input goes through _pack_arrow_array first (the route stage's
    pack: list<int32> is one whole-batch cast, a null cell becomes b""),
    so the fast paths and the per-row loop see a single type."""
    import numpy as np

    n = len(arr)
    if n == 0:  # an empty IPC batch may carry no offsets buffer at all
        empty = np.empty(0, dtype=np.int64)
        return _FlatBatch(np.empty(0, dtype=np.uint8), empty, empty)
    arr = _pack_arrow_array(arr)
    _, offs_buf, data_buf = arr.buffers()
    offs = np.frombuffer(offs_buf, dtype=np.int32)[
        arr.offset:arr.offset + n + 1].astype(np.int64)
    base = offs[0]
    offs -= base
    flat = np.frombuffer(data_buf, dtype=np.uint8)[base:base + int(offs[-1])]
    return _FlatBatch(flat, offs[:-1], np.diff(offs))


def _frame_to_struct(frame: pd.DataFrame, schema: T.StructType):
    """Decoded DataFrame -> pa.StructArray with the schema's exact arrow
    field types (the declared Spark types drive every conversion)."""
    from pyspark.sql.pandas.types import to_arrow_type

    arrays = []
    for f in schema.fields:
        at = to_arrow_type(f.dataType)
        col = frame[f.name]
        arrays.append(pa.array(col, type=at, from_pandas=True))
    return pa.StructArray.from_arrays(arrays,
                                      names=[f.name for f in schema.fields])


def _rowwise(schema: T.StructType, fn: Callable[..., dict],
             vectorized: Callable | None = None):
    """Wrap a per-event ``bytes -> dict`` decoder as a Spark 4.1 arrow_udf
    returning ``schema`` (+ parse_error). Every decoder is built here: the
    tokens batch becomes one _FlatBatch (_arrow_tokens; no pandas
    round-trip on input or output) and _decode_frame runs the one per-row
    loop. The Python loop is per Arrow batch, never per Spark row; records
    accumulate columnar (dict-of-lists — pd.DataFrame from columns is
    several times faster than from row dicts).

    `vectorized`, when given, is a whole-batch numpy fast path; it returns a
    DataFrame or None to fall back to the loop (e.g. mixed event sizes).
    Columns after the tokens column (the rows decoder's ``columns_type``)
    reach ``fn`` as extra per-row values, converted by Arrow's C++
    ``to_numpy`` (``to_pylist`` boxes every nested scalar: ~3x slower on a
    columns_type batch)."""
    from pyspark.sql.functions import arrow_udf

    names = [f.name for f in schema.fields]

    @arrow_udf(schema)
    def audf(tokens: pa.Array, *extra: pa.Array) -> pa.Array:
        return _frame_to_struct(
            _decode_frame(_arrow_tokens(tokens), names, fn, vectorized,
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
# whole-batch numpy fast paths for hot fixed-layout events
# ---------------------------------------------------------------------------

def _gtid_vectorized(tokens: _FlatBatch):
    """GTID/AnonymousGtid events are a fixed 65-byte layout
    (19 hdr + 1 + 16 + 8 + 1 + 8 + 8 + 4 crc) — column gathers.

    The decimal-rendered source_id/transaction_id strings are built per
    *unique* (source_id ‖ txn_id) byte pattern and gathered back (dictionary
    encoding): real binlogs have a handful of server uuids, so string
    construction drops out of the per-row cost entirely."""
    import numpy as np

    fl = _flat_batch(tokens, 65)
    if fl is None or bool((fl.lens != 65).any()):
        return None
    ids = fl.flat[fl.offs[:, None] + np.arange(H + 1, H + 25)]
    uniq, inv = np.unique(ids, axis=0, return_inverse=True)
    src_u = np.empty(len(uniq), dtype=object)
    txn_u = np.empty(len(uniq), dtype=object)
    for i, row in enumerate(uniq):
        b = row.tobytes()
        src_u[i] = "-".join(
            c.byte_decimal_concat(b[a:e])
            for a, e in ((0, 4), (4, 6), (6, 8), (8, 10), (10, 16)))
        txn_u[i] = c.byte_decimal_concat(b[16:24])
    return pd.DataFrame({
        "rbr_only": fl.flat[fl.offs + H] == 0,
        "source_id": src_u[inv],
        "transaction_id": txn_u[inv],
        "ts_type": fl.u(H + 25, 1).astype(np.int32),
        "last_committed": fl.u(H + 26, 8),
        "sequence_number": fl.u(H + 34, 8),
        "parse_error": None,
    })


def _xid_vectorized(tokens: _FlatBatch):
    fl = _flat_batch(tokens, H + 8 + 4)
    if fl is None or bool((fl.lens != H + 8 + 4).any()):
        return None
    return pd.DataFrame({"xid": fl.u(H, 8), "parse_error": None})


def _intvar_vectorized(tokens: _FlatBatch):
    """IntVar event, whole-batch (mod.rs:537-554): type byte + u64. A
    batch containing any unknown type byte bails to the scalar path,
    which owns the per-row error semantics."""
    import numpy as np

    fl = _flat_batch(tokens, H + 9)
    if fl is None:
        return None
    t = fl.flat[fl.offs + H]
    if not bool(np.isin(t, (0, 1, 2)).all()):
        return None
    kinds = np.array(["InvalidIntEvent", "LastInsertIdEvent",
                      "InsertIdEvent"], dtype=object)
    return pd.DataFrame({"e_type": kinds[t], "value": fl.u(H + 1, 8),
                         "parse_error": None})


def _rand_vectorized(tokens: _FlatBatch):
    """Rand event, whole-batch (mod.rs:773-784): two u64 seeds."""
    fl = _flat_batch(tokens, H + 16)
    if fl is None:
        return None
    return pd.DataFrame({"seed1": fl.u(H, 8), "seed2": fl.u(H + 8, 8),
                         "parse_error": None})


def _file_id16_vectorized(tokens: _FlatBatch):
    """ExecLoad/DeleteFile body, whole-batch (mod.rs:698-718): one u16."""
    fl = _flat_batch(tokens, H + 2)
    if fl is None:
        return None
    return pd.DataFrame({"file_id": fl.u(H, 2).astype("int32"),
                         "parse_error": None})


# ---------------------------------------------------------------------------
# flat-batch framework for VARIABLE-length events: one concatenation of the
# packed-binary batch + an offsets vector (the same layout Arrow uses for
# binary columns). Fixed-offset header/prefix fields decode as vectorized
# numpy gathers; only the variable string tails touch per-row Python, and
# those are bare bytes-slice + decode calls (no per-row dict/struct churn).
# ---------------------------------------------------------------------------

class _FlatBatch:
    __slots__ = ("flat", "_buf", "offs", "lens", "n")

    def __init__(self, flat, offs, lens):
        self.flat = flat      # np.uint8 view of the whole batch
        self._buf = None      # the same bytes (for cheap per-row slicing),
                              # materialized on first use — fixed-layout
                              # decoders never pay the batch copy at all
        self.offs = offs      # int64 start offset of each row
        self.lens = lens      # int64 length of each row
        self.n = len(offs)

    @property
    def buf(self) -> bytes:
        if self._buf is None:
            self._buf = self.flat.tobytes()
        return self._buf

    def __iter__(self):
        # scalar-fallback iteration: per-row bytes
        buf = self.buf
        for o, ln in zip(self.offs.tolist(), self.lens.tolist()):
            yield buf[o:o + ln]

    def u(self, rel, width, base=None):
        """Little-endian unsigned int of `width` bytes at row-relative
        offset `rel` (or at absolute per-row positions `base + rel`).
        Returns int64 (width 8 wraps two's-complement like the reference's
        i64 reads)."""
        import numpy as np

        pos = (self.offs if base is None else base) + rel
        acc = np.zeros(self.n, dtype=np.uint64)
        for k in range(width):
            acc |= self.flat[pos + k].astype(np.uint64) << np.uint64(8 * k)
        return acc.view(np.int64) if width == 8 else acc.astype(np.int64)


def _flat_batch(fb: _FlatBatch, min_len: int):
    """`fb`, or None when the batch is empty or contains any row shorter
    than `min_len` (those batches take the scalar fallback, which carries
    per-row try/except quarantine semantics)."""
    if fb.n == 0 or int(fb.lens.min()) < min_len:
        return None
    return fb


def _mask_errors(cols: dict, err: list):
    """Scalar-path parity: a row that failed decode nulls ALL its fields,
    not just the one that threw. Rare, so the object-cast is off the hot
    path entirely when err is all-None."""
    import numpy as np

    if not any(e is not None for e in err):
        cols["parse_error"] = None
        return pd.DataFrame(cols)
    bad = np.array([e is not None for e in err])
    for k, v in cols.items():
        o = np.asarray(v, dtype=object)
        o[bad] = None
        cols[k] = o
    cols["parse_error"] = pd.Series(err, dtype=object)
    return pd.DataFrame(cols)


def _query_vectorized(tokens: _FlatBatch):
    """Query event, whole-batch (mod.rs:469-514): the 13-byte fixed prefix
    decodes as five numpy gathers; the status-vars block stays memoized per
    distinct byte pattern; schema/query are per-row slices of the flat
    buffer. QUERY is ~23% of all events — the hottest payload decoder."""
    fl = _flat_batch(tokens, H + 13 + 4)
    if fl is None:
        return None
    spid = fl.u(H, 4)
    exec_t = fl.u(H + 4, 4)
    slen = fl.u(H + 8, 1)
    ecode = fl.u(H + 9, 2)
    svl = fl.u(H + 11, 2)
    qlen = fl.lens - (H + 13) - svl - slen - 1 - 4
    buf = fl.buf
    n = fl.n
    status = [None] * n
    schema = [None] * n
    query = [None] * n
    err = [None] * n
    # .tolist() once: bytes slicing with Python ints is several times
    # faster than with np.int64 scalars (each np index pays __index__).
    # Variable-length fields slice from the ROW's own bytes, never the flat
    # batch buffer: an interior length field (svl/schema_length) that
    # overruns its row must truncate at the row end exactly like the scalar
    # path — a flat-buffer slice would silently read the NEXT row's bytes,
    # making output depend on batch co-location.
    for i, (o, rl, sv, sl, ql) in enumerate(zip(
            fl.offs.tolist(), fl.lens.tolist(), svl.tolist(), slen.tolist(),
            qlen.tolist())):
        try:
            row = buf[o:o + rl]
            p = H + 13
            s = p + sv
            status[i] = _status_vars_json(row[p:s])
            e = s + sl
            schema[i] = row[s:e].decode("utf-8")
            q0 = e + 1
            query[i] = c.extract_string(row[q0:q0 + ql])
        except Exception as ex:  # noqa: BLE001 — quarantine, don't panic
            err[i] = f"{type(ex).__name__}: {ex}"
    return _mask_errors({
        "slave_proxy_id": spid, "execution_time": exec_t,
        "schema_length": slen.astype("int32"), "error_code": ecode.astype("int32"),
        "status_vars_length": svl.astype("int32"), "status_vars": status,
        "schema": schema, "query": query,
    }, err)


def _rotate_vectorized(tokens: _FlatBatch):
    """Rotate event, whole-batch (mod.rs:521-535)."""
    fl = _flat_batch(tokens, H + 8 + 4)
    if fl is None:
        return None
    pos = fl.u(H, 8)
    str_len = fl.lens - H - 8 - 4
    s0 = fl.offs + H + 8
    buf = fl.buf
    names = [
        buf[o:o + ln].decode("utf-8", errors="replace")
        for o, ln in zip(s0.tolist(), str_len.tolist())
    ]
    return pd.DataFrame({"position": pos, "next_binlog": names,
                         "parse_error": None})


def _rows_query_vectorized(tokens: _FlatBatch):
    """RowsQuery event, whole-batch (mod.rs:1048-1061)."""
    fl = _flat_batch(tokens, H + 1)
    if fl is None:
        return None
    ln = fl.u(H, 1)
    buf = fl.buf
    # row-relative slice (not flat-buffer): a length byte larger than the
    # row's remainder must truncate at the row end like the scalar path
    texts = [
        buf[o + H + 1:o + min(H + 1 + k, rl)].decode("utf-8", errors="replace")
        for o, rl, k in zip(fl.offs.tolist(), fl.lens.tolist(), ln.tolist())
    ]
    return pd.DataFrame({"length": ln.astype("int32"), "query_text": texts,
                         "parse_error": None})


def _user_var_vectorized(tokens: _FlatBatch):
    """UserVar event, whole-batch (mod.rs:797-858): name_length is the one
    fixed u32 gather; after the per-row name, the is_null byte splits the
    batch into the two fixed layouts — NULL (nothing follows) and value
    (type byte + charset + value_length + bytes, INT adding a trailing
    flags byte, mod.rs:833-840) — decoded via per-row-base gathers on the
    not-null subset. A row whose declared lengths leave a required field
    outside the row returns None for the batch: the scalar fallback owns
    per-row quarantine semantics and corrupt rows are rare."""
    import numpy as np

    fl = _flat_batch(tokens, H + 4 + 1)
    if fl is None:
        return None
    nl = fl.u(H, 4)
    npos = fl.offs + H + 4
    ipos = npos + nl
    row_end = fl.offs + fl.lens
    if not (ipos < row_end).all():
        return None
    inull = fl.flat[ipos]
    notnull = np.nonzero(inull != 1)[0]
    dpos = ipos[notnull] + 1
    # fixed not-null prefix: type(1) + charset(4) + value_length(4)
    if not (dpos + 9 <= row_end[notnull]).all():
        return None

    def _gu(base, width):
        acc = np.zeros(len(base), dtype=np.uint64)
        for k in range(width):
            acc |= fl.flat[base + k].astype(np.uint64) << np.uint64(8 * k)
        return acc.astype(np.int64)

    dbyte = fl.flat[dpos]
    charset_s = _gu(dpos + 1, 4)
    vl_s = _gu(dpos + 5, 4)
    vstart = dpos + 9
    end_s = row_end[notnull]
    is_int = dbyte == 2
    # INT's flags byte sits AFTER the (possibly row-truncated) value; the
    # scalar path raises when it's missing — bail for identical handling
    if bool((is_int & (vstart + vl_s >= end_s)).any()):
        return None
    buf = fl.buf
    names = [c.string_var(buf[o:e], k)
             for o, e, k in zip(npos.tolist(), ipos.tolist(), nl.tolist())]
    n = fl.n
    d_type = np.full(n, None, dtype=object)
    charset = np.full(n, None, dtype=object)
    value_length = np.full(n, None, dtype=object)
    value = np.full(n, None, dtype=object)
    value_flags = np.full(n, None, dtype=object)
    i32 = fl.flat.astype(np.int32)
    for j, tb, cs, vl, s, e, ii in zip(
            notnull.tolist(), dbyte.tolist(), charset_s.tolist(),
            vl_s.tolist(), vstart.tolist(), end_s.tolist(),
            is_int.tolist()):
        d_type[j] = _USER_VAR_TYPES.get(tb, "Unknown")
        charset[j] = cs
        value_length[j] = vl
        # value truncates at the row end exactly like the scalar slice
        value[j] = i32[s:min(s + vl, e)]
        if ii:
            value_flags[j] = np.int32(fl.flat[s + vl])
    return pd.DataFrame({
        "name_length": nl, "name": names, "is_null": inull == 1,
        "d_type": d_type, "charset": charset,
        "value_length": value_length, "value": value,
        "value_flags": value_flags, "parse_error": None})


def _format_desc_vectorized(tokens: _FlatBatch):
    """FormatDescription event, whole-batch (mod.rs:860-882).
    supported_types returns int32 numpy slices (Arrow accepts ndarray cells
    for array<int> columns — no per-row Python list build)."""
    import numpy as np

    fl = _flat_batch(tokens, H + 57 + 1 + 4)
    if fl is None:
        return None
    ver = fl.u(H, 2)
    cts = fl.u(H + 52, 4)
    ehl = fl.u(H + 56, 1)
    num = fl.lens - H - 57 - 1 - 4
    st0 = fl.offs + H + 57
    alg = fl.u(0, 1, base=st0 + num)
    buf = fl.buf
    i32 = fl.flat.astype(np.int32)
    sv0 = fl.offs + H + 2
    versions = [c.extract_string(buf[o:o + 50]) for o in sv0.tolist()]
    supported = [i32[o:o + k] for o, k in zip(st0.tolist(), num.tolist())]
    return pd.DataFrame({
        "binlog_version": ver.astype("int32"),
        "mysql_server_version": versions,
        "create_timestamp": cts,
        "event_header_length": ehl.astype("int32"),
        "supported_types": supported,
        "checksum_alg": alg.astype("int32"),
        "parse_error": None,
    })


def _prev_gtids_vectorized(tokens: _FlatBatch):
    """PreviousGtids event, whole-batch (mod.rs:1164-1177)."""
    import numpy as np

    fl = _flat_batch(tokens, H + 4 + 4)
    if fl is None:
        return None
    n_bytes = fl.lens - H - 4 - 4
    g0 = fl.offs + H
    buf_size = fl.u(0, 4, base=g0 + n_bytes)
    i32 = fl.flat.astype(np.int32)
    sets = [i32[o:o + k] for o, k in zip(g0.tolist(), n_bytes.tolist())]
    return pd.DataFrame({"gtid_sets": sets, "buf_size": buf_size,
                         "parse_error": None})


# ---------------------------------------------------------------------------
# shared sub-decoders
# ---------------------------------------------------------------------------

def _sv_bytes(buf: bytes, off: int, n: int) -> tuple[bytes, int]:
    """Bounds-checked slice for status-var string fields: a declared
    length that overruns the block must FAIL the row (the reference's
    take(len) fails -> assert_eq!(remain, 0) panics), never silently
    truncate into a clean-looking row."""
    end = off + n
    if end > len(buf):
        raise ValueError(f"status-var field needs {n} bytes at {off}, "
                         f"have {len(buf)}")
    return buf[off:end], end


def _sv_string_nul(buf: bytes, off: int) -> tuple[str, int]:
    """NUL-terminated string that REQUIRES the terminator (the lenient
    np_codec.string_nul reads to end-of-buffer, which here would silently
    swallow a truncated Q_UPDATED_DB_NAMES block)."""
    end = buf.find(b"\x00", off)
    if end == -1:
        raise ValueError(f"status-var string at {off} missing NUL")
    return c.utf8_lossy(buf[off:end]), end + 1


def parse_status_vars(buf: bytes) -> list[dict]:
    """Query status-var block (query.rs:75-177), bounded sub-slice with the
    same exhaustion check (`assert_eq!(remain, 0)`, mod.rs:475-477): every
    read is bounds-checked, so a truncated block raises (-> parse_error
    row) instead of exiting the loop early with a partial result."""
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
            ln = buf[off]
            val = c.string_var(buf[off + 1:off + 1 + ln], ln)
            term = buf[off + 1 + ln]
            if term != 0:
                raise ValueError("Q_CATALOG missing NUL terminator")
            off += 1 + ln + 1
            out.append({"key": key, "name": "Q_CATALOG", "value": val})
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
            ln = buf[off]
            raw, end = _sv_bytes(buf, off + 1, ln)
            out.append({"key": key, "name": "Q_TIME_ZONE_CODE",
                        "value": c.extract_string(raw)})
            off = end
        elif key == 0x06:
            ln = buf[off]
            raw, end = _sv_bytes(buf, off + 1, ln)
            out.append({"key": key, "name": "Q_CATALOG_NZ_CODE",
                        "value": c.extract_string(raw)})
            off = end
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
            ln = buf[off]
            raw, off = _sv_bytes(buf, off + 1, ln)
            user = c.utf8_lossy(raw)
            ln = buf[off]
            raw, off = _sv_bytes(buf, off + 1, ln)
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


def _gtid_fields(buf: bytes) -> dict:
    """Shared GTID/AnonymousGtid body (parse_events_gtid, mod.rs:1063-1114).
    source_id renders as per-byte decimal concat in 4-2-2-2-6 groups — NOT a
    hex uuid (mod.rs:1067-1091)."""
    off = layout.HEADER_LEN
    rbr_only = buf[off] == 0
    off += 1
    s = buf[off:off + 16]
    source_id = "-".join(
        c.byte_decimal_concat(s[a:b])
        for a, b in ((0, 4), (4, 6), (6, 8), (8, 10), (10, 16))
    )
    off += 16
    transaction_id = c.byte_decimal_concat(buf[off:off + 8])
    off += 8
    ts_type = buf[off]
    off += 1
    last_committed, off = c.i64(buf, off)
    sequence_number, off = c.i64(buf, off)
    return {
        "rbr_only": rbr_only, "source_id": source_id,
        "transaction_id": transaction_id, "ts_type": ts_type,
        "last_committed": last_committed, "sequence_number": sequence_number,
    }


# ---------------------------------------------------------------------------
# per-type decoders: bytes -> dict. Offsets start at 19 (end of header).
# event_size == len(buf) is validated upstream.
# ---------------------------------------------------------------------------

H = layout.HEADER_LEN


def decode_query_py(buf: bytes) -> dict:
    """Query event (mod.rs:469-514). Fixed 13-byte prefix in one struct
    call; status vars memoized (hot path: QUERY is 23% of all events)."""
    slave_proxy_id, execution_time, schema_length, error_code, svl = (
        _struct.unpack_from("<IIBHH", buf, H))
    off = H + 13
    status_vars = _status_vars_json(buf[off:off + svl])
    off += svl
    schema = buf[off:off + schema_length].decode("utf-8")
    off += schema_length + 1  # +1 skip byte (mod.rs:481)
    qlen = len(buf) - H - 4 - 4 - 1 - 2 - 2 - svl - schema_length - 1 - 4
    query = c.extract_string(buf[off:off + qlen])
    return {
        "slave_proxy_id": slave_proxy_id, "execution_time": execution_time,
        "schema_length": schema_length, "error_code": error_code,
        "status_vars_length": svl, "status_vars": status_vars,
        "schema": schema, "query": query,
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
    svl = int.from_bytes(buf[H + 11:H + 13], "little")
    entries = parse_status_vars(buf[H + 13:H + 13 + svl])
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
    str_len = len(buf) - H - 8 - 4
    next_binlog = c.string_var(buf[off:off + str_len], str_len)
    return {"position": position, "next_binlog": next_binlog}


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
    name = c.string_var(buf[off:off + name_length], name_length)
    off += name_length
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
    d["value"] = list(buf[off:off + vl])
    off += vl
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
    off = H
    binlog_version, off = c.u16(buf, off)
    server_version = c.extract_string(buf[off:off + 50])
    off += 50
    create_timestamp, off = c.u32(buf, off)
    event_header_length = buf[off]; off += 1
    num = len(buf) - H - (2 + 50 + 4 + 1) - 1 - 4
    if num < 0:
        # a self-consistent short event would otherwise step the offset
        # BACKWARDS and read checksum_alg out of the server-version bytes
        # with a null parse_error (the reference's length arithmetic
        # underflows u32 and take() fails the row)
        raise ValueError(f"format_desc event too short ({len(buf)} bytes)")
    supported_types = list(buf[off:off + num])
    off += num
    checksum_alg = buf[off]
    return {
        "binlog_version": binlog_version,
        "mysql_server_version": server_version,
        "create_timestamp": create_timestamp,
        "event_header_length": event_header_length,
        "supported_types": supported_types,
        "checksum_alg": checksum_alg,
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
    block = c.extract_string(buf[off:len(buf) - 4])
    return {"file_id": file_id, "block_data": block}


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


def decode_execute_load_query_py(buf: bytes) -> dict:
    """ExecuteLoadQuery event (mod.rs:909-964)."""
    off = H
    thread_id, off = c.u32(buf, off)
    execution_time, off = c.u32(buf, off)
    schema_length = buf[off]; off += 1
    error_code, off = c.u16(buf, off)
    svl, off = c.u16(buf, off)
    file_id, off = c.u32(buf, off)
    start_pos, off = c.u32(buf, off)
    end_pos, off = c.u32(buf, off)
    dup = _DUP_HANDLING.get(buf[off])
    if dup is None:
        raise ValueError(f"bad dup_handling {buf[off]}")
    off += 1
    status_vars = _status_vars_json(buf[off:off + svl])
    off += svl
    schema = buf[off:off + schema_length].decode("utf-8")
    off += schema_length + 1
    qlen = len(buf) - H - 26 - svl - schema_length - 1 - 4
    query = c.extract_string(buf[off:off + qlen])
    return {
        "thread_id": thread_id, "execution_time": execution_time,
        "schema_length": schema_length, "error_code": error_code,
        "status_vars_length": svl, "file_id": file_id,
        "start_pos": start_pos, "end_pos": end_pos,
        "dup_handling_flags": dup, "status_vars": status_vars,
        "schema": schema, "query": query,
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


@_functools.lru_cache(maxsize=4096)
def _decode_table_map_cached(buf: bytes) -> dict:
    return decode_table_map_py(buf)


def _table_map_vectorized(tokens: _FlatBatch):
    """Whole-batch TableMap decode via per-unique-payload memoization.
    Real binlogs emit a byte-identical TableMap ahead of every rows event
    of the same table (the event IS the schema dictionary, mod.rs:23-26),
    so distinct payloads are bounded by live (table, schema-version) pairs
    — the same legitimacy argument as the status-vars memo
    (_status_vars_json); whole-payload memoization of other event types
    would merely game the synthetic bench. A 20k-row batch holds only a handful of distinct payloads, so
    decode each once and gather columns back instead of paying the
    per-row lru lookup + dict copy + per-field append (measured 7.0s of
    the pinned 1-core decode stage at 6M events, round-7 profile).
    Per-payload errors keep scalar-path parity: the same decoder raises
    the same exception text, nulling every field of the affected rows."""
    rows = list(tokens)
    if not rows:
        return None
    names = [f.name for f in TABLE_MAP_SCHEMA.fields]
    uniq: dict[bytes, dict] = {}
    for b in rows:
        if b not in uniq:
            try:
                d = dict(_decode_table_map_cached(b))
                d["parse_error"] = None
            except Exception as e:  # noqa: BLE001 — quarantine, don't panic
                d = dict.fromkeys(names)
                d["parse_error"] = f"{type(e).__name__}: {e}"
            uniq[b] = d
    cols: dict[str, list] = {n: [] for n in names}
    for b in rows:
        d = uniq[b]
        for n in names:
            cols[n].append(d[n])
    return pd.DataFrame(
        {n: pd.Series(cols[n], dtype=object) for n in names}, columns=names)


def decode_table_map_py(buf: bytes) -> dict:
    """TableMap event (mod.rs:966-1018). The dictionary row that feeds the
    enrich broadcast join (replaces the reference's global registry,
    mod.rs:23-26, 999-1001)."""
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
    type_ids = list(buf[off:off + column_count])
    off += column_count
    meta_count, off = c.int_lenenc(buf, off)
    defs = parse_defs(type_ids, buf[off:off + meta_count])
    off += meta_count
    mask_len = (column_count + 7) // 8
    null_bits = list(buf[off:off + mask_len])
    return {
        "table_id": table_id, "tm_flags": tm_flags,
        "schema_name": schema_name, "table_name": table_name,
        "column_count": column_count,
        "columns_type": [{"type_id": t, "meta": m} for t, m in defs],
        "null_bits": null_bits,
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
    ln = buf[off]; off += 1
    message = c.string_var(buf[off:off + ln], ln)
    return {"d_type": kinds[d_type], "message_length": ln, "message": message}


INCIDENT_SCHEMA = _struct_with_error([
    T.StructField("d_type", T.StringType()),
    T.StructField("message_length", T.IntegerType()),
    T.StructField("message", T.StringType()),
])


def decode_rows_query_py(buf: bytes) -> dict:
    """RowsQuery event (mod.rs:1048-1061)."""
    ln = buf[H]
    query_text = c.string_var(buf[H + 1:H + 1 + ln], ln)
    return {"length": ln, "query_text": query_text}


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
    n = len(buf) - H - 4 - 4
    gtid_sets = list(buf[H:H + n])
    buf_size, _ = c.u32(buf, H + n)
    return {"gtid_sets": gtid_sets, "buf_size": buf_size}


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


def _extract_many_fields(buf: bytes, off: int, num_fields: int,
                         table_name_length: int, schema_length: int):
    """Shared Load/NewLoad tail (extract_many_fields, mod.rs:556-594)."""
    field_name_lengths = list(buf[off:off + num_fields])
    off += num_fields
    total_len = sum(field_name_lengths) + num_fields
    raw = buf[off:off + total_len]
    off += total_len
    field_names, p = [], 0
    for _ in range(num_fields):
        s, p = c.string_nul(raw, p)
        field_names.append(s)
    table_name = c.extract_string(buf[off:off + table_name_length + 1])
    off += table_name_length + 1
    schema_name = c.extract_string(buf[off:off + schema_length + 1])
    off += schema_length + 1
    return field_name_lengths, field_names, table_name, schema_name, off


def decode_load_py(buf: bytes) -> dict:
    """Load event (mod.rs:596-656)."""
    off = H
    thread_id, off = c.u32(buf, off)
    execution_time, off = c.u32(buf, off)
    skip_lines, off = c.u32(buf, off)
    table_name_length = buf[off]; off += 1
    schema_length = buf[off]; off += 1
    num_fields, off = c.u32(buf, off)
    field_term, enclosed_by, line_term, line_start, escaped_by = buf[off:off + 5]
    off += 5
    opt = _load_flags(buf[off]); off += 1
    ef = buf[off]; off += 1
    empty_flags = {
        "field_term_empty": ef % 2 == 1,
        "enclosed_empty": (ef >> 1) % 2 == 1,
        "line_term_empty": (ef >> 2) % 2 == 1,
        "line_start_empty": (ef >> 3) % 2 == 1,
        "escape_empty": (ef >> 4) % 2 == 1,
    }
    fnl, fns, table_name, schema_name, off = _extract_many_fields(
        buf, off, num_fields, table_name_length, schema_length)
    file_len = (len(buf) - H - 25 - num_fields - (sum(fnl) + num_fields)
                - table_name_length - schema_length - 3 - 4)
    file_name = c.extract_string(buf[off:off + file_len])
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
    off = H
    thread_id, off = c.u32(buf, off)
    execution_time, off = c.u32(buf, off)
    skip_lines, off = c.u32(buf, off)
    table_name_length = buf[off]; off += 1
    schema_length = buf[off]; off += 1
    num_fields, off = c.u32(buf, off)
    seps = {}
    for nm in ("field_term", "enclosed_by", "line_term", "line_start", "escaped_by"):
        ln = buf[off]
        seps[nm] = c.string_var(buf[off + 1:off + 1 + ln], ln)
        off += 1 + ln
    opt = _load_flags(buf[off]); off += 1
    fnl, fns, table_name, schema_name, off = _extract_many_fields(
        buf, off, num_fields, table_name_length, schema_length)
    file_len = (len(buf) - H - 25 - num_fields - (sum(fnl) + num_fields)
                - table_name_length - schema_length - 3 - 4)
    file_name = c.extract_string(buf[off:off + file_len])
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
    extra = []
    if extra_data_len > 2:
        # many1(parse_extra_data) (rows.rs:48-79); fixtures always hit the
        # ==2 empty case (mod.rs:1194-1198)
        end = off + extra_data_len - 2
        while off < end:
            if buf[off] != 0x00:
                raise ValueError(f"unknown extra data type {buf[off]}")
            length = buf[off + 1]
            fmt = _EXTRA_FORMATS.get(buf[off + 2])
            if fmt is None:
                raise ValueError(f"unknown extra data format {buf[off + 2]}")
            payload = c.extract_string(buf[off + 3:off + 3 + length])
            extra.append({"length": length, "format": fmt, "payload": payload})
            off += 3 + length
    cc_off = off
    column_count, off = c.int_lenenc(buf, off)
    encode_len = off - cc_off
    bit_len = (column_count + 7) // 8
    # nom-take parity: the reference's take(bit_len) fails the event when
    # the bitmaps overrun, and its u32 col_data length arithmetic
    # underflows to a huge failing take — a corrupt declared column_count
    # must not silently truncate the bitmaps into the checksum region
    if off + bit_len * n_images > len(buf):
        raise ValueError("image bitmaps overrun event")
    bits1 = list(buf[off:off + bit_len])
    off += bit_len
    bits2 = None
    if n_images == 2:
        bits2 = list(buf[off:off + bit_len])
        off += bit_len
    # col_data length arithmetic (mod.rs:1234-1243 / 1316-1325)
    col_len = (len(buf) - H - 6 - 2 - extra_data_len - encode_len
               - bit_len * n_images - 4)
    if col_len < 0:
        raise ValueError("negative col_data length")
    col_data = buf[off:off + col_len]
    # many1(parse_row) parity (mod.rs:1244-1250): the remainder after the
    # last COMPLETE row is discarded (`let (_, rows) = many1(...)`), so a
    # failing tail after >=1 parsed row keeps the prefix and the event
    # SUCCEEDS; zero parsed rows — including empty col_data — fails the
    # whole event (many1 requires at least one).
    rows, p = [], 0
    while p < len(col_data):
        try:
            # absolute offsets into col_data: re-slicing col_data[p:] per
            # row copies the shrinking tail — O(rows^2) bytes on a bulk
            # insert event with thousands of rows
            cells, end = decode_row(col_data, p + bit_len, col_defs)
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
        "column_count": column_count, "image_bits1": bits1,
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

def _decoder(schema: T.StructType, fn: Callable[[bytes], dict],
             vectorized: Callable | None = None):
    """(schema, factory): the factory builds the sink's arrow_udf, and its
    ``.args`` are ``(schema, fn, vectorized)``."""
    return schema, _functools.partial(_rowwise, schema, fn, vectorized)


DECODERS: dict[str, tuple[T.StructType, Callable]] = {
    "QUERY": _decoder(QUERY_SCHEMA, decode_query_py, _query_vectorized),
    "ROTATE": _decoder(ROTATE_SCHEMA, decode_rotate_py, _rotate_vectorized),
    "INTVAR": _decoder(INTVAR_SCHEMA, decode_intvar_py, _intvar_vectorized),
    "RAND": _decoder(RAND_SCHEMA, decode_rand_py, _rand_vectorized),
    "USER_VAR": _decoder(USER_VAR_SCHEMA, decode_user_var_py,
                         _user_var_vectorized),
    "FORMAT_DESC": _decoder(FORMAT_DESC_SCHEMA, decode_format_desc_py,
                            _format_desc_vectorized),
    "XID": _decoder(XID_SCHEMA, decode_xid_py, _xid_vectorized),
    "BEGIN_LOAD_QUERY": _decoder(FILE_DATA_SCHEMA, decode_file_data_py),
    "CREATE_FILE": _decoder(FILE_DATA_SCHEMA, decode_file_data_py),
    "APPEND_BLOCK": _decoder(FILE_DATA_SCHEMA, decode_file_data_py),
    "EXEC_LOAD": _decoder(FILE_ID16_SCHEMA, decode_file_id16_py,
                          _file_id16_vectorized),
    "DELETE_FILE": _decoder(FILE_ID16_SCHEMA, decode_file_id16_py,
                            _file_id16_vectorized),
    "EXEC_LOAD_QUERY": _decoder(EXEC_LOAD_QUERY_SCHEMA,
                                decode_execute_load_query_py),
    "TABLE_MAP": _decoder(TABLE_MAP_SCHEMA, decode_table_map_py,
                          _table_map_vectorized),
    "INCIDENT": _decoder(INCIDENT_SCHEMA, decode_incident_py),
    "ROWS_QUERY": _decoder(ROWS_QUERY_SCHEMA, decode_rows_query_py,
                           _rows_query_vectorized),
    "GTID": _decoder(GTID_SCHEMA, _gtid_fields, _gtid_vectorized),
    "ANON_GTID": _decoder(GTID_SCHEMA, _gtid_fields, _gtid_vectorized),
    "PREV_GTIDS": _decoder(PREV_GTIDS_SCHEMA, decode_previous_gtids_py,
                           _prev_gtids_vectorized),
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
