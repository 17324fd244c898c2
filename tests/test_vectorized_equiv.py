"""Property tests: every whole-batch numpy fast path must be byte-for-byte
equivalent to the scalar decoder it shadows, on fuzzed payloads — valid
layouts with random field contents, plus truncation edge cases (where both
paths must agree on the error row, not just the happy row)."""

import json

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from binlogpipe import parse
from binlogpipe.layout import HEADER_LEN as H

settings.register_profile("ci", max_examples=40, deadline=None)
settings.load_profile("ci")


def _hdr(event_type: int, size: int) -> bytes:
    return (b"\x00\x00\x00\x00" + bytes([event_type])
            + b"\x01\x00\x00\x00" + size.to_bytes(4, "little")
            + b"\x00\x00\x00\x00" + b"\x00\x00")


def _fb(payloads):
    """The decoders' one input form: a packed-binary Arrow batch through
    parse._arrow_tokens, exactly as the arrow_udf receives it."""
    return parse._arrow_tokens(pa.array(payloads, pa.binary()))


def _scalar_frame(fn, schema, payloads):
    names = [f.name for f in schema.fields]
    cols = {n: [] for n in names}
    err = []
    for b in payloads:
        try:
            r = fn(b)
            r["parse_error"] = None
        except Exception as e:  # noqa: BLE001
            r = dict.fromkeys(names)
            r["parse_error"] = f"{type(e).__name__}: {e}"
        err.append(r["parse_error"])
        for n in names:
            if n != "parse_error":
                cols[n].append(r[n])
    cols["parse_error"] = err
    return cols


def _compare(vec_fn, scalar_fn, schema, payloads):
    out = vec_fn(_fb(payloads))
    assert out is not None, "vectorized path refused a valid batch"
    exp = _scalar_frame(scalar_fn, schema, payloads)
    for name in exp:
        assert name in out, f"vectorized output missing column {name!r}"
        got = list(out[name])
        want = exp[name]
        norm = lambda v: (list(v) if hasattr(v, "__len__")
                          and not isinstance(v, str) else v)  # noqa: E731
        for g, w in zip(got, want):
            if name == "parse_error":
                # error TEXT may differ (numpy vs scalar slicing); what must
                # match is error-vs-success
                assert (g is None) == (w is None), (name, g, w)
            else:
                assert norm(g) == norm(w) or (g is None and w is None) \
                    or (g != g and w != w), (name, g, w)


@st.composite
def query_payload(draw):
    sv_entries = draw(st.lists(st.sampled_from([
        bytes([0x00]) + draw(st.binary(min_size=4, max_size=4)),
        bytes([0x01]) + draw(st.binary(min_size=8, max_size=8)),
        bytes([0x04]) + draw(st.binary(min_size=6, max_size=6)),
        bytes([0x07]) + draw(st.binary(min_size=2, max_size=2)),
        bytes([0x0D]) + draw(st.binary(min_size=4, max_size=4)),
    ]), max_size=3))
    sv = b"".join(sv_entries)
    schema = draw(st.binary(min_size=0, max_size=12))
    query = draw(st.binary(min_size=0, max_size=40))
    body = (draw(st.binary(min_size=4, max_size=4))      # slave_proxy_id
            + draw(st.binary(min_size=4, max_size=4))    # execution_time
            + bytes([len(schema)])
            + draw(st.binary(min_size=2, max_size=2))    # error_code
            + len(sv).to_bytes(2, "little")
            + sv + schema + b"\x00" + query)
    size = H + len(body) + 4
    return _hdr(0x02, size) + body + b"\x00\x00\x00\x00"


@given(st.lists(query_payload(), min_size=1, max_size=8))
def test_query_vectorized_equiv(payloads):
    _compare(parse._query_vectorized, parse.decode_query_py,
             parse.QUERY_SCHEMA, payloads)


@st.composite
def corrupt_query_payload(draw):
    """Query rows whose DECLARED interior lengths (status_vars_length,
    schema_length) are arbitrary — often overrunning the row. Both paths
    must truncate at the row end identically; a flat-buffer slice that
    reads the neighbor row's bytes makes output depend on batch
    co-location (round-2 advice)."""
    declared_slen = draw(st.integers(min_value=0, max_value=255))
    declared_svl = draw(st.integers(min_value=0, max_value=65535))
    tail = draw(st.binary(min_size=0, max_size=30))
    body = (draw(st.binary(min_size=4, max_size=4))
            + draw(st.binary(min_size=4, max_size=4))
            + bytes([declared_slen])
            + draw(st.binary(min_size=2, max_size=2))
            + declared_svl.to_bytes(2, "little")
            + tail)
    size = H + len(body) + 4
    return _hdr(0x02, size) + body + b"\x00\x00\x00\x00"


@given(st.lists(st.one_of(query_payload(), corrupt_query_payload()),
                min_size=2, max_size=8))
def test_query_vectorized_equiv_inconsistent_lengths(payloads):
    _compare(parse._query_vectorized, parse.decode_query_py,
             parse.QUERY_SCHEMA, payloads)


@given(st.lists(st.tuples(st.integers(min_value=0, max_value=255),
                          st.binary(min_size=0, max_size=20)),
                min_size=2, max_size=8))
def test_rows_query_vectorized_equiv_inconsistent_lengths(items):
    """Declared length byte independent of the actual text length — overruns
    must clamp at the row end on both paths."""
    payloads = []
    for declared, t in items:
        body = bytes([declared]) + t
        payloads.append(_hdr(0x1D, H + len(body) + 4) + body + b"\x00" * 4)
    _compare(parse._rows_query_vectorized, parse.decode_rows_query_py,
             parse.ROWS_QUERY_SCHEMA, payloads)


def test_rotate_high_bit_position_wraps_identically():
    """position >= 2^63 wraps two's-complement to the SAME negative i64 on
    both paths (the scalar u64 used to return an out-of-range positive int
    that failed Arrow conversion while vectorized wrapped — round-2 advice)."""
    pos = (0xFEDCBA9876543210).to_bytes(8, "little")
    body = pos + b"binlog.000042"
    payload = _hdr(0x04, H + len(body) + 4) + body + b"\x00" * 4
    scalar = parse.decode_rotate_py(payload)
    vec = parse._rotate_vectorized(_fb([payload]))
    expect = 0xFEDCBA9876543210 - (1 << 64)
    assert scalar["position"] == expect
    assert int(vec["position"][0]) == expect
    assert vec["next_binlog"][0] == scalar["next_binlog"] == "binlog.000042"


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


@given(st.lists(st.binary(min_size=0, max_size=60), min_size=1, max_size=8))
def test_rotate_vectorized_equiv(tails):
    payloads = []
    for t in tails:
        body = b"\x04\x00\x00\x00\x00\x00\x00\x00" + t
        payloads.append(_hdr(0x04, H + len(body) + 4) + body + b"\x00" * 4)
    _compare(parse._rotate_vectorized, parse.decode_rotate_py,
             parse.ROTATE_SCHEMA, payloads)


@given(st.lists(st.binary(min_size=0, max_size=120), min_size=1, max_size=8))
def test_rows_query_vectorized_equiv(texts):
    payloads = []
    for t in texts:
        body = bytes([min(len(t), 255)]) + t
        payloads.append(_hdr(0x1D, H + len(body) + 4) + body + b"\x00" * 4)
    _compare(parse._rows_query_vectorized, parse.decode_rows_query_py,
             parse.ROWS_QUERY_SCHEMA, payloads)


@given(st.lists(st.integers(min_value=0, max_value=40), min_size=1,
                max_size=6))
def test_format_desc_vectorized_equiv(n_types):
    payloads = []
    for k, n in enumerate(n_types):
        body = (b"\x04\x00" + b"5.7.30-log" + b"\x00" * 40
                + (1594395328).to_bytes(4, "little") + bytes([19])
                + bytes((k + i) % 256 for i in range(n)) + bytes([1]))
        payloads.append(_hdr(0x0F, H + len(body) + 4) + body + b"\x00" * 4)
    _compare(parse._format_desc_vectorized, parse.decode_format_desc_py,
             parse.FORMAT_DESC_SCHEMA, payloads)


@given(st.lists(st.binary(min_size=0, max_size=48), min_size=1, max_size=6))
def test_prev_gtids_vectorized_equiv(sets):
    payloads = []
    for s in sets:
        body = s + len(s).to_bytes(4, "little")
        payloads.append(_hdr(0x23, H + len(body) + 4) + body + b"\x00" * 4)
    _compare(parse._prev_gtids_vectorized, parse.decode_previous_gtids_py,
             parse.PREV_GTIDS_SCHEMA, payloads)


def test_vectorized_fallback_on_short_rows():
    """A batch containing any row shorter than the layout minimum must fall
    back to the scalar path (returns None) rather than crash."""
    ok = _hdr(0x04, H + 12) + b"\x04\x00\x00\x00\x00\x00\x00\x00" + b"\x00" * 4
    assert parse._rotate_vectorized(_fb([ok, b"\x01\x02"])) is None
    assert parse._query_vectorized(_fb([b""])) is None


def test_query_vectorized_bad_status_vars_is_row_error():
    """A corrupt status-vars block errors THAT row (all fields null), and
    healthy rows in the same batch still decode."""
    bad_sv = bytes([0xEE]) + b"\x00" * 3  # unknown key 0xEE
    body = (b"\x01\x00\x00\x00" + b"\x00\x00\x00\x00" + b"\x00"
            + b"\x00\x00" + len(bad_sv).to_bytes(2, "little") + bad_sv
            + b"\x00" + b"SELECT 1")
    bad = _hdr(0x02, H + len(body) + 4) + body + b"\x00" * 4
    good_body = (b"\x01\x00\x00\x00" + b"\x00\x00\x00\x00" + b"\x00"
                 + b"\x00\x00" + b"\x00\x00" + b"\x00" + b"SELECT 2")
    good = _hdr(0x02, H + len(good_body) + 4) + good_body + b"\x00" * 4
    out = parse._query_vectorized(_fb([bad, good]))
    assert out["parse_error"][0] is not None
    assert out["slave_proxy_id"][0] is None
    assert out["parse_error"][1] is None
    assert out["query"][1] == "SELECT 2"
    assert json.loads(out["status_vars"][1]) == []


@st.composite
def user_var_payload(draw):
    name = draw(st.binary(min_size=0, max_size=12))
    is_null = draw(st.booleans())
    if is_null:
        body = len(name).to_bytes(4, "little") + name + b"\x01"
    else:
        dtype = draw(st.sampled_from([0, 1, 2, 3, 4, 5, 9]))
        val = draw(st.binary(min_size=0, max_size=16))
        body = (len(name).to_bytes(4, "little") + name + b"\x00"
                + bytes([dtype])
                + draw(st.binary(min_size=4, max_size=4))  # charset
                + len(val).to_bytes(4, "little") + val)
        if dtype == 2:  # INT carries a trailing flags byte (mod.rs:833-840)
            body += bytes([draw(st.integers(min_value=0, max_value=255))])
    size = H + len(body) + 4
    return _hdr(0x0E, size) + body + b"\x00" * 4


@given(st.lists(user_var_payload(), min_size=1, max_size=8))
def test_user_var_vectorized_equiv(payloads):
    _compare(parse._user_var_vectorized, parse.decode_user_var_py,
             parse.USER_VAR_SCHEMA, payloads)


def test_user_var_vectorized_falls_back_on_corrupt_rows():
    """Declared lengths that leave a required field outside the row must
    send the WHOLE batch to the scalar path (None), whose per-row
    try/except owns quarantine semantics."""
    # INT whose declared value_length truncates at the row end: the
    # trailing flags byte is unreachable
    body = ((3).to_bytes(4, "little") + b"abc" + b"\x00" + b"\x02"
            + b"\x21\x00\x00\x00" + (99).to_bytes(4, "little") + b"\x01")
    bad = _hdr(0x0E, H + len(body) + 4) + body + b"\x00" * 4
    assert parse._user_var_vectorized(_fb([bad])) is None
    # name_length overrunning the row: is_null byte unreachable
    body2 = (250).to_bytes(4, "little") + b"ab"
    bad2 = _hdr(0x0E, H + len(body2) + 4) + body2 + b"\x00" * 4
    assert parse._user_var_vectorized(_fb([bad2])) is None
    # and the scalar path quarantines them per-row instead of raising
    exp = _scalar_frame(parse.decode_user_var_py, parse.USER_VAR_SCHEMA,
                        [bad, bad2])
    assert all(e is not None for e in exp["parse_error"])


@given(st.lists(st.tuples(st.integers(min_value=0, max_value=3),
                          st.binary(min_size=8, max_size=8)),
                min_size=1, max_size=8))
def test_intvar_vectorized_equiv(items):
    payloads = []
    for t, v in items:
        body = bytes([t]) + v
        payloads.append(_hdr(0x05, H + len(body) + 4) + body + b"\x00" * 4)
    # type byte 3 is invalid -> whole batch takes the scalar path (None)
    out = parse._intvar_vectorized(_fb(payloads))
    if any(t == 3 for t, _ in items):
        assert out is None
    else:
        _compare(parse._intvar_vectorized, parse.decode_intvar_py,
                 parse.INTVAR_SCHEMA, payloads)


@given(st.lists(st.binary(min_size=16, max_size=16), min_size=1, max_size=8))
def test_rand_vectorized_equiv(bodies):
    payloads = [_hdr(0x0D, H + 16 + 4) + b + b"\x00" * 4 for b in bodies]
    _compare(parse._rand_vectorized, parse.decode_rand_py,
             parse.RAND_SCHEMA, payloads)


@given(st.lists(st.binary(min_size=2, max_size=10), min_size=1, max_size=8))
def test_file_id16_vectorized_equiv(bodies):
    payloads = [_hdr(0x0A, H + len(b) + 4) + b + b"\x00" * 4 for b in bodies]
    _compare(parse._file_id16_vectorized, parse.decode_file_id16_py,
             parse.FILE_ID16_SCHEMA, payloads)


@st.composite
def gtid_batch(draw):
    """GTID/ANON_GTID payloads (fixed 65 bytes) whose source_id ‖ txn_id
    patterns repeat across the batch, as real server uuids do — the fast
    path renders each distinct pattern once and gathers it back."""
    ids = draw(st.lists(st.binary(min_size=24, max_size=24), min_size=1,
                        max_size=3))
    out = []
    for _ in range(draw(st.integers(min_value=1, max_value=8))):
        body = (bytes([draw(st.integers(min_value=0, max_value=2))])
                + draw(st.sampled_from(ids))
                + draw(st.binary(min_size=17, max_size=17)))
        et = draw(st.sampled_from([0x21, 0x22]))  # GTID, ANON_GTID
        out.append(_hdr(et, H + len(body) + 4) + body + b"\x00" * 4)
    return out


@given(gtid_batch())
def test_gtid_vectorized_equiv(payloads):
    _compare(parse._gtid_vectorized, parse._gtid_fields,
             parse.GTID_SCHEMA, payloads)


def test_fixed_layouts_refuse_other_lengths():
    """GTID and XID fast paths need every row at its exact layout length;
    a longer row sends the batch to the scalar loop."""
    gtid = _hdr(0x21, 65) + bytes(42) + b"\x00" * 4
    xid = _hdr(0x10, 31) + bytes(8) + b"\x00" * 4
    assert parse._gtid_vectorized(_fb([gtid, gtid + b"\x00"])) is None
    assert parse._xid_vectorized(_fb([xid, xid + b"\x00"])) is None
    assert parse._xid_vectorized(_fb([xid])) is not None


@st.composite
def table_map_payload(draw):
    """TableMap events over column types with 0/1/2-byte metadata; the
    metadata block's length is drawn independently, so a short block
    errors the row on both paths."""
    types = draw(st.lists(st.sampled_from([1, 3, 4, 5, 8, 15, 246, 252, 254]),
                          max_size=6))
    meta = draw(st.binary(max_size=10))
    schema = draw(st.binary(max_size=8))
    table = draw(st.binary(max_size=8))
    body = (draw(st.binary(min_size=6, max_size=6))      # table_id
            + draw(st.binary(min_size=2, max_size=2))    # flags
            + bytes([len(schema)]) + schema + b"\x00"
            + bytes([len(table)]) + table + b"\x00"
            + bytes([len(types)]) + bytes(types)
            + bytes([len(meta)]) + meta
            + draw(st.binary(min_size=(len(types) + 7) // 8,
                             max_size=(len(types) + 7) // 8)))
    return _hdr(0x13, H + len(body) + 4) + body + b"\x00" * 4


@given(st.lists(table_map_payload(), min_size=1, max_size=4),
       st.lists(st.integers(min_value=0, max_value=3), min_size=1,
                max_size=10),
       st.binary(max_size=30))
def test_table_map_vectorized_equiv(distinct, picks, junk):
    """Repeated payloads (the per-distinct-payload memo) and a corrupt row
    decode exactly like decode_table_map_py row by row."""
    payloads = [distinct[i % len(distinct)] for i in picks] + [junk]
    _compare(parse._table_map_vectorized, parse.decode_table_map_py,
             parse.TABLE_MAP_SCHEMA, payloads)


def test_fast_paths_take_the_contract_array_form(fixture_parquet):
    """Every fast path present in the fixture decodes the contract
    list<int32> tokens batch (the form the oracle queries pass) and
    returns what it returns for the packed-binary form."""
    import pyarrow.parquet as pq

    from binlogpipe import layout
    from binlogpipe import np_codec as c

    tokens = pq.read_table(fixture_parquet)["tokens"]
    by_sink: dict[str, list[int]] = {}
    for i, t in enumerate(tokens.to_pylist()):
        by_sink.setdefault(layout.EVENT_TYPES.get(t[4]), []).append(i)
    checked = []
    for sink, (schema, factory) in sorted(parse.DECODERS.items()):
        _, _, vec = factory.args
        if vec is None or sink not in by_sink:
            continue
        arr = tokens.take(by_sink[sink]).combine_chunks()
        assert pa.types.is_list(arr.type)
        packed = pa.array([c.tokens_to_bytes(t) for t in arr.to_pylist()],
                          pa.binary())
        got = vec(parse._arrow_tokens(arr))
        assert got is not None, sink
        want = vec(parse._arrow_tokens(packed))
        assert (parse._frame_to_struct(got, schema).to_pylist()
                == parse._frame_to_struct(want, schema).to_pylist()), sink
        checked.append(sink)
    assert len(checked) == 12, checked


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
