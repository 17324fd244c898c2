"""Every decoder reads a length-derived field through `np_codec.take`: a
declared length that runs past the payload, or a fixed-width payload one
byte short, fails its row with a `parse_error` and all-null fields, while
the rows around it in the same batch decode as before. The AST guard keeps
new unchecked `buf[off:off + n]` reads out of the decoder modules."""

import ast
import functools
import struct

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import to_arrow_type

from binlogpipe import layout, parse, route
from binlogpipe.layout import HEADER_LEN as H
from tests.conftest import FIXTURE_PARQUET, REPO
from tests.test_vectorized_equiv import _udf_body


@functools.lru_cache(maxsize=1)
def _events_by_sink() -> dict[str, list[tuple[str, bytes]]]:
    """(source, event bytes) per sink over both committed tables, shortest
    event first."""
    out: dict[str, list[tuple[str, bytes]]] = {}
    for p in (FIXTURE_PARQUET, FIXTURE_PARQUET.with_name("rare_events.parquet")):
        for r in pq.read_table(p).to_pylist():
            ev = bytes(t & 0xFF for t in r["tokens"])
            out.setdefault(layout.EVENT_TYPES.get(ev[4]), []).append(
                (r["source"], ev))
    return {k: sorted(v, key=lambda e: len(e[1])) for k, v in out.items()}


# --- event surgery: every edit keeps the header's event_size and the 4-byte
# checksum tail consistent, so the row is routable and only its payload lies


def _resize(ev: bytes) -> bytes:
    return ev[:9] + struct.pack("<I", len(ev)) + ev[13:]


def _end(ev: bytes) -> int:
    return len(ev) - 4  # payload end: the checksum follows


def _put(fmt: str, pos: int, value: int):
    """Overwrite the field at `pos` with `value`; None when `value` cannot
    run past the payload end in that field's width."""
    def edit(ev: bytes):
        if value > (1 << (8 * struct.calcsize(fmt))) - 1:
            return None
        return ev[:pos] + struct.pack(fmt, value) + ev[pos + struct.calcsize(fmt):]
    return edit


def _declare(fmt: str, at, start):
    """Declare the length at `at(ev)` one byte longer than what is left of
    the payload from `start(ev)`, where the field it bounds begins; None
    when `at(ev)` is None (the event has no such field)."""
    def edit(ev: bytes):
        pos = at(ev)
        return None if pos is None else _put(
            fmt, pos, _end(ev) - start(ev) + 1)(ev)
    return edit


def _lenenc_65535(at):
    """Replace the 1-byte lenenc count at `at(ev)` with 0xFC 0xFFFF."""
    def edit(ev: bytes):
        p = at(ev)
        assert ev[p] < 0xFB
        return _resize(ev[:p] + b"\xfc\xff\xff" + ev[p + 1:])
    return edit


def _cut_one(ev: bytes) -> bytes:
    """Drop the payload's last byte."""
    return _resize(ev[:_end(ev) - 1] + ev[_end(ev):])


def _short_prefix(n: int):
    """Keep one byte less than the decoder's `n`-byte fixed prefix."""
    return lambda ev: _resize(ev[:H + n - 1] + ev[_end(ev):])


def _table_map_cc(ev: bytes) -> int:
    sl = ev[H + 8]
    return H + 8 + 1 + sl + 1 + 1 + ev[H + 8 + 1 + sl + 1] + 1


def _user_var_vl(ev: bytes) -> int | None:
    """value_length's offset, None for a NULL user var (no value fields)."""
    nl = struct.unpack_from("<I", ev, H)[0]
    return None if ev[H + 4 + nl] else H + 4 + nl + 1 + 1 + 4


def _rows_cc(ev: bytes) -> int:
    return H + 8 + struct.unpack_from("<H", ev, H + 8)[0]


def _schema_start(prefix: int):
    """Where the schema begins: after the fixed prefix and status vars."""
    return lambda ev: H + prefix + struct.unpack_from("<H", ev, H + 11)[0]


_ROWS = {
    "extra data length": _declare("<H", lambda ev: H + 8, lambda ev: H + 8),
    "column_count": _lenenc_65535(_rows_cc),
}
_LOAD = {
    "table_name_length": _put("<B", H + 12, 255),
    "schema_length": _put("<B", H + 13, 255),
    "num_fields": _put("<I", H + 14, 1 << 20),
}

CASES = {
    ("QUERY", "status_vars_length"): _declare("<H", lambda ev: H + 11,
                                              lambda ev: H + 13),
    ("QUERY", "schema_length"): _declare("<B", lambda ev: H + 8,
                                         _schema_start(13)),
    ("EXEC_LOAD_QUERY", "status_vars_length"): _declare(
        "<H", lambda ev: H + 11, lambda ev: H + 26),
    ("EXEC_LOAD_QUERY", "schema_length"): _declare("<B", lambda ev: H + 8,
                                                   _schema_start(26)),
    ("USER_VAR", "name_length"): _declare("<I", lambda ev: H, lambda ev: H + 4),
    ("USER_VAR", "value_length"): _declare("<I", _user_var_vl,
                                           lambda ev: _user_var_vl(ev) + 4),
    ("INCIDENT", "message_length"): _declare("<B", lambda ev: H + 2,
                                             lambda ev: H + 3),
    ("ROWS_QUERY", "length"): _declare("<B", lambda ev: H, lambda ev: H + 1),
    ("TABLE_MAP", "column_count"): _lenenc_65535(_table_map_cc),
    ("TABLE_MAP", "meta_count"): _lenenc_65535(
        lambda ev: _table_map_cc(ev) + 1 + ev[_table_map_cc(ev)]),
    **{(s, f): e for s in ("LOAD", "NEW_LOAD") for f, e in _LOAD.items()},
    **{(s, f): e for s in route.ROWS_SINKS for f, e in _ROWS.items()},
    # all-fixed-width payloads, one byte short
    **{(s, "payload one byte short"): _cut_one
       for s in ("XID", "RAND", "INTVAR", "EXEC_LOAD", "DELETE_FILE", "GTID",
                 "ANON_GTID")},
    # the decoders that read to the end of the event, their fixed prefix
    # one byte short (FORMAT_DESC: version, server version, timestamp,
    # header length and checksum_alg around no supported types)
    **{(s, "fixed prefix one byte short"): _short_prefix(n)
       for s, n in (("ROTATE", 8), ("BEGIN_LOAD_QUERY", 4),
                    ("CREATE_FILE", 4), ("APPEND_BLOCK", 4),
                    ("PREV_GTIDS", 4), ("FORMAT_DESC", 2 + 50 + 4 + 1 + 1))},
}


def _decode(sink: str, batch: list[tuple[str, bytes]]) -> list[dict]:
    """The sink's UDF body over one packed batch; rows sinks get each
    event's enriched columns_type from its source's TABLE_MAP."""
    tokens = pa.array([ev for _, ev in batch], pa.binary())
    if sink not in route.ROWS_SINKS:
        return _udf_body(sink, tokens)
    dim = {}
    tms = _events_by_sink()["TABLE_MAP"]
    for (src, _), d in zip(tms, _udf_body("TABLE_MAP", pa.array(
            [ev for _, ev in tms], pa.binary()))):
        dim[(src, d["table_id"])] = d["columns_type"]
    defs = [dim.get((src, int.from_bytes(ev[H:H + 6], "little")))
            for src, ev in batch]
    extra = pa.array(defs, to_arrow_type(parse.COLUMNS_TYPE_T)).to_numpy(
        zero_copy_only=False)
    fn = functools.partial(parse._decode_rows_event,
                           n_images=2 if sink == "UPDATE_ROWS_V2" else 1)
    names = [f.name for f in parse.ROWS_SCHEMA.fields]
    cols = parse._decode_frame(parse._arrow_tokens(tokens), names, fn, extra)
    return parse._frame_to_struct(cols, parse.ROWS_SCHEMA).to_pylist()


def test_cases_cover_every_decoder():
    assert {s for s, _ in CASES} == set(parse.DECODERS) | set(route.ROWS_SINKS)


@pytest.mark.parametrize("sink,field", sorted(CASES))
def test_overrun_fails_only_its_row(sink, field):
    events = _events_by_sink()[sink]
    edit = CASES[(sink, field)]
    # the shortest event this edit can push past its payload end
    i, bad = next((i, b) for i, (_, ev) in enumerate(events)
                  if (b := edit(ev)) is not None)
    assert bad != events[i][1] and len(bad) == struct.unpack_from("<I", bad, 9)[0]
    good = [events[i], events[(i + 1) % len(events)]]
    clean = _decode(sink, good)
    assert all(r["parse_error"] is None for r in clean), clean
    rows = _decode(sink, [good[0], (events[i][0], bad), good[1]])
    assert rows[1]["parse_error"], rows[1]
    assert all(v is None for k, v in rows[1].items() if k != "parse_error")
    assert [rows[0], rows[2]] == clean


def _unchecked_slices(source: str, name: str) -> list[str]:
    """Slices of `buf` whose upper bound is neither omitted nor a constant."""
    bad = []
    for node in ast.walk(ast.parse(source)):
        if (isinstance(node, ast.Subscript) and isinstance(node.value, ast.Name)
                and node.value.id == "buf" and isinstance(node.slice, ast.Slice)
                and node.slice.upper is not None):
            try:
                ast.literal_eval(node.slice.upper)
            except ValueError:
                bad.append(f"{name}:{node.lineno}: {ast.unparse(node)}")
    return bad


def test_decoders_read_lengths_only_through_take():
    """A Python slice truncates silently, so a length-derived read of the
    event must be a `np_codec.take` (`buf[off:]` and constant bounds are
    fine: they take no length from the event)."""
    assert _unchecked_slices("x = buf[off:off + n]", "probe") == [
        "probe:1: buf[off:off + n]"]
    assert _unchecked_slices("x = buf[off:]; y = buf[:-1]", "probe") == []
    bad = []
    for rel in ("binlogpipe/parse.py", "binlogpipe/coltypes.py"):
        bad += _unchecked_slices((REPO / rel).read_text(), rel)
    assert bad == []
