"""Fixture generator: reference binlog files -> pipeline input table.

Test-side only (stdlib, pyarrow and `binlogpipe.layout`; no Spark
session). The committed `data/fixture_events.parquet` is the source of
truth every test and benchmark reads (`load_fixture_events`);
`write_fixture_bins` rebuilds the per-case `<case>/log.bin` files from
it for the raw-binlog source tests.

Provenance: the table was generated from the boxercrab checkout's
`tests/events/<fixture>/log.bin` files (`load_reference_events`, only
when that checkout is present). Each file: skip the 4-byte magic
(`crates/old/src/events/mod.rs:83-85`), then repeatedly read the 19-byte
fixed header (`mod.rs:52-81`) and step by its `event_size` field —
exactly the reference's `many1(Event::parse)` framing (`mod.rs:419-422`)
without decoding payloads.

Emits the contract input table (FIXTURES.md §1):
  doc_id:string = "<fixture>/<event_idx>"
  tokens:array<int32> = event bytes (header ‖ payload ‖ checksum)
  n_tok:int32, source:string = fixture dir name

Also provides deterministic scale-up synthesis for benchmarks: events are
replicated with seeded rewrites of the timestamp/server_id/log_pos header
bytes only (payload untouched, so per-type decode goldens still hold) and
fresh doc_ids; the skewed event-type distribution is preserved
(BASELINE.md §2 note).
"""

from __future__ import annotations

import argparse
import struct
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from binlogpipe import layout

REPO = Path(__file__).resolve().parent.parent
FIXTURE_PARQUET = REPO / "data" / "fixture_events.parquet"
REF_EVENTS = Path("/root/reference/tests/events")


def split_binlog(path: Path) -> list[bytes]:
    """One .bin file -> list of raw event byte strings. Strict wrapper
    around the runtime splitter (binlogpipe.binsource.split_binlog_bytes —
    one walk implementation, not two to keep in sync): fixture generation
    must FAIL on malformed input where the pipeline source quarantines."""
    from binlogpipe.binsource import split_binlog_bytes

    events, err = split_binlog_bytes(path.read_bytes())
    if err is not None:
        raise ValueError(f"{path}: {err}")
    return events


def load_fixture_events() -> list[tuple[str, str, bytes]]:
    """[(doc_id, source, event_bytes)] over all 16 fixtures, file order,
    read from the committed table (166 rows in `<case>/<i>` order)."""
    t = pq.read_table(FIXTURE_PARQUET)
    return [(d, s, bytes(tok))
            for d, s, tok in zip(t.column("doc_id").to_pylist(),
                                 t.column("source").to_pylist(),
                                 t.column("tokens").to_pylist())]


def write_fixture_bins(dest: Path) -> None:
    """Rebuild each case's `<dest>/<case>/log.bin` from the committed
    table: the 4-byte magic followed by that case's event bytes in
    event-index order — the exact framing `split_binlog` walks, so
    splitting a rebuilt file gives back the table's events byte for byte."""
    by_case: dict[str, list[bytes]] = {}
    for doc_id, source, ev in load_fixture_events():
        case, idx = doc_id.rsplit("/", 1)
        if case != source or int(idx) != len(by_case.get(case, [])):
            raise ValueError(
                f"{doc_id}: fixture rows must be in <case>/<i> order")
        by_case.setdefault(case, []).append(ev)
    for case, events in by_case.items():
        path = Path(dest) / case / "log.bin"
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(bytes(layout.MAGIC) + b"".join(events))


def load_reference_events() -> list[tuple[str, str, bytes]]:
    """[(doc_id, source, event_bytes)] split from the boxercrab checkout's
    `tests/events/*/log.bin` (the committed table's provenance)."""
    rows = []
    for d in sorted(REF_EVENTS.iterdir()):
        bin_path = d / "log.bin"
        if not bin_path.exists():
            continue
        for idx, ev in enumerate(split_binlog(bin_path)):
            rows.append((f"{d.name}/{idx}", d.name, ev))
    return rows


def rows_to_table(rows: list[tuple[str, str, bytes]]) -> pa.Table:
    doc_ids = [r[0] for r in rows]
    sources = [r[1] for r in rows]
    tokens = [np.frombuffer(r[2], dtype=np.uint8).astype(np.int32) for r in rows]
    n_tok = [len(t) for t in tokens]
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": pa.array([t.tolist() for t in tokens], pa.list_(pa.int32())),
            "n_tok": pa.array(n_tok, pa.int32()),
            "source": pa.array(sources, pa.string()),
        }
    )


def make_event(event_type: int, payload: bytes, *, timestamp: int = 1000,
               server_id: int = 1, log_pos: int = 4, flags: int = 0) -> bytes:
    """Hand-assemble one event per the 19-byte header layout
    (mod.rs:52-81) + 4-byte checksum tail."""
    size = layout.HEADER_LEN + len(payload) + 4
    hdr = (struct.pack("<IBIII", timestamp, event_type, server_id, size,
                       log_pos)[:17] + struct.pack("<H", flags))
    return hdr + payload + b"\x12\x34\x56\x78"


def rare_events() -> list[tuple[str, str, bytes]]:
    """Deterministic synthetic events for the types the reference fixtures
    never exercise (SURVEY §2.3 completeness): Load/NewLoad, the file-ops
    family, Incident, NULL user vars, and the header-only Stop/Slave/
    Heartbeat — so these decoders get DuckDB-oracle rows, not just unit
    tests. Layouts follow mod.rs (file:line in each builder)."""
    rows: list[tuple[str, str, bytes]] = []

    def add(name, ev):
        rows.append((f"rare/{len(rows)}", name, ev))

    # Load (mod.rs:596-656) — varying field lists
    for k, fields in enumerate(([b"a", b"bb"], [b"col"], [b"x", b"yy", b"zzz"])):
        table, schema, fname = b"t%d" % k, b"sch", b"/tmp/load%d" % k
        p = struct.pack("<III", 7 + k, k, 2 * k)
        p += bytes([len(table), len(schema)])
        p += struct.pack("<I", len(fields))
        p += bytes([44, 34, 10, 0, 92])
        p += bytes([k % 4])              # opt_flags
        p += bytes([(k + 1) % 8])        # empty_flags
        p += bytes(len(f) for f in fields)
        p += b"".join(f + b"\x00" for f in fields)
        p += table + b"\x00" + schema + b"\x00" + fname + b"\x00"
        add("load", make_event(0x06, p))

    # NewLoad (mod.rs:725-771) — length-prefixed separators
    for k, fields in enumerate(([b"x"], [b"aa", b"b"])):
        table, schema, fname = b"nt%d" % k, b"ns", b"/tmp/nl%d" % k
        p = struct.pack("<III", 17 + k, k, k)
        p += bytes([len(table), len(schema)])
        p += struct.pack("<I", len(fields))
        for sep in (b",", b'"', b"\n", b"", b"\\\\"[:1]):
            p += bytes([len(sep)]) + sep
        p += bytes([k % 4])
        p += bytes(len(f) for f in fields)
        p += b"".join(f + b"\x00" for f in fields)
        p += table + b"\x00" + schema + b"\x00" + fname + b"\x00"
        add("new_load", make_event(0x0C, p))

    # file-ops family (mod.rs:663-718)
    for k in range(3):
        add("create_file", make_event(
            0x08, struct.pack("<I", 100 + k) + b"block data %d" % k))
        add("append_block", make_event(
            0x09, struct.pack("<I", 200 + k) + b"more bytes %d" % k))
        add("exec_load", make_event(0x0A, struct.pack("<H", 300 + k)))
        add("delete_file", make_event(0x0B, struct.pack("<H", 400 + k)))

    # Incident (mod.rs:1020-1041)
    for k, (typ, msg) in enumerate(((1, b"lost events"), (0, b""),
                                    (1, b"relay corruption"))):
        add("incident", make_event(
            0x1A, struct.pack("<H", typ) + bytes([len(msg)]) + msg))

    # NULL user vars (mod.rs:802-819)
    for k, name in enumerate((b"v", b"my_var")):
        add("user_var_null", make_event(
            0x0E, struct.pack("<I", len(name)) + name + bytes([1])))

    # header-only types (mod.rs:516-519, 658-661, 1043-1046)
    for k, tid in enumerate((0x03, 0x07, 0x1B, 0x03, 0x07, 0x1B)):
        add("header_only", make_event(tid, b"", timestamp=2000 + k,
                                      log_pos=64 + 4 * k))

    # WriteRowsV2 with extra_data_len > 2 (rows.rs:48-79): every
    # ExtraDataFormat (NDB/OPEN1/OPEN2/MULTI) plus a two-entry block —
    # the reference's own fixtures only ever hit the ==2 empty case.
    # One-column (Long) table; the TableMap below feeds the enrich join.
    rx_tid = 0x0505
    tm = struct.pack("<IH", rx_tid, 0)[:6]   # u48 table_id
    tm += struct.pack("<H", 1)               # tm_flags
    tm += bytes([3]) + b"rdb" + b"\x00"      # schema (len-prefixed + NUL)
    tm += bytes([4]) + b"rows" + b"\x00"     # table
    tm += bytes([1])                         # column_count (lenenc)
    tm += bytes([0x03])                      # type_ids: Long
    tm += bytes([0])                         # metadata length (lenenc)
    tm += bytes([0])                         # null_bits
    # same `source` as the rows events below — the enrich join keys on
    # (source, table_id)
    add("rows_extra", make_event(0x13, tm, log_pos=100))

    extra_cases = [
        [(0x00, b"ndbinfo")],                # NDB
        [(0x40, b"open1pay")],               # OPEN1
        [(0x41, b"open2")],                  # OPEN2
        [(0xFF, b"multi")],                  # MULTI
        [(0x40, b"a"), (0xFF, b"bc")],       # many1: two entries
    ]
    for k, entries in enumerate(extra_cases):
        extra = b"".join(bytes([0x00, len(pl), fmt]) + pl
                         for fmt, pl in entries)
        p = struct.pack("<IH", rx_tid, 0)[:6]        # u48 table_id
        p += struct.pack("<H", 1)                    # flags: end_of_stmt
        p += struct.pack("<H", 2 + len(extra)) + extra
        p += bytes([1])                              # column_count (lenenc)
        p += bytes([0x01])                           # image bits1
        p += bytes([0x00])                           # row null bitmap
        p += struct.pack("<i", 1000 + k)             # Long cell
        add("rows_extra", make_event(0x1E, p, log_pos=104 + 4 * k))
    return rows


def write_synth_parquet(path: Path, factor: int, seed: int = 42,
                        row_group_size: int = 25_000,
                        chunk_factor: int = 36_145) -> int:
    """Deterministic scale-up: `factor` copies of every fixture event with
    seeded header perturbation (timestamp/server_id/log_pos bytes only —
    payloads untouched so per-type decode goldens hold; event-type skew
    preserved).

    Fully vectorized: a flat byte buffer of the replicas with patched
    header fields, turned into an Arrow list<int32> column zero-copy via
    (offsets, values). Generation is CHUNKED at `chunk_factor` replicas
    per Arrow write (~6M events): the flat int32 cast for the whole buffer
    would need ~1 GB RAM per factor-10k, so sf1.0 (60M events) cannot be
    one materialization. One rng drawn sequentially across chunks keeps
    the output deterministic for a given (seed, chunk_factor)."""
    rows = load_fixture_events()
    rng = np.random.default_rng(seed)
    base_flat = np.frombuffer(b"".join(ev for _, _, ev in rows), np.uint8)
    lens = np.array([len(ev) for _, _, ev in rows], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    base_len = int(lens.sum())
    n_base = len(rows)
    srcs = [src for _, src, _ in rows]
    base_ids = [doc_id for doc_id, _, _ in rows]  # "<fixture>/<event_idx>"

    writer = None
    rep0 = 0
    try:
        while rep0 < factor:
            f = min(chunk_factor, factor - rep0)
            n = n_base * f
            flat = np.tile(base_flat, f)
            # per-replica random header fields, little-endian patched in bulk
            ev_starts = (np.tile(starts, f)
                         + np.repeat(np.arange(f, dtype=np.int64), n_base)
                         * base_len)
            for field_off, vals in (
                (0, rng.integers(0, 2**31, n, dtype=np.int64)),   # timestamp
                (5, rng.integers(1, 2**31, n, dtype=np.int64)),   # server_id
                (13, rng.integers(4, 2**31, n, dtype=np.int64)),  # log_pos
            ):
                for k in range(4):
                    flat[ev_starts + field_off + k] = (
                        (vals >> (8 * k)) & 0xFF).astype(np.uint8)

            all_lens = np.tile(lens, f)
            offsets = np.concatenate(([0], np.cumsum(all_lens)))
            tokens_col = pa.LargeListArray.from_arrays(
                pa.array(offsets), pa.array(flat.astype(np.int32)))
            tokens_col = tokens_col.cast(pa.list_(pa.int32()))
            doc_ids = [f"{base_ids[j]}/r{rep}"
                       for rep in range(rep0, rep0 + f)
                       for j in range(n_base)]
            source_col = pa.DictionaryArray.from_arrays(
                pa.array(np.tile(np.arange(n_base, dtype=np.int32), f)),
                pa.array(srcs)).cast(pa.string())
            table = pa.table({
                "doc_id": pa.array(doc_ids, pa.string()),
                "tokens": tokens_col,
                "n_tok": pa.array(all_lens.astype(np.int32)),
                "source": source_col,
            })
            if writer is None:
                writer = pq.ParquetWriter(path, table.schema)
            writer.write_table(table, row_group_size=row_group_size)
            rep0 += f
    finally:
        if writer is not None:
            writer.close()
    return n_base * factor


def golden_sink_counts(rows) -> Counter:
    from binlogpipe.layout import EVENT_TYPES, QUARANTINE_SINK

    c: Counter = Counter()
    for _, _, ev in rows:
        c[EVENT_TYPES.get(ev[4], QUARANTINE_SINK)] += 1
    return c


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=str(FIXTURE_PARQUET))
    ap.add_argument("--synth-out", default=None,
                    help="also write a scaled-up parquet here")
    ap.add_argument("--factor", type=int, default=1000)
    args = ap.parse_args()

    rows = load_reference_events()
    table = rows_to_table(rows)
    pq.write_table(table, args.out)
    counts = golden_sink_counts(rows)
    print(f"wrote {table.num_rows} events from {len(set(r[1] for r in rows))} "
          f"fixtures to {args.out}")
    for k, v in counts.most_common():
        print(f"  {k}: {v}")
    if args.synth_out:
        n = write_synth_parquet(Path(args.synth_out), args.factor)
        print(f"wrote {n} synthesized events to {args.synth_out}")


if __name__ == "__main__":
    main()
