"""Seeded benchmark inputs, built only from the committed fixtures.

Every workload input is a replica set of real binlog events from
``data/fixture_events.parquet`` and ``data/rare_events.parquet``: payload
bytes are never touched, and each replica gets seeded ``timestamp`` and
``server_id`` header fields (``log_pos`` keeps its original value). The
expected per-sink counts are derived here from the bytes as written,
independently of the pipeline's router, and written next to the input.

The same ``(workload, seed)`` always gives byte-identical files.
"""

from __future__ import annotations

import json
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# event_type byte -> sink name. Kept here on purpose (not imported from the
# pipeline) so the expected counts are an independent statement of the
# routing rules: valid size, no file magic, known type, else QUARANTINE.
SINK_OF_TYPE = {
    0x00: "UNKNOWN", 0x02: "QUERY", 0x03: "STOP", 0x04: "ROTATE",
    0x05: "INTVAR", 0x06: "LOAD", 0x07: "SLAVE", 0x08: "CREATE_FILE",
    0x09: "APPEND_BLOCK", 0x0A: "EXEC_LOAD", 0x0B: "DELETE_FILE",
    0x0C: "NEW_LOAD", 0x0D: "RAND", 0x0E: "USER_VAR", 0x0F: "FORMAT_DESC",
    0x10: "XID", 0x11: "BEGIN_LOAD_QUERY", 0x12: "EXEC_LOAD_QUERY",
    0x13: "TABLE_MAP", 0x1A: "INCIDENT", 0x1B: "HEARTBEAT",
    0x1D: "ROWS_QUERY", 0x1E: "WRITE_ROWS_V2", 0x1F: "UPDATE_ROWS_V2",
    0x20: "DELETE_ROWS_V2", 0x21: "GTID", 0x22: "ANON_GTID",
    0x23: "PREV_GTIDS",
}
MAGIC = bytes((254, 98, 105, 110))

# Rows-bearing binlog files: every ROWS event of the fixture set plus the
# TABLE_MAPs they resolve against. Only those two kinds are kept, so the
# router's salted sinks stay empty and enrich and rows decode do the work.
ROWS_SOURCES = ("19_table_map", "30_write_rows_v2", "31_update_rows_v2",
                "32_delete_rows_v2")
ROWS_SINKS = ("TABLE_MAP", "WRITE_ROWS_V2", "UPDATE_ROWS_V2",
              "DELETE_ROWS_V2")

# Replicas per workload, sized (~1e5 events each) so that set-up plus one
# timed pipeline run fits in about a minute on a 4-core host.
WORKLOADS = {
    # 166 events x 600 = 99,600 events over the fixture's 16 sources
    "trans_hot": 600,
    # 16 events x 6,000 = 96,000 events, 5 x 6,000 = 30,000 distinct
    # binlog files with one table each
    "trans_rows": 6000,
}
STREAM_FILES = 2  # micro-batches in the streaming drain (one file each)


def sink_of(ev: bytes) -> str:
    if len(ev) < 13:
        return "QUARANTINE"
    if int.from_bytes(ev[9:13], "little") != len(ev) or ev[:4] == MAGIC:
        return "QUARANTINE"
    return SINK_OF_TYPE.get(ev[4], "QUARANTINE")


def _base(root: Path, workload: str) -> list[tuple[str, str, bytes]]:
    """(doc_id, source, event bytes) of one replica, in file order."""
    def rows(path: Path, keep) -> list[tuple[str, str, bytes]]:
        d = pq.read_table(path).to_pydict()
        return [(i, s, bytes(t)) for i, s, t in
                zip(d["doc_id"], d["source"], d["tokens"])
                if keep(s, bytes(t))]

    fixture = root / "data" / "fixture_events.parquet"
    if workload == "trans_hot":
        return rows(fixture, lambda s, ev: True)
    if workload == "trans_rows":
        return (rows(fixture, lambda s, ev: s in ROWS_SOURCES
                     and sink_of(ev) in ROWS_SINKS)
                + rows(root / "data" / "rare_events.parquet",
                       lambda s, ev: s == "rows_extra"
                       and sink_of(ev) in ROWS_SINKS))
    raise ValueError(f"unknown workload {workload!r}")


def build(root: Path, workload: str, seed: int, out: Path) -> dict:
    """Write ``out/input.parquet``, the same rows split into
    ``out/stream/part-*.parquet`` (one file per micro-batch) and
    ``out/expected.json``; return the expectation."""
    base = _base(root, workload)
    reps = WORKLOADS[workload]
    rng = np.random.default_rng([seed, len(base), reps])

    lens = np.array([len(ev) for _, _, ev in base], dtype=np.int64)
    flat = np.tile(np.frombuffer(b"".join(ev for _, _, ev in base),
                                 np.uint8), reps)
    n = len(base) * reps
    starts = np.concatenate(([0], np.cumsum(np.tile(lens, reps))[:-1]))
    for off, lo in ((0, 0), (5, 1)):  # timestamp, server_id (u32 LE)
        vals = rng.integers(lo, 2**31, n, dtype=np.int64)
        for k in range(4):
            flat[starts + off + k] = ((vals >> (8 * k)) & 0xFF).astype(np.uint8)

    ids = [d for d, _, _ in base]
    srcs = [s for _, s, _ in base]
    doc_id = [f"{ids[j]}/r{r}" for r in range(reps) for j in range(len(base))]
    if workload == "trans_rows":
        # every replica is its own binlog file: the (source, table_id)
        # dimension grows with the replica count
        source = [f"{srcs[j]}/r{r}" for r in range(reps)
                  for j in range(len(base))]
    else:
        source = srcs * reps
    offsets = np.concatenate(([0], np.cumsum(np.tile(lens, reps))))
    table = pa.table({
        "doc_id": pa.array(doc_id, pa.string()),
        "tokens": pa.ListArray.from_arrays(
            pa.array(offsets.astype(np.int32)),
            pa.array(flat.astype(np.int32))),
        "n_tok": pa.array(np.tile(lens, reps).astype(np.int32)),
        "source": pa.array(source, pa.string()),
    })

    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, out / "input.parquet", row_group_size=25_000)
    stream = out / "stream"
    stream.mkdir(exist_ok=True)
    bounds = np.linspace(0, reps, STREAM_FILES + 1).astype(int) * len(base)
    for k in range(STREAM_FILES):
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       stream / f"part-{k:03d}.parquet")

    # from the rewritten bytes: a drawn timestamp can spell the file magic
    written = flat.tobytes()
    counts = Counter(sink_of(written[a:b])
                     for a, b in zip(offsets[:-1], offsets[1:]))
    expected = {
        "workload": workload, "seed": seed, "events": n,
        "sinks": dict(sorted(counts.items())),
        "stream_files": STREAM_FILES,
    }
    (out / "expected.json").write_text(json.dumps(expected, indent=1))
    return expected
