"""Distributed raw-binlog file source.

The reference's primary input is the `.bin` binlog file itself
(`cli.rs read_input` + the magic check at `utils.rs`/`mod.rs:83-99`); this
repo's pipeline contract is the pre-tokenized sequence table. This module
bridges them IN Spark: a `binaryFile` scan distributes whole binlog files
across executors, and a mapInPandas splitter performs the magic check and
event-size walk per file (same arithmetic as the offline
`tools/fixture_gen.split_binlog`), emitting contract-schema rows
`(doc_id, tokens array<int>, n_tok, source)` that feed `parse.with_header`
unchanged.

Scale shape: one input row per file (binlog files rotate at ~1 GB, well
inside an executor), parallelism = number of files; a file that fails the
magic check or has a truncated tail yields a single QUARANTINE-shaped row
(tokens = the bad prefix) instead of failing the stage — malformed inputs
are data, not exceptions, same policy as the row-level pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import layout

CONTRACT_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def split_binlog_bytes(data: bytes) -> tuple[list[bytes], str | None]:
    """(events, error) — the error string marks a malformed file; events
    parsed before the corruption point are kept (the reference aborts the
    whole file; keeping the valid prefix is strictly more useful and the
    quarantine row preserves the evidence)."""
    magic = bytes(layout.MAGIC)
    if not data.startswith(magic):
        return [], "missing binlog magic"
    events, off = [], len(magic)
    import struct

    while off < len(data):
        if off + layout.HEADER_LEN > len(data):
            return events, f"trailing garbage at {off}"
        (event_size,) = struct.unpack_from("<I", data, off + 9)
        if event_size < layout.HEADER_LEN or off + event_size > len(data):
            return events, f"bad event_size {event_size} at {off}"
        events.append(data[off:off + event_size])
        off += event_size
    return events, None


def _glob_root(path: str) -> str:
    """The literal directory prefix of a possibly-globbed input path —
    everything up to the first component containing a glob metachar."""
    parts = path.rstrip("/").split("/")
    keep = []
    for c in parts:
        if any(ch in c for ch in "*?["):
            break
        keep.append(c)
    return "/".join(keep)


def _normalize(p: str) -> str:
    """Reduce any URI/path form to one comparable absolute path so the
    root-prefix match works for every scheme binaryFile can return — not
    just `file:` URIs. Strips the scheme; for `scheme://authority/path`
    forms also the authority (host:port / bucket — the root and its files
    always share it, so dropping both sides keeps prefixes aligned);
    schemeless relative paths resolve against the process working
    directory (the same resolution the local FS applies)."""
    import os
    import re

    m = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:(.*)$", p)
    if m:
        rest = m.group(1)
        if rest.startswith("//"):
            rest = rest[2:]
            slash = rest.find("/")
            rest = rest[slash:] if slash >= 0 else "/"
        while rest.startswith("//"):
            rest = rest[1:]
        return rest
    return p if p.startswith("/") else os.path.abspath(p)


def read_binlog_dir(spark: SparkSession, path: str,
                    glob: str = "*.bin") -> DataFrame:
    """Directory (or glob) of raw binlog files -> contract sequence table.

    `source` is the file's path RELATIVE to the input root, minus the
    `.bin` extension — so same-named files in different subdirectories
    (host1/binlog.000042.bin vs host2/binlog.000042.bin, the multi-host
    replication layout) keep distinct sources and doc_ids. A trailing
    `/log` component is dropped (the reference fixture layout names every
    file log.bin under a per-case directory — the directory carries the
    identity there). `doc_id` = `<source>/<event idx>`; event order within
    a file is preserved by the index so downstream log_pos/transaction
    semantics hold.
    """
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", glob)
             .load(path)
             .select("path", "content"))
    return split_stream(files, root=_glob_root(path))


def split_stream(files: DataFrame, root: str = "") -> DataFrame:
    """(path, content) rows -> contract sequence rows via mapInPandas.
    Works identically on a batch or streaming DataFrame (the streaming
    binlog source reuses it). `root` is the literal input-dir prefix
    stripped from paths to form the source name."""
    import pandas as pd

    root_n = _normalize(root).rstrip("/")

    def split(batches):
        import numpy as np

        for b in batches:
            out = {"doc_id": [], "tokens": [], "n_tok": [], "source": []}
            for p, content in zip(b["path"], b["content"]):
                pn = _normalize(p)
                # fallback is the FULL normalized path, never the basename:
                # with the reference's <case>/log.bin layout a basename
                # fallback collapses every file to stem 'log' — exactly the
                # multi-host (source, doc_id) collision this module exists
                # to prevent. The full path keeps sources unique and makes
                # a root mismatch visible in the source name itself.
                rel = (pn[len(root_n):].lstrip("/")
                       if root_n and (pn.startswith(root_n + "/")
                                      or pn == root_n)
                       else pn.lstrip("/"))
                if not rel:
                    # the input path IS this one file (single-file .bin
                    # run): its basename is the identity — an empty rel
                    # would make source "" and doc_ids "/<i>"
                    rel = pn.rsplit("/", 1)[-1]
                stem = rel[:-4] if rel.endswith(".bin") else rel
                if stem.endswith("/log"):
                    stem = stem[:-4]
                data = bytes(content)
                events, err = split_binlog_bytes(data)
                for i, ev in enumerate(events):
                    out["doc_id"].append(f"{stem}/{i}")
                    # numpy int32 per event, NOT a Python int list: Arrow
                    # takes the ndarray zero-copy; a list of boxed ints is
                    # ~8-10x the bytes and OOMs on a rotated 1 GB file
                    out["tokens"].append(
                        np.frombuffer(ev, np.uint8).astype(np.int32))
                    out["n_tok"].append(len(ev))
                    out["source"].append(stem)
                if err is not None:
                    # quarantine row: the unparseable tail (or whole file),
                    # capped so one corrupt 1 GB file can't blow a row.
                    # MAGIC only counts as consumed when it was present.
                    consumed = ((len(layout.MAGIC)
                                 if data.startswith(bytes(layout.MAGIC))
                                 else 0) + sum(len(e) for e in events))
                    bad = data[consumed:consumed + 4096]
                    out["doc_id"].append(f"{stem}/_corrupt")
                    out["tokens"].append(
                        np.frombuffer(bad, np.uint8).astype(np.int32))
                    out["n_tok"].append(len(bad))
                    out["source"].append(stem)
            yield pd.DataFrame(out)

    return files.mapInPandas(split, CONTRACT_SCHEMA)
