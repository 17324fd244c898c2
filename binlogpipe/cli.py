"""CLI analog of the reference's `bcrab` commands
(`/root/reference/crates/old/src/cli.rs:13-161`), Spark-first:

  trans   <input parquet> <out dir> [--format json|yaml]  # cli.rs `trans`
          [--binlog]  input is raw .bin binlog files (reference-native)
  desc    <input parquet>                                 # cli.rs `desc`
  stream  <input dir> <out dir> [--checkpoint D]          # cli.rs `conn` analog
  compact <out dir> <sink> [--target-file-mb N]           # sink small-file compaction

`trans` runs the full DAG to typed sinks (the Iceberg/parquet analog of the
reference's serde JSON/YAML dump); `--format json|yaml` additionally writes
a per-event JSON/YAML debug dump of the decoded sinks (debug utility only —
the sinks are the real output; cli.rs:117-138). `desc` prints event counts
+ the first FormatDesc summary per source (cli.rs:143-161).
"""

from __future__ import annotations

import argparse
import json
from pathlib import Path

from pyspark.sql import functions as F

from . import aggregate as agg
from . import job, parse
from .session import build_spark


def cmd_trans(args) -> None:
    spark = build_spark(app="binlogpipe-trans")
    metrics = job.run_pipeline(
        spark, args.input, args.out, run_id=args.run_id,
        resume=not args.no_resume,
        input_format="binlog" if args.binlog else "parquet")
    print(json.dumps(metrics, indent=1))
    out_s = str(args.out).rstrip("/")
    # scheme-aware listing (hdfs/s3a out dirs; sinks/ is absent after an
    # empty input, which writes no typed sink) + delete-before-write so a
    # resumed invocation doesn't crash on the old dump
    sinks = sorted(job.list_partition_dirs(spark, f"{out_s}/sinks", ""))
    if args.format == "json":
        dump_dir = f"{out_s}/debug_json"
        for sink in sinks:
            job.delete_path(spark, f"{dump_dir}/{sink}")
            df = spark.read.parquet(f"{out_s}/sinks/{sink}")
            (df.orderBy("doc_id").toJSON()
             .saveAsTextFile(f"{dump_dir}/{sink}"))
        print(f"debug JSON dump at {dump_dir}")
    elif args.format == "yaml":
        # cli.rs:126-131,138 analog: per-event YAML debug dump. A mapInPandas
        # render per partition (yaml on each executor), never a driver loop.
        import pandas as pd

        def to_yaml(batches):
            import json as _j

            import yaml as _y

            for b in batches:
                # JSON round-trip normalizes numpy scalars/arrays to plain
                # python (PyYAML refuses np types); "---" separators make
                # the concatenated part files a valid multi-document stream
                recs = _j.loads(b.to_json(orient="records"))
                yield pd.DataFrame({"y": [
                    "---\n" + _y.safe_dump(rec, sort_keys=False,
                                           allow_unicode=True)
                    for rec in recs]})

        dump_dir = f"{out_s}/debug_yaml"
        for sink in sinks:
            job.delete_path(spark, f"{dump_dir}/{sink}")
            df = spark.read.parquet(f"{out_s}/sinks/{sink}").orderBy("doc_id")
            # binary columns (raw payloads on header-only/quarantine sinks)
            # render as hex — pandas' JSON path refuses bytes
            df = df.select(*[
                F.hex(F.col(f.name)).alias(f.name)
                if f.dataType.typeName() == "binary" else F.col(f.name)
                for f in df.schema.fields])
            (df.mapInPandas(to_yaml, "y string").rdd.map(lambda r: r["y"])
             .saveAsTextFile(f"{dump_dir}/{sink}"))
        print(f"debug YAML dump at {dump_dir}")


def cmd_desc(args) -> None:
    spark = build_spark(app="binlogpipe-desc")
    src = job.read_input(spark, args.input,
                         "binlog" if args.binlog else "parquet")
    hdr = parse.with_header(src)
    fd_sink = hdr.filter(F.col("sink") == "FORMAT_DESC")
    _, factory = parse.DECODERS["FORMAT_DESC"]
    fd = (fd_sink.withColumn("d", factory()(F.col("tokens")))
          .filter(F.col("d.parse_error").isNull())
          .select("source", "log_pos", "d.binlog_version",
                  "d.mysql_server_version", "d.create_timestamp"))
    agg.desc_report(hdr, fd).show(100, truncate=False)


def cmd_stream(args) -> None:
    """`conn` analog (cli.rs:162 / connection.rs): the reference follows a
    live replication stream; the Spark-native form is the incremental
    streaming full DAG over a growing input directory — drain everything
    available now through route + cumulative TableMap dim + typed sinks,
    resumable from the checkpoint (re-invoke to catch up again; the wire
    protocol itself is intentionally not ported, SURVEY §3.3)."""
    from . import streaming

    spark = build_spark(app="binlogpipe-stream")
    ck = args.checkpoint or str(Path(args.out) / "_stream_checkpoint")
    fmt = "binlog" if args.binlog else "parquet"
    if args.follow:
        # live mode (the actual `conn` shape): poll the input dir every
        # --interval forever, processing files as they appear; SIGINT/
        # SIGTERM ends it gracefully, and re-invoking with the same
        # checkpoint resumes past every committed batch.
        #
        # Graceful shutdown must NOT rely on KeyboardInterrupt escaping
        # q.awaitTermination(): a default SIGINT during that call lands
        # while the main thread is blocked in py4j's socket recv, where
        # py4j catches the interrupt and re-raises it as Py4JNetworkError
        # ("Error while sending or receiving") — killing the process with
        # a stack trace, no status line, and a broken gateway connection
        # (caught by test_follow_sigint_graceful_shutdown). Instead: a
        # NON-raising handler sets a flag, so the interrupted recv is
        # auto-retried (PEP 475) and the bounded awaitTermination returns
        # normally; the loop then stops the query and falls through to
        # the status line.
        import signal

        stop_requested: list[int] = []
        prev = {s: signal.signal(s, lambda *_: stop_requested.append(1))
                for s in (signal.SIGINT, signal.SIGTERM)}
        q = streaming.start_full_live(
            spark, args.input, args.out, ck, interval=args.interval,
            max_files_per_trigger=args.max_files_per_trigger,
            input_format=fmt)
        try:
            while q.isActive and not stop_requested:
                q.awaitTermination(1)
        finally:
            if q.isActive:
                q.stop()
            for s, h in prev.items():
                signal.signal(s, h)
    else:
        streaming.run_full_available_now(
            spark, args.input, args.out, ck,
            max_files_per_trigger=args.max_files_per_trigger,
            input_format=fmt)
    # scheme-aware: a drain with no new files processes zero micro-batches
    # and never creates out/sinks — a valid no-op invocation, not an error.
    sinks = sorted(job.list_partition_dirs(
        spark, f"{str(args.out).rstrip('/')}/sinks", ""))
    print(json.dumps({"out": args.out, "checkpoint": ck, "sinks": sinks}))


def cmd_compact(args) -> None:
    spark = build_spark(app="binlogpipe-compact")
    n = job.compact_sink(spark, args.out, args.sink,
                         target_file_mb=args.target_file_mb)
    print(json.dumps({"sink": args.sink, "files": n}))


def main() -> None:
    ap = argparse.ArgumentParser(prog="binlogpipe")
    sub = ap.add_subparsers(required=True)

    t = sub.add_parser("trans", help="run the full parse→enrich→route→"
                                     "aggregate DAG to typed sinks")
    t.add_argument("input")
    t.add_argument("out")
    t.add_argument("--format", choices=["parquet", "json", "yaml"],
                   default="parquet")
    t.add_argument("--run-id", default="cli")
    t.add_argument("--no-resume", action="store_true")
    t.add_argument("--binlog", action="store_true",
                   help="input is a dir/glob of raw .bin binlog files "
                        "(reference-native input), not a parquet table")
    t.set_defaults(fn=cmd_trans)

    d = sub.add_parser("desc", help="event counts + first FormatDesc summary")
    d.add_argument("input")
    d.add_argument("--binlog", action="store_true",
                   help="input is raw .bin binlog files")
    d.set_defaults(fn=cmd_desc)

    s = sub.add_parser("stream", help="drain a growing input dir through "
                                      "the incremental streaming full DAG "
                                      "(live-replication analog)")
    s.add_argument("input")
    s.add_argument("out")
    s.add_argument("--checkpoint", default=None)
    s.add_argument("--max-files-per-trigger", type=int, default=None)
    s.add_argument("--binlog", action="store_true",
                   help="follow raw .bin binlog files instead of parquet")
    s.add_argument("--follow", action="store_true",
                   help="keep running (processingTime trigger), processing "
                        "new files as they appear, until interrupted — the "
                        "reference's continuous `conn` recv loop")
    s.add_argument("--interval", default="1 second",
                   help="--follow poll interval (default '1 second')")
    s.set_defaults(fn=cmd_stream)

    c = sub.add_parser("compact", help="rewrite a typed sink at "
                                       "~target-file-mb per file (small-file "
                                       "compaction; crash-safe swap)")
    c.add_argument("out", help="pipeline output dir (contains sinks/)")
    c.add_argument("sink", help="sink name, e.g. QUERY")
    c.add_argument("--target-file-mb", type=int, default=256)
    c.set_defaults(fn=cmd_compact)

    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
