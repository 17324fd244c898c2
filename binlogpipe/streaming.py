"""Structured Streaming variant of the pipeline.

The reference's live replication source (`Connection::recv` packet loop,
`crates/old/src/connection.rs:41-80`) maps to a Structured Streaming
source over the same input table (SURVEY §2.1 S4): `readStream` on the
sequence directory. The full DAG (run_full_available_now, start_full_live)
runs each micro-batch through the batch transform code
(route.routed_rows, enrich.table_map_dim, job.decode_sinks), so
stream results converge to the batch goldens when drained with
Trigger.AvailableNow. The stateful operators (running and watermarked
per-sink counts, transaction assembly) read only header fields, so they
consume parse.with_header rows directly.

The wire/replication client itself (handshake, auth, COM_BINLOG_DUMP) is
deliberately NOT ported — it carries no analytics semantics (SURVEY §3.3)
and is superseded by the table source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import parse, route
from .binsource import CONTRACT_SCHEMA as INPUT_SCHEMA  # one authoritative
# contract definition — a hardcoded copy here silently desynchronized the
# streaming source from the batch splitter on any schema change


def read_stream(spark: SparkSession, input_dir: str,
                max_files_per_trigger: int | None = None,
                input_format: str = "parquet") -> DataFrame:
    """Streaming source seam: the contract parquet table (primary) or raw
    `.bin` binlog files split in-stream (binaryFile readStream + the same
    mapInPandas splitter as the batch binsource) — the closest Spark-native
    analog of tailing a binlog directory on a replication host."""
    if input_format == "binlog":
        from . import binsource

        r = spark.readStream.format("binaryFile") \
            .schema("path string, modificationTime timestamp, "
                    "length long, content binary") \
            .option("pathGlobFilter", "*.bin")
        if max_files_per_trigger:
            r = r.option("maxFilesPerTrigger", max_files_per_trigger)
        files = r.load(input_dir).select("path", "content")
        return binsource.split_stream(
            files, root=binsource._glob_root(input_dir))
    r = spark.readStream.schema(INPUT_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(input_dir)


def sink_counts_stream(routed: DataFrame) -> DataFrame:
    """Running per-sink counts, consumed in COMPLETE output mode
    (run_counts_available_now). Honest state note: complete mode ignores
    watermarks, and a plain (non-windowed) groupBy cannot run in append
    mode at all — so this operator retains one state row per sink key
    forever, which is fine because the key space is the fixed ~22-entry
    sink set. For an unbounded key space use the windowed form below
    (windowed_sink_counts_stream), where the watermark genuinely expires
    state."""
    return routed.groupBy("sink").agg(F.count("*").alias("n"))


def windowed_sink_counts_stream(routed: DataFrame,
                                window: str = "1 minute",
                                late: str = "1 hour") -> DataFrame:
    """Per-(event-time window, sink) counts with a real watermark: append
    output mode emits each window once it is `late` past the watermark and
    its state is dropped — the bounded-state form for long-running
    deployments (event time = the binlog header timestamp)."""
    with_ts = routed.withColumn(
        "event_time", F.to_timestamp(F.col("timestamp")))
    return (
        with_ts.withWatermark("event_time", late)
        .groupBy(F.window("event_time", window), "sink")
        .agg(F.count("*").alias("n"))
    )


def transaction_assembler(routed: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): assemble binlog
    transactions per source — a transaction opens at a GTID/ANON_GTID event
    and commits at the next XID (the reference leaves this to downstream
    consumers; replication semantics per MySQL's GTID protocol).

    State per source: (open transaction's gtid log_pos, events so far).
    Events are processed in log_pos order within each micro-batch; the
    replication stream delivers in order, and the table-source analog sorts
    per batch. Emits one row per committed transaction.
    """
    out_schema = ("source string, gtid_log_pos long, xid_log_pos long, "
                  "n_events int")
    state_schema = "gtid_log_pos long, n_events int, open int"

    def fn(key, pdfs, state):
        import pandas as pd

        (source,) = key
        if state.exists:
            gpos, n, is_open = state.get
        else:
            gpos, n, is_open = -1, 0, 0
        out = []
        # applyInPandasWithState gives no cross-chunk ordering guarantee:
        # a group spanning multiple Arrow chunks must be concatenated and
        # sorted ONCE, or the GTID/XID state machine runs out of log_pos
        # order across chunk boundaries.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            pdf = pdf.sort_values("log_pos")
            for sink, pos in zip(pdf["sink"], pdf["log_pos"]):
                if sink in ("GTID", "ANON_GTID"):
                    gpos, n, is_open = int(pos), 1, 1
                elif is_open:
                    n += 1
                    if sink == "XID":
                        out.append((source, gpos, int(pos), n))
                        gpos, n, is_open = -1, 0, 0
        state.update((gpos, n, is_open))
        yield pd.DataFrame(
            out, columns=["source", "gtid_log_pos", "xid_log_pos", "n_events"])

    return (routed.groupBy("source")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", "NoTimeout"))


def run_transactions_available_now(spark: SparkSession, input_dir: str,
                                   checkpoint_dir: str) -> list:
    txns = transaction_assembler(
        parse.with_header(read_stream(spark, input_dir))
        .select("source", "sink", "log_pos"))
    q = (txns.writeStream.outputMode("append")
         .format("memory").queryName("stream_txns")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.sql(
        "select * from stream_txns order by source, gtid_log_pos").collect()


def _full_dag_writer(spark: SparkSession, input_dir: str, out_dir: str,
                     checkpoint_dir: str,
                     max_files_per_trigger: int | None = None,
                     input_format: str = "parquet"):
    """Un-triggered writeStream for the incremental FULL DAG (the
    streaming twin of job.run_pipeline). Shared by the AvailableNow drain
    (run_full_available_now — tests/golden parity) and the live
    processingTime follower (start_full_live — the reference's
    Connection::recv loop analog); both MUST run the identical process
    fn, or live-follow behavior would silently diverge from the drained
    form the goldens pin. Each
    micro-batch routes to the routed table (route.routed_rows), refreshes
    the TableMap dimension by calling enrich.table_map_dim with the
    previous snapshot (cumulative latest-wins — a rows event may arrive
    batches after its TableMap), and decodes its sinks through
    job.decode_sinks, the batch DAG's own decode stage (same width rule,
    same hot-first job pool, same projection).

    Idempotence on retry: every write lands in a `batch=<id>` subdirectory
    with mode=overwrite, so a replayed micro-batch overwrites its own
    output instead of duplicating (the parquet stand-in for an Iceberg
    transactional append); the dim is a chain of per-batch snapshots
    (`table_map_dim/v=<id>`), each rebuilt deterministically from the
    previous snapshot + the current batch, so a replay rewrites only its
    own version.

    The dim is maintained INCREMENTALLY: snapshot v=N = latest-wins over
    (snapshot v<N ∪ batch N's decoded TableMaps). Each trigger touches the
    current batch plus one dim-sized read — O(batches) total over the
    stream's life, not the O(batches²) of rescanning all routed history
    every trigger. Winner-of-winners equals the global winner, so the
    snapshot chain reproduces the full-history window exactly.

    Batch-parity precondition (the enrich module's semantic note): at
    most one TableMap per (source, table_id) per stream.
    A rows event decoded in batch N is never re-decoded if a NEWER
    TableMap for its table arrives in batch M>N, while the batch DAG
    applies global latest-wins — the two agree only under that
    single-TableMap assumption (real replication streams satisfy it per
    binlog file; the fixtures do too)."""
    from . import enrich
    from .job import (decode_sinks, delete_if_empty, delete_path,
                      list_partition_dirs, sink_partition_bytes)

    # string joins, not pathlib: PurePath collapses the double slash in
    # scheme URIs (hdfs://nn -> hdfs:/nn); every filesystem-metadata op
    # below goes through the Hadoop FS helpers so a non-POSIX out dir
    # behaves exactly like a local one (driver-local glob/rmtree silently
    # no-op there, which broke dim versioning, retention, and the wipe)
    out_s = str(out_dir).rstrip("/")
    routed_root = f"{out_s}/routed"
    dim_root = f"{out_s}/table_map_dim"
    sinks_root = f"{out_s}/sinks"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id == 0:
            # fresh stream start (new checkpoint): everything under this
            # out dir belongs to a PREVIOUS run — without this wipe, a
            # later batch N would pick the stale max(v<N) as its dim
            # rebuild base, and any whole-directory read of routed/ or a
            # sink would mix the old run's batch=* rows with the new run's.
            # Runs BEFORE this batch's own writes (its dirs are batch=0).
            for v in list_partition_dirs(spark, dim_root, "v="):
                delete_path(spark, f"{dim_root}/v={v}")
            for b in list_partition_dirs(spark, routed_root, "batch="):
                delete_path(spark, f"{routed_root}/batch={b}")
            for s in list_partition_dirs(spark, sinks_root, ""):
                for b in list_partition_dirs(spark, f"{sinks_root}/{s}",
                                             "batch="):
                    delete_path(spark, f"{sinks_root}/{s}/batch={b}")
                # a sink dir with no surviving batches must disappear
                # entirely: "empty directory" breaks whole-directory
                # parquet reads where "absent" would not
                delete_if_empty(spark, f"{sinks_root}/{s}")
        routed_batch = f"{routed_root}/batch={batch_id}"
        (route.routed_rows(batch_df).write.mode("overwrite")
            .partitionBy("sink").parquet(routed_batch))

        # Incremental cumulative dim: enrich.table_map_dim over this
        # batch's routed rows with the previous snapshot unioned in, so a
        # corrupt newest TableMap is carried as a tombstone that SHADOWS
        # an older valid entry exactly as the batch DAG's global
        # latest-wins does.
        batch_routed = spark.read.option(
            "basePath", routed_root).parquet(routed_batch)
        prior = [int(v) for v in list_partition_dirs(spark, dim_root, "v=")
                 if v.isdigit() and int(v) < batch_id]
        prev = (spark.read.parquet(f"{dim_root}/v={max(prior)}")
                if prior else None)
        snap = enrich.table_map_dim(batch_routed, prev)
        snap_path = f"{dim_root}/v={batch_id}"
        snap.write.mode("overwrite").parquet(snap_path)
        dim = spark.read.parquet(snap_path).drop("doc_id")
        # retention: a long-running stream would otherwise accumulate one
        # snapshot dir per micro-batch. Keep the current one plus the two
        # newest predecessors — Structured Streaming replays at most the
        # last uncommitted batch, and its rebuild reads only max(v<N).
        for k in sorted(prior)[:-2]:
            delete_path(spark, f"{dim_root}/v={k}")

        # which sinks this batch produced, and their sizes, is filesystem
        # metadata (the routed batch write is partitioned by sink) — list
        # the sink=* directories (scheme-aware) instead of re-scanning the
        # batch. The batch DAG's decode (job.decode_sinks) writes each
        # sink into this batch's partition, so batch and stream typed
        # sinks cannot drift in schema, semantics or decode width.
        def write_sink(sink: str, dec: DataFrame) -> None:
            dec.write.mode("overwrite").parquet(
                f"{sinks_root}/{sink}/batch={batch_id}")

        decode_sinks(spark, batch_routed,
                     sink_partition_bytes(spark, routed_batch), dim,
                     write_sink)

    return (read_stream(spark, input_dir, max_files_per_trigger,
                        input_format)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir))


def run_full_available_now(spark: SparkSession, input_dir: str, out_dir: str,
                           checkpoint_dir: str,
                           max_files_per_trigger: int | None = None,
                           input_format: str = "parquet") -> None:
    """Drain the current table contents through the full streaming DAG
    (batch/stream parity tests); restartable from the checkpoint."""
    q = (_full_dag_writer(spark, input_dir, out_dir, checkpoint_dir,
                          max_files_per_trigger, input_format)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def start_full_live(spark: SparkSession, input_dir: str, out_dir: str,
                    checkpoint_dir: str, interval: str = "1 second",
                    max_files_per_trigger: int | None = None,
                    input_format: str = "parquet"):
    """Live follower: the long-running form of the full DAG — a
    processingTime trigger polls the input directory every `interval` and
    processes whatever files appeared, forever, the Spark-native analog
    of the reference's continuous replication recv loop
    (crates/old/src/connection.rs:41-80: loop { read_packet -> parse ->
    push }). Same foreachBatch fn as the AvailableNow drain, so per-batch
    semantics (idempotent batch=<id> overwrites, incremental dim
    snapshots, typed sink decode) are identical; only the trigger
    differs. Returns the RUNNING StreamingQuery — the caller owns its
    lifecycle (q.stop(); a restart with the same checkpoint resumes past
    all committed batches)."""
    return (_full_dag_writer(spark, input_dir, out_dir, checkpoint_dir,
                             max_files_per_trigger, input_format)
            .trigger(processingTime=interval)
            .start())


def run_counts_available_now(spark: SparkSession, input_dir: str,
                             checkpoint_dir: str) -> dict[str, int]:
    """Streaming per-sink counts drained to memory, for golden comparison.
    Demands a FRESH checkpoint: a re-drain over an existing one processes
    only new files, and with zero new batches the complete-mode memory
    sink is registered empty — the {} would read as 'every count is zero'
    rather than 'unchanged', silently failing any golden comparison."""
    from .job import _hadoop_fs

    fs, commits, _ = _hadoop_fs(
        spark, f"{str(checkpoint_dir).rstrip('/')}/commits")
    if fs.exists(commits) and len(fs.listStatus(commits)) > 0:
        raise ValueError(
            f"{checkpoint_dir} has committed batches; golden-comparison "
            f"counts need a fresh checkpoint (a re-drain would return "
            f"only new-data counts, or {{}} when nothing is new)")
    counts = sink_counts_stream(
        parse.with_header(read_stream(spark, input_dir)))
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory").queryName("stream_sink_counts")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from stream_sink_counts").collect()
    return {r["sink"]: r["n"] for r in rows}
