"""The end-to-end DAG: scan -> validate/header -> route -> enrich ->
per-type decode -> typed sinks -> aggregate, with checkpoint/resume,
lineage and per-stage metrics.

Spark lifecycle equivalent of `bcrab trans` (SURVEY §3.1):

  read input table -> with_header (JVM) ->
  routed fan-out write partitioned by sink (one shuffle, salted) ->
  [pass 1] TABLE_MAP slice -> decode -> table-map dimension (broadcast) ->
  [pass 2] per-sink typed decode (partition-pruned reads of the routed
           table; rows events join the broadcast dimension first) ->
  aggregates (sink counts, per-(source,sink) token stats) ->
  lineage + metrics + _checkpoint state.

Sinks are parquet directories with per-sink typed schemas (the Iceberg
catalog is an optional seam: set sink_format="iceberg" + a configured
catalog on a real cluster; the sandbox has no Iceberg jars, and parquet
keeps identical layout semantics: partition pruning + fan-out writes).

Empty input takes the same path: lineage and the aggregates are zero-row
tables, no typed sink is written, and every stage is marked.

Resumability: each stage is idempotent (overwrite of its own output dir)
and, once committed, marked by its own file ``_checkpoint/<stage>.json``
(``decode=<sink>.json`` per decoded sink) carrying the run_id and the
run's input fingerprint. Re-running the same input with the same run_id
skips the marked stages, so a killed job resumes where it stopped
(BASELINE.json "resumable from snapshot + checkpoint"), and resuming with
a different input or output settings raises. A call that does not resume
(resume=False, or marks of another run_id present) deletes the ledger
before its first stage, so no later call can resume onto outputs it
overwrote. Marks and metrics.json are each written by one create
through the Hadoop FileSystem like every stage output, so the out dir
may be any scheme Spark writes to (file://, hdfs://, s3a://).
"""

from __future__ import annotations

import json
import time
import weakref
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import aggregate as agg
from . import enrich, layout, lineage, parse, route

# typed sinks carry decoded fields + this header slice; the raw bytes stay
# in the routed table (doc_id joins back) — except quarantine/header-only
# sinks, which keep the payload for reprocessing
DECODE_BASE_COLS = ["doc_id", "n_tok", "source", "timestamp", "event_type",
                    "server_id", "event_size", "log_pos", "flags",
                    "checksum"]


# Bytes of routed input per decode task. A decode task's cost is a
# per-task part (task scheduling, worker hand-off, Arrow stream set-up,
# the sink's write commit) plus decode work that grows with bytes. So a
# sink's task count follows its routed bytes, not the number of files the
# router's salt spread it over: a small sink is one task, a large one
# takes the cluster's full width. bench.py's sf0.1 input routes to
# ~306 MB, which puts its QUERY and GTID sinks near the 8-12 task optimum
# measured there; at sf1 they clamp to defaultParallelism. The value was
# chosen while every Python task also paid ~0.2 s CPU re-reading Spark's
# archives, which pydaemon now removes on local masters; the trans_hot
# sweep at 2/4/8 MiB after that change is in ROADMAP.md. The width sweeps
# are in OPTIMIZATION_r07.md #9.
DECODE_TASK_BYTES = 8 * 1024 * 1024


def decode_width(nbytes: int, parallelism: int) -> int:
    """Task count of a sink's decode: one per DECODE_TASK_BYTES of routed
    input, at least 1 and at most ``parallelism``."""
    return max(1, min(parallelism, -(-nbytes // DECODE_TASK_BYTES)))


def sink_decode_projection(sink: str, sink_df: DataFrame,
                           dim: DataFrame) -> DataFrame:
    """The typed-sink decode projection for one sink — THE single
    definition shared by the batch decode stage and the streaming
    foreachBatch, so the two DAGs' output schemas cannot drift (a round-4
    review found the streaming copy had silently lost statement_kind)."""
    if sink in route.ROWS_SINKS:
        n_images = 2 if sink == "UPDATE_ROWS_V2" else 1
        sink_df = sink_df.withColumnRenamed("rows_table_id", "table_id")
        joined = enrich.enrich_rows_events(sink_df, dim)
        udf = parse.make_rows_udf(n_images)
        dec = joined.withColumn(
            "d", udf(F.col("tokens_bin"), F.col("columns_type")))
        return dec.select(*DECODE_BASE_COLS, "tm_schema_name",
                          "tm_table_name", "d.*")
    if sink in parse.DECODERS:
        schema, udf_factory = parse.DECODERS[sink]
        dec = sink_df.withColumn("d", udf_factory()(F.col("tokens_bin")))
        dec = dec.select(*DECODE_BASE_COLS, "d.*")
    else:
        return sink_df.select(*DECODE_BASE_COLS, "tokens_bin")
    if sink in ("QUERY", "EXEC_LOAD_QUERY"):
        dec = dec.withColumn(
            "statement_kind", parse.statement_kind(F.col("query")))
    elif sink == "ROWS_QUERY":
        dec = dec.withColumn(
            "statement_kind", parse.statement_kind(F.col("query_text")))
    return dec


def decode_sinks(spark: SparkSession, routed: DataFrame,
                 sizes: dict[str, int], dim: DataFrame,
                 write: Callable[[str, DataFrame], None]) -> list[dict]:
    """Decode every sink in ``sizes`` (sink -> routed bytes) as one write
    job: the partition-pruned scan of the sink, coalesced to
    ``decode_width(bytes, defaultParallelism)`` tasks, then
    ``sink_decode_projection``, then ``write(sink, df)``. ``coalesce``
    merges scan splits without an exchange (a round-robin repartition
    serialized the sink payload through a shuffle) and is a no-op when
    the scan has fewer splits. The batch decode stage and the streaming
    foreachBatch both decode here; only their ``write`` differs.

    Returns one ``{"sinks": [sink], "bytes", "width"}`` record per sink,
    sorted by sink."""
    par = spark.sparkContext.defaultParallelism

    def decode(sink: str) -> dict:
        width = decode_width(sizes[sink], par)
        sink_df = routed.filter(F.col("sink") == sink).coalesce(width)
        write(sink, sink_decode_projection(sink, sink_df, dim))
        return {"sinks": [sink], "bytes": sizes[sink], "width": width}

    # Each sink is one Spark job; a thread pool lets the scheduler pipeline
    # their stages instead of paying per-job fixed overhead serially. Hot
    # sinks start first (LPT-style: starting the longest jobs first avoids
    # a hot-sink tail after the small ones drain). Measured on the sf0.1
    # bench input: alpha-order pool=4 15.4s -> hot-first pool=4 11.0s ->
    # hot-first pool=6 9.7s; pool=8 thrashes Python workers (17s in
    # the round-1 measurement).
    order = sorted(sizes, key=lambda s: (s not in layout.SALT_FACTORS, s))
    with ThreadPoolExecutor(max_workers=max(1, min(6, len(order)))) as pool:
        return sorted(pool.map(decode, order), key=lambda u: u["sinks"])


class Checkpoint:
    """The stage ledger (layout and rules in the module docstring), read
    once at construction. A mark holds ``{"stage", "run_id",
    "fingerprint", "ts", **info}``; a file that does not parse or has no
    ``stage`` is not a mark. Decode pool threads mark distinct files, so
    marking needs no lock."""

    def __init__(self, spark: SparkSession, out_dir: str, run_id: str,
                 fingerprint: str, resume: bool):
        self._fs, self._dir = _small_file_fs(spark, f"{out_dir}/_checkpoint")
        self._HPath = _fs_classes(spark)[0]
        self._head = {"run_id": run_id, "fingerprint": fingerprint}
        marks = {}
        if self._fs.exists(self._dir):
            for st in self._fs.listStatus(self._dir):
                if not st.isFile():
                    continue
                stream = self._fs.open(st.getPath())
                try:
                    mark = json.loads(bytes(stream.readAllBytes()))
                    marks[mark["stage"]] = mark
                except (ValueError, TypeError, KeyError):
                    pass  # not a mark: the stage is not done
                finally:
                    stream.close()
        if not resume or any(m.get("run_id") != run_id
                             for m in marks.values()):
            self._fs.delete(self._dir, True)
            marks = {}
        if any(m.get("fingerprint") != fingerprint for m in marks.values()):
            raise ValueError(
                f"{out_dir} holds stages of run_id {run_id!r} "
                f"committed for a different input or output "
                f"settings; resuming would reuse them. Rerun with "
                f"--no-resume (resume=False) to overwrite, or use "
                f"another --run-id or out dir.")
        self.stages: dict[str, dict] = marks

    def done(self, stage: str) -> bool:
        return stage in self.stages

    def mark(self, stage: str, **info) -> None:
        mark = {"stage": stage, **self._head, "ts": time.time(), **info}
        _create_file(self._fs, self._HPath(
            self._dir, stage.replace(":", "=") + ".json"), json.dumps(mark))
        self.stages[stage] = mark


# py4j resolves a dotted JVM name with one gateway round trip per
# segment, so the FS helpers resolve their two classes once per gateway
# (idle, a `_small_file_fs` call took 2-4 ms with the lookups and 0.3 ms
# without; under perfbench load the lookups were ~14 ms).
_FS_CLASSES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _fs_classes(spark: SparkSession):
    """(Path class, ChecksumFileSystem's java.lang.Class) of the session's
    JVM gateway."""
    jvm = spark._jvm
    got = _FS_CLASSES.get(jvm)
    if got is None:
        pkg = jvm.org.apache.hadoop.fs
        got = _FS_CLASSES[jvm] = (pkg.Path,
                                  pkg.ChecksumFileSystem._java_lang_class)
    return got


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path, Path-class) for `path` via the JVM gateway —
    scheme-aware (file://, hdfs://, s3a://). Every filesystem-metadata
    operation the DAGs perform on their OUTPUT tree goes through this, so
    a driver whose out dir is not POSIX-mounted behaves identically to a
    local run instead of silently no-opping (driver-local glob/rmtree
    return empty/do nothing on a scheme'd path)."""
    cls = _fs_classes(spark)[0]
    hpath = cls(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, cls


def _small_file_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for the ledger or metrics.json of the output
    tree: the session's cached FileSystem for ``path``, or the raw
    FileSystem inside it when it is a checksummed one (the local FS). A
    ``.crc`` sidecar written there would fail every read after the file
    is edited by hand."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    if _fs_classes(spark)[1].isInstance(fs):
        fs = fs.getRawFileSystem()
    return fs, hpath


def _create_file(fs, hpath, text: str) -> None:
    """Write ``text`` to ``hpath`` with one overwriting ``create``."""
    stream = fs.create(hpath, True)
    try:
        stream.write(text.encode())
    finally:
        stream.close()


def _child_dirs(fs, hpath, prefix: str) -> list:
    """(name with `prefix` stripped, Path) of each child directory of
    `hpath` whose name starts with `prefix`: one listing."""
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        child = st.getPath()
        name = child.getName()
        if st.isDirectory() and name.startswith(prefix):
            out.append((name[len(prefix):], child))
    return out


def list_partition_dirs(spark: SparkSession, path: str,
                        prefix: str) -> list[str]:
    """Child directory names under `path` starting with `prefix`, prefix
    stripped (prefix '' lists every child directory). Filesystem METADATA
    only — one directory listing, never a table scan."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    return [name for name, _ in _child_dirs(fs, hpath, prefix)]


def sink_partition_bytes(spark: SparkSession, path: str) -> dict[str, int]:
    """Each `sink=` partition directory under a routed table, mapped to
    the bytes of its files: the distinct sink set and every sink's size
    without scanning the table (one FileSystem lookup, one listing plus
    one content summary per sink — filesystem metadata only)."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    return {s: int(fs.getContentSummary(child).getLength())
            for s, child in _child_dirs(fs, hpath, "sink=")}


def delete_path(spark: SparkSession, path: str) -> bool:
    """Recursive scheme-aware delete; True if something was removed."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    return bool(fs.delete(hpath, True)) if fs.exists(hpath) else False


def delete_if_empty(spark: SparkSession, path: str) -> bool:
    """Remove `path` when it has no children (an empty directory breaks
    whole-directory parquet reads where an absent one would not)."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    if fs.exists(hpath) and len(fs.listStatus(hpath)) == 0:
        return bool(fs.delete(hpath, True))
    return False


def input_fingerprint(spark: SparkSession, input_path: str, **args) -> str:
    """sha256 over the input path, its file listing (names, sizes and
    mtimes via the scheme-aware Hadoop FS; a glob expands) and the
    output-shaping ``args`` — what a resumed run must share with the run
    whose committed stages it skips."""
    import hashlib

    fs, hpath, _ = _hadoop_fs(spark, str(input_path))
    files = []
    for st in fs.globStatus(hpath) or []:
        it = fs.listFiles(st.getPath(), True)
        while it.hasNext():
            f = it.next()
            files.append((f.getPath().toString(), f.getLen(),
                          f.getModificationTime()))
    blob = json.dumps({"input": str(input_path), "files": sorted(files),
                       **args}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()


def read_input(spark: SparkSession, input_path: str,
               input_format: str = "parquet") -> DataFrame:
    """Source seam: the pre-tokenized sequence table (parquet, primary) or
    a directory of raw `.bin` binlog files split distributedly into the
    same contract schema (binsource.read_binlog_dir — the reference's own
    native input, cli.rs read_input)."""
    if input_format == "parquet":
        return spark.read.parquet(input_path)
    if input_format == "binlog":
        from . import binsource

        return binsource.read_binlog_dir(spark, input_path)
    raise ValueError(f"unknown input_format {input_format!r}")


def write_output(df: DataFrame, fmt: str, path: str,
                 table: str | None = None,
                 partition_by: tuple[str, ...] = ()) -> None:
    """Sink seam: parquet directory (default) or an Iceberg table.

    `fmt="iceberg"` writes `df.writeTo(table).using("iceberg")` against the
    session's configured catalog (``spark.sql.catalog.<name>`` + the
    iceberg-spark-runtime jar on a real cluster). The sandbox ships no
    Iceberg jars, so the test suite exercises the dispatch and asserts the
    failure is a clean catalog/classpath error, not silent parquet
    fallback; parquet keeps identical layout semantics (partition pruning,
    fan-out, snapshot-by-overwrite)."""
    if fmt == "parquet":
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
    elif fmt == "iceberg":
        if not table:
            raise ValueError("iceberg sink needs a table identifier")
        writer = df.writeTo(table)
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.using("iceberg").createOrReplace()
    else:
        raise ValueError(f"unknown sink_format {fmt!r}")


def _codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (Spark's
    CodegenMetrics; a cache hit compiles nothing)."""
    return int(spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
               .METRIC_COMPILATION_TIME().getCount())


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    run_id: str = "run0",
    resume: bool = True,
    sink_format: str = "parquet",
    iceberg_prefix: str = "local.binlog",
    input_format: str = "parquet",
) -> dict:
    """Execute the full DAG. Returns a metrics dict (also persisted).

    ``sink_format="iceberg"`` routes the routed table and every typed sink
    through `write_output`'s Iceberg path as ``<iceberg_prefix>.<name>``
    tables (requires a configured catalog; see write_output).

    If enrich or decode raises, the lineage and aggregate side stages
    still run to completion (and are checkpointed) before the error
    propagates, so a rerun with the same ``run_id`` skips them.

    The ledger is ``<out_dir>/_checkpoint/``, one ``<stage>.json`` mark
    per committed stage and ``decode=<sink>.json`` per decoded sink.
    ``resume=True`` against marks of the same ``run_id`` whose input
    fingerprint (input listing, ``sink_format``, ``input_format``)
    differs raises ValueError. ``resume=False``, or marks of another
    ``run_id``, delete the ledger before the first stage runs.
    ``metrics["resumed"]`` names the stages this call skipped because the
    ledger already held them.

    ``metrics["codegen_compiles"]`` counts the generated classes Spark
    compiled during the call. The count and the class cache behind it
    are JVM-wide: concurrent work in the same JVM adds to it, and a
    later run of the same plans in the same session reads 0 when the
    cache holds them (session.CODEGEN_CACHE_ENTRIES)."""
    compiles0 = _codegen_compiles(spark)
    out = str(out_dir).rstrip("/")
    ck = Checkpoint(spark, out, run_id, input_fingerprint(
        spark, input_path, sink_format=sink_format,
        input_format=input_format), resume)
    # a stage whose ledger mark predates this call is skipped, not rerun
    metrics: dict = {"run_id": run_id, "resumed": [
        s for s in ("route", "lineage", "aggregate", "enrich", "decode")
        if ck.done(s)], "stages": {}}
    t_start = time.time()

    def stage(name: str, work: Callable[[], dict | None]) -> None:
        """Run ``work`` unless the ledger already holds ``name``; record
        its metrics and wall time, then mark ``name`` with them."""
        if name in metrics["resumed"]:
            return
        t0 = time.time()
        rec = work() or {}
        rec["wall_sec"] = round(time.time() - t0, 3)
        metrics["stages"][name] = rec
        ck.mark(name, **rec)

    rows = route.routed_rows(read_input(spark, input_path, input_format))

    # ---- stage: route (header decode + validation + salted fan-out) ----
    routed_path = f"{out}/routed"

    def list_sinks() -> dict[str, int]:
        # The `sink=<name>` directories of the sink-partitioned routed
        # write ARE the distinct sink set and their content summaries the
        # sizes: filesystem metadata, no routed-table scan (Iceberg: its
        # partitions metadata table). The sizes set each sink's decode
        # width (decode_width).
        if sink_format == "iceberg":
            return {r["partition"]["sink"]:
                    int(r["total_data_file_size_in_bytes"])
                    for r in spark.table(
                        f"{iceberg_prefix}.routed.partitions").collect()}
        return sink_partition_bytes(spark, routed_path)

    sizes: dict[str, int] = {}

    def route_stage() -> dict:
        obs = Observation("route")
        write_output(route.routed(rows.observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.sum("n_tok").alias("tokens"))), sink_format, routed_path,
            f"{iceberg_prefix}.routed", ("sink",))
        sizes.update(list_sinks())
        # zero rows leave no sink partition, and Observation.get asserts
        # on a zero-row observed action (Spark 4)
        if not sizes:
            return {"rows": 0, "tokens": 0}
        return {k: (int(v) if v is not None else None)
                for k, v in obs.get.items()}

    stage("route", route_stage)
    if "route" in metrics["resumed"]:
        sizes.update(list_sinks())

    # The route projection's schema, not inference: a zero-row
    # partitionBy write leaves only _SUCCESS, which inference refuses and
    # this reads as zero rows.
    routed_df = (spark.table(f"{iceberg_prefix}.routed")
                 if sink_format == "iceberg"
                 else spark.read.schema(rows.schema).parquet(routed_path))

    # ---- side stages: lineage + aggregate (only need the routed table) ----
    # Submitted to a side thread pool so their driver-side planning + job
    # commit — pure core-count-independent fixed cost — overlaps the
    # enrich/decode window instead of adding serially to the run wall
    # (tools/fixed_cost_probe.py: F is what caps the 1->4 scaling pair).

    def lineage_stage() -> None:
        lineage.lineage_from_routed(routed_df).write.mode(
            "overwrite").parquet(f"{out}/lineage")

    def aggregate_stage() -> None:
        # one scan: per-(source, sink) stats; sink counts are a rollup of it
        stats_path = f"{out}/agg/source_type_stats"
        agg.source_type_stats(routed_df).write.mode("overwrite").parquet(
            stats_path)
        (spark.read.parquet(stats_path)
         .groupBy("sink").agg(F.sum("n").alias("n")).orderBy("sink")
         .write.mode("overwrite").parquet(f"{out}/agg/sink_counts"))

    # ---- stage: enrich (table-map dictionary from the TABLE_MAP slice) ----
    dim_path = f"{out}/table_map_dim"

    def enrich_stage() -> None:
        enrich.table_map_dim(routed_df).drop("doc_id").write.mode(
            "overwrite").parquet(dim_path)

    # ---- stage: per-sink typed decode ----
    # NO persist of the routed table here: an A/B that pre-built the cache
    # outside the timed region showed a 15-20% win, but paying the cache
    # materialization INSIDE the stage (as a real run must) measured
    # decode 11s -> 16s at sf0.1 — the 18 pruned parquet scans are cheaper
    # than one full cache build + 18 cache reads.
    def decode_stage() -> dict:
        def write_sink(sink: str, dec: DataFrame) -> None:
            write_output(dec, sink_format, f"{out}/sinks/{sink}",
                         f"{iceberg_prefix}.sink_{sink.lower()}")
            ck.mark(f"decode:{sink}")

        # Per-sink marks make a mid-stage crash resume from the sinks not
        # yet written (each write is an idempotent overwrite).
        todo = {s: n for s, n in sizes.items()
                if not ck.done(f"decode:{s}")}
        units = decode_sinks(spark, routed_df, todo,
                             spark.read.parquet(dim_path), write_sink)
        return {"sinks": len(sizes), "units": units}

    # Leaving the `with` joins the side pool even when enrich/decode
    # raises: the side stages are independent idempotent overwrites whose
    # checkpoint mark is only valid because their own write succeeded, so
    # they finish (and are marked) before the error propagates, and the
    # resumed run skips them. Their own errors surface via result().
    with ThreadPoolExecutor(max_workers=2,
                            thread_name_prefix="side") as side_pool:
        side_futures = [side_pool.submit(stage, "lineage", lineage_stage),
                        side_pool.submit(stage, "aggregate", aggregate_stage)]
        stage("enrich", enrich_stage)
        stage("decode", decode_stage)
    for f in side_futures:
        f.result()

    metrics["wall_sec"] = round(time.time() - t_start, 3)
    # the ledger's route count: this call's, or the resumed run's
    metrics["rows"] = ck.stages["route"]["rows"]
    metrics["rows_per_sec"] = round(metrics["rows"] / metrics["wall_sec"], 1)
    metrics["codegen_compiles"] = _codegen_compiles(spark) - compiles0
    _create_file(*_small_file_fs(spark, f"{out}/metrics.json"),
                 json.dumps(metrics, indent=1))
    return metrics


def compact_sink(spark: SparkSession, out_dir: str, sink: str,
                 target_file_mb: int = 256) -> int:
    """Small-file compaction for a typed sink (the fan-out write makes one
    file per (task, sink); long-running ingestion accumulates small files
    that degrade scan planning at scale). Rewrites the sink at
    ~target_file_mb per file; idempotent. Returns the new file count.

    All filesystem operations go through the Hadoop FileSystem API, so the
    streaming-layout guard, size estimate, and rename swap behave
    identically on hdfs://s3a out dirs — driver-local Path ops silently
    no-op there (empty glob = guard bypassed, 0-byte size estimate)."""
    src = f"{str(out_dir).rstrip('/')}/sinks/{sink}"
    fs, sp, HPath = _hadoop_fs(spark, src)
    if _child_dirs(fs, sp, "batch="):
        # streaming sinks are partitioned by micro-batch id; flattening
        # them to root-level files would leave a mixed layout the next
        # stream batch (or replay) corrupts — refuse loudly instead
        raise ValueError(
            f"{src} is a streaming sink (batch=<id> layout); compact_sink "
            f"only supports batch-pipeline sinks — stop the stream and "
            f"compact into a separate consumer table instead")
    tmp, old = HPath(src + "_compacting"), HPath(src + "_old")

    def _rename(a, b):
        # Hadoop FileSystem.rename signals failure by RETURNING False
        # (permissions, quota, target-exists nesting semantics on HDFS) —
        # an unchecked call would continue the swap and could nest the
        # _compacting dir inside the live sink or report success after a
        # no-op. The pre-Hadoop pathlib rename raised; keep that contract.
        if not fs.rename(a, b):
            raise OSError(f"rename failed: {a} -> {b}")

    # crash recovery: a leftover swap means a prior compaction died between
    # renames — if the live dir is gone, the _old copy is the good data.
    if fs.exists(old):
        if not fs.exists(sp):
            _rename(old, sp)
        else:
            fs.delete(old, True)
    if fs.exists(tmp):
        fs.delete(tmp, True)
    size_b = fs.getContentSummary(sp).getLength()
    n_files = max(1, round(size_b / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src)
    df.repartition(n_files).write.mode("overwrite").parquet(str(tmp))
    # swap order: src -> _old, tmp -> src, then drop _old. Between the two
    # renames the live path briefly does not exist, so a concurrently
    # PLANNING read can fail (recoverably — rerun it); the point of the
    # ordering is crash safety, not read availability: a crash at any
    # point leaves either src or _old holding the good data, and the
    # recovery block above restores it.
    _rename(sp, old)
    _rename(tmp, sp)
    fs.delete(old, True)
    return n_files


def main() -> None:  # spark-submit entrypoint
    import argparse

    from .session import build_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()
    spark = build_spark(cores=args.cores)
    m = run_pipeline(spark, args.input, args.out, run_id=args.run_id,
                     resume=not args.no_resume)
    # effective master and Python daemon module in the printed metrics: a
    # spark-submit --master must survive build_spark (session.py master
    # resolution), and only build_spark's own local master may switch the
    # daemon — the submit test asserts both from the driver's own report,
    # the only place the regression is visible (round-5 advice items 1+4)
    m["master"] = spark.sparkContext.master
    m["daemon_module"] = spark.sparkContext.getConf().get(
        "spark.python.daemon.module", None)
    print(json.dumps(m))


if __name__ == "__main__":
    main()
