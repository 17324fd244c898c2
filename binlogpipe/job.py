"""The end-to-end DAG: scan -> validate/header -> route -> enrich ->
per-type decode -> typed sinks -> aggregate, with checkpoint/resume,
lineage and per-stage metrics.

Spark lifecycle equivalent of `bcrab trans` (SURVEY §3.1):

  read input table -> with_header (JVM) ->
  routed fan-out write partitioned by sink (one shuffle, salted) ->
  [pass 1] TABLE_MAP slice -> decode -> table-map dimension (broadcast) ->
  [pass 2] per-sink typed decode (partition-pruned reads of the routed
           table; rows events join the broadcast dimension first) ->
  aggregates (sink counts, per-(source,sink) token stats, desc report) ->
  lineage + metrics + _checkpoint state.

Sinks are parquet directories with per-sink typed schemas (the Iceberg
catalog is an optional seam: set sink_format="iceberg" + a configured
catalog on a real cluster; the sandbox has no Iceberg jars, and parquet
keeps identical layout semantics: partition pruning + fan-out writes).

Resumability: each stage is idempotent (overwrite of its own output dir)
and recorded in ``_checkpoint/state.json`` keyed by run_id + stage name,
together with the run's input fingerprint; re-running the same input
skips completed stages, so a killed job resumes where it stopped
(BASELINE.json "resumable from snapshot + checkpoint"), and resuming with
a different input or output settings raises.
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import aggregate as agg
from . import enrich, layout, lineage, parse, route

# Sinks that share a decode schema AND decoder can be written by ONE
# partitionBy(sink) job instead of one job each, then land in the
# per-sink sinks/<NAME> layout via filesystem renames (metadata ops).
# Every write job carries a core-count-independent driver cost (planning
# + job commit + scheduling, ~22 jobs/run measured at ~5.8s total by
# tools/fixed_cost_probe.py round 5); folding same-schema jobs is a pure
# fixed-cost cut, which is what holds the 1->4 scaling pair below the
# 0.8 contract line (efficiency = (W+F)/(W/4+F)·1/4 — F is the
# non-scaling term). Header-only sinks (no DECODERS entry, e.g.
# STOP/SLAVE/HEARTBEAT/UNKNOWN/QUARANTINE) all share the
# base+tokens_bin schema and fold the same way, computed from the
# present set at run time.
SAME_SCHEMA_GROUPS: tuple[tuple[str, ...], ...] = (
    ("GTID", "ANON_GTID"),
    ("BEGIN_LOAD_QUERY", "CREATE_FILE", "APPEND_BLOCK"),
    ("EXEC_LOAD", "DELETE_FILE"),
    # WRITE and DELETE rows events share ROWS_SCHEMA and the n_images=1
    # decoder (sink_decode_projection's todo[0] dispatch); UPDATE
    # (n_images=2) must stay single. One fewer write job in the 1-4-core
    # fold regime, where per-job fixed cost is the scaling-pair cap
    # (round-7 F profile: ~0.7-2s per decode job at pinned 1 core).
    ("WRITE_ROWS_V2", "DELETE_ROWS_V2"),
)

# typed sinks carry decoded fields + this header slice; the raw bytes stay
# in the routed table (doc_id joins back) — except quarantine/header-only
# sinks, which keep the payload for reprocessing
DECODE_BASE_COLS = ["doc_id", "n_tok", "source", "timestamp", "event_type",
                    "server_id", "event_size", "log_pos", "flags",
                    "checksum"]


# Sink folding (SAME_SCHEMA_GROUPS) is used only when the session has at
# most this many task slots; tests lower it to force the one-job-per-sink
# layout. See the unit-building comment in run_pipeline.
FOLD_MAX_PARALLELISM = 16


def _decode_narrow(sink_df: DataFrame, par: int) -> DataFrame:
    """Width control for a decode unit's pruned scan: ``coalesce(par)``
    buys the fewer-bigger-tasks benefit (tiny scan splits pay per-task
    Python-worker overhead) WITHOUT serializing the sink payload through
    an exchange. A round-robin ``repartition(par)`` was the largest
    non-scaling term on the 1->4 scaling pair's 4-core side. Same-window
    interleaved pinned A/Bs (round 7):

      4c pinned, 12M events: repartition decode 58.8/57.9 s ->
        no-repart 46.4/48.0 s (-19%) -> coalesce 45.0/41.9 s
        (coalesce beats no-repart in every pairwise round; e2e
        112.7 s median -> 89.5 s across the chained windows)
      32c, 6M events: repartition decode median 7.46 s -> coalesce
        6.93 s; e2e median 17.27 -> 16.61 s (coalesce wins 2/3 rounds,
        3rd a tie); plain no-repart loses at 32c (decode median 9.1 s,
        one 15.7 s variance spike) — task-count control still pays at
        wide parallelism, it just never needed the shuffle.

    coalesce(par) is a no-op when the scan yields <= par splits, so the
    underparallelized-read case the round-4 repartition targeted cannot
    regress below the scan's own width; at par==1 the stage stays
    width-control-free (the round-7 repartition(1) removal)."""
    return sink_df.coalesce(par) if par > 1 else sink_df


def sink_decode_projection(sink: str, sink_df: DataFrame, dim: DataFrame,
                           keep_sink: bool = False) -> DataFrame:
    """The typed-sink decode projection for one sink — THE single
    definition shared by the batch decode stage and the streaming
    foreachBatch, so the two DAGs' output schemas cannot drift (a round-4
    review found the streaming copy had silently lost statement_kind).

    ``keep_sink=True`` (grouped same-schema writes) additionally carries
    the `sink` column so the caller can partitionBy it — partitionBy
    drops it from the data files, so the per-sink schema after the
    rename is identical to a keep_sink=False write."""
    base = DECODE_BASE_COLS + (["sink"] if keep_sink else [])
    if sink in route.ROWS_SINKS:
        n_images = 2 if sink == "UPDATE_ROWS_V2" else 1
        sink_df = sink_df.withColumnRenamed("rows_table_id", "table_id")
        joined = enrich.enrich_rows_events(sink_df, dim)
        udf = parse.make_rows_udf(n_images)
        dec = joined.withColumn(
            "d", udf(F.col("tokens_bin"), F.col("columns_type")))
        return dec.select(*base, "tm_schema_name", "tm_table_name", "d.*")
    if sink in parse.DECODERS:
        schema, udf_factory = parse.DECODERS[sink]
        dec = sink_df.withColumn("d", udf_factory()(F.col("tokens_bin")))
        dec = dec.select(*base, "d.*")
    else:
        return sink_df.select(*base, "tokens_bin")
    if sink in ("QUERY", "EXEC_LOAD_QUERY"):
        dec = dec.withColumn(
            "statement_kind", parse.statement_kind(F.col("query")))
    elif sink == "ROWS_QUERY":
        dec = dec.withColumn(
            "statement_kind", parse.statement_kind(F.col("query_text")))
    return dec


class Checkpoint:
    """Tiny JSON stage ledger; the parquet/Iceberg snapshot is the data
    checkpoint, this records which stages of a run committed, and the
    ``input_fingerprint`` of the run that committed them. Resuming a
    ledger whose fingerprint differs raises instead of skipping stages:
    the skipped outputs would belong to another input."""

    def __init__(self, out_dir: str, run_id: str, fingerprint: str,
                 resume: bool):
        import threading

        self.path = Path(out_dir) / "_checkpoint" / "state.json"
        self._lock = threading.Lock()
        self.state: dict = {"run_id": run_id, "fingerprint": fingerprint,
                            "stages": {}}
        if resume and self.path.exists():
            prev = json.loads(self.path.read_text())
            if prev.get("run_id") == run_id and prev.get("stages"):
                if prev.get("fingerprint") != fingerprint:
                    raise ValueError(
                        f"{out_dir} holds stages of run_id {run_id!r} "
                        f"committed for a different input or output "
                        f"settings; resuming would reuse them. Rerun with "
                        f"--no-resume (resume=False) to overwrite, or use "
                        f"another --run-id or out dir.")
                self.state = prev

    def done(self, stage: str) -> bool:
        return stage in self.state["stages"]

    def mark(self, stage: str, **info) -> None:
        with self._lock:  # decode marks arrive from the job thread pool
            self.state["stages"][stage] = {"ts": time.time(), **info}
            self.path.parent.mkdir(parents=True, exist_ok=True)
            tmp = self.path.with_suffix(".tmp")
            tmp.write_text(json.dumps(self.state, indent=1))
            tmp.replace(self.path)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path, Path-class) for `path` via the JVM gateway —
    scheme-aware (file://, hdfs://, s3a://). Every filesystem-metadata
    operation the DAGs perform on their OUTPUT tree goes through this, so
    a driver whose out dir is not POSIX-mounted behaves identically to a
    local run instead of silently no-opping (driver-local glob/rmtree
    return empty/do nothing on a scheme'd path)."""
    jvm = spark._jvm
    cls = jvm.org.apache.hadoop.fs.Path
    hpath = cls(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, cls


def list_partition_dirs(spark: SparkSession, path: str,
                        prefix: str) -> list[str]:
    """Child directory names under `path` starting with `prefix`, prefix
    stripped (prefix '' lists every child directory). Filesystem METADATA
    only — one directory listing, never a table scan."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            out.append(name[len(prefix):])
    return out


def list_sink_partitions(spark: SparkSession, path: str) -> list[str]:
    """The `sink=` partition directory names under a routed table — the
    distinct sink set without scanning the table."""
    return list_partition_dirs(spark, path, "sink=")


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


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    run_id: str = "run0",
    resume: bool = True,
    typed_sinks: bool = True,
    collect_metrics: bool = True,
    sink_format: str = "parquet",
    iceberg_prefix: str = "local.binlog",
    input_format: str = "parquet",
) -> dict:
    """Execute the full DAG. Returns a metrics dict (also persisted).

    ``sink_format="iceberg"`` routes the routed table and every typed sink
    through `write_output`'s Iceberg path as ``<iceberg_prefix>.<name>``
    tables (requires a configured catalog; see write_output).

    The batch pipeline's out_dir must be DRIVER-POSIX (local or a
    mounted filesystem): the checkpoint ledger and metrics.json are
    local-file operations and the stage paths join via pathlib, which
    collapses scheme URIs. A scheme'd out_dir fails loudly here instead
    of silently writing to a mangled local path; the streaming DAG
    (streaming.run_full_available_now), compact_sink, and the CLI
    listings ARE scheme-aware.

    If enrich or decode raises, the lineage and aggregate side stages
    still run to completion (and are checkpointed) before the error
    propagates, so a rerun with the same ``run_id`` skips them.

    ``resume=True`` against a ledger of the same ``run_id`` whose input
    fingerprint (input listing, ``typed_sinks``, ``sink_format``,
    ``input_format``) differs raises ValueError; ``resume=False``
    overwrites. ``metrics["resumed"]`` names the stages this call
    skipped because the ledger already held them."""
    import re as _re

    if _re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", str(out_dir)):
        raise ValueError(
            f"run_pipeline out_dir must be a driver-local path, got "
            f"{out_dir!r} (pathlib would silently mangle the scheme; the "
            f"checkpoint ledger and metrics are local-file ops). Use the "
            f"streaming DAG for scheme'd output trees.")
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    ck = Checkpoint(out_dir, run_id, input_fingerprint(
        spark, input_path, typed_sinks=typed_sinks, sink_format=sink_format,
        input_format=input_format), resume)
    # a stage whose ledger mark predates this call is skipped, not rerun
    metrics: dict = {"run_id": run_id, "resumed": [
        s for s in ("route", "lineage", "aggregate", "enrich", "decode")
        if resume and ck.done(s)], "stages": {}}
    t_start = time.time()

    src = read_input(spark, input_path, input_format)

    # ---- stage: route (header decode + validation + salted fan-out) ----
    routed_path = str(out / "routed")
    if not (resume and ck.done("route")):
        t0 = time.time()
        obs = Observation("route")
        rows = lineage.observe_counts(route.routed_rows(src), obs)
        write_output(route.routed(rows), sink_format, routed_path,
                     f"{iceberg_prefix}.routed", ("sink",))
        try:
            stage_metrics = {k: (int(v) if v is not None else None)
                             for k, v in obs.get.items()}
        except Exception:  # noqa: BLE001 — Observation.get asserts on a
            # zero-row observed action (Spark 4); empty input is valid.
            # But ANY metrics failure lands here, so confirm emptiness
            # against the routed output that was just written before
            # recording rows=0 — a transient metrics error must not
            # masquerade as empty input, skip decode, and persist rows=0
            # into the checkpoint for every resumed run after
            try:
                probe = (spark.table(f"{iceberg_prefix}.routed")
                         if sink_format == "iceberg"
                         else spark.read.parquet(routed_path))
                is_empty = len(probe.head(1)) == 0
            except Exception:  # noqa: BLE001 — a zero-row partitionBy
                # write leaves only _SUCCESS; the schema-less read throws
                is_empty = True
            stage_metrics = ({"rows": 0, "tokens": 0} if is_empty
                             else {"rows": None, "tokens": None})
        stage_metrics["wall_sec"] = round(time.time() - t0, 3)
        metrics["stages"]["route"] = stage_metrics
        ck.mark("route", **stage_metrics)
    # empty input: a partitionBy write of zero rows leaves only _SUCCESS
    # (schema inference on the read would throw) and there are no sinks to
    # decode — complete gracefully with zero-row metrics instead of dying
    route_rows = ck.state["stages"].get("route", {}).get("rows")
    if route_rows == 0:
        metrics["wall_sec"] = round(time.time() - t_start, 3)
        metrics["rows"] = 0
        metrics["rows_per_sec"] = 0.0
        metrics["empty_input"] = True
        if collect_metrics:
            (out / "metrics.json").write_text(json.dumps(metrics, indent=1))
        return metrics

    routed_df = (spark.table(f"{iceberg_prefix}.routed")
                 if sink_format == "iceberg"
                 else spark.read.parquet(routed_path))

    # ---- side stages: lineage + aggregate (only need the routed table) ----
    # Submitted to a side thread pool so their driver-side planning + job
    # commit — pure core-count-independent fixed cost — overlaps the
    # enrich/decode window instead of adding serially to the run wall
    # (tools/fixed_cost_probe.py: F is what caps the 1->4 scaling pair).

    def _lineage_stage() -> None:
        if resume and ck.done("lineage"):
            return
        t0 = time.time()
        lin = lineage.lineage_from_routed(routed_df)
        lin.write.mode("overwrite").parquet(str(out / "lineage"))
        metrics["stages"]["lineage"] = {"wall_sec": round(time.time() - t0, 3)}
        ck.mark("lineage")

    def _aggregate_stage() -> None:
        if resume and ck.done("aggregate"):
            return
        t0 = time.time()
        # one scan: per-(source, sink) stats; sink counts are a rollup of it
        stats = agg.source_type_stats(routed_df)
        stats.write.mode("overwrite").parquet(
            str(out / "agg" / "source_type_stats"))
        stats_df = spark.read.parquet(str(out / "agg" / "source_type_stats"))
        (stats_df.groupBy("sink").agg(F.sum("n").alias("n")).orderBy("sink")
         .write.mode("overwrite").parquet(str(out / "agg" / "sink_counts")))
        metrics["stages"]["aggregate"] = {
            "wall_sec": round(time.time() - t0, 3)}
        ck.mark("aggregate")

    # ---- stage: enrich (table-map dictionary from the TABLE_MAP slice) ----
    dim_path = str(out / "table_map_dim")

    def _enrich_stage() -> None:
        if resume and ck.done("enrich"):
            return
        t0 = time.time()
        dim = enrich.table_map_dim(routed_df).drop("doc_id")
        dim.write.mode("overwrite").parquet(dim_path)
        metrics["stages"]["enrich"] = {"wall_sec": round(time.time() - t0, 3)}
        ck.mark("enrich")

    # ---- stage: per-sink typed decode ----
    def _decode_stage() -> None:
        if not typed_sinks or (resume and ck.done("decode")):
            return
        t0 = time.time()
        dim = spark.read.parquet(dim_path)
        # NO persist of the routed table here: an A/B that pre-built the
        # cache outside the timed region showed a 15-20% win, but paying
        # the cache materialization INSIDE the stage (as a real run must)
        # measured decode 11s -> 16s at sf0.1 — the 18 pruned parquet scans
        # are cheaper than one full cache build + 18 cache reads.
        #
        # Which sinks exist is FILESYSTEM METADATA: the routed write is
        # partitioned by sink, so the `sink=<name>` directory names ARE the
        # distinct set — listing them costs one directory listing instead
        # of a full routed-table scan (an extra 100 TB scan per run just to
        # learn ≤22 known names). Iceberg keeps the scan-free property via
        # its partitions metadata table.
        if sink_format == "iceberg":
            present = [r["partition"]["sink"] for r in spark.table(
                f"{iceberg_prefix}.routed.partitions").collect()]
        else:
            present = list_sink_partitions(spark, routed_path)
            # A `_grp_*` staging dir under sinks/ is always garbage on
            # (re)entry to this stage: either a crashed decode_group left
            # it (the per-sink marks below say what to redo) or its final
            # delete didn't run. Left in place it would surface as a
            # bogus sink to directory-listing consumers (cli status /
            # dump) and hold duplicate data.
            for stale in list_partition_dirs(spark, str(out / "sinks"),
                                             "_grp_"):
                delete_path(spark, str(out / "sinks" / f"_grp_{stale}"))

        # Per-sink decode width scales with INPUT SIZE, not just cores.
        # Round-4 interleaved sweeps: at sf0.1 (6M events) width 8-12
        # beats full 32-wide decode (5.9-6.5s vs 8.0-8.9s — tiny tasks pay
        # pool_size × cores Python-worker startups), but at sf1.0 (60M)
        # the SAME cap loses (75.4s vs 64.7s uncapped — tasks are now
        # CPU-heavy, parallelism wins and startup amortizes). So the width
        # targets ~750k rows per decode task (both measured optima fall
        # out: 6M→8, 60M→32), clamped to defaultParallelism; 8-core runs
        # are unaffected at either scale.
        par = spark.sparkContext.defaultParallelism
        if route_rows:  # None after a metrics failure -> full width
            par = min(par, max(4, int(route_rows) // 750_000))

        def decode_single(sink: str) -> None:
            sink_df = routed_df.filter(F.col("sink") == sink)
            # hot (salted) sinks get shuffle-free width control for the
            # decode UDF — see _decode_narrow for the measured rationale
            if sink in layout.SALT_FACTORS:
                sink_df = _decode_narrow(sink_df, par)
            tgt = str(out / "sinks" / sink)
            dec = sink_decode_projection(sink, sink_df, dim)
            write_output(dec, sink_format, tgt,
                         f"{iceberg_prefix}.sink_{sink.lower()}")
            ck.mark(f"decode:{sink}")

        def decode_group(todo: list[str]) -> None:
            # same-schema sinks in ONE partitionBy(sink) write job, then a
            # per-sink directory rename (filesystem metadata) into the
            # sinks/<NAME> layout — saves len(todo)-1 jobs' worth of fixed
            # cost. partitionBy drops the sink column from the data files,
            # so each renamed dir's schema is identical to a single-sink
            # write. Crash safety: marks land only after a sink's rename;
            # a rerun regroups the unmarked remainder.
            sink_df = routed_df.filter(F.col("sink").isin(todo))
            if any(s in layout.SALT_FACTORS for s in todo):
                sink_df = _decode_narrow(sink_df, par)
            dec = sink_decode_projection(todo[0], sink_df, dim,
                                         keep_sink=True)
            tmp = str(out / "sinks" / f"_grp_{todo[0]}")
            delete_path(spark, tmp)
            write_output(dec, sink_format, tmp, None, ("sink",))
            fs, _, HPath = _hadoop_fs(spark, tmp)
            for s in todo:
                dest = str(out / "sinks" / s)
                delete_path(spark, dest)
                part = HPath(f"{tmp}/sink={s}")
                if fs.exists(part):
                    if not fs.rename(part, HPath(dest)):
                        raise OSError(f"rename failed: {part} -> {dest}")
                    # the job's _SUCCESS stayed in the _grp_ root; recreate
                    # it per sink so fold-written dirs keep the Hadoop
                    # completeness convention single-sink writes follow
                    fs.create(HPath(f"{dest}/_SUCCESS")).close()
                    ck.mark(f"decode:{s}")
                else:
                    # present-but-filtered-empty member (e.g. a stale
                    # zero-row sink=<s> partition in the routed table):
                    # partitionBy wrote no dir for it, so fall back to the
                    # single-sink write — a schema'd empty parquet dir, the
                    # exact shape (and mark) consumers can read
                    decode_single(s)
            delete_path(spark, tmp)

        def decode_unit(unit: list[str]) -> None:
            # each unit is one Spark write job; running units from a
            # thread pool lets the scheduler pipeline their stages instead
            # of paying per-job fixed overhead serially. Per-sink
            # checkpoint marks make a mid-stage crash resume from the
            # first unwritten sink (each write is an idempotent overwrite).
            todo = [s for s in unit if not (resume and ck.done(f"decode:{s}"))]
            if not todo:
                return
            if len(todo) == 1:
                decode_single(todo[0])
            else:
                decode_group(todo)

        # Unit building: same-schema groups fold into one job each (see
        # SAME_SCHEMA_GROUPS); everything else is a single-sink unit. The
        # Iceberg path keeps one job per sink — its sinks are catalog
        # TABLES, not directories, so the rename trick does not apply.
        grouped: set[str] = set()
        units: list[list[str]] = []
        # Fold only when task slots are scarce: the fold trades per-job
        # fixed cost (driver planning + commit — the term that caps the
        # 1->4 scaling pair, worth ~0.05 efficiency there) for a
        # partitionBy write that is measurably WORSE once the executor
        # pool is wide enough to pipeline the single-sink jobs instead
        # (round-7 same-window 2x2 matrix at 32c, sf0.1,
        # median-of-3: fold-only 23.5s vs singles 21.3s; with side-stage
        # overlap on, 18.4s vs 17.7s — fold loses at saturation in every
        # pairwise round). <=16 slots keeps the fold for the 1/4/8-core
        # regimes the fixed-cost math targets.
        fold = (spark.sparkContext.defaultParallelism
                <= FOLD_MAX_PARALLELISM)
        if sink_format == "parquet" and fold:
            header_only = [s for s in sorted(present)
                           if s not in parse.DECODERS
                           and s not in route.ROWS_SINKS]
            for members in (*SAME_SCHEMA_GROUPS, tuple(header_only)):
                g = [s for s in members if s in present]
                if len(g) > 1:
                    units.append(g)
                    grouped.update(g)
        units += [[s] for s in sorted(present) if s not in grouped]
        # hot units first (LPT-style scheduling: starting the longest jobs
        # first avoids a hot-sink tail after the small ones drain) with a
        # pool of 6; measured on the sf0.1 bench input: alpha-order pool=4
        # 15.4s -> hot-first pool=4 11.0s -> hot-first pool=6 9.7s; pool=8
        # thrashes Python workers (17s in the round-1 measurement)
        units.sort(key=lambda u: (
            0 if any(s in layout.SALT_FACTORS for s in u) else 1,
            -len(u), u[0]))
        pool_size = max(1, min(6, len(units)))
        with ThreadPoolExecutor(max_workers=pool_size) as pool:
            list(pool.map(decode_unit, units))
        metrics["stages"]["decode"] = {
            "wall_sec": round(time.time() - t0, 3), "sinks": len(present)}
        ck.mark("decode", sinks=len(present))

    # Leaving the `with` joins the side pool even when enrich/decode
    # raises: the side stages are independent idempotent overwrites whose
    # checkpoint mark is only valid because their own write succeeded, so
    # they finish (and are marked) before the error propagates, and the
    # resumed run skips them. Their own errors surface via result().
    with ThreadPoolExecutor(max_workers=2,
                            thread_name_prefix="side") as side_pool:
        side_futures = [side_pool.submit(_lineage_stage),
                        side_pool.submit(_aggregate_stage)]
        _enrich_stage()
        _decode_stage()
    for f in side_futures:
        f.result()

    metrics["wall_sec"] = round(time.time() - t_start, 3)
    # the ledger's route count (this call's or the resumed run's); scan
    # the routed table only when a metrics failure left it unknown
    n_in = route_rows if route_rows is not None else routed_df.count()
    metrics["rows"] = n_in
    metrics["rows_per_sec"] = round(n_in / metrics["wall_sec"], 1)
    if collect_metrics:
        (out / "metrics.json").write_text(json.dumps(metrics, indent=1))
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
    if list_partition_dirs(spark, src, "batch="):
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
    # effective master in the printed metrics: a spark-submit --master must
    # survive build_spark (session.py master resolution) — the submit test
    # asserts this from the driver's own report, the only place the
    # regression is visible (round-5 advice items 1+4)
    m["master"] = spark.sparkContext.master
    print(json.dumps(m))


if __name__ == "__main__":
    main()
