"""SparkSession factory with the pipeline's scale-oriented defaults.

Local mode here; on a real cluster the same config ships via
``spark-submit --py-files`` with master/executor settings from the
submitter. AQE handles runtime skew-join splitting and shuffle coalescing
on top of the router's explicit salting (SURVEY §4).
"""

from __future__ import annotations

import os
from importlib.machinery import PathFinder

from pyspark.sql import SparkSession


def local_python_daemon(b: SparkSession.Builder) -> SparkSession.Builder:
    """Start a local master's Python workers from `binlogpipe.pydaemon`,
    which imports pyspark from the installed package rather than Spark's
    archives, so a task's `importlib.invalidate_caches()` no longer
    re-reads them (~0.2 s CPU per task; see that module). The daemon is
    started as `python -m` from the driver's working directory with the
    driver's PYTHONPATH, so it is set only when binlogpipe is importable
    from there, as it must be for the pipeline's UDFs anyway."""
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    if PathFinder.find_spec("binlogpipe", [r for r in roots if r]) is None:
        return b
    return b.config("spark.python.daemon.module", "binlogpipe.pydaemon")


def build_spark(app: str = "binlogpipe", cores: int | None = None,
                extra_conf: dict[str, str] | None = None) -> SparkSession:
    """`extra_conf` entries are applied LAST (override the defaults) —
    the A/B harnesses use it to flip one conf (e.g.
    spark.io.compression.codec) between otherwise-identical sessions.

    Master resolution: an EXPLICIT `cores` argument always pins
    local[cores] (the bench/test harnesses depend on that); otherwise,
    when spark-submit already provided a master (--master lands in the
    spark.master system property before the driver runs), respect it —
    forcing local[N] here would silently turn a cluster submission into
    a single-host run. Only with neither do we default to
    local[SPARK_GRAFT_CPUS], or, when that is unset, to the CPUs this
    process may run on."""
    explicit_cores = cores is not None
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS",
                                        len(os.sched_getaffinity(0))))
    b = SparkSession.builder
    from pyspark import SparkConf

    # Submitted-master detection must NOT rely on SparkConf() alone: in a
    # fresh spark-submit driver process the JVM gateway has not started
    # yet, so SparkConf() is a pure-Python empty map and contains() is
    # False even though --master sits in the JVM-side submit conf —
    # round-5 shipped exactly that bug and silently forced a cluster
    # submission down to local[N]. PythonRunner (the spark-submit driver
    # launcher) exports PYSPARK_GATEWAY_PORT to the user script before it
    # runs, so that env var IS the "a submit conf exists" signal; the
    # SparkConf() check still covers the in-process case where a gateway
    # (and its spark.master system property) already exists.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if explicit_cores or not (under_submit
                              or SparkConf().contains("spark.master")):
        # under spark-submit, binlogpipe reaches the workers only through
        # --py-files, after the daemon has started: the default daemon stays
        b = local_python_daemon(b.master(f"local[{cores}]"))
    b = (
        b
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(2 * cores, 32)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # Spark 4: pandas-UDF eval batches are governed by THIS knob, which
        # defaults to 100 rows — every UDF was paying per-batch Python
        # overhead 200x more often than intended. The Arrow knob above only
        # bounds createDataFrame/toPandas and mapInPandas/mapInArrow.
        .config("spark.sql.execution.python.udf.maxRecordsPerBatch", "20000")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # parquet codec: lz4_raw over snappy (round 7). The pipeline writes
        # and re-reads its own parquet (routed table + 18 typed sinks), so
        # codec CPU is paid on every stage; pinned 1-core write probe:
        # route-to-write 66-68s snappy vs 59s lz4_raw at ~equal size
        # (306 vs 308 MB); zstd is 30% smaller but +35% wall — the right
        # trade only when storage/network dominates, which is a conf, not
        # a code shape. Parameterised for that reason:
        # SPARK_GRAFT_PARQUET_CODEC=snappy|zstd|... (full A/B below in
        # OPTIMIZATION_r07.md).
        .config("spark.sql.parquet.compression.codec",
                os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "lz4_raw"))
        # shuffle/spill codec: zstd over the lz4 default. Interleaved A/Bs
        # (round 5, BENCH appendix): sf0.1 e2e 32c zstd wins 4/5 pairs
        # (median -4%, best -10%); sf1.0 full pipeline -4.5% e2e with the
        # route stage -23%; sf1.0 route-only cells zstd 2/3 pairs; wash at
        # 1/4 cores. Token payloads compress well, and shuffle bytes are
        # the route stage's non-scaling term — on a real cluster the
        # shuffle crosses the NETWORK, where the byte reduction is worth
        # strictly more than on this single-host loopback.
        .config("spark.io.compression.codec", "zstd")
        # 10g: large heaps measured multi-second G1 pauses under Arrow +
        # parquet churn; smaller heap keeps pauses short and stable
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "10g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # committer v2: tasks move their own outputs at task-commit; v1
        # has the DRIVER serially rename every task file at job-commit — a
        # fixed per-job cost paid ~22x per pipeline run (one job per sink
        # write). Interleaved A/B on a fixed-cost-dominated input: every
        # v2 wall beat every v1 wall, ~5% of the run's fixed cost
        # (tools/fixed_cost_probe.py; BENCH appendix round-5). Partial
        # files from a task that fails mid-commit are overwritten on
        # retry — every pipeline write is an idempotent overwrite into
        # its own directory, checkpoint-marked only after job success.
        .config("spark.hadoop.mapreduce.fileoutputcommitter"
                ".algorithm.version", "2")
        # straggler insurance: twice this round an sf1.0-scale UDF stage
        # hung at (n-1)/n tasks — the Python worker blocked in
        # tcp send (sk_stream_wait_memory, output socket full) while the
        # JVM task sat in the PythonRunner selector: a rare JVM<->Python
        # flow-control deadlock under large Arrow batches (jstack +
        # /proc/<worker>/stack evidence in BENCH appendix round-5). A
        # deadlocked task is an infinite straggler, so speculation always
        # rescues it; the 4x-median multiplier + 0.9 quantile make it
        # near-silent on healthy skew (the router's salting keeps task
        # walls uniform).
        #
        # Duplicate-commit invariant (speculation x committer v2): a
        # retry or speculative twin cannot duplicate output because
        # (a) part-file names are attempt-DETERMINISTIC —
        # part-<split>-<jobUUID>.c000 carries no attempt number, so both
        # attempts of a partition target the SAME destination paths and
        # the later writer overwrites, never adds; and (b) the
        # OutputCommitCoordinator authorizes exactly one attempt per
        # partition to commit — the loser gets CommitDeniedException and
        # its attempt files are discarded. (a)+(the retry half of b) are
        # pinned by tests/test_commit_safety.py, which fails a first
        # attempt mid-stream (partial part-file on disk) and asserts
        # exact counts, id multiset, and file-per-task-per-sink counts;
        # the speculative twin itself is unforceable locally
        # (TaskSchedulerImpl starts speculation only when !isLocal) but
        # reduces to the same two mechanisms.
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "4")
        .config("spark.speculation.quantile", "0.9")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
