#!/usr/bin/env python
"""Reproducible probes behind the scaling-evidence ladder in
BENCH/BASELINE.md. Each probe interleaves the core counts within one
session/window (this sandbox's shared-host throughput swings multi-x
between time windows, so only within-window comparisons are meaningful).

    python tools/scaling_probes.py sha2      # pure-JVM compute anchor
    python tools/scaling_probes.py bridge    # JVM<->Python Arrow bridge
    python tools/scaling_probes.py jvmdag    # JVM-only DAG subset (no Python)
    python tools/scaling_probes.py lcluster  # local-cluster[1,8] vs [4,8]

Findings (2026-08-16, see BENCH/BASELINE.md for the per-round re-run):
- sha2: 8->32 efficiency ~0.845 — the VM's compute scales.
- bridge: identity pandas UDF over 6M cached rows is wall-FLAT at 8 and
  32 cores (~1.1s) — the Arrow bridge is a fixed ~0.6 GB/s per-host pipe,
  the DAG's measured non-scaling resource. Real N->4N executors multiply
  it by 4; local threads cannot.
- jvmdag (header+salt+shuffle+agg over 96M events): ~0.58 — the residual
  is shuffle volume on the single shared disk.
- lcluster: 4 executor JVMs on this one host ~0.33 — multi-process does
  not multiply a per-host resource.
"""

from __future__ import annotations

import sys
import time

import pandas as pd

sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parents[1]))

LOW, HIGH = 8, 32
INPUT_24M = "/tmp/binlogpipe_bench/input_f144578.parquet"


def _session(cores: int, master: str | None = None):
    from pyspark.sql import SparkSession

    return (SparkSession.builder.master(master or f"local[{cores}]")
            .appName(f"probe-{cores}")
            .config("spark.sql.shuffle.partitions", str(2 * cores))
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
            .config("spark.sql.execution.python.udf.maxRecordsPerBatch", "20000")
            .config("spark.driver.memory", "10g")
            .config("spark.executorEnv.PYTHONPATH", "/root/repo")
            .config("spark.ui.enabled", "false").getOrCreate())


def probe_sha2(cores: int) -> float:
    spark = _session(cores)
    try:
        spark.range(1000).selectExpr("sum(id)").collect()
        df = spark.range(160_000_000, numPartitions=4 * cores)
        t0 = time.time()
        (df.selectExpr("sha2(cast(id as string), 256) as h")
           .selectExpr("sha2(h, 256) as h2").selectExpr("max(h2)").collect())
        return time.time() - t0
    finally:
        spark.stop()


def probe_bridge(cores: int) -> float:
    from pyspark.sql.functions import pandas_udf

    spark = _session(cores)
    try:
        spark.range(1000).selectExpr("sum(id)").collect()
        df = (spark.range(6_000_000, numPartitions=4 * cores)
              .selectExpr("id", "cast(repeat(uuid(), 3) as binary) as payload")
              .persist())
        df.count()

        @pandas_udf("int")
        def blen(s: pd.Series) -> pd.Series:
            return s.map(len).astype("int32")

        best = None
        for _ in range(3):
            t0 = time.time()
            df.select(blen("payload")).selectExpr("max(*)").collect()
            w = time.time() - t0
            best = w if best is None or w < best else best
        return best
    finally:
        spark.stop()


def probe_jvmdag(cores: int) -> float:
    from pyspark.sql import functions as F

    from binlogpipe import parse, route

    spark = _session(cores)
    try:
        spark.range(1000).selectExpr("sum(id)").collect()
        s0 = spark.read.parquet(INPUT_24M)
        src = s0.union(s0).union(s0).union(s0)  # 96M events, same files
        best = None
        for _ in range(2):
            t0 = time.time()
            hdr = parse.with_header(src)
            r = route.routed(hdr.withColumn("salt", route.salt_expr())).drop(
                "tokens")
            (r.groupBy("source", "sink")
              .agg(F.count("*").alias("n"), F.sum("n_tok").alias("tokens"),
                   F.min("log_pos"), F.max("log_pos"))
              .write.format("noop").mode("overwrite").save())
            w = time.time() - t0
            best = w if best is None or w < best else best
        return best
    finally:
        spark.stop()


def probe_lcluster(n_exec: int) -> float:
    import shutil

    from binlogpipe.job import run_pipeline

    spark = _session(8, master=f"local-cluster[{n_exec},8,4096]")
    try:
        spark.range(1000).selectExpr("sum(id)").collect()
        out = f"/tmp/probe_lc{n_exec}"
        best = None
        for _ in range(2):
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.time()
            run_pipeline(spark, INPUT_24M, out, run_id="p", resume=False)
            w = time.time() - t0
            best = w if best is None or w < best else best
        return best
    finally:
        spark.stop()


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "bridge"
    if which == "lcluster":
        pair, fn = (1, 4), probe_lcluster
    else:
        pair, fn = (LOW, HIGH), {"sha2": probe_sha2, "bridge": probe_bridge,
                                 "jvmdag": probe_jvmdag}[which]
    best: dict[int, float] = {}
    for rnd in range(2):  # interleaved within one window
        for level in pair:
            w = fn(level)
            best[level] = min(best.get(level, 9e9), w)
            print(f"round{rnd} {which}@{level}: {w:.2f}s", flush=True)
    ratio = best[pair[0]] / best[pair[1]]
    scale = pair[1] / pair[0]
    print(f"{which}: {best[pair[0]]:.2f}s -> {best[pair[1]]:.2f}s, "
          f"speedup {ratio:.2f}x, efficiency {ratio / scale:.3f}")


if __name__ == "__main__":
    main()
