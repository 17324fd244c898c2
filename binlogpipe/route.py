"""Route stage: event-type router with salted repartitioning.

The reference's dispatch (`mod.rs:380-417`) becomes a sink column (computed
JVM-side in parse.with_header) plus a salted repartition so hot event types
(QUERY 38/166, GTID 32/166 — BASELINE.md skew note) fan out across tasks
instead of serializing into one (SURVEY §4 "Salted repartition").
Unknown / v0-v1 rows types route to QUARANTINE instead of panicking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import layout


def salt_expr(sink_col=None, doc_id_col=None):
    """Per-type salt factor: salt = pmod(xxhash64(doc_id), k_sink)."""
    sink_col = sink_col if sink_col is not None else F.col("sink")
    doc_id_col = doc_id_col if doc_id_col is not None else F.col("doc_id")
    c = None
    for name, k in layout.SALT_FACTORS.items():
        cond = sink_col == name
        c = F.when(cond, k) if c is None else c.when(cond, k)
    factor = (c.otherwise(layout.DEFAULT_SALT_FACTOR) if c is not None
              else F.lit(layout.DEFAULT_SALT_FACTOR))
    return F.pmod(F.xxhash64(doc_id_col), factor)


def routed(df_with_header: DataFrame, shuffle_partitions: int | None = None) -> DataFrame:
    """Add salt and repartition on (sink, salt) ahead of the fan-out write.

    One shuffle total for the whole fan-out; per-type typed decodes then
    read partition-pruned slices of the routed table.

    The partition count is explicit: with a bare `repartition(cols)` AQE
    coalesces the exchange toward the advisory size (~64 MB) and collapses
    write parallelism (measured 4 tasks for a 240 MB shuffle — 8x
    under-parallelized on 32 cores). An explicit N pins the fan-out width.
    """
    df = df_with_header.withColumn("salt", salt_expr())
    if shuffle_partitions is None:
        sc = df.sparkSession.sparkContext
        # Floor 8, not 32 (round 7): the width already scales with cores
        # (2x defaultParallelism — 64 at local[32], unchanged there; any
        # real cluster is far above the floor), and the old constant-32
        # floor was tuned for the saturated local bench: at 1-4 cores it
        # made the fan-out write emit 32 tasks x ~18 sinks of ~2 MB files,
        # paying task+file overhead with no parallelism to gain and
        # handing the decode stage hundreds of tiny pruned reads.
        shuffle_partitions = max(sc.defaultParallelism * 2, 8)
    return df.repartition(shuffle_partitions, "sink", "salt")
