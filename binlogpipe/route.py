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

from . import layout, parse

# routed table stores tokens packed as binary (lossless; parquet
# list<int32> encode was the dominant, non-scaling write cost) plus the
# JVM-precomputed rows-event table_id join key
ROUTED_COLS = [
    "doc_id", "tokens_bin", "n_tok", "source", "timestamp", "event_type",
    "server_id", "event_size", "log_pos", "flags", "checksum", "sink",
    "salt", "rows_table_id", "input_partition", "input_pos",
]

ROWS_SINKS = ("WRITE_ROWS_V2", "UPDATE_ROWS_V2", "DELETE_ROWS_V2")


def salt_expr():
    """Per-type salt factor: salt = pmod(xxhash64(doc_id), k_sink)."""
    c = None
    for name, k in layout.SALT_FACTORS.items():
        cond = F.col("sink") == name
        c = F.when(cond, k) if c is None else c.when(cond, k)
    factor = (c.otherwise(layout.DEFAULT_SALT_FACTOR) if c is not None
              else F.lit(layout.DEFAULT_SALT_FACTOR))
    return F.pmod(F.xxhash64(F.col("doc_id")), factor)


def routed_rows(df: DataFrame) -> DataFrame:
    """Contract input rows -> the ROUTED_COLS projection, salt included:
    header decode, token pack, rows-event table_id, lineage stamps. THE
    single definition of a routed row, shared by the batch route stage,
    each streaming micro-batch and the oracle queries."""
    hdr = parse.with_header(df)
    # ORDER IS LOAD-BEARING: the pack UDF must sit directly on the
    # with_header projection. Stacking rows_table_id +
    # spark_partition_id (nondeterministic) + CollectMetrics BELOW the
    # Python eval node measured 77s vs 9-13s for this same write at 6M
    # events/local[8] (the Python node then buffers the full wide rows,
    # tokens array included, while zipping UDF results back).
    hdr = hdr.withColumn(
        "tokens_bin", parse.pack_tokens_udf()(F.col("tokens")))
    # rows events need their u48 table_id as the enrich join key; the
    # array form is gone downstream of the routed write, so compute it
    # here (JVM expr, mod.rs:1182-1186)
    hdr = hdr.withColumn(
        "rows_table_id",
        F.when(F.col("sink").isin(*ROWS_SINKS + ("TABLE_MAP",)),
               layout.u48le(F.col("tokens"), 19)))
    # input partition id + within-partition position recorded
    # pre-shuffle: lineage derives from the routed table afterwards
    # instead of re-scanning the input, and first/last doc_id must be
    # POSITIONAL (the id is monotonic within a partition; a
    # lexicographic min/max over "<stem>/<i>" ids misorders the moment
    # the index crosses a digit-length boundary)
    hdr = hdr.withColumn("input_partition", F.spark_partition_id())
    hdr = hdr.withColumn("input_pos", F.monotonically_increasing_id())
    hdr = hdr.withColumn("salt", salt_expr())
    return hdr.select(*ROUTED_COLS)


def routed(rows: DataFrame, shuffle_partitions: int | None = None) -> DataFrame:
    """Repartition routed rows on (sink, salt) ahead of the fan-out write.

    One shuffle total for the whole fan-out; per-type typed decodes then
    read partition-pruned slices of the routed table.

    The partition count is explicit: with a bare `repartition(cols)` AQE
    coalesces the exchange toward the advisory size (~64 MB) and collapses
    write parallelism (measured 4 tasks for a 240 MB shuffle — 8x
    under-parallelized on 32 cores). An explicit N pins the fan-out width.
    """
    if shuffle_partitions is None:
        sc = rows.sparkSession.sparkContext
        # Floor 8, not 32 (round 7): the width already scales with cores
        # (2x defaultParallelism — 64 at local[32], unchanged there; any
        # real cluster is far above the floor), and the old constant-32
        # floor was tuned for the saturated local bench: at 1-4 cores it
        # made the fan-out write emit 32 tasks x ~18 sinks of ~2 MB files,
        # paying task+file overhead with no parallelism to gain and
        # handing the decode stage hundreds of tiny pruned reads.
        shuffle_partitions = max(sc.defaultParallelism * 2, 8)
    return rows.repartition(shuffle_partitions, "sink", "salt")
