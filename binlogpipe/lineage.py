"""Per-partition lineage (BASELINE.json north_star: "per-partition
lineage rows (partition_id, first/last doc_id, rows_in/rows_routed) and
metrics emitted per stage"; the per-stage metrics are job.run_pipeline's).

The DAG's lineage is ``lineage_from_routed``: one JVM aggregation over the
routed table, keyed on the input partition and position the route stage
stamps before its shuffle, so the input is never scanned twice.
``partition_lineage`` (a mapInPandas walk of the input partitions, one row
per task) is the test reference it is checked against.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import layout
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType([
    T.StructField("partition_id", T.IntegerType()),
    T.StructField("first_doc_id", T.StringType()),
    T.StructField("last_doc_id", T.StringType()),
    T.StructField("rows_in", T.LongType()),
    T.StructField("rows_routed", T.LongType()),
])


def partition_lineage(df: DataFrame) -> DataFrame:
    """One lineage row per input partition. `rows_routed` counts rows whose
    sink is not QUARANTINE (the router drops nothing else)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        first = last = None
        rows_in = rows_routed = 0
        for b in batches:
            if len(b) == 0:
                continue
            if first is None:
                first = b["doc_id"].iloc[0]
            last = b["doc_id"].iloc[-1]
            rows_in += len(b)
            rows_routed += int((b["sink"] != layout.QUARANTINE_SINK).sum())
        yield pd.DataFrame(
            [{
                "partition_id": pid, "first_doc_id": first,
                "last_doc_id": last, "rows_in": rows_in,
                "rows_routed": rows_routed,
            }]
        )

    return df.select("doc_id", "sink").mapInPandas(gen, LINEAGE_SCHEMA)


def lineage_from_routed(routed_df: DataFrame) -> DataFrame:
    """Lineage derived from the routed table's recorded `input_partition` +
    `input_pos` columns (stamped pre-shuffle) — one JVM aggregation, no
    second scan of the input. first/last doc_id are POSITIONAL (min_by/
    max_by over the monotonic within-partition position): a lexicographic
    min/max over "<stem>/<i>" string ids returns the wrong rows whenever
    the event index crosses a digit-length boundary ('s/9' > 's/10')."""
    return (
        routed_df.groupBy(F.col("input_partition").alias("partition_id"))
        .agg(
            F.min_by("doc_id", "input_pos").alias("first_doc_id"),
            F.max_by("doc_id", "input_pos").alias("last_doc_id"),
            F.count("*").alias("rows_in"),
            F.sum((F.col("sink") != layout.QUARANTINE_SINK).cast("long")).alias(
                "rows_routed"),
        )
        .orderBy("partition_id")
    )

