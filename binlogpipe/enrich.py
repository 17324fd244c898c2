"""Enrich stage: TableMap dictionary build + broadcast lookup join.

Replaces the reference's cross-event mutable state — the global
``TABLE_MAP: HashMap<table_id, Vec<ColTypes>>`` written by the TableMap
parser and read by the rows parsers
(`/root/reference/crates/old/src/events/mod.rs:23-26, 999-1001,
1244-1250`) — with an explicit dataflow edge: a two-pass broadcast join
(SURVEY §4 "Cross-event mutable state").

Semantic note (SURVEY §7.3 hard #2): the reference resolves each rows event
against the *latest preceding* TableMap in file order. Every fixture has at
most one TableMap per table_id per source, so a plain broadcast join is
exact; when that is violated ``table_map_dim`` keeps the latest entry per
(source, table_id) under ``pipeline_table_map_window`` (log_pos desc, then
doc_id desc), so the winner is deterministic across runs even on exact
log_pos collisions. The batch DAG, the streaming DAG and the oracle queries
all call ``table_map_dim``; none builds the dictionary inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import parse


def pipeline_table_map_window(table_id_col: str = "table_id"):
    """THE latest-wins ordering for the TableMap dimension: (log_pos desc,
    doc_id desc) per (source, table_id). ``table_map_dim`` applies it
    twice — over the raw rows keyed on the JVM ``rows_table_id`` (before
    decoding, when payload fields do not exist yet) and over the decoded
    rows, optionally unioned with a previous snapshot. doc_id is present
    and unique on every input, which makes the winner deterministic."""
    return Window.partitionBy("source", table_id_col).orderBy(
        F.col("log_pos").desc(), F.col("doc_id").desc())


def _latest(df: DataFrame, table_id_col: str = "table_id") -> DataFrame:
    w = pipeline_table_map_window(table_id_col)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def table_map_dim(routed: DataFrame, prev: DataFrame | None = None
                  ) -> DataFrame:
    """Routed rows (``route.routed_rows`` columns) -> broadcastable TableMap
    dimension: source, log_pos, doc_id, table_id, schema_name, table_name,
    column_count, columns_type, null_bits — one row per (source, table_id).

    1. latest raw TABLE_MAP row per (source, rows_table_id) — a JVM window
       over skinny columns; the u48 key exists even when the payload is
       corrupt;
    2. decode only the survivors;
    3. table_id = coalesce(decoded, rows_table_id), so a corrupt winner
       stays behind as a TOMBSTONE;
    4. union ``prev`` (a previous snapshot of this function's output; the
       streaming DAG's cumulative dimension);
    5. latest-wins per (source, table_id): a tombstone SHADOWS any older
       valid entry, so an older TableMap never resurrects in one DAG and
       not the other. This window also keeps step 6's filter above the
       decode UDF, so the UDF runs once;
    6. drop the error rows (the tombstones)."""
    tm = _latest(routed.filter(F.col("sink") == "TABLE_MAP"),
                 "rows_table_id")
    _, udf_factory = parse.DECODERS["TABLE_MAP"]
    cand = (tm.withColumn("d", udf_factory()(F.col("tokens_bin")))
            .select("source", "log_pos", "doc_id",
                    F.coalesce(F.col("d.table_id"),
                               F.col("rows_table_id")).alias("table_id"),
                    "d.schema_name", "d.table_name", "d.column_count",
                    "d.columns_type", "d.null_bits", "d.parse_error"))
    if prev is not None:
        # snapshots hold only valid rows -> null parse_error
        cand = cand.unionByName(prev, allowMissingColumns=True)
    return (_latest(cand).filter(F.col("parse_error").isNull())
            .drop("parse_error"))


def enrich_rows_events(rows_df: DataFrame, dim: DataFrame) -> DataFrame:
    """Broadcast-join rows events with their column layout.

    `rows_df` must carry `source` and a JVM-computed `table_id` (u48 at
    byte offset 19, mod.rs:1182-1186). Left join: rows with no dictionary
    entry keep NULL columns_type and are quarantined by the decoder
    (the reference would panic on the missing-entry unwrap, mod.rs:1248).
    """
    d = dim.select(
        "source",
        F.col("table_id").alias("tm_table_id"),
        F.col("schema_name").alias("tm_schema_name"),
        F.col("table_name").alias("tm_table_name"),
        "columns_type",
    )
    return rows_df.join(
        F.broadcast(d),
        on=[rows_df["source"] == d["source"],
            rows_df["table_id"] == d["tm_table_id"]],
        how="left",
    ).drop(d["source"]).drop("tm_table_id")
