"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes every SQL-expressible operator of the binlog pipeline
(SURVEY.md §2) plus the training-data ops (dedup, similarity search, text
analysis) with DuckDB oracles in `oracle_sql()`. Binlog-pipeline queries run
over the committed fixture input table (`data/fixture_events.parquet`,
generated from the reference's .bin files — sf-independent); analog and
training-data queries run over the driver's sf tables.

Column names and types are aligned between Spark and SQL (explicit casts +
identical rounding) because the driver hash-compares values after sorting
columns by name.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from binlogpipe import aggregate as agg
from binlogpipe import enrich, layout, parse, route, textops, vecops

REPO = Path(__file__).resolve().parent
FIXTURE = str(REPO / "data" / "fixture_events.parquet")
FX = f"read_parquet('{FIXTURE}')"
# deterministic synthetic events for types the reference fixtures never
# carry (Load/NewLoad/file-ops/Incident/NULL-UserVar/Stop/Slave/Heartbeat)
# so their decoders get full oracle rows (tools/fixture_gen.rare_events)
RARE = str(REPO / "data" / "rare_events.parquet")
RFX = f"read_parquet('{RARE}')"

# ---------------------------------------------------------------------------
# DuckDB SQL helpers for binlog byte arithmetic over tokens (1-indexed lists)
# ---------------------------------------------------------------------------


def _u(off0: int, nbytes: int) -> str:
    """u{8*nbytes}le at 0-based byte offset as BIGINT (DuckDB).

    8-byte reads wrap two's-complement like the Spark side
    (np_codec.u64): the naive unsigned sum would overflow DuckDB's BIGINT
    (hard error) for any value with the top bit set, so the top byte is
    read signed ((b+128)%256-128 maps 128..255 to -128..-1)."""
    top = nbytes - 1
    terms = [
        f"tokens[{off0 + k + 1}]::BIGINT * {1 << (8 * k)}" for k in range(nbytes)
    ]
    if nbytes == 8:
        terms[top] = (f"((tokens[{off0 + top + 1}]::BIGINT + 128) % 256 - 128)"
                      f" * {1 << (8 * top)}")
    return "(" + " + ".join(terms) + ")"


def _chrcat(a_expr: str, b_expr: str) -> str:
    """Bytes tokens[a..b] (1-indexed, inclusive) as a string."""
    return (f"array_to_string(list_transform(tokens[{a_expr}:{b_expr}], "
            f"x -> chr(x)), '')")


def _extract_string_sql(a_expr: str, b_expr: str) -> str:
    """extract_string semantics (trim at first NUL) on tokens[a..b]."""
    sl = f"tokens[{a_expr}:{b_expr}]"
    return (
        f"(CASE WHEN list_position({sl}, 0) > 0 THEN "
        f"array_to_string(list_transform({sl}[1:list_position({sl}, 0) - 1], "
        f"x -> chr(x)), '') ELSE "
        f"array_to_string(list_transform({sl}, x -> chr(x)), '') END)"
    )


# mirror of the Spark router's validity gate (valid_size AND NOT magic),
# appended to every per-sink oracle WHERE: a corrupt row the pipeline
# quarantines must not leak into a typed-sink oracle via its type byte.
# valid_size = actual array length matches the embedded event_size AND the
# n_tok contract column agrees with the array (both conjuncts, like Spark)
_VALID = ("coalesce(len(tokens)::BIGINT = " + _u(9, 4) + " "
          "AND n_tok::BIGINT = len(tokens)::BIGINT, FALSE) "
          "AND NOT coalesce(tokens[1]=254 AND tokens[2]=98 "
          "AND tokens[3]=105 AND tokens[4]=110, FALSE)")


def _sink_case_sql() -> str:
    whens = "".join(
        f" WHEN {tid} THEN '{name}'" for tid, name in layout.EVENT_TYPES.items()
    )
    return (
        # NULL-safe like Spark's coalesce(valid_size, False): a row too
        # short to even carry an event_size field must compare as INVALID,
        # not fall through a NULL predicate into a typed sink
        f"(CASE WHEN NOT coalesce(len(tokens)::BIGINT = {_u(9, 4)} "
        f"AND n_tok::BIGINT = len(tokens)::BIGINT, FALSE) "
        f"THEN 'QUARANTINE' "
        f"WHEN tokens[1]=254 AND tokens[2]=98 AND tokens[3]=105 AND tokens[4]=110 "
        f"THEN 'QUARANTINE' "
        f"ELSE (CASE tokens[5]{whens} ELSE 'QUARANTINE' END) END)"
    )


_STMT_KINDS = ("'INSERT','UPDATE','DELETE','CREATE','DROP','ALTER','BEGIN',"
               "'COMMIT','ROLLBACK','SET','GRANT','FLUSH','TRUNCATE','RENAME',"
               "'LOAD','REPLACE','ANALYZE','OPTIMIZE'")


def _stmt_kind_sql(q: str) -> str:
    head = f"upper(regexp_extract(ltrim({q}), '^([A-Za-z]+)', 1))"
    return f"(CASE WHEN {head} IN ({_STMT_KINDS}) THEN {head} ELSE 'OTHER' END)"


def _dot_sql(a: str, b: str) -> str:
    return (f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_zip({a}, {b}).list_transform(p -> "
            f"p[1]::DOUBLE * p[2]::DOUBLE)), (acc, v) -> acc + v)")


def _norm_sql(a: str) -> str:
    return (f"sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform({a}, x -> x::DOUBLE * x::DOUBLE)), "
            f"(acc, v) -> acc + v))")


def _cos_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)}) / (({_norm_sql(a)}) * ({_norm_sql(b)}))"


def _cos_guard_sql(a: str, b: str) -> str:
    """Cosine with zero-norms treated as 1 (score 0) — mirrors the
    k-means TRAINER's _unit guard in vecops.kmeans_centroids exactly (a
    zero vector must not NaN-poison assignments on either engine). Only
    the training CTE uses this; post-training assignment/probing divides
    raw on both engines."""
    ga = f"(CASE WHEN {_norm_sql(a)} = 0 THEN 1 ELSE {_norm_sql(a)} END)"
    gb = f"(CASE WHEN {_norm_sql(b)} = 0 THEN 1 ELSE {_norm_sql(b)} END)"
    return f"({_dot_sql(a, b)}) / ({ga} * {gb})"


# shared deterministic hashes (same constants as binlogpipe.textops)
_FP_SQL = (
    "list_reduce(list_prepend(0::BIGINT, list_transform(string_split({col}, "
    "''), ch -> ascii(ch)::BIGINT)), (acc, x) -> (acc * 31 + x) % "
    f"{textops.FP_MOD})"
)
_SHINGLE_SQL = (
    "list_distinct(list_transform(range(1, greatest(length({col}) - 2, 1) + 1), "
    "i -> list_reduce(list_prepend(0::BIGINT, list_transform(string_split("
    "{col}[i:i+2], ''), ch -> ascii(ch)::BIGINT)), (acc, x) -> (acc * 31 + x) "
    f"% {textops.MH_PRIME})))"
)
_STOP_SQL = ", ".join(f"'{w}'" for w in textops.STOPWORDS)
# textops.WS single-backslash form: DuckDB string literals keep
# backslashes, so RE2 sees the same hex-escape class Java does
_WS_TOKS_SQL = ("string_split_regex(trim({col}), '" + textops.WS + "+')")


# ---------------------------------------------------------------------------
# Spark-side helpers
# ---------------------------------------------------------------------------

def _fixture_df(spark: SparkSession) -> DataFrame:
    return parse.with_header(spark.read.parquet(FIXTURE))


def _decoded(spark: SparkSession, sink: str) -> DataFrame:
    df = _fixture_df(spark).filter(F.col("sink") == sink)
    schema, factory = parse.DECODERS[sink]
    return df.withColumn("d", factory()(F.col("tokens")))


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _rare_df(spark: SparkSession) -> DataFrame:
    return parse.with_header(spark.read.parquet(RARE))


def _rare_decoded(spark: SparkSession, sink: str) -> DataFrame:
    df = _rare_df(spark).filter(F.col("sink") == sink)
    schema, factory = parse.DECODERS[sink]
    return df.withColumn("d", factory()(F.col("tokens")))


# ---------------------------------------------------------------------------
# query implementations (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def q_bl_sink_counts(spark, sf_dir):
    """Per-sink dispatch counts over BOTH event tables (reference fixture
    + committed rare-event synthetic), discriminated by `tbl` — the former
    bl_rare_counts row folded in to free a driver slot (the driver records
    at most 50 queries; the freed slot carries bl_stream_counts)."""
    fx = agg.sink_counts(_fixture_df(spark)).withColumn(
        "tbl", F.lit("fixture"))
    rr = agg.sink_counts(_rare_df(spark)).withColumn("tbl", F.lit("rare"))
    return fx.unionByName(rr).select("tbl", "sink", "n").orderBy("tbl", "sink")


def q_bl_stream_counts(spark, sf_dir):
    """Streaming DAG coverage with a hard driver signal (round-3 verdict
    item 2): drain the fixture table through the incremental full
    streaming DAG (streaming.run_full_available_now — the Spark analog of
    the reference's live-replication entry point,
    crates/old/src/connection.rs:41-80) into a fresh temp dir, then count
    the rows in each per-sink typed decode output (sinks/<sink>/batch=*).
    Trigger.AvailableNow drains everything, so the counts must equal the
    batch per-sink goldens — the oracle is the same dispatch-CASE
    aggregation DuckDB runs directly on the input table."""
    import shutil
    import tempfile

    from binlogpipe import streaming

    tmp = Path(tempfile.mkdtemp(prefix="bl_stream_counts_"))
    try:
        ind = tmp / "in"
        ind.mkdir()
        shutil.copy(FIXTURE, ind / "part-0.parquet")
        streaming.run_full_available_now(
            spark, str(ind), str(tmp / "out"), str(tmp / "ck"))
        sinks_root = tmp / "out" / "sinks"
        counts = [(d.name, spark.read.parquet(str(d)).count())
                  for d in sorted(sinks_root.iterdir()) if d.is_dir()]
    finally:
        # the counts are already materialized driver-side; the returned
        # DataFrame holds literals, not file references
        shutil.rmtree(tmp, ignore_errors=True)
    return (spark.createDataFrame(counts, "sink string, n long")
            .orderBy("sink"))


def q_bl_header_decode(spark, sf_dir):
    """Full 19-byte header decode + the 10 EventFlag booleans
    (mod.rs:28-40) as ints, one row per fixture event."""
    flag_cols = [v.cast("int").alias(k)
                 for k, v in layout.flag_columns(F.col("flags")).items()]
    return _fixture_df(spark).select(
        "doc_id",
        F.col("timestamp").alias("ts_field"),
        F.col("event_type").cast("long").alias("event_type"),
        "server_id", "event_size", "log_pos",
        F.col("flags").cast("long").alias("flags"),
        "checksum",
        *flag_cols,
    ).orderBy("doc_id")


def q_bl_validate(spark, sf_dir):
    df = _fixture_df(spark)
    return df.select(
        F.count("*").alias("n_total"),
        F.sum(F.col("valid_size").cast("long")).alias("n_valid_size"),
        F.sum(F.col("is_magic").cast("long")).alias("n_magic"),
        F.sum((F.col("sink") != layout.QUARANTINE_SINK).cast("long")).alias("n_routed"),
    )


def q_bl_xid(spark, sf_dir):
    return (_decoded(spark, "XID")
            .select("doc_id", F.col("d.xid").alias("xid")).orderBy("doc_id"))


def q_bl_rotate(spark, sf_dir):
    return (_decoded(spark, "ROTATE")
            .select("doc_id", F.col("d.position").alias("position"),
                    F.col("d.next_binlog").alias("next_binlog"))
            .orderBy("doc_id"))


def q_bl_intvar(spark, sf_dir):
    return (_decoded(spark, "INTVAR")
            .select("doc_id", F.col("d.e_type").alias("e_type"),
                    F.col("d.value").alias("value")).orderBy("doc_id"))


def q_bl_rand(spark, sf_dir):
    return (_decoded(spark, "RAND")
            .select("doc_id", F.col("d.seed1").alias("seed1"),
                    F.col("d.seed2").alias("seed2")).orderBy("doc_id"))


def q_bl_gtid(spark, sf_dir):
    out = []
    for sink in ("GTID", "ANON_GTID"):
        out.append(_decoded(spark, sink).select(
            "doc_id", F.lit(sink).alias("sink"),
            F.col("d.rbr_only").cast("int").alias("rbr_only"),
            F.col("d.source_id").alias("source_id"),
            F.col("d.transaction_id").alias("transaction_id"),
            F.col("d.ts_type").cast("long").alias("ts_type"),
            F.col("d.last_committed").alias("last_committed"),
            F.col("d.sequence_number").alias("sequence_number"),
        ))
    return out[0].unionByName(out[1]).orderBy("doc_id")


def q_bl_rows_query(spark, sf_dir):
    return (_decoded(spark, "ROWS_QUERY").select(
        "doc_id",
        F.col("d.length").cast("long").alias("length"),
        F.col("d.query_text").alias("query_text"),
        parse.statement_kind(F.col("d.query_text")).alias("statement_kind"),
    ).orderBy("doc_id"))


def q_bl_query(spark, sf_dir):
    return (_decoded(spark, "QUERY").select(
        "doc_id",
        F.col("d.slave_proxy_id").alias("slave_proxy_id"),
        F.col("d.execution_time").alias("execution_time"),
        F.col("d.schema_length").cast("long").alias("schema_length"),
        F.col("d.error_code").cast("long").alias("error_code"),
        F.col("d.status_vars_length").cast("long").alias("status_vars_length"),
        F.col("d.schema").alias("schema_name"),
        F.col("d.query").alias("query"),
        parse.statement_kind(F.col("d.query")).alias("statement_kind"),
    ).orderBy("doc_id"))


def q_bl_status_vars(spark, sf_dir):
    """The 14-key status-vars sub-parser (query.rs:75-177) surfaced as
    typed columns: inverted-FLAGS2 booleans, SQL_MODE bits, charset triple,
    catalog, updated-db names. Oracle re-walks the variable-width block
    with a recursive CTE."""
    df = _fixture_df(spark).filter(F.col("sink") == "QUERY")
    udf = parse._rowwise(parse.STATUS_TYPED_SCHEMA, parse.decode_status_typed_py)
    d = df.withColumn("d", udf(F.col("tokens")))
    flat = [f.name for f in parse.STATUS_TYPED_SCHEMA.fields
            if f.name != "parse_error"]
    return d.select("doc_id", *[F.col(f"d.{n}").alias(n) for n in flat]
                    ).orderBy("doc_id")


def q_bl_format_desc(spark, sf_dir):
    return (_decoded(spark, "FORMAT_DESC").select(
        "doc_id",
        F.col("d.binlog_version").cast("long").alias("binlog_version"),
        F.col("d.mysql_server_version").alias("mysql_server_version"),
        F.col("d.create_timestamp").alias("create_timestamp"),
        F.col("d.event_header_length").cast("long").alias("event_header_length"),
        F.col("d.checksum_alg").cast("long").alias("checksum_alg"),
    ).orderBy("doc_id"))


def q_bl_user_var(spark, sf_dir):
    return (_decoded(spark, "USER_VAR").select(
        "doc_id",
        F.col("d.name").alias("name"),
        F.col("d.is_null").cast("int").alias("is_null"),
        F.col("d.d_type").alias("d_type"),
        F.col("d.charset").alias("charset"),
        F.array_join(F.col("d.value"), ",").alias("value_csv"),
    ).orderBy("doc_id"))


def q_bl_tablemap(spark, sf_dir):
    return (_decoded(spark, "TABLE_MAP").select(
        "doc_id",
        F.col("d.table_id").alias("table_id"),
        F.col("d.schema_name").alias("schema_name"),
        F.col("d.table_name").alias("table_name"),
        F.col("d.column_count").cast("long").alias("column_count"),
        F.array_join(F.col("d.null_bits"), ",").alias("null_bits_csv"),
    ).orderBy("doc_id"))


def q_bl_source_type_stats(spark, sf_dir):
    return agg.source_type_stats(_fixture_df(spark)).select(
        "source", "sink", "n",
        F.col("sum_tok").cast("long").alias("sum_tok"),
        F.col("min_tok").cast("long").alias("min_tok"),
        F.col("max_tok").cast("long").alias("max_tok"),
        "avg_tok",
    )


def q_bl_desc_report(spark, sf_dir):
    df = _fixture_df(spark)
    # decoded rows only: a structurally-valid but undecodable FD (len<81)
    # must not win the first-FD window; the oracle mirrors with n_tok>=81
    fd = _decoded(spark, "FORMAT_DESC").filter(
        F.col("d.parse_error").isNull()).select(
        "source", "log_pos",
        F.col("d.binlog_version").cast("long").alias("binlog_version"),
        F.col("d.mysql_server_version").alias("mysql_server_version"),
        F.col("d.create_timestamp").alias("create_timestamp"))
    return agg.desc_report(df, fd)


def q_bl_enrich_dim(spark, sf_dir):
    """The table-map broadcast dimension itself (enrich stage output),
    built by the pipeline's own route projection + dictionary builder."""
    dim = enrich.table_map_dim(route.routed_rows(spark.read.parquet(FIXTURE)))
    return dim.select(
        "source", "table_id", "schema_name", "table_name",
        F.col("column_count").cast("long").alias("column_count"),
        F.size("columns_type").cast("long").alias("n_column_defs"),
    ).orderBy("source", "table_id")


def q_bl_transactions(spark, sf_dir):
    """Batch transaction assembly (GTID→XID per source) via window
    functions — the batch twin of streaming.transaction_assembler."""
    from pyspark.sql import Window

    h = _fixture_df(spark).select("source", "log_pos", "sink")
    w = (Window.partitionBy("source").orderBy("log_pos")
         .rowsBetween(Window.unboundedPreceding, 0))
    m = h.withColumn(
        "gtid_log_pos",
        F.max(F.when(F.col("sink").isin("GTID", "ANON_GTID"),
                     F.col("log_pos"))).over(w))
    m = m.filter(F.col("gtid_log_pos").isNotNull())
    x = (m.groupBy("source", "gtid_log_pos")
         .agg(F.min(F.when(F.col("sink") == "XID", F.col("log_pos")))
              .alias("xid_log_pos"))
         .filter(F.col("xid_log_pos").isNotNull()))
    return (m.join(x, ["source", "gtid_log_pos"])
            .filter((F.col("log_pos") >= F.col("gtid_log_pos"))
                    & (F.col("log_pos") <= F.col("xid_log_pos")))
            .groupBy("source", "gtid_log_pos", "xid_log_pos")
            .agg(F.count("*").cast("int").alias("n_events"))
            .orderBy("source", "gtid_log_pos"))


# --- events-table analogs ---------------------------------------------------

def q_ev_type_counts(spark, sf_dir):
    return (_tbl(spark, sf_dir, "events").groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
                 .cast("double").alias("sum_value"))
            .orderBy("event_type"))


def q_ev_minute_rollup(spark, sf_dir):
    return (_tbl(spark, sf_dir, "events")
            .withColumn("minute_epoch",
                        F.unix_timestamp(F.date_trunc("minute", "ts")))
            .groupBy("minute_epoch", "event_type")
            .agg(F.count("*").alias("n"))
            .orderBy("minute_epoch", "event_type"))


def q_ev_top_users(spark, sf_dir):
    return (_tbl(spark, sf_dir, "events").groupBy("user_id")
            .agg(F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
                 .cast("double").alias("total_value"),
                 F.count("*").alias("n"))
            .orderBy(F.col("total_value").desc(), F.col("user_id"))
            .limit(20))


def q_ev_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) per user — the
    stateful-stream analog expressed with batch window functions."""
    from pyspark.sql import Window

    ev = _tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    s = ev.withColumn("new_sess",
                      F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    return (s.groupBy("user_id")
            .agg(F.sum("new_sess").alias("n_sessions"),
                 F.count("*").alias("n_events"))
            .orderBy("user_id"))


# --- TPC-H-ish engine capability checks -------------------------------------

def q_tpch_pricing(spark, sf_dir):
    li = _tbl(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(d("l_extendedprice")).cast("double").alias("sum_base_price"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def q_tpch_top_customers(spark, sf_dir):
    o = _tbl(spark, sf_dir, "orders")
    cu = _tbl(spark, sf_dir, "customer")
    return (o.join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
            .groupBy("c_custkey", "c_name")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("double").alias("total_spend"),
                 F.count("*").alias("n_orders"))
            .orderBy(F.col("total_spend").desc(), "c_custkey").limit(10))


def q_tpch_region_revenue(spark, sf_dir):
    li = _tbl(spark, sf_dir, "lineitem")
    o = _tbl(spark, sf_dir, "orders")
    cu = _tbl(spark, sf_dir, "customer")
    na = _tbl(spark, sf_dir, "nation")
    re = _tbl(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
            .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
            .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
            .groupBy("r_name")
            .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"),
                 F.count("*").alias("n_items"))
            .orderBy("r_name"))


# --- training-data ops -------------------------------------------------------

def q_doc_exact_dedup(spark, sf_dir):
    return textops.exact_dedup(_tbl(spark, sf_dir, "documents"),
                               ordered=True)


def q_doc_token_stats(spark, sf_dir):
    return textops.token_stats(_tbl(spark, sf_dir, "documents"),
                               ordered=True).select(
        "doc_id",
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_word_tokens").cast("long").alias("n_word_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("n_chars_calc").cast("long").alias("n_chars_calc"))


def q_doc_quality(spark, sf_dir):
    return textops.quality(_tbl(spark, sf_dir, "documents"),
                           ordered=True).select(
        "doc_id", F.col("n_chars_calc").cast("long").alias("n_chars_calc"),
        "punct_ratio", "stopword_ratio", "distinct_token_ratio")


def q_doc_langid(spark, sf_dir):
    return textops.langid(_tbl(spark, sf_dir, "documents"), ordered=True)


def q_doc_fingerprint(spark, sf_dir):
    return textops.fingerprint(_tbl(spark, sf_dir, "documents"),
                               ordered=True)


def q_doc_simhash(spark, sf_dir):
    return textops.simhash(_tbl(spark, sf_dir, "documents"), ordered=True)


def q_doc_minhash_sig(spark, sf_dir):
    return textops.minhash_signature(_tbl(spark, sf_dir, "documents"),
                                     ordered=True)


def q_doc_neardup_minhash(spark, sf_dir):
    return textops.minhash_lsh_pairs(_tbl(spark, sf_dir, "documents"), 0.5,
                                     ordered=True)


def q_doc_neardup_clusters(spark, sf_dir):
    return textops.minhash_lsh_clusters(_tbl(spark, sf_dir, "documents"),
                                        0.5, ordered=True)


def q_doc_neardup_jaccard(spark, sf_dir):
    return textops.ngram_jaccard_pairs(_tbl(spark, sf_dir, "documents"),
                                       0.6, ordered=True)


def q_emb_cosine_topk(spark, sf_dir):
    return vecops.cosine_topk(_tbl(spark, sf_dir, "embeddings"), 5, 10,
                              ordered=True)


def q_emb_lsh_ann(spark, sf_dir):
    return vecops.signbit_lsh_ann(_tbl(spark, sf_dir, "embeddings"),
                                  bits=6, k=3, bands=3, max_bucket=64,
                                  ordered=True)


def q_emb_ivf_ann(spark, sf_dir):
    return vecops.ivf_ann(_tbl(spark, sf_dir, "embeddings"), 8, 3, 20,
                          ordered=True)


def q_emb_ivf_recall(spark, sf_dir):
    return vecops.ivf_recall(_tbl(spark, sf_dir, "embeddings"), 8, 3, 20, 2,
                             ordered=True)


def q_emb_neardup(spark, sf_dir):
    return vecops.cosine_neardup_pairs(_tbl(spark, sf_dir, "embeddings"),
                                       0.35, bits=6, bands=3, max_bucket=64,
                                       ordered=True)


# --- non-SQL-expressible (rows-only driver check) ----------------------------

def q_bl_rows_decode(spark, sf_dir):
    """Row-image cell decode, flattened to one row per cell, over BOTH the
    reference fixture rows events (extra_data always the ==2 empty case)
    and the synthetic rare-table WriteRows whose extra_data blocks exercise
    every ExtraDataFormat (rows.rs:48-79 NDB/OPEN1/OPEN2/MULTI + a
    two-entry many1 case the reference fixtures never hit). The oracle
    re-walks the payloads with a recursive CTE over hardcoded table
    layouts and rebuilds the extra_data JSON from the raw bytes (the
    Spark side derives layouts from TABLE_MAP enrich — the general path);
    pytest additionally holds byte-exact field goldens."""
    def branches(raw, sinks):
        df = parse.with_header(raw)
        dim = enrich.table_map_dim(route.routed_rows(raw))
        outs = []
        for sink, n_images in sinks:
            sub = df.filter(F.col("sink") == sink).withColumn(
                "table_id", layout.u48le(F.col("tokens"), 19))
            joined = enrich.enrich_rows_events(sub, dim)
            dec = joined.withColumn(
                "d", parse.make_rows_udf(n_images)(F.col("tokens"),
                                                   F.col("columns_type")))
            outs.append(dec.select(
                "doc_id", F.lit(sink).alias("sink"),
                F.col("d.table_id").alias("table_id"),
                F.col("d.column_count").alias("column_count"),
                F.col("d.extra_data").alias("extra_data"),
                F.posexplode(F.col("d.rows")).alias("image_idx", "cells")))
        return outs
    outs = branches(
        spark.read.parquet(FIXTURE),
        (("WRITE_ROWS_V2", 1), ("UPDATE_ROWS_V2", 2), ("DELETE_ROWS_V2", 1)))
    outs += branches(spark.read.parquet(RARE), (("WRITE_ROWS_V2", 1),))
    u = outs[0]
    for x in outs[1:]:
        u = u.unionByName(x)
    return (u.select(
        "doc_id", "sink", "table_id", "column_count", "extra_data",
        "image_idx", F.posexplode("cells").alias("col_idx", "cell"))
        .select("doc_id", "sink", "table_id", "column_count", "extra_data",
                "image_idx",
                "col_idx", F.col("cell.kind").alias("kind"),
                F.array_join(F.col("cell.bytes"), ",").alias("bytes_csv"),
                F.col("cell.num_val").alias("num_val"))
        .orderBy("doc_id", "image_idx", "col_idx"))


# --- rare-event suite (committed synthetic table, tools/fixture_gen) -------

def q_bl_rare_file_ops(spark, sf_dir):
    """CreateFile/AppendBlock (parse_file_data) + ExecLoad/DeleteFile
    (u16 file_id) — mod.rs:663-718 — over the synthetic rare-event table,
    plus BeginLoadQuery (parse_file_data body, mod.rs:896-907) over the
    reference fixture: all five file-op decoders in one oracle row."""
    outs = []
    for sink in ("CREATE_FILE", "APPEND_BLOCK"):
        outs.append(_rare_decoded(spark, sink).select(
            "doc_id", F.lit(sink).alias("sink"),
            F.col("d.file_id").cast("long").alias("file_id"),
            F.col("d.block_data").alias("block_data")))
    for sink in ("EXEC_LOAD", "DELETE_FILE"):
        outs.append(_rare_decoded(spark, sink).select(
            "doc_id", F.lit(sink).alias("sink"),
            F.col("d.file_id").cast("long").alias("file_id"),
            F.lit(None).cast("string").alias("block_data")))
    outs.append(_decoded(spark, "BEGIN_LOAD_QUERY").select(
        "doc_id", F.lit("BEGIN_LOAD_QUERY").alias("sink"),
        F.col("d.file_id").alias("file_id"),
        F.col("d.block_data").alias("block_data")))
    u = outs[0]
    for x in outs[1:]:
        u = u.unionByName(x)
    return u.orderBy("sink", "doc_id")


def q_bl_rare_incident(spark, sf_dir):
    return (_rare_decoded(spark, "INCIDENT").select(
        "doc_id", F.col("d.d_type").alias("d_type"),
        F.col("d.message_length").alias("message_length"),
        F.col("d.message").alias("message")).orderBy("doc_id"))


_OPT_FLAG_T = T.StructType([
    T.StructField("dump_file", T.BooleanType()),
    T.StructField("opt_enclosed", T.BooleanType()),
    T.StructField("replace", T.BooleanType()),
    T.StructField("ignore", T.BooleanType()),
])
_EMPTY_FLAG_T = T.StructType([
    T.StructField("field_term_empty", T.BooleanType()),
    T.StructField("enclosed_empty", T.BooleanType()),
    T.StructField("line_term_empty", T.BooleanType()),
    T.StructField("line_start_empty", T.BooleanType()),
    T.StructField("escape_empty", T.BooleanType()),
])


def q_bl_rare_load(spark, sf_dir):
    """Load event (mod.rs:596-656) incl. the opt/empty flag bitsets and the
    reference's quirky file-name length formula."""
    d = _rare_decoded(spark, "LOAD")
    opt = F.from_json(F.col("d.opt_flags"), _OPT_FLAG_T)
    emp = F.from_json(F.col("d.empty_flags"), _EMPTY_FLAG_T)
    return d.select(
        "doc_id",
        F.col("d.thread_id").alias("thread_id"),
        F.col("d.execution_time").alias("execution_time"),
        F.col("d.skip_lines").alias("skip_lines"),
        F.col("d.num_fields").alias("num_fields"),
        F.col("d.field_term").alias("field_term"),
        F.col("d.enclosed_by").alias("enclosed_by"),
        F.col("d.line_term").alias("line_term"),
        F.col("d.line_start").alias("line_start"),
        F.col("d.escaped_by").alias("escaped_by"),
        opt["dump_file"].cast("int").alias("f_dump_file"),
        opt["opt_enclosed"].cast("int").alias("f_opt_enclosed"),
        opt["replace"].cast("int").alias("f_replace"),
        opt["ignore"].cast("int").alias("f_ignore"),
        emp["field_term_empty"].cast("int").alias("e_field_term"),
        emp["escape_empty"].cast("int").alias("e_escape"),
        F.array_join(F.col("d.field_names"), ",").alias("field_names"),
        F.col("d.table_name").alias("table_name"),
        F.col("d.schema_name").alias("schema_name"),
        F.col("d.file_name").alias("file_name"),
    ).orderBy("doc_id")


def q_bl_rare_new_load(spark, sf_dir):
    """NewLoad event (mod.rs:725-771): length-prefixed separator strings."""
    d = _rare_decoded(spark, "NEW_LOAD")
    return d.select(
        "doc_id",
        F.col("d.thread_id").alias("thread_id"),
        F.col("d.num_fields").alias("num_fields"),
        F.col("d.field_term").alias("field_term"),
        F.col("d.enclosed_by").alias("enclosed_by"),
        F.col("d.line_term").alias("line_term"),
        F.col("d.line_start").alias("line_start"),
        F.col("d.escaped_by").alias("escaped_by"),
        F.array_join(F.col("d.field_names"), ",").alias("field_names"),
        F.col("d.table_name").alias("table_name"),
        F.col("d.schema_name").alias("schema_name"),
        F.col("d.file_name").alias("file_name"),
    ).orderBy("doc_id")


def q_bl_rare_user_var(spark, sf_dir):
    """NULL user-var variant (mod.rs:802-819): is_null short-circuits."""
    return (_rare_decoded(spark, "USER_VAR").select(
        "doc_id",
        F.col("d.name_length").alias("name_length"),
        F.col("d.name").alias("name"),
        F.col("d.is_null").cast("int").alias("is_null"),
        F.col("d.d_type").alias("d_type")).orderBy("doc_id"))


def q_bl_prev_gtids(spark, sf_dir):
    """PreviousGtids (mod.rs:1164-1177): raw gtid_sets bytes + u32 tail."""
    return (_decoded(spark, "PREV_GTIDS").select(
        "doc_id",
        F.array_join(F.col("d.gtid_sets"), ",").alias("gtid_sets_csv"),
        F.col("d.buf_size").alias("buf_size")).orderBy("doc_id"))


def q_bl_exec_load_query(spark, sf_dir):
    """ExecuteLoadQuery (mod.rs:909-964) over the reference fixture."""
    return (_decoded(spark, "EXEC_LOAD_QUERY").select(
        "doc_id",
        F.col("d.thread_id").alias("thread_id"),
        F.col("d.execution_time").alias("execution_time"),
        F.col("d.schema_length").cast("long").alias("schema_length"),
        F.col("d.error_code").cast("long").alias("error_code"),
        F.col("d.status_vars_length").cast("long").alias("status_vars_length"),
        F.col("d.file_id").alias("file_id"),
        F.col("d.start_pos").alias("start_pos"),
        F.col("d.end_pos").alias("end_pos"),
        F.col("d.dup_handling_flags").alias("dup_handling_flags"),
        F.col("d.schema").alias("schema_name"),
        F.col("d.query").alias("query")).orderBy("doc_id"))


def q_multimodal_features(spark, sf_dir):
    from binlogpipe import multimodal

    return multimodal.feature_extract(
        multimodal.synth_media_df(_tbl(spark, sf_dir, "documents")),
        ordered=True)


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse→route→aggregate per-sink counts on the fixture
    input (BASELINE.md §2 golden)."""
    return agg.sink_counts(_fixture_df(spark))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "bl_sink_counts": q_bl_sink_counts,
        "bl_header_decode": q_bl_header_decode,
        "bl_validate": q_bl_validate,
        "bl_xid": q_bl_xid,
        "bl_rotate": q_bl_rotate,
        "bl_intvar": q_bl_intvar,
        "bl_rand": q_bl_rand,
        "bl_gtid": q_bl_gtid,
        "bl_rows_query": q_bl_rows_query,
        "bl_query": q_bl_query,
        "bl_status_vars": q_bl_status_vars,
        "bl_format_desc": q_bl_format_desc,
        "bl_user_var": q_bl_user_var,
        "bl_tablemap": q_bl_tablemap,
        "bl_enrich_dim": q_bl_enrich_dim,
        "bl_source_type_stats": q_bl_source_type_stats,
        "bl_desc_report": q_bl_desc_report,
        "bl_transactions": q_bl_transactions,
        "bl_rows_decode": q_bl_rows_decode,
        "ev_type_counts": q_ev_type_counts,
        "ev_minute_rollup": q_ev_minute_rollup,
        "ev_top_users": q_ev_top_users,
        "ev_sessionize": q_ev_sessionize,
        "tpch_pricing": q_tpch_pricing,
        "tpch_top_customers": q_tpch_top_customers,
        "tpch_region_revenue": q_tpch_region_revenue,
        "doc_exact_dedup": q_doc_exact_dedup,
        "doc_token_stats": q_doc_token_stats,
        "doc_quality": q_doc_quality,
        "doc_langid": q_doc_langid,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_simhash": q_doc_simhash,
        "doc_minhash_sig": q_doc_minhash_sig,
        "doc_neardup_minhash": q_doc_neardup_minhash,
        "doc_neardup_clusters": q_doc_neardup_clusters,
        "doc_neardup_jaccard": q_doc_neardup_jaccard,
        "emb_cosine_topk": q_emb_cosine_topk,
        "emb_lsh_ann": q_emb_lsh_ann,
        "emb_ivf_ann": q_emb_ivf_ann,
        "emb_ivf_recall": q_emb_ivf_recall,
        "emb_neardup": q_emb_neardup,
        "bl_stream_counts": q_bl_stream_counts,
        "bl_rare_file_ops": q_bl_rare_file_ops,
        "bl_rare_incident": q_bl_rare_incident,
        "bl_rare_load": q_bl_rare_load,
        "bl_rare_new_load": q_bl_rare_new_load,
        "bl_rare_user_var": q_bl_rare_user_var,
        "bl_exec_load_query": q_bl_exec_load_query,
        "bl_prev_gtids": q_bl_prev_gtids,
        "multimodal_features": q_multimodal_features,
    }


def oracle_sql() -> dict[str, str]:
    sink = _sink_case_sql()
    out: dict[str, str] = {}

    out["bl_sink_counts"] = (
        f"SELECT * FROM ("
        f"SELECT 'fixture' AS tbl, {sink} AS sink, count(*) AS n FROM {FX} "
        f"GROUP BY 2 "
        f"UNION ALL "
        f"SELECT 'rare' AS tbl, {sink} AS sink, count(*) AS n FROM {RFX} "
        f"GROUP BY 2"
        f") ORDER BY tbl, sink"
    )

    # the stream drains the whole fixture table (AvailableNow), so its
    # per-sink typed-output counts must equal the batch dispatch counts
    out["bl_stream_counts"] = (
        f"SELECT {sink} AS sink, count(*) AS n FROM {FX} "
        f"GROUP BY 1 ORDER BY sink"
    )

    flag_names = ["in_use", "forced_rotate", "thread_specific", "suppress_use",
                  "update_table_map_version", "artificial", "relay_log",
                  "ignorable", "no_filter", "mts_isolate"]
    flag_cols = ", ".join(
        f"(({_u(17, 2)} // {1 << i}) % 2)::INT AS flag_{n}"
        for i, n in enumerate(flag_names))
    out["bl_header_decode"] = (
        f"SELECT doc_id, {_u(0, 4)} AS ts_field, tokens[5]::BIGINT AS event_type, "
        f"{_u(5, 4)} AS server_id, {_u(9, 4)} AS event_size, "
        f"{_u(13, 4)} AS log_pos, {_u(17, 2)} AS flags, "
        f"(tokens[n_tok-3]::BIGINT + tokens[n_tok-2]::BIGINT*256 + "
        f"tokens[n_tok-1]::BIGINT*65536 + tokens[n_tok]::BIGINT*16777216) "
        f"AS checksum, {flag_cols} FROM {FX} ORDER BY doc_id"
    )

    # NB: each sum() is cast to BIGINT *outside* the aggregate — DuckDB's
    # sum(BIGINT) yields HUGEINT, and the driver hashes typed values.
    out["bl_validate"] = (
        f"SELECT count(*) AS n_total, "
        f"sum((len(tokens)::BIGINT = {_u(9, 4)} AND "
        f"n_tok::BIGINT = len(tokens)::BIGINT)::BIGINT)::BIGINT "
        f"AS n_valid_size, "
        f"sum((tokens[1]=254 AND tokens[2]=98 AND tokens[3]=105 AND "
        f"tokens[4]=110)::BIGINT)::BIGINT AS n_magic, "
        f"sum(({sink} != 'QUARANTINE')::BIGINT)::BIGINT AS n_routed FROM {FX}"
    )

    out["bl_xid"] = (
        f"SELECT doc_id, {_u(19, 8)} AS xid FROM {FX} "
        f"WHERE {_VALID} AND tokens[5] = 16 ORDER BY doc_id"
    )

    out["bl_rotate"] = (
        f"SELECT doc_id, {_u(19, 8)} AS position, "
        f"{_chrcat('28', 'n_tok - 4')} AS next_binlog FROM {FX} "
        f"WHERE {_VALID} AND tokens[5] = 4 ORDER BY doc_id"
    )

    out["bl_intvar"] = (
        f"SELECT doc_id, CASE tokens[20] WHEN 0 THEN 'InvalidIntEvent' "
        f"WHEN 1 THEN 'LastInsertIdEvent' WHEN 2 THEN 'InsertIdEvent' END "
        f"AS e_type, {_u(20, 8)} AS value FROM {FX} "
        f"WHERE {_VALID} AND tokens[5] = 5 ORDER BY doc_id"
    )

    out["bl_rand"] = (
        f"SELECT doc_id, {_u(19, 8)} AS seed1, {_u(27, 8)} AS seed2 "
        f"FROM {FX} WHERE {_VALID} AND tokens[5] = 13 ORDER BY doc_id"
    )

    dec_concat = ("array_to_string(list_transform(tokens[{a}:{b}], "
                  "x -> x::VARCHAR), '')")
    src_groups = [(21, 24), (25, 26), (27, 28), (29, 30), (31, 36)]
    src_id = " || '-' || ".join(dec_concat.format(a=a, b=b) for a, b in src_groups)
    out["bl_gtid"] = (
        f"SELECT doc_id, CASE tokens[5] WHEN 33 THEN 'GTID' ELSE 'ANON_GTID' "
        f"END AS sink, (tokens[20] = 0)::INT AS rbr_only, "
        f"{src_id} AS source_id, {dec_concat.format(a=37, b=44)} AS "
        f"transaction_id, tokens[45]::BIGINT AS ts_type, "
        f"{_u(45, 8)} AS last_committed, {_u(53, 8)} AS sequence_number "
        f"FROM {FX} WHERE {_VALID} AND tokens[5] IN (33, 34) ORDER BY doc_id"
    )

    rq_text = _chrcat("21", "20 + tokens[20]")
    out["bl_rows_query"] = (
        f"SELECT doc_id, tokens[20]::BIGINT AS length, {rq_text} AS query_text, "
        f"{_stmt_kind_sql(rq_text)} AS statement_kind FROM {FX} "
        f"WHERE {_VALID} AND tokens[5] = 29 ORDER BY doc_id"
    )

    # Query: svl = u16 @ offset 30 (0-based 11+19); schema at 19+13+svl
    svl = _u(30, 2)
    schema_len = "tokens[28]::BIGINT"
    schema_start = f"(33 + {svl})"  # 1-indexed start of schema
    q_start = f"({schema_start} + {schema_len} + 1)"
    q_text = _extract_string_sql(q_start, "n_tok - 4")
    out["bl_query"] = (
        f"SELECT doc_id, {_u(19, 4)} AS slave_proxy_id, "
        f"{_u(23, 4)} AS execution_time, {schema_len} AS schema_length, "
        f"{_u(28, 2)} AS error_code, {svl} AS status_vars_length, "
        f"{_chrcat(schema_start, f'{schema_start} + {schema_len} - 1')} AS "
        f"schema_name, {q_text} AS query, {_stmt_kind_sql(q_text)} AS "
        f"statement_kind FROM {FX} WHERE {_VALID} AND tokens[5] = 2 ORDER BY doc_id"
    )

    # status-vars block: a variable-width key/value walk (query.rs:75-177)
    # re-implemented as a recursive CTE over the raw tokens. Each step
    # consumes one entry (or one NUL-terminated name of Q_UPDATED_DB_NAMES,
    # key 12 -> pseudo-key 112) and advances by the key's width. SQL_MODE
    # reads 6 of its 8 bytes (bits used are <= 30; 8-byte math would
    # overflow BIGINT on adversarial high bytes).
    def _uvar(nbytes: int) -> str:
        return "(" + " + ".join(
            f"tokens[vpos+{k}]::BIGINT * {1 << (8 * k)}" for k in range(nbytes)
        ) + ")"

    _sv_u32, _sv_u48 = _uvar(4), _uvar(6)
    _sv_u16 = lambda k: (f"(tokens[vpos+{k}]::BIGINT + "
                         f"tokens[vpos+{k + 1}]::BIGINT * 256)")  # noqa: E731
    out["bl_status_vars"] = f"""
WITH RECURSIVE q AS (
  SELECT doc_id, tokens, {_u(30, 2)} AS svl FROM {FX} WHERE {_VALID} AND tokens[5] = 2
),
walk AS (
  SELECT doc_id, tokens, 33::BIGINT AS pos, (33 + svl)::BIGINT AS end_pos,
         0::BIGINT AS names_left, CAST(NULL AS INTEGER) AS key,
         CAST(NULL AS BIGINT) AS vpos, CAST(NULL AS BIGINT) AS vlen
  FROM q
  UNION ALL
  SELECT doc_id, tokens,
    pos + CASE WHEN names_left > 0
               THEN list_position(tokens[pos:end_pos-1], 0)::BIGINT
               ELSE CASE tokens[pos]
                 WHEN 0 THEN 5 WHEN 1 THEN 9
                 WHEN 2 THEN 3 + tokens[pos+1]
                 WHEN 3 THEN 5 WHEN 4 THEN 7
                 WHEN 5 THEN 2 + tokens[pos+1]
                 WHEN 6 THEN 2 + tokens[pos+1]
                 WHEN 7 THEN 3 WHEN 8 THEN 3
                 WHEN 9 THEN 9 WHEN 10 THEN 5
                 WHEN 11 THEN 3 + tokens[pos+1] + tokens[pos + 2 + tokens[pos+1]]
                 WHEN 12 THEN 2 WHEN 13 THEN 5 END
          END AS pos,
    end_pos,
    CASE WHEN names_left > 0 THEN names_left - 1
         WHEN tokens[pos] = 12 THEN tokens[pos+1]::BIGINT
         ELSE 0 END AS names_left,
    CASE WHEN names_left > 0 THEN 112 ELSE tokens[pos]::INTEGER END AS key,
    CASE WHEN names_left > 0 THEN pos ELSE pos + 1 END AS vpos,
    CASE WHEN names_left > 0
         THEN list_position(tokens[pos:end_pos-1], 0)::BIGINT - 1
         ELSE NULL END AS vlen
  FROM walk WHERE pos < end_pos
)
SELECT doc_id,
  (count(*) FILTER (key != 112))::INTEGER AS n_vars,
  max(CASE WHEN key=0 THEN (({_sv_u32} >> 14) & 1)::INTEGER END) AS f2_auto_is_null,
  max(CASE WHEN key=0 THEN (1 - (({_sv_u32} >> 19) & 1))::INTEGER END) AS f2_auto_commit,
  max(CASE WHEN key=0 THEN (1 - (({_sv_u32} >> 26) & 1))::INTEGER END) AS f2_fk_checks,
  max(CASE WHEN key=0 THEN (1 - (({_sv_u32} >> 27) & 1))::INTEGER END) AS f2_unique_checks,
  max(CASE WHEN key=1 THEN (({_sv_u48} >> 5) & 1)::INTEGER END) AS sm_only_full_group_by,
  max(CASE WHEN key=1 THEN (({_sv_u48} >> 21) & 1)::INTEGER END) AS sm_strict_trans_tables,
  max(CASE WHEN key=1 THEN (({_sv_u48} >> 30) & 1)::INTEGER END) AS sm_no_engine_subst,
  max(CASE WHEN key=4 THEN {_sv_u16(0)} END) AS cs_client,
  max(CASE WHEN key=4 THEN {_sv_u16(2)} END) AS cs_conn,
  max(CASE WHEN key=4 THEN {_sv_u16(4)} END) AS cs_server,
  max(CASE WHEN key=6 THEN {_extract_string_sql('vpos+1', 'vpos+tokens[vpos]')} END) AS catalog_nz,
  string_agg(CASE WHEN key=112 THEN
    array_to_string(list_transform(tokens[vpos:vpos+vlen-1], x -> chr(x)), '')
  END, ',' ORDER BY vpos) AS updated_dbs
FROM walk WHERE key IS NOT NULL
GROUP BY doc_id ORDER BY doc_id
"""

    out["bl_format_desc"] = (
        f"SELECT doc_id, {_u(19, 2)} AS binlog_version, "
        f"{_extract_string_sql('22', '71')} AS mysql_server_version, "
        f"{_u(71, 4)} AS create_timestamp, tokens[76]::BIGINT AS "
        f"event_header_length, tokens[n_tok - 4]::BIGINT AS checksum_alg "
        f"FROM {FX} WHERE {_VALID} AND tokens[5] = 15 ORDER BY doc_id"
    )

    # UserVar: name_len u32 @19; conditional tail
    nl = _u(19, 4)
    out["bl_user_var"] = (
        f"SELECT doc_id, {_chrcat('24', f'23 + {nl}')} AS name, "
        f"(tokens[24 + {nl}] = 1)::INT AS is_null, "
        f"CASE WHEN tokens[24 + {nl}] = 1 THEN NULL ELSE "
        f"(CASE tokens[25 + {nl}] WHEN 0 THEN 'STRING' WHEN 1 THEN 'REAL' "
        f"WHEN 2 THEN 'INT' WHEN 3 THEN 'ROW' WHEN 4 THEN 'DECIMAL' "
        f"WHEN 5 THEN 'VALUE_TYPE_COUNT' ELSE 'Unknown' END) END AS d_type, "
        f"CASE WHEN tokens[24 + {nl}] = 1 THEN NULL ELSE "
        f"(tokens[26 + {nl}]::BIGINT + tokens[27 + {nl}]::BIGINT*256 + "
        f"tokens[28 + {nl}]::BIGINT*65536 + tokens[29 + {nl}]::BIGINT*16777216) "
        f"END AS charset, "
        f"CASE WHEN tokens[24 + {nl}] = 1 THEN NULL ELSE array_to_string("
        f"tokens[(34 + {nl})::INT : (33 + {nl} + tokens[30 + {nl}]::BIGINT + "
        f"tokens[31 + {nl}]::BIGINT*256 + tokens[32 + {nl}]::BIGINT*65536 + "
        f"tokens[33 + {nl}]::BIGINT*16777216)::INT], ',') END AS value_csv "
        f"FROM {FX} WHERE {_VALID} AND tokens[5] = 14 ORDER BY doc_id"
    )

    # TableMap (fixtures: lenenc column_count < 0xfb -> 1 byte; null_bits
    # length = (cc+7)/8)
    sl = "tokens[28]::BIGINT"  # schema_length @ 0-based 27
    tno = f"(30 + {sl})"       # 1-indexed pos of table_name_length byte
    tnl = f"tokens[{tno}]::BIGINT"
    cco = f"({tno} + 1 + {tnl} + 1)"  # 1-indexed pos of lenenc column_count
    cc = f"tokens[{cco}]::BIGINT"
    out["bl_tablemap"] = (
        f"SELECT doc_id, {_u(19, 6)} AS table_id, "
        f"{_chrcat('29', f'28 + {sl}')} AS schema_name, "
        f"{_chrcat(f'{tno} + 1', f'{tno} + {tnl}')} AS table_name, "
        f"{cc} AS column_count, "
        f"array_to_string(tokens[(n_tok - 4 - ((({cc}) + 7) // 8) + 1)::INT : "
        f"(n_tok - 4)::INT], ',') AS null_bits_csv "
        f"FROM {FX} WHERE {_VALID} AND tokens[5] = 19 ORDER BY doc_id"
    )

    out["bl_source_type_stats"] = (
        f"SELECT source, {sink} AS sink, count(*) AS n, "
        f"sum(n_tok)::BIGINT AS sum_tok, min(n_tok)::BIGINT AS min_tok, "
        f"max(n_tok)::BIGINT AS max_tok, round(avg(n_tok), 4) AS avg_tok "
        f"FROM {FX} GROUP BY 1, 2 ORDER BY source, sink"
    )

    out["bl_desc_report"] = (
        f"WITH t AS (SELECT source, count(*) AS n_events FROM {FX} GROUP BY 1), "
        f"fd AS (SELECT source, {_u(19, 2)} AS binlog_version, "
        f"{_extract_string_sql('22', '71')} AS mysql_server_version, "
        f"{_u(71, 4)} AS create_timestamp, "
        f"row_number() OVER (PARTITION BY source ORDER BY {_u(13, 4)}, "
        f"{_u(19, 2)}, {_extract_string_sql('22', '71')}, {_u(71, 4)}) AS rn "
        f"FROM {FX} WHERE {_VALID} AND tokens[5] = 15 "
        f"AND n_tok::BIGINT >= 81) "
        f"SELECT t.source, t.n_events, fd.binlog_version, "
        f"fd.mysql_server_version, fd.create_timestamp FROM t "
        f"LEFT JOIN fd ON t.source = fd.source AND fd.rn = 1 ORDER BY t.source"
    )

    out["bl_transactions"] = (
        f"WITH h AS (SELECT source, {_u(13, 4)} AS log_pos, {sink} AS sink "
        f"FROM {FX}), "
        f"m AS (SELECT source, log_pos, sink, "
        f"max(CASE WHEN sink IN ('GTID', 'ANON_GTID') THEN log_pos END) "
        f"OVER (PARTITION BY source ORDER BY log_pos "
        f"ROWS UNBOUNDED PRECEDING) AS gtid_log_pos FROM h), "
        f"x AS (SELECT source, gtid_log_pos, "
        f"min(CASE WHEN sink = 'XID' THEN log_pos END) AS xid_log_pos "
        f"FROM m WHERE gtid_log_pos IS NOT NULL GROUP BY 1, 2) "
        f"SELECT m.source, m.gtid_log_pos, x.xid_log_pos, "
        f"count(*)::INT AS n_events "
        f"FROM m JOIN x ON m.source = x.source AND "
        f"m.gtid_log_pos = x.gtid_log_pos "
        f"WHERE x.xid_log_pos IS NOT NULL AND m.log_pos >= m.gtid_log_pos "
        f"AND m.log_pos <= x.xid_log_pos "
        f"GROUP BY 1, 2, 3 ORDER BY 1, 2"
    )

    # --- events analogs ---
    out["ev_type_counts"] = (
        "SELECT event_type, count(*) AS n, "
        "round(sum(CAST(value AS DECIMAL(18,2))), 2)::DOUBLE AS sum_value "
        "FROM events GROUP BY 1 ORDER BY event_type"
    )
    out["ev_minute_rollup"] = (
        "SELECT epoch(date_trunc('minute', ts))::BIGINT AS minute_epoch, "
        "event_type, count(*) AS n FROM events GROUP BY 1, 2 "
        "ORDER BY minute_epoch, event_type"
    )
    out["ev_top_users"] = (
        "SELECT user_id, round(sum(CAST(value AS DECIMAL(18,2))), 2)::DOUBLE "
        "AS total_value, count(*) AS n FROM events GROUP BY 1 "
        "ORDER BY total_value DESC, user_id LIMIT 20"
    )
    out["ev_sessionize"] = (
        "WITH s AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts) IS NULL OR "
        "epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) "
        "> 1800 THEN 1 ELSE 0 END AS new_sess FROM events) "
        "SELECT user_id, sum(new_sess)::BIGINT AS n_sessions, "
        "count(*) AS n_events FROM s GROUP BY 1 ORDER BY user_id"
    )

    # --- TPC-H-ish ---
    out["tpch_pricing"] = (
        "SELECT l_returnflag, l_linestatus, "
        "sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sum_qty, "
        "sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS sum_base_price, "
        "count(*) AS count_order FROM lineitem "
        "WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
        "GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus"
    )
    out["tpch_top_customers"] = (
        "SELECT c_custkey, c_name, "
        "sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS total_spend, "
        "count(*) AS n_orders FROM orders JOIN customer ON o_custkey = c_custkey "
        "GROUP BY 1, 2 ORDER BY total_spend DESC, c_custkey LIMIT 10"
    )
    out["tpch_region_revenue"] = (
        "SELECT r_name, round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2)"
        "::DOUBLE AS revenue, count(*) AS n_items "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY 1 ORDER BY r_name"
    )

    # --- training-data ops ---
    fp = _FP_SQL.format(col="text")
    out["doc_exact_dedup"] = (
        "SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id, "
        "count(*) AS n_copies FROM documents GROUP BY 1 ORDER BY text_hash"
    )
    ws = _WS_TOKS_SQL.format(col="text")
    out["doc_token_stats"] = (
        f"SELECT doc_id, len({ws})::BIGINT AS n_ws_tokens, "
        f"len(regexp_extract_all(text, '[A-Za-z0-9]+'))::BIGINT AS "
        f"n_word_tokens, "
        f"len(regexp_extract_all(text, '{textops.BPE_PATTERN}'))::BIGINT AS "
        f"n_bpe_tokens, length(text)::BIGINT AS n_chars_calc "
        f"FROM documents ORDER BY doc_id"
    )
    out["doc_quality"] = (
        f"SELECT doc_id, length(text)::BIGINT AS n_chars_calc, "
        f"round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / "
        f"greatest(length(text), 1), 6) AS punct_ratio, "
        f"round(len(list_filter({ws}, t -> t IN ({_STOP_SQL})))::DOUBLE / "
        f"greatest(len({ws}), 1), 6) AS stopword_ratio, "
        f"round(len(list_distinct({ws}))::DOUBLE / greatest(len({ws}), 1), 6) "
        f"AS distinct_token_ratio FROM documents ORDER BY doc_id"
    )
    lws = _WS_TOKS_SQL.format(col="lower(text)")
    out["doc_langid"] = (
        f"SELECT doc_id, round(len(list_filter({lws}, t -> t IN "
        f"({_STOP_SQL})))::DOUBLE / greatest(len({lws}), 1), 6) AS en_score, "
        f"CASE WHEN round(len(list_filter({lws}, t -> t IN ({_STOP_SQL})))"
        f"::DOUBLE / greatest(len({lws}), 1), 6) >= 0.05 THEN 'en' "
        f"ELSE 'unknown' END AS lang_pred FROM documents ORDER BY doc_id"
    )
    out["doc_fingerprint"] = (
        f"SELECT doc_id, {fp} AS fingerprint FROM documents ORDER BY doc_id"
    )

    tok_hash_list = (
        "list_transform(" + _WS_TOKS_SQL.format(col="text") + ", w -> "
        "list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w, "
        "''), ch -> ascii(ch)::BIGINT)), (acc, x) -> (acc * 31 + x) % "
        f"{textops.FP_MOD}))"
    )
    bit_sums = ", ".join(
        f"list_reduce(list_prepend(0::BIGINT, list_transform(th, h -> "
        f"CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1::BIGINT ELSE (-1)::BIGINT "
        f"END)), (a, b) -> a + b) AS s{j}"
        for j in range(32)
    )
    sim_assemble = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(32)
    )
    out["doc_simhash"] = (
        f"WITH t AS (SELECT doc_id, {tok_hash_list} AS th FROM documents), "
        f"s AS (SELECT doc_id, {bit_sums} FROM t) "
        f"SELECT doc_id, ({sim_assemble})::BIGINT AS simhash FROM s "
        f"ORDER BY doc_id"
    )

    shingle = _SHINGLE_SQL.format(col="text")
    mh_cols = ", ".join(
        f"list_reduce(list_prepend({textops.MH_PRIME}::BIGINT, "
        f"list_transform(sh, h -> (h * {a} + {b}) % {textops.MH_PRIME})), "
        f"(a_, b_) -> least(a_, b_)) AS mh{j}"
        for j, (a, b) in enumerate(textops.MINHASH_AB)
    )
    out["doc_minhash_sig"] = (
        f"WITH s AS (SELECT doc_id, {shingle} AS sh FROM documents) "
        f"SELECT doc_id, {mh_cols} FROM s ORDER BY doc_id"
    )

    band_rows = []
    for b in range(textops.MINHASH_BANDS):
        cols = [f"mh{b * textops.MINHASH_ROWS + r}::VARCHAR"
                for r in range(textops.MINHASH_ROWS)]
        key = " || '_' || ".join(cols)
        band_rows.append(f"SELECT doc_id, {b} AS band, {key} AS band_key FROM sig")
    bands_sql = " UNION ALL ".join(band_rows)
    # shared LSH prefix with the per-bucket size cap (64, matching
    # textops.minhash_lsh_pairs) applied before the band self-join
    _lsh_prefix = (
        f"WITH s AS (SELECT doc_id, {shingle} AS sh FROM documents), "
        f"sig AS (SELECT doc_id, {mh_cols} FROM s), "
        f"banded0 AS ({bands_sql}), "
        f"keep AS (SELECT band, band_key FROM banded0 GROUP BY band, band_key "
        f"HAVING count(*) <= 64), "
        f"banded AS (SELECT banded0.* FROM banded0 JOIN keep ON "
        f"banded0.band = keep.band AND banded0.band_key = keep.band_key), "
        f"cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b "
        f"FROM banded l JOIN banded r ON l.band = r.band AND "
        f"l.band_key = r.band_key AND l.doc_id < r.doc_id), "
        f"pairs AS (SELECT doc_a, doc_b, "
        f"round(len(list_intersect(a.sh, b.sh))::DOUBLE / "
        f"len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard "
        f"FROM cand JOIN s a ON cand.doc_a = a.doc_id "
        f"JOIN s b ON cand.doc_b = b.doc_id "
        # filter on the ROUNDED value — the Spark side filters after
        # F.round(.., 6), so a raw jaccard in [0.5-5e-7, 0.5) must KEEP
        f"WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE / "
        f"len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5) "
    )
    out["doc_neardup_minhash"] = (
        _lsh_prefix + "SELECT doc_a, doc_b, jaccard FROM pairs "
        "ORDER BY doc_a, doc_b"
    )
    out["doc_neardup_clusters"] = (
        _lsh_prefix +
        ", best AS (SELECT doc_b, min(doc_a) AS rep_min FROM pairs GROUP BY doc_b) "
        "SELECT d.doc_id, coalesce(best.rep_min, d.doc_id) AS rep_id, "
        "(coalesce(best.rep_min, d.doc_id) = d.doc_id)::INTEGER AS is_rep "
        "FROM documents d LEFT JOIN best ON d.doc_id = best.doc_b "
        "ORDER BY d.doc_id"
    )

    out["doc_neardup_jaccard"] = (
        f"WITH s AS (SELECT doc_id, {shingle} AS sh FROM documents), "
        f"inv AS (SELECT doc_id, unnest(sh) AS h FROM s), "
        f"rare AS (SELECT h FROM inv GROUP BY h HAVING count(*) <= "
        f"least(greatest((SELECT floor(0.2 * count(*))::BIGINT "
        f"FROM documents), 2), 64)), "
        f"inv_r AS (SELECT doc_id, inv.h FROM inv JOIN rare ON inv.h = rare.h), "
        f"cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        f"FROM inv_r a JOIN inv_r b ON a.h = b.h AND a.doc_id < b.doc_id) "
        f"SELECT doc_a, doc_b, round(len(list_intersect(x.sh, y.sh))::DOUBLE / "
        f"len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard "
        f"FROM cand JOIN s x ON cand.doc_a = x.doc_id "
        f"JOIN s y ON cand.doc_b = y.doc_id "
        f"WHERE round(len(list_intersect(x.sh, y.sh))::DOUBLE / "
        f"len(list_distinct(list_concat(x.sh, y.sh))), 6) >= 0.6 "
        f"ORDER BY doc_a, doc_b"
    )

    cos = _cos_sql("q.qv", "c.cv")
    out["emb_cosine_topk"] = (
        f"WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM "
        f"embeddings WHERE vec_id < 10), "
        f"c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings), "
        f"scored AS (SELECT query_id, neighbor_id, {cos} AS sim FROM c, q "
        f"WHERE neighbor_id != query_id), "
        f"ranked AS (SELECT query_id, neighbor_id, sim, row_number() OVER "
        f"(PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank "
        f"FROM scored) "
        f"SELECT query_id, rank::BIGINT AS rank, neighbor_id, round(sim, 6) "
        f"AS sim FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"
    )

    # banded sign-bit LSH (bits=6 per band, 3 bands, bucket cap 64) —
    # replicates vecops._banded_candidates exactly: candidates collide in
    # any band whose bucket survived the cap, then exact cosine.
    def _banded_cand_sql(bits: int, bands: int, cap: int, op: str) -> str:
        band_selects = " UNION ALL ".join(
            f"SELECT vec_id, {b} AS band, "
            f"{vecops.plane_bucket_sql('embedding', bits, b, bands)} AS bucket "
            f"FROM embeddings"
            for b in range(bands))
        return (
            f"bk AS ({band_selects}), "
            f"ok AS (SELECT band, bucket FROM bk GROUP BY 1, 2 "
            f"HAVING count(*) <= {cap}), "
            f"bko AS (SELECT bk.vec_id, bk.band, bk.bucket FROM bk "
            f"JOIN ok USING (band, bucket)), "
            f"cand AS (SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b "
            f"FROM bko l JOIN bko r ON l.band = r.band "
            f"AND l.bucket = r.bucket AND l.vec_id {op} r.vec_id)")

    cos_ab = _cos_sql("a.embedding", "b.embedding")
    out["emb_lsh_ann"] = (
        f"WITH {_banded_cand_sql(6, 3, 64, '!=')}, "
        f"scored AS (SELECT cand.vec_a AS query_id, cand.vec_b AS neighbor_id, "
        f"{cos_ab} AS sim FROM cand "
        f"JOIN embeddings a ON cand.vec_a = a.vec_id "
        f"JOIN embeddings b ON cand.vec_b = b.vec_id), "
        f"ranked AS (SELECT query_id, neighbor_id, sim, row_number() OVER "
        f"(PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank "
        f"FROM scored) "
        f"SELECT query_id, rank::BIGINT AS rank, neighbor_id, round(sim, 6) "
        f"AS sim FROM ranked WHERE rank <= 3 ORDER BY query_id, rank"
    )

    # IVF oracle: the SAME deterministic k-means the Spark side trains
    # driver-side (vecops.kmeans_centroids), re-expressed as a chained CTE —
    # one (score, assign, mean, round-6dp) block per iteration. Per-iteration
    # 6 dp rounding makes both engines' summation-order FP noise vanish.
    def _kmeans_cte(n_centroids: int, iters: int, sample: int) -> str:
        cos_xc = _cos_guard_sql("x.ev", "c.cv")
        parts = [
            f"x AS (SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) "
            f"AS ev FROM embeddings WHERE vec_id < {sample})",
            f"c0 AS (SELECT vec_id::INTEGER AS cid, ev AS cv FROM x "
            f"WHERE vec_id < {n_centroids})",
        ]
        for i in range(1, iters + 1):
            p = i - 1
            parts.append(
                f"s{i} AS (SELECT x.vec_id, c.cid, {cos_xc} AS s "
                f"FROM x CROSS JOIN c{p} c)")
            parts.append(
                f"a{i} AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, "
                f"row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) "
                f"AS rn FROM s{i}) WHERE rn = 1)")
            parts.append(
                f"m{i} AS (SELECT a.cid, d.dim, avg(x.ev[d.dim]) AS v "
                f"FROM a{i} a JOIN x ON a.vec_id = x.vec_id "
                f"CROSS JOIN range(1, {vecops.EMB_DIM + 1}) d(dim) "
                f"GROUP BY a.cid, d.dim)")
            parts.append(
                f"c{i} AS (SELECT p.cid, list_transform(coalesce("
                f"(SELECT list(m.v ORDER BY m.dim) FROM m{i} m "
                f"WHERE m.cid = p.cid), p.cv), v -> round(v, 6)) AS cv "
                f"FROM c{p} p)")
        return ", ".join(parts)

    _kc = f"c{vecops.IVF_ITERS}"
    cos_ec = _cos_sql("e.ev", "c.cv")
    cos_qn = _cos_sql("a.qv", "b.cv")
    _ivf_body = (
        "WITH " + _kmeans_cte(8, vecops.IVF_ITERS, vecops.IVF_SAMPLE) +
        f", e2 AS (SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) "
        f"AS ev FROM embeddings), "
        f"assign AS (SELECT vec_id, ev, cid FROM (SELECT e.vec_id, e.ev, "
        f"c.cid, row_number() OVER (PARTITION BY e.vec_id "
        f"ORDER BY {cos_ec} DESC, c.cid ASC) AS rn "
        f"FROM e2 e CROSS JOIN {_kc} c) WHERE rn = 1), "
        f"probes AS (SELECT vec_id AS query_id, ev AS qv, cid FROM ("
        f"SELECT e.vec_id, e.ev, c.cid, row_number() OVER "
        f"(PARTITION BY e.vec_id ORDER BY {cos_ec} DESC, c.cid ASC) AS rn "
        f"FROM e2 e CROSS JOIN {_kc} c WHERE e.vec_id < 20) WHERE rn <= 2), "
        f"b AS (SELECT cid, vec_id AS neighbor_id, ev AS cv FROM assign), "
        f"scored AS (SELECT query_id, neighbor_id, {cos_qn} AS sim "
        f"FROM probes a JOIN b ON a.cid = b.cid AND query_id != neighbor_id), "
        f"ranked AS (SELECT query_id, neighbor_id, sim, row_number() OVER "
        f"(PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank "
        f"FROM scored)"
    )
    out["emb_ivf_ann"] = (
        _ivf_body + " SELECT query_id, rank::BIGINT AS rank, neighbor_id, "
        "round(sim, 6) AS sim FROM ranked WHERE rank <= 3 "
        "ORDER BY query_id, rank"
    )

    cos_exact = _cos_sql("q.qv", "n.nv")
    out["emb_ivf_recall"] = (
        _ivf_body +
        f", q0 AS (SELECT vec_id AS query_id, list_transform(embedding, "
        f"v -> v::DOUBLE) AS qv FROM embeddings WHERE vec_id < 20), "
        f"n0 AS (SELECT vec_id AS neighbor_id, list_transform(embedding, "
        f"v -> v::DOUBLE) AS nv FROM embeddings), "
        f"exact AS (SELECT query_id, neighbor_id FROM (SELECT q.query_id, "
        f"n.neighbor_id, row_number() OVER (PARTITION BY q.query_id "
        f"ORDER BY {cos_exact} DESC, n.neighbor_id ASC) AS rank "
        f"FROM q0 q CROSS JOIN n0 n WHERE n.neighbor_id != q.query_id) "
        f"WHERE rank <= 3), "
        f"hits AS (SELECT e.query_id, count(*)::BIGINT AS n_hits FROM exact e "
        f"JOIN ranked r ON e.query_id = r.query_id AND "
        f"e.neighbor_id = r.neighbor_id AND r.rank <= 3 GROUP BY e.query_id) "
        f"SELECT qq.query_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits, "
        f"round(coalesce(h.n_hits, 0)::DOUBLE / 3.0, 6) AS recall "
        f"FROM (SELECT DISTINCT query_id FROM exact) qq "
        f"LEFT JOIN hits h ON qq.query_id = h.query_id ORDER BY qq.query_id"
    )

    cos_pair = _cos_sql("a.embedding", "b.embedding")
    out["emb_neardup"] = (
        f"WITH {_banded_cand_sql(6, 3, 64, '<')} "
        f"SELECT cand.vec_a, cand.vec_b, round({cos_pair}, 6) AS sim "
        f"FROM cand "
        f"JOIN embeddings a ON cand.vec_a = a.vec_id "
        f"JOIN embeddings b ON cand.vec_b = b.vec_id "
        f"WHERE round({cos_pair}, 6) >= 0.35 ORDER BY vec_a, vec_b"
    )

    # full columns_type struct re-decode (variable-width lenenc + per-type
    # metadata) is pytest-golden; the oracle checks the identity fields and
    # per-(source, table_id) dedup semantics.
    out["bl_enrich_dim"] = (
        f"WITH tm AS (SELECT source, {_u(13, 4)} AS log_pos, "
        f"{_u(19, 6)} AS table_id, {_chrcat('29', f'28 + {sl}')} AS "
        f"schema_name, {_chrcat(f'{tno} + 1', f'{tno} + {tnl}')} AS table_name, "
        f"{cc} AS column_count FROM {FX} WHERE {_VALID} AND tokens[5] = 19), "
        f"dedup AS (SELECT *, row_number() OVER (PARTITION BY source, table_id "
        f"ORDER BY log_pos DESC, schema_name, table_name, column_count) "
        f"AS rn FROM tm) "
        f"SELECT source, table_id, schema_name, table_name, column_count, "
        f"column_count AS n_column_defs FROM dedup WHERE rn = 1 "
        f"ORDER BY source, table_id"
    )

    # ---- rare-event suite (committed synthetic table) ----
    out["bl_rare_file_ops"] = (
        f"SELECT doc_id, "
        f"CASE tokens[5] WHEN 8 THEN 'CREATE_FILE' WHEN 9 THEN 'APPEND_BLOCK' "
        f"WHEN 10 THEN 'EXEC_LOAD' ELSE 'DELETE_FILE' END AS sink, "
        f"CASE WHEN tokens[5] IN (8, 9) THEN {_u(19, 4)} ELSE {_u(19, 2)} END "
        f"AS file_id, "
        f"CASE WHEN tokens[5] IN (8, 9) THEN "
        f"{_extract_string_sql('24', 'n_tok - 4')} END AS block_data "
        f"FROM {RFX} WHERE {_VALID} AND tokens[5] IN (8, 9, 10, 11) "
        f"UNION ALL "
        f"SELECT doc_id, 'BEGIN_LOAD_QUERY' AS sink, {_u(19, 4)} AS file_id, "
        f"{_extract_string_sql('24', 'n_tok - 4')} AS block_data "
        f"FROM {FX} WHERE {_VALID} AND tokens[5] = 17 "
        f"ORDER BY sink, doc_id"
    )

    out["bl_rare_incident"] = (
        f"SELECT doc_id, "
        f"CASE {_u(19, 2)} WHEN 0 THEN 'None' ELSE 'LostEvents' END AS d_type, "
        f"tokens[22]::INTEGER AS message_length, "
        f"coalesce({_chrcat('23', '22 + tokens[22]')}, '') AS message "
        f"FROM {RFX} WHERE {_VALID} AND tokens[5] = 26 ORDER BY doc_id"
    )

    out["bl_rare_user_var"] = (
        f"SELECT doc_id, {_u(19, 4)} AS name_length, "
        f"{_chrcat('24', f'23 + {_u(19, 4)}')} AS name, "
        f"tokens[24 + {_u(19, 4)}]::INTEGER AS is_null, "
        f"CAST(NULL AS VARCHAR) AS d_type "
        f"FROM {RFX} WHERE {_VALID} AND tokens[5] = 14 ORDER BY doc_id"
    )

    # Load: fixed prefix + variable field-name list + the reference's quirky
    # file-length formula (mod.rs:570-581, replicated verbatim)
    out["bl_rare_load"] = f"""
WITH L AS (
  SELECT doc_id, tokens, n_tok,
    tokens[32]::BIGINT AS tnl, tokens[33]::BIGINT AS sl,
    {_u(33, 4)} AS nf
  FROM {RFX} WHERE {_VALID} AND tokens[5] = 6
), o AS (
  SELECT doc_id, tokens, n_tok, tnl, sl, nf,
    list_sum(tokens[45 : 44 + nf])::BIGINT AS sfnl,
    (45 + nf)::BIGINT AS names0
  FROM L
)
SELECT doc_id, {_u(19, 4)} AS thread_id, {_u(23, 4)} AS execution_time,
  {_u(27, 4)} AS skip_lines, nf AS num_fields,
  tokens[38]::INTEGER AS field_term, tokens[39]::INTEGER AS enclosed_by,
  tokens[40]::INTEGER AS line_term, tokens[41]::INTEGER AS line_start,
  tokens[42]::INTEGER AS escaped_by,
  (tokens[43] & 1)::INTEGER AS f_dump_file,
  ((tokens[43] >> 1) & 1)::INTEGER AS f_opt_enclosed,
  ((tokens[43] >> 2) & 1)::INTEGER AS f_replace,
  ((tokens[43] >> 3) & 1)::INTEGER AS f_ignore,
  (tokens[44] & 1)::INTEGER AS e_field_term,
  ((tokens[44] >> 4) & 1)::INTEGER AS e_escape,
  rtrim(replace({_chrcat('names0', 'names0 + sfnl + nf - 1')},
        chr(0), ','), ',') AS field_names,
  {_chrcat('names0 + sfnl + nf', 'names0 + sfnl + nf + tnl - 1')} AS table_name,
  {_chrcat('names0 + sfnl + nf + tnl + 1', 'names0 + sfnl + nf + tnl + sl')} AS schema_name,
  {_extract_string_sql('names0 + sfnl + nf + tnl + sl + 2',
                       'names0 + sfnl + nf + tnl + sl + 1 + (n_tok - 19 - 25 - nf - sfnl - nf - tnl - sl - 3 - 4)')} AS file_name
FROM o ORDER BY doc_id
"""

    # NewLoad: five length-prefixed separators chained via lateral aliases;
    # the file-length formula is Load's, reused by the reference verbatim
    out["bl_rare_new_load"] = f"""
WITH L AS (
  SELECT doc_id, tokens, n_tok,
    tokens[32]::BIGINT AS tnl, tokens[33]::BIGINT AS sl,
    {_u(33, 4)} AS nf,
    38::BIGINT AS p1
  FROM {RFX} WHERE {_VALID} AND tokens[5] = 12
), s AS (
  SELECT *, (p1 + 1 + tokens[p1])::BIGINT AS p2 FROM L
), s2 AS (SELECT *, (p2 + 1 + tokens[p2])::BIGINT AS p3 FROM s),
s3 AS (SELECT *, (p3 + 1 + tokens[p3])::BIGINT AS p4 FROM s2),
s4 AS (SELECT *, (p4 + 1 + tokens[p4])::BIGINT AS p5 FROM s3),
s5 AS (SELECT *, (p5 + 1 + tokens[p5])::BIGINT AS popt FROM s4),
o AS (
  SELECT *, (popt + 1)::BIGINT AS fnl0,
    list_sum(tokens[popt + 1 : popt + nf])::BIGINT AS sfnl,
    (popt + 1 + nf)::BIGINT AS names0
  FROM s5
)
SELECT doc_id, {_u(19, 4)} AS thread_id, nf AS num_fields,
  coalesce({_chrcat('p1 + 1', 'p1 + tokens[p1]')}, '') AS field_term,
  coalesce({_chrcat('p2 + 1', 'p2 + tokens[p2]')}, '') AS enclosed_by,
  coalesce({_chrcat('p3 + 1', 'p3 + tokens[p3]')}, '') AS line_term,
  coalesce({_chrcat('p4 + 1', 'p4 + tokens[p4]')}, '') AS line_start,
  coalesce({_chrcat('p5 + 1', 'p5 + tokens[p5]')}, '') AS escaped_by,
  rtrim(replace({_chrcat('names0', 'names0 + sfnl + nf - 1')},
        chr(0), ','), ',') AS field_names,
  {_chrcat('names0 + sfnl + nf', 'names0 + sfnl + nf + tnl - 1')} AS table_name,
  {_chrcat('names0 + sfnl + nf + tnl + 1', 'names0 + sfnl + nf + tnl + sl')} AS schema_name,
  {_extract_string_sql('names0 + sfnl + nf + tnl + sl + 2',
                       'names0 + sfnl + nf + tnl + sl + 1 + (n_tok - 19 - 25 - nf - sfnl - nf - tnl - sl - 3 - 4)')} AS file_name
FROM o ORDER BY doc_id
"""

    # PreviousGtids: bytes between header and the trailing u32 buf_size
    out["bl_prev_gtids"] = (
        f"SELECT doc_id, "
        f"coalesce(array_to_string(tokens[20 : n_tok - 8], ','), '') "
        f"AS gtid_sets_csv, "
        f"(tokens[n_tok-7]::BIGINT + tokens[n_tok-6]::BIGINT*256 + "
        f"tokens[n_tok-5]::BIGINT*65536 + tokens[n_tok-4]::BIGINT*16777216) "
        f"AS buf_size FROM {FX} WHERE {_VALID} AND tokens[5] = 35 ORDER BY doc_id"
    )

    # ExecuteLoadQuery over the reference fixture (mod.rs:909-964)
    _elq_svl = _u(30, 2)
    out["bl_exec_load_query"] = (
        f"SELECT doc_id, {_u(19, 4)} AS thread_id, "
        f"{_u(23, 4)} AS execution_time, tokens[28]::BIGINT AS schema_length, "
        f"{_u(28, 2)} AS error_code, {_elq_svl} AS status_vars_length, "
        f"{_u(32, 4)} AS file_id, {_u(36, 4)} AS start_pos, "
        f"{_u(40, 4)} AS end_pos, "
        f"CASE tokens[45] WHEN 0 THEN 'Error' WHEN 1 THEN 'Ignore' "
        f"ELSE 'Replace' END AS dup_handling_flags, "
        f"{_chrcat(f'46 + {_elq_svl}', f'45 + {_elq_svl} + tokens[28]')} "
        f"AS schema_name, "
        f"{_extract_string_sql(f'47 + {_elq_svl} + tokens[28]', 'n_tok - 4')} "
        f"AS query FROM {FX} WHERE {_VALID} AND tokens[5] = 18 ORDER BY doc_id"
    )

    # rows-image cell decode: the fixture table layouts are known
    # (tests/events/*/sql.sql -> the 2-column Long+VarChar(160) table and the
    # 9-column table of 31_update_rows_v2), so the cell walk IS
    # SQL-expressible with a hardcoded layout dimension + a recursive CTE
    # that advances cell-by-cell (VarChar/Blob widths read from the data).
    # Float/Double are reconstructed from their IEEE754 bytes exactly.
    _f32 = (
        "(CASE WHEN ((u32 >> 31) & 1) = 1 THEN -1.0 ELSE 1.0 END) * "
        "(CASE WHEN ((u32 >> 23) & 255) = 0 THEN (u32 & 8388607)::DOUBLE * power(2.0, -149) "
        "ELSE ((u32 & 8388607) + 8388608)::DOUBLE * power(2.0, ((u32 >> 23) & 255) - 150) END)"
    )
    # extra_data JSON rebuilt from raw bytes: one entry is
    # type(1)+length(1)+format(1)+payload(L); a second entry follows when
    # the declared block isn't exhausted (many1, rows.rs:48-79)
    _x_fmt = ("CASE tokens[{p} + 2] WHEN 0 THEN 'NDB' WHEN 64 THEN 'OPEN1' "
              "WHEN 65 THEN 'OPEN2' ELSE 'MULTI' END")
    def _x_entry(p: str) -> str:
        return (
            f"'{{\"length\":' || tokens[{p} + 1] || ',\"format\":\"' || "
            f"{_x_fmt.format(p=p)} || '\",\"payload\":\"' || "
            f"{_extract_string_sql(f'{p} + 3', f'{p} + 2 + tokens[{p} + 1]')}"
            f" || '\"}}'")
    _x_json = (
        f"CASE WHEN xlen = 2 THEN '[]' ELSE "
        f"'[' || {_x_entry('30')} || "
        f"CASE WHEN 3 + tokens[31] < xlen - 2 "
        f"THEN ',' || {_x_entry('(33 + tokens[31])')} ELSE '' END || ']' END")
    _x_ev_select = f"""
    {_u(27, 2)} AS xlen,
    CASE tokens[5] WHEN 30 THEN 'WRITE_ROWS_V2' WHEN 31 THEN 'UPDATE_ROWS_V2'
                   ELSE 'DELETE_ROWS_V2' END AS sink,
    {_u(19, 6)} AS table_id,
    tokens[28 + xlen]::INTEGER AS cc,
    ((tokens[28 + xlen] + 7) // 8)::BIGINT AS bl,
    (CASE WHEN tokens[5] = 31 THEN 2 ELSE 1 END)::BIGINT AS n_images,
    {_x_json} AS extra_data,
    tokens, n_tok"""
    # ORACLE SCOPE (documented constraints, all satisfied by the committed
    # fixtures; the Spark engine handles the general cases):
    # - the recursive-CTE walk assumes PRISTINE row regions — it cannot
    #   replicate nom many1's keep-prefix-on-garbage-tail semantics
    #   (parse.decode_rows_py does);
    # - extra_data rebuild covers <=2 entries and the known format bytes
    #   with ASCII payloads (json.dumps escaping / >2 entries would need a
    #   recursive rebuild);
    # - the _f32/_f64 IEEE-754 reconstruction is exact for FINITE values
    #   only (all-ones exponents read as huge finite, not Inf/NaN).
    # Extending the fixtures past any of these requires extending this SQL.
    out["bl_rows_decode"] = f"""
WITH RECURSIVE ev AS (
  SELECT doc_id, {_x_ev_select}
  FROM {FX} WHERE {_VALID} AND tokens[5] IN (30, 31, 32)
  UNION ALL
  SELECT doc_id, {_x_ev_select}
  FROM {RFX} WHERE {_VALID} AND tokens[5] IN (30, 31, 32)
),
lay(lcc, ci, tid, m0) AS (VALUES
  (1, 0, 3, 0),
  (2, 0, 3, 0), (2, 1, 15, 160),
  (9, 0, 3, 0), (9, 1, 15, 400), (9, 2, 15, 160),
  (9, 3, 252, 2), (9, 4, 252, 3), (9, 5, 252, 4),
  (9, 6, 4, 0), (9, 7, 5, 0), (9, 8, 246, 5)
),
walk AS (
  SELECT doc_id, sink, table_id, cc, bl, extra_data, tokens,
    (29 + xlen + bl * n_images + bl)::BIGINT AS pos,
    (n_tok - 3)::BIGINT AS data_end,
    0 AS image_idx, 0 AS col_idx,
    CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS VARCHAR) AS bytes_csv,
    CAST(NULL AS DOUBLE) AS num_val
  FROM ev
  -- zero-row events (empty col_data) seed nothing: without this the
  -- col_idx < cc branch would walk into the checksum bytes and emit
  -- phantom cells the Spark decoder (while p < len(col_data)) never does
  WHERE 29 + xlen + bl * n_images < n_tok - 3
  UNION ALL
  SELECT doc_id, sink, table_id, cc, bl, extra_data, tokens,
    CASE WHEN col_idx >= cc THEN pos + bl ELSE pos + w.width END AS pos,
    data_end,
    CASE WHEN col_idx >= cc THEN image_idx + 1 ELSE image_idx END AS image_idx,
    CASE WHEN col_idx >= cc THEN 0 ELSE col_idx + 1 END AS col_idx,
    CASE WHEN col_idx >= cc THEN NULL ELSE w.kind END AS kind,
    CASE WHEN col_idx >= cc THEN NULL ELSE w.bcsv END AS bytes_csv,
    CASE WHEN col_idx >= cc THEN NULL ELSE w.nval END AS num_val
  FROM walk
  JOIN lay ON lay.lcc = walk.cc AND lay.ci = least(walk.col_idx, walk.cc - 1)
  CROSS JOIN LATERAL (
    SELECT
      CASE lay.tid WHEN 3 THEN 4 WHEN 4 THEN 4 WHEN 5 THEN 8 WHEN 246 THEN lay.m0
        WHEN 15 THEN CASE WHEN lay.m0 > 255
          THEN 2 + tokens[pos] + tokens[pos+1]*256 ELSE 1 + tokens[pos] END
        WHEN 252 THEN lay.m0 + tokens[pos]
          + CASE WHEN lay.m0 >= 2 THEN tokens[pos+1]*256 ELSE 0 END
          + CASE WHEN lay.m0 >= 3 THEN tokens[pos+2]*65536 ELSE 0 END
          + CASE WHEN lay.m0 >= 4 THEN tokens[pos+3]*16777216 ELSE 0 END
      END::BIGINT AS width,
      CASE lay.tid WHEN 3 THEN 'Long' WHEN 4 THEN 'Float' WHEN 5 THEN 'Double'
        WHEN 246 THEN 'NewDecimal' WHEN 15 THEN 'VarChar' WHEN 252 THEN 'Blob' END AS kind,
      CASE lay.tid
        WHEN 3 THEN array_to_string(tokens[pos:pos+3], ',')
        WHEN 246 THEN array_to_string(tokens[pos:pos+lay.m0-1], ',')
        WHEN 15 THEN CASE WHEN lay.m0 > 255
          THEN array_to_string(tokens[pos+2:pos+1+tokens[pos]+tokens[pos+1]*256], ',')
          ELSE array_to_string(tokens[pos+1:pos+tokens[pos]], ',') END
        WHEN 252 THEN array_to_string(
          tokens[pos+lay.m0 : pos+lay.m0-1 + tokens[pos]
            + CASE WHEN lay.m0 >= 2 THEN tokens[pos+1]*256 ELSE 0 END
            + CASE WHEN lay.m0 >= 3 THEN tokens[pos+2]*65536 ELSE 0 END
            + CASE WHEN lay.m0 >= 4 THEN tokens[pos+3]*16777216 ELSE 0 END], ',')
        ELSE NULL END AS bcsv,
      CASE lay.tid
        WHEN 4 THEN (SELECT {_f32} FROM (SELECT (tokens[pos]::BIGINT
            + tokens[pos+1]::BIGINT*256 + tokens[pos+2]::BIGINT*65536
            + tokens[pos+3]::BIGINT*16777216) AS u32))
        WHEN 5 THEN (SELECT
            (CASE WHEN b7 >= 128 THEN -1.0 ELSE 1.0 END) *
            (CASE WHEN e = 0 THEN m::DOUBLE * power(2.0, -1074)
                  ELSE (m + 4503599627370496)::DOUBLE * power(2.0, e - 1075) END)
          FROM (SELECT tokens[pos+7]::BIGINT AS b7,
                ((tokens[pos+7]::BIGINT & 127) * 16 + (tokens[pos+6]::BIGINT >> 4)) AS e,
                ((tokens[pos+6]::BIGINT & 15) * 281474976710656
                 + tokens[pos+5]::BIGINT * 1099511627776
                 + tokens[pos+4]::BIGINT * 4294967296
                 + tokens[pos+3]::BIGINT * 16777216
                 + tokens[pos+2]::BIGINT * 65536
                 + tokens[pos+1]::BIGINT * 256
                 + tokens[pos]::BIGINT) AS m))
        ELSE NULL END AS nval
  ) w
  WHERE walk.col_idx < walk.cc OR walk.pos < walk.data_end
)
SELECT doc_id, sink, table_id, cc::INTEGER AS column_count, extra_data,
       image_idx, (col_idx - 1) AS col_idx, kind, bytes_csv, num_val
FROM walk WHERE kind IS NOT NULL
ORDER BY doc_id, image_idx, col_idx
"""

    # multimodal: the synthetic payloads are REAL containers (BMP/WAV/BVID)
    # generated deterministically from documents.text, and the features are
    # integer-exact stats over the DECODED content — so the oracle can
    # replicate generation+decode end-to-end in SQL. n_bytes checks the
    # encoders' real header sizes (54B BMP, 44B canonical WAV, 7B BVID).
    from binlogpipe import multimodal as _mm

    _smp = [(i * _mm.VID_FRAMES) // _mm.FRAMES_SAMPLED
            for i in range(_mm.FRAMES_SAMPLED)]
    _img_n = _mm.IMG_W * _mm.IMG_H * 3
    _vid_fb = _mm.VID_W * _mm.VID_H
    _nb_img = 54 + _img_n
    _nb_aud = 44 + 2 * _mm.AUDIO_SAMPLES
    _nb_vid = 7 + _mm.VID_FRAMES * _vid_fb
    out["multimodal_features"] = f"""
WITH d AS (SELECT doc_id AS media_id,
  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  CASE WHEN length(text) = 0 THEN [0]
       ELSE list_transform(string_split(text, ''), ch -> ascii(ch) % 256)
  END AS codes
  FROM documents),
i AS (SELECT media_id, kind,
  CASE kind
    WHEN 'image' THEN list_transform(range(0, {_img_n}),
      i -> (codes[(i % len(codes)) + 1])::BIGINT)
    WHEN 'audio' THEN list_transform(range(0, {_mm.AUDIO_SAMPLES}),
      i -> ((codes[(i % len(codes)) + 1] - 128) * 231)::BIGINT)
    ELSE flatten(list_transform({_smp},
      f -> list_transform(range(0, {_vid_fb}),
        j -> ((codes[((f * 7 + j) % len(codes)) + 1] + f) % 256)::BIGINT)))
  END AS ints FROM d),
s AS (SELECT media_id, kind, ints, list_sum(ints)::BIGINT AS sm,
      list_sum(list_transform(ints, v -> v * v))::BIGINT AS q,
      len(ints) AS n FROM i)
SELECT media_id, kind,
  (CASE kind WHEN 'image' THEN {_nb_img} WHEN 'audio' THEN {_nb_aud}
   ELSE {_nb_vid} END)::BIGINT AS n_bytes,
  substr(sha256(array_to_string(ints, ',')), 1, 16) AS content_digest,
  (sm::DOUBLE / n) AS feat_mean,
  sqrt(greatest(0.0, q::DOUBLE / n - (sm::DOUBLE / n) * (sm::DOUBLE / n))) AS feat_std,
  (CASE WHEN kind = 'video' THEN {_mm.FRAMES_SAMPLED} ELSE 1 END)::INTEGER AS n_frames_sampled
FROM s ORDER BY media_id
"""
    return {k: v for k, v in out.items() if v is not None}
