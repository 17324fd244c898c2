"""Physical-plan assertions: the plans must stay the shape we designed for
100 TB — broadcast enrich join (no shuffle of the big side), partition
pruning on the routed table, column pruning into the parquet scan, and no
Python in the route/aggregate hot path."""

from pyspark.sql import functions as F

from binlogpipe import enrich, layout, parse


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_enrich_join_is_broadcast(spark, pipeline_out):
    routed = spark.read.parquet(f"{pipeline_out['out']}/routed")
    dim = spark.read.parquet(f"{pipeline_out['out']}/table_map_dim")
    rows = routed.filter(F.col("sink") == "WRITE_ROWS_V2").withColumnRenamed(
        "rows_table_id", "table_id")
    joined = enrich.enrich_rows_events(rows, dim)
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_routed_read_partition_prunes(spark, pipeline_out):
    routed = spark.read.parquet(f"{pipeline_out['out']}/routed")
    pruned = routed.filter(F.col("sink") == "XID")
    plan = _plan(pruned)
    # partition filter must reach the scan, not a post-scan Filter
    assert "PartitionFilters" in plan and "XID" in plan, plan


def test_column_pruning_reaches_scan(spark, fixture_parquet):
    df = spark.read.parquet(fixture_parquet).select("doc_id", "n_tok")
    plan = _plan(df)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "tokens" not in read_schema, read_schema


def test_route_hot_path_is_jvm_only(spark, fixture_parquet):
    """Header decode + sink routing + aggregation contain no Python
    evaluation (BASELINE.json: zero per-row Python; UDFs only in payload
    decode)."""
    hdr = parse.with_header(spark.read.parquet(fixture_parquet))
    counts = hdr.groupBy("sink").count()
    counts.collect()  # finalize the AQE plan so codegen spans are visible
    plan = _plan(counts)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas"):
        assert marker not in plan, f"{marker} in hot path:\n{plan}"
    # "*(n)" prefixes mark whole-stage-codegen spans in the final plan
    assert "WholeStageCodegen" in plan or "*(" in plan, plan


def test_salting_defuses_hot_type_skew(spark, tmp_path):
    """SURVEY §7.3 hard #4: with salting, the biggest routed shuffle
    partition carries a small, bounded share of the data; without it, the
    hot sink (QUERY, 23% of all events) serializes into one task."""
    from binlogpipe import route
    from tools import fixture_gen

    inp = tmp_path / "skew_in.parquet"
    fixture_gen.write_synth_parquet(inp, 200)  # 33,200 events
    hdr = parse.with_header(spark.read.parquet(str(inp)))
    n_total = 166 * 200

    def max_share(df):
        sizes = [r["n"] for r in df.groupBy(F.spark_partition_id().alias("p"))
                 .agg(F.count("*").alias("n")).collect()]
        return max(sizes) / n_total

    unsalted = max_share(hdr.repartition(64, "sink"))
    salted = max_share(route.routed(hdr.withColumn("salt", route.salt_expr()),
                                    shuffle_partitions=64))
    assert unsalted >= 38 / 166 * 0.9  # QUERY-sized straggler partition
    assert salted < unsalted / 2
    assert salted <= 0.08, salted  # no task holds >8% of the data


def test_salt_spreads_hot_types(spark, fixture_parquet):
    """Hot event types fan out across salt values (skew defense)."""
    from binlogpipe import route

    hdr = parse.with_header(spark.read.parquet(fixture_parquet))
    salted = hdr.withColumn("salt", route.salt_expr())
    q = (salted.filter(F.col("sink") == "QUERY")
         .select("salt").distinct().count())
    assert q > 1  # 38 QUERY events spread over >1 of 16 salt buckets
    bad = salted.filter(
        F.col("salt") >= layout.SALT_FACTORS.get("QUERY", 16)).filter(
        F.col("sink") == "QUERY").count()
    assert bad == 0


def test_neardup_candidate_generation_has_no_cross_join(spark):
    """Every near-dup/ANN candidate generator must stay an equi-join on
    bucket/band keys — a CartesianProduct (or a nested-loop join of two
    big sides) is the 100 TB failure mode. The 1-row count broadcast in
    ngram_jaccard is the only sanctioned nested-loop (scalar-aggregate
    crossJoin)."""
    from binlogpipe import textops, vecops

    docs = spark.createDataFrame(
        [(i, f"text number {i} with words", "s") for i in range(8)],
        "doc_id long, text string, source string")
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, 0.0] * 16) for i in range(8)],
        "vec_id long, embedding array<float>")

    plans = {
        "minhash_pairs": _plan(textops.minhash_lsh_pairs(docs)),
        "jaccard_pairs": _plan(textops.ngram_jaccard_pairs(docs)),
        "lsh_ann": _plan(vecops.signbit_lsh_ann(emb)),
        "cosine_neardup": _plan(vecops.cosine_neardup_pairs(emb)),
        "ivf_ann": _plan(vecops.ivf_ann(emb, n_centroids=2, n_queries=2)),
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, (name, plan)
    for name in ("minhash_pairs", "lsh_ann", "cosine_neardup"):
        assert "BroadcastNestedLoopJoin" not in plans[name], (
            name, plans[name])


def test_engine_defaults_emit_no_global_sort(spark):
    """Scale-API contract (round-3 verdict item 3): with default arguments
    every training-data engine function must produce a physical plan with
    NO global sort — the orderBy tails exist only for oracle determinism
    (ordered=True, used by __spark_entry__). A total sort on a 100 TB
    output is a full range-partitioning shuffle paid for display order."""
    from binlogpipe import multimodal, textops, vecops

    docs = spark.createDataFrame(
        [(i, f"text number {i} with words", "s") for i in range(8)],
        "doc_id long, text string, source string")
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, 0.0] * 16) for i in range(8)],
        "vec_id long, embedding array<float>")
    media = multimodal.synth_media_df(
        docs.withColumn("n_chars", F.length("text")))

    engine_outputs = {
        "fingerprint": textops.fingerprint(docs),
        "exact_dedup": textops.exact_dedup(docs),
        "token_stats": textops.token_stats(docs),
        "quality": textops.quality(docs),
        "langid": textops.langid(docs),
        "simhash": textops.simhash(docs),
        "minhash_signature": textops.minhash_signature(docs),
        "minhash_lsh_pairs": textops.minhash_lsh_pairs(docs),
        "minhash_lsh_clusters": textops.minhash_lsh_clusters(docs),
        "ngram_jaccard_pairs": textops.ngram_jaccard_pairs(docs),
        "cosine_topk": vecops.cosine_topk(emb, k=1, n_queries=2),
        "signbit_lsh_ann": vecops.signbit_lsh_ann(emb, k=1),
        "ivf_ann": vecops.ivf_ann(emb, n_centroids=2, n_queries=2),
        "ivf_recall": vecops.ivf_recall(emb, n_centroids=2, n_queries=2),
        "cosine_neardup_pairs": vecops.cosine_neardup_pairs(emb),
        "cosine_neardup_clusters": vecops.cosine_neardup_clusters(emb),
        "feature_extract": multimodal.feature_extract(media),
    }
    def global_sorts(plan: str) -> list[str]:
        # physical Sort prints as "Sort [keys], <global>, 0"; window
        # functions legitimately sort WITHIN partitions (global=false)
        return [ln for ln in plan.splitlines()
                if "Sort [" in ln and "], true, 0" in ln
                or "rangepartitioning" in ln]

    for name, df in engine_outputs.items():
        assert not global_sorts(_plan(df)), (name, _plan(df))
    # and the sorted variant still sorts (oracle mode unchanged)
    assert global_sorts(_plan(textops.fingerprint(docs, ordered=True)))


def test_routed_write_plan_has_single_python_crossing(spark, fixture_parquet):
    """The FULL routed-write plan (route.routed_rows -> salted repartition,
    the projection both DAGs write) must contain exactly ONE Python
    evaluation node — the pack UDF. A second crossing (or a plan shape
    that re-evaluates the UDF per branch) is the non-scaling term the
    round-3 scaling analysis identified."""
    from binlogpipe import route

    routed = route.routed(route.routed_rows(spark.read.parquet(fixture_parquet)))
    plan = _plan(routed)
    assert plan.count("ArrowEvalPython") == 1, plan
    for marker in ("BatchEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas"):
        assert marker not in plan, f"{marker} in routed write plan:\n{plan}"


def test_table_map_dim_decodes_once(spark, pipeline_out):
    """The batch dictionary build decodes each surviving TableMap ONCE:
    the parse_error filter must stay above the decode projection (the
    final latest-wins window keeps it there). A filter pushed below the
    projection evaluates the decode UDF a second time for the predicate."""
    routed = spark.read.parquet(f"{pipeline_out['out']}/routed")
    plan = _plan(enrich.table_map_dim(routed))
    assert plan.count("ArrowEvalPython") == 1, plan


def test_analytic_queries_push_filters_and_prune_columns(spark):
    """The TPC-H-ish and events queries must push their predicates and
    column projections into the parquet scan — a scan reading all columns
    (or filtering post-scan) multiplies I/O at the 100 TB tier."""
    import __spark_entry__ as entry_mod

    sf_dir = "/root/testdata/sf0.001"
    qs = entry_mod.queries()

    plan = _plan(qs["tpch_pricing"](spark, sf_dir))
    assert "PushedFilters: [" in plan, plan
    # at least one real pushed predicate (the shipdate filter), not just []
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), plan
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_comment" not in read, read  # projection pruned into the scan

    plan = _plan(qs["ev_minute_rollup"](spark, sf_dir))
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "payload" not in read and "props" not in read, read
