"""Physical-plan shape assertions — the Catalyst-health checks from the
build brief: filters reach the scan, small dims broadcast, the per-turn
window block stays on one exchange."""

from pyspark.sql import functions as F

from network_feature_extractor_spark.config import EngineConfig
from network_feature_extractor_spark.plans.pipeline import per_turn_features


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    q = e.filter(F.col("event_type").isin("view", "click") & (F.col("value") > 5.0)).select(
        "event_id", "value"
    )
    plan = _plan(q)
    assert "PushedFilters" in plan
    assert "In(event_type" in plan or "In(`event_type`" in plan, plan[:800]
    # column pruning: text-heavy props column must not be read
    assert "props" not in plan.split("ReadSchema")[1][:200]


def test_dimension_join_is_broadcast(spark):
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    q = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .count()
    )
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_per_turn_block_single_exchange(spark, turns):
    pt = per_turn_features(turns, EngineConfig())
    plan = _plan(pt)
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    # fused: at most 2 window nodes (base expressions + session cumsum)
    assert plan.count("+- Window") <= 2


def test_session_agg_is_partial_final_hash(spark, turns):
    from network_feature_extractor_spark.operators import aggregates
    from network_feature_extractor_spark.operators.sessionize import with_session_id

    d = with_session_id(turns).select(
        "conv_id", "session_id", "role", "text", "tool", "ts", "turn_idx"
    )
    g = aggregates.session_features(d)
    plan = _plan(g)
    # one shuffle total: the windows pre-sort on the grouping key, so the
    # aggregation runs sort-based WITHOUT its own Exchange — the struct-min
    # (init_* fields) forces SortAggregate, which is free on pre-sorted
    # input and cheaper than hashing here
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert "SortAggregate" in plan or "HashAggregate" in plan


def test_simhash_signature_single_agg_no_python(spark):
    from network_feature_extractor_spark.operators import dedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = dedup.simhash_64(d)
    plan = _plan(sig)
    # fully JVM-side: no Arrow/Python evaluation nodes anywhere
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "mapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan
    # bit votes are one partial+final aggregate pair on one exchange
    assert "HashAggregate" in plan


def test_ivf_assignment_corpus_side_zero_exchange(spark):
    """r3 verdict #1: the nprobe=1 corpus assignment must NOT route
    |corpus| * n_centroids rows (vectors included) through a window's
    hash exchange — the argmax is row-local. Both the expression path
    and the Arrow twin: no Exchange, no Window, no Join between the
    scan and the assignment."""
    from network_feature_extractor_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, n_centroids=4)
    plan = _plan(similarity.ivf_assign(emb, cents))  # expr path (tiny set)
    for node in ("Exchange", "Window", "Join"):
        assert node not in plan, (node, plan[:800])

    rows = cents.collect()
    aplan = _plan(similarity._ivf_assign_arrow(emb, rows, "vec_id", "embedding"))
    for node in ("Exchange", "Window", "Join"):
        assert node not in aplan, (node, aplan[:800])


def test_ivf_assignment_query_side_is_broadcast(spark):
    from network_feature_extractor_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, n_centroids=4)
    asg = similarity.ivf_assign(emb, cents, nprobe=2)
    plan = _plan(asg)
    # centroids broadcast: query side must not sort-merge or cartesian
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cosine_topk_window_partition_is_bounded(spark):
    """r3 verdict #2: the exact top-k's rank window must consume the
    per-partition-reduced frame (<= k * P rows per query), never the
    full scored corpus — Window sits ABOVE MapInPandas in the plan."""
    from network_feature_extractor_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 3").selectExpr(
        "vec_id as query_id", "embedding"
    )
    plan = _plan(similarity.cosine_topk(emb, queries, k=5))
    assert "MapInPandas" in plan, plan[:800]
    assert plan.index("Window") < plan.index("MapInPandas"), plan[:1200]


def test_near_dup_no_cartesian(spark):
    from network_feature_extractor_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    nd = similarity.embedding_near_dup_pairs(emb, n_tables=2, n_bits=8)
    plan = _plan(nd)
    assert "CartesianProduct" not in plan  # candidates via bucket equi-join only
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_tables_join_without_exchange(spark, turns, snapshots):
    """Co-located join: both sides bucketed by conv_id -> the equi-join
    must not shuffle either side (bucket partitioning satisfies the
    join's distribution requirement)."""
    import shutil

    from network_feature_extractor_spark.sources import tables

    # a stale managed-table directory from a previous session blocks
    # saveAsTable even in overwrite mode (the in-memory catalog forgot it)
    for t in ("t_bucketed", "s_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)

    tables.write_turns_bucketed(
        turns.select("conv_id", "turn_idx", "ts"), "t_bucketed", buckets=4
    )
    tables.write_turns_bucketed(
        snapshots.select("conv_id", "snap_ts", "f_a"), "s_bucketed",
        buckets=4, sort_cols=["conv_id", "snap_ts"],
    )
    t = spark.table("t_bucketed")
    s = spark.table("s_bucketed")
    q = t.join(s, "conv_id").groupBy("conv_id").count()
    plan = _plan(q)
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    assert q.count() > 0
    # bucketed agg on the bucket key also needs no exchange
    g = t.groupBy("conv_id").count()
    assert "Exchange hashpartitioning" not in _plan(g)


def test_contaminated_ids_plan_broadcasts_benchmark(spark, tmp_path):
    """Decontamination's 100 TB contract: the benchmark gram set crosses
    as ONE broadcast; the corpus gram stream reaches the semi join with
    no shuffle (only MATCHED rows feed the countDistinct exchanges).

    The guard check is on the FILE layout (inputFiles sees through any
    in-plan repartition), so the at-scale no-op case needs an actual
    many-file table on disk — scan partitions >= slots."""
    from pyspark.sql import functions as F

    from network_feature_extractor_spark.operators.buckets import (
        _estimated_scan_splits,
    )
    from network_feature_extractor_spark.operators.textstats import contaminated_ids

    par = spark.sparkContext.defaultParallelism
    wide_dir = str(tmp_path / "docs_wide")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .repartition(par * 2)
        .write.parquet(wide_dir)
    )
    docs = spark.read.parquet(wide_dir)
    assert _estimated_scan_splits(docs) >= par  # guard truly no-ops
    bench = docs.filter(F.col("doc_id") % 50 == 3).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    plan = (
        contaminated_ids(docs, bench, n=8, min_shared=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert plan.count("BroadcastExchange") == 1
    # tiny-side distinct + two-phase countDistinct; anything more means
    # the corpus gram stream started shuffling
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "Exchange roundrobin" not in plan


def test_stratified_sample_plan_shapes(spark):
    """Literal form must be a pure filter (no join, no exchange — it
    pushes to the scan); the large-map form must broadcast the bounds
    table and still add NO shuffle."""
    from network_feature_extractor_spark.functions.sampling import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rates = {"src0": 0.8, "src1": 0.5}
    lit_plan = (
        stratified_sample(docs, rates, "source", "doc_id", 0.05)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in lit_plan and "Exchange" not in lit_plan
    join_plan = (
        stratified_sample(docs, rates, "source", "doc_id", 0.05, literal_threshold=0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in join_plan
    assert "Exchange hashpartitioning" not in join_plan


def test_split_assign_is_pure_map_side(spark):
    """The split CASE must stay a projection over the scan — no join,
    no exchange, no UDF; that is the whole 100 TB argument for the
    hash-band split."""
    from network_feature_extractor_spark.functions.sampling import split_assign

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        split_assign(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan
    assert "Python" not in plan


def test_line_filter_is_pure_map_side(spark, tmp_path):
    """C4 line gate = split -> HOF filter -> array_join, all in one
    projection: zero exchanges, zero Python workers AT SCALE (where the
    r8 scan-parallelism guard no-ops — asserted on an actual many-file
    table, the inputFiles gotcha). On a single-file toy input the guard
    adds exactly its one repartition and nothing else."""
    from network_feature_extractor_spark.operators.buckets import (
        _estimated_scan_splits,
    )
    from network_feature_extractor_spark.operators.textstats import with_line_filter

    par = spark.sparkContext.defaultParallelism
    wide_dir = str(tmp_path / "docs_wide_lf")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .repartition(par * 2)
        .write.parquet(wide_dir)
    )
    docs = spark.read.parquet(wide_dir)
    assert _estimated_scan_splits(docs) >= par  # guard truly no-ops
    plan = (
        with_line_filter(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan
    assert "Python" not in plan

    # toy single-file input: the guard's one exchange, still no Python
    small = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    splan = (
        with_line_filter(small)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert splan.count("Exchange") == 1 and "Python" not in splan


def test_bigram_logprob_no_cartesian_and_partial_aggs(spark):
    """The LM score must stay a pair of map-combinable counts + keyed
    joins: no cartesian / nested-loop join may appear, and the count
    aggregates must have partial (map-side) phases."""
    from network_feature_extractor_spark.operators.textstats import (
        with_bigram_logprob,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        with_bigram_logprob(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_tfidf_docfreq_join_two_forms(spark):
    """The vocabulary (docfreq) join must support BOTH physical forms
    (the stratified_sample two-form discipline): the default carries NO
    broadcast hint — at web scale the distinct-token count runs to
    hundreds of millions of rows and a forced broadcast OOMs every
    executor, so with broadcasting disabled the join must plan
    sort-merge/shuffled on the term key; ``broadcast_vocab=True`` must
    force BroadcastHashJoin for callers who KNOW the vocabulary is
    bounded. At toy scale the default form still broadcasts — via AQE's
    own runtime size judgment, asserted on the executed adaptive plan."""
    from network_feature_extractor_spark.operators.textstats import tfidf_topk

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        default_plan = _plan(tfidf_topk(docs, n_docs=500))
        hinted_plan = _plan(tfidf_topk(docs, n_docs=500, broadcast_vocab=True))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # large-vocab (no hint, broadcast off): shuffled join, no broadcast
    assert "BroadcastHashJoin" not in default_plan
    assert "SortMergeJoin" in default_plan or "ShuffledHashJoin" in default_plan
    # bounded-vocab form: the hint must survive into the plan
    assert "BroadcastHashJoin" in hinted_plan

    # default conf at toy scale: AQE's runtime stats pick the broadcast
    # on their own — the documented "no hint needed when it fits" path
    q = tfidf_topk(docs, n_docs=500)
    q.write.format("noop").mode("overwrite").save()
    final_plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final_plan


def test_tolerance_gate_adds_no_exchange(spark, turns, snapshots):
    """The as-of attach is one union window at any width: one exchange
    and one running last() over the packed right row, for a narrow and a
    6-column attach alike. The TTL gate stays a map-side projection: the
    gated plan carries exactly the join's own exchange count."""
    from network_feature_extractor_spark.operators.asof import asof_join, tolerance_gate

    raw = asof_join(turns, snapshots, value_cols=["f_a", "f_b"])
    gated = tolerance_gate(raw, value_cols=["f_a", "f_b"], tolerance_s=60.0)
    raw_plan, gated_plan = _plan(raw), _plan(gated)
    assert raw_plan.count("Exchange") == 1, raw_plan.count("Exchange")
    assert gated_plan.count("Exchange") == raw_plan.count("Exchange")

    wide_cols = ["f_a", "f_b", "f_c", "f_d", "f_e", "f_f"]
    wide_snaps = snapshots.select(
        "conv_id", "snap_ts", "f_a", "f_b",
        *[(F.col("f_a") + i).alias(c) for i, c in enumerate(wide_cols[2:])],
    )
    wide = _plan(asof_join(turns, wide_snaps, value_cols=wide_cols))
    assert wide.count("Exchange") == 1, wide
    assert wide.count("last(") == 1, wide


def test_future_labels_single_exchange(spark, turns):
    """Lead frame + strictly-future RANGE frame share one partitioning
    and one sort: exactly one exchange, at most two Window nodes."""
    from network_feature_extractor_spark.operators.windows import with_future_labels

    out = with_future_labels(
        turns, key="conv_id", label_col="role", horizon_s=60.0,
        count_cond=F.col("role") == "user", order_tiebreak="turn_idx",
    )
    plan = _plan(out)
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert plan.count("+- Window") <= 2


def test_decayed_features_single_exchange_partial_agg(spark, turns):
    """Window MAX(us) and the groupBy share HashPartitioning(key): one
    exchange; the final aggregation keeps a partial (map-side) stage."""
    from network_feature_extractor_spark.operators.aggregates import decayed_features

    d = turns.select("conv_id", "ts", F.length("text").cast("double").alias("tlen"))
    out = decayed_features(d, key="conv_id", ts="ts", value_col="tlen", half_life_s=60.0)
    plan = _plan(out)
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert "partial_count" in plan or "partial" in plan.lower(), plan[:2000]


def _node_counts(df) -> dict[str, int]:
    """Scan, Window and Join operators of the physical plan."""
    import re

    nodes = re.findall(r"^[\s:+\-|]*\*?(?:\(\d+\) )?([A-Za-z]+)", _plan(df), re.M)
    return {
        "scans": sum(n in ("FileScan", "Scan", "BatchScan") for n in nodes),
        "windows": nodes.count("Window"),
        "joins": sum(n.endswith("Join") for n in nodes),
    }


def test_snapshot_modules_share_one_session_window(spark, turns, tmp_path):
    """Over the bucketed per-turn table each snapshot module is one scan
    branch: all modules plan at most 4 Window, 4 scan and 3 join nodes
    (the core aggregation, timing with its burst cumsum, transitions),
    the lean config (core + text_length) 1 Window and 2 scans."""
    from network_feature_extractor_spark.plans.pipeline import (
        _materialize_per_turn,
        session_snapshot_table,
    )

    cfg = EngineConfig()
    pt = per_turn_features(turns, cfg).withColumn("text_len", F.length("text").cast("double"))
    mat = _materialize_per_turn(pt, str(tmp_path / "pt"), cfg)
    snap_in = mat.select("conv_id", "session_id", "role", "text_len", "tool", "ts", "turn_idx")
    snap_in._nfe_assume_clustered = getattr(mat, "_nfe_assume_clustered", False)

    full = _node_counts(session_snapshot_table(snap_in, cfg))
    assert full["windows"] <= 4 and full["scans"] <= 4 and full["joins"] <= 3, full
    lean = _node_counts(
        session_snapshot_table(
            snap_in, EngineConfig(enabled_features=("basic_metrics", "text_length"))
        )
    )
    assert lean["windows"] <= 1 and lean["scans"] <= 2, lean
