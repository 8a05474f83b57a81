"""Physical-plan assertions — the 100 TB properties, pinned as tests.

Correctness tests prove the operators compute the right answer; these
prove Catalyst produced the plan we designed for: filters pushed to
the parquet scan, columns pruned, dimension joins broadcast, the hot
path inside WholeStageCodegen, and no row-at-a-time Python anywhere in
the registry's relational surface. A regression that silently turns a
broadcast join into a shuffle join or drags a filter above the scan
fails here, at sf0.001, long before it melts a cluster.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from net7_etl_bus_spark.plans import registry

from .conftest import SF_SMALL, plan_of, plan_renders, renders


def test_q6_filters_pushed_to_scan(spark):
    """q6's shipdate/discount/quantity predicates must reach the
    parquet reader (PushedFilters), not run as a post-scan Filter only."""
    plan = plan_of(spark, "q6_forecast_revenue")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, f"no PushedFilters in plan:\n{plan}"
    line = pushed[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in line, f"{col} not pushed: {line}"


def test_q6_column_pruning(spark):
    """The scan must read only the 4 referenced columns of lineitem's
    16 — a scan that reads all columns for a narrow agg is wrong."""
    plan = plan_of(spark, "q6_forecast_revenue")
    schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schema_lines
    rs = schema_lines[0]
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in rs
    for col in ("l_comment", "l_orderkey", "l_partkey", "l_shipmode"):
        assert col not in rs, f"unpruned column {col}: {rs}"


@pytest.mark.parametrize("name", ["q3_shipping_priority", "q5_local_supplier_volume"])
def test_dimension_joins_broadcast(spark, name):
    """Dim-side joins (customer/region/nation/supplier at test SF)
    must be broadcast — a shuffle join on a broadcastable dim is the
    classic silent 100x at scale."""
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan, f"no broadcast join in {name}:\n{plan}"


def test_q1_wholestage_codegen(spark):
    """The scan->filter->project->partial-agg pipeline of the flagship
    query must run inside WholeStageCodegen spans (JVM, no interpreted
    row processing). Under AQE codegen is only visible in the executed
    final plan, so run the query first; `*(n)` prefixes are the
    codegen-span markers."""
    df = registry.queries()["q1_pricing_summary"](spark, SF_SMALL)
    df.collect()
    plan = renders(df)["simple"]
    assert "isFinalPlan=true" in plan
    assert "*(1)" in plan, f"no WholeStageCodegen spans:\n{plan}"


def test_anti_join_is_broadcast_at_fixture_scale(spark):
    """J2 (the load-bearing incremental anti-join) over the small
    control table must broadcast; at fact-scale control tables AQE
    flips it to shuffle automatically."""
    plan = plan_of(spark, "anti_join_processed")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


# Ops allowed to contain Python stages: the declared UDF surface and
# the pandas escape hatches. Everything else in the registry must be
# pure JVM (built-in expressions only).
_PYTHON_ALLOWED = {
    "udf_scalar",            # deliberately the slow path, documented
    "udf_pandas_vectorized", # ArrowEvalPython (vectorized)
    "udaf_applyInPandas",    # FlatMapGroupsInPandas
    "udtf_surface",          # BatchEvalPythonUDTF
    "join_asof_pandas",      # FlatMapCoGroupsInPandas
    "mm_features",           # mapInPandas codec plumbing
    "mm_frame_sample",       # mapInPandas codec plumbing
    "mm_phash_dedup",        # mapInPandas decode-side perceptual hash
    "dedup_minhash_mllib",   # MLlib pipeline (fit() driver-side)
    "http_enrichment_mock",  # mapInPandas enrichment stage (T1-T4)
    "sim_search_bcast_index",  # mapInPandas broadcast-index scoring
}


_PYTHON_MARKERS = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")

# Expensive-expression markers for Filter conditions. Catalyst
# re-expands derived projections when it pushes a filter through a
# repartition, so one of these in a Filter can mean an expensive chain
# runs twice: once more on the one-task scan below data.scan_parallel's
# spread Exchange.
_FILTER_MARKERS = ("aggregate(", "transform(", "zip_with(", "array_distinct(",
                   "levenshtein(", "sha2(", "md5(")

# Keys whose Filter conditions may carry a marker, each with the reason:
# a cheap benign predicate, or a known re-expansion left for perf work.
_FILTER_ALLOWED = {
    # Benign: the operator's own predicate, or an inferred isnotnull on
    # the md5 of a short key, evaluated once per row.
    "sample_hash_pct": "md5-prefix membership test on the doc_id string is the sampler itself",
    "sample_stratified": "md5-prefix membership test on the doc_id string, per-stratum cut",
    "sample_token_budget": "inferred isnotnull on the md5 bucket of the doc_id string",
    "text_quality_nb_scored": "inferred isnotnull on the md5 bucket of one token",
    "text_quality_nb_train": "inferred isnotnull on the md5 bucket of one token",
    "emb_dedup_cosine_lsh": "the cosine-threshold verify predicate on LSH candidate pairs",
    # Known re-expansions, left for perf work.
    "sample_weighted": "md5 weight chain runs in the Filter below the scan_parallel "
                       "Exchange (one task) and again in the Project above it",
    "pipeline_rag_prep": "inferred isnotnull(md5(chunk)) hashes each 512-char chunk "
                         "once more before the projection hashes it",
    "sim_search_ivf_trained": "norm > 0 validity gate folds each vector's norm; "
                              "the cosine projection folds it again",
    "sim_search_ivfpq_trained": "norm > 0 validity gate folds each vector's norm; "
                                "the cosine projection folds it again",
}


def _filter_hits(formatted: str) -> list[str]:
    return [
        ln.strip()[:200]
        for ln in formatted.splitlines()
        if ln.strip().startswith("Condition :")
        and any(m in ln for m in _FILTER_MARKERS)
    ]


def _audit(name: str, plans: dict[str, str]) -> list[str]:
    """What the registry audit finds wrong in ``name``'s renders."""
    problems = []
    if "CartesianProduct" in plans["formatted"]:
        problems.append("CartesianProduct planned")
    if name not in _PYTHON_ALLOWED:
        problems += [f"{m} leaked" for m in _PYTHON_MARKERS if m in plans["simple"]]
    if name not in _FILTER_ALLOWED:
        problems += [f"expensive Filter: {h}" for h in _filter_hits(plans["formatted"])]
    return problems


@pytest.mark.parametrize("name", sorted(registry.queries()))
def test_registry_plan_audit(spark, name):
    """Every registered key, from its one cached build: no
    CartesianProduct (the intentional cross-ish joins must be broadcast
    nested-loop, bounded build side); no row-at-a-time or Arrow/pandas
    Python stage outside the declared escape hatches; and no expensive
    expression re-expanded into a Filter condition unless adjudicated
    in _FILTER_ALLOWED. A build or render error fails the case."""
    plans = plan_renders(spark, name)
    problems = _audit(name, plans)
    assert not problems, f"{name}: {problems}"
    if name in _FILTER_ALLOWED:
        assert _filter_hits(plans["formatted"]), (
            f"stale _FILTER_ALLOWED entry: {name} has no marker in a Filter"
        )


def test_udf_scalar_is_arrow_or_batch_python(spark):
    """The declared Python scalar UDF shows up as a Python eval stage,
    and the audit flags it once the key is outside _PYTHON_ALLOWED —
    the Python predicate's positive control."""
    plans = plan_renders(spark, "udf_scalar")
    assert "EvalPython" in plans["simple"]
    assert any("EvalPython leaked" in p for p in _audit("control", plans))


def test_audit_catches_cartesian_product(spark):
    """Positive control for the cartesian predicate: the
    shuffle_replicate_nl hint plans a crossJoin as CartesianProduct."""
    df = spark.range(8).hint("shuffle_replicate_nl").crossJoin(spark.range(8))
    assert "CartesianProduct planned" in _audit("control", renders(df))


def test_audit_catches_expensive_filter(spark):
    """Positive control for the filter predicate: a filter on a derived
    md5 column above a repartition is pushed below it, re-expanding
    md5( into the Filter condition."""
    df = (
        spark.range(64)
        .withColumn("h", F.md5(F.col("id").cast("string")))
        .repartition(4, "id")
        .filter(F.col("h").startswith("0"))
    )
    problems = _audit("control", renders(df))
    assert any(p.startswith("expensive Filter:") and "md5(" in p for p in problems), problems


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing both fact tables on the join key (same bucket count)
    makes the sort-merge join shuffle-free: the bucketed scans already
    satisfy the join's partitioning requirement. This is the
    co-located-join strategy for repeated big-big joins at 100 TB —
    pay the shuffle once at write time, never at read time."""
    from net7_etl_bus_spark.data import load_table

    try:
        (
            load_table(spark, SF_SMALL, "orders")
            .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .option("path", str(tmp_path / "b_orders"))
            .saveAsTable("b_orders")
        )
        (
            load_table(spark, SF_SMALL, "lineitem")
            .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .option("path", str(tmp_path / "b_lineitem"))
            .saveAsTable("b_lineitem")
        )
        j = (
            spark.table("b_lineitem").hint("merge")
            .join(spark.table("b_orders"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .select("l_orderkey", "l_linenumber", "o_orderdate")
        )
        j.collect()
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "simple"
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned layout (the lakehouse default for time-series
    facts): a year-filtered read must show PartitionFilters at the scan
    and touch only matching directories — partition pruning is the
    first 100x at 100 TB."""
    from net7_etl_bus_spark.data import load_table

    path = str(tmp_path / "orders_by_year")
    (
        load_table(spark, SF_SMALL, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.partitionBy("o_year").parquet(path)
    )
    df = spark.read.parquet(path).filter(F.col("o_year") == 1995).select(
        "o_orderkey", "o_totalprice"
    )
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "o_year" in pf[0], plan
    # Only the 1995 directory is read.
    import glob
    years = {p.split("o_year=")[1] for p in glob.glob(f"{path}/o_year=*")}
    assert "1995" in years and len(years) > 1  # layout actually partitioned


def test_topk_pushes_group_limit_below_shuffle(spark):
    """topk_per_group must show WindowGroupLimit twice (partial
    per-input-partition top-k BEFORE the shuffle, final after) — the
    optimization that keeps per-group top-k from shuffling every row."""
    plan = plan_of(spark, "topk_per_group")
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """Bloom-filter join pruning: when a fact-fact shuffle join has a
    selective filter on one side, Spark's InjectRuntimeFilter builds a
    bloom_filter_agg over the filtered side's join keys and applies
    might_contain on the probe side BEFORE its shuffle — at 100 TB this
    drops most of the probe side's rows pre-exchange, which is the
    difference between shuffling 100 TB and shuffling the ~1% that can
    actually match. Local thresholds are tuned down only to make the
    optimization fire at test scale (production defaults gate it to
    10 GB probe-side scans)."""
    saved = {}
    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join
    }
    for k, v in tuned.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_SMALL}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join: a hot key that would pin one reducer gets its
    partition split at runtime (SortMergeJoin(skew=true) in the final
    adaptive plan). This is the no-code-change complement to the
    explicit salting in join_skew_salted — at 100 TB either one keeps
    a power-law key from serializing the stage. Thresholds are tuned
    down only so the optimization fires at test scale."""
    saved = {}
    tuned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in tuned.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        # 200k rows on ONE key vs 2k spread over 2k keys: partition
        # holding key 0 is >>2x the median.
        left = spark.range(200_000).select(
            (F.col("id") * 0).alias("k"), F.col("id").alias("v")
        ).union(
            spark.range(2_000).select(
                (F.col("id") + 1).alias("k"), F.col("id").alias("v")
            )
        )
        right = spark.range(2_001).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        # execute THIS DataFrame's query (count() would build a new
        # QueryExecution and leave j's adaptive plan unfinalized)
        assert len(j.collect()) == 202_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_range_binned_join_is_hash_not_nested_loop(spark):
    """join_range_binned's whole point: the bin-key rewrite turns the
    range lookup into a hash join. The equi-join on bin must appear as
    BroadcastHashJoin; a BroadcastNestedLoopJoin would mean the
    rewrite regressed to O(facts x bands) comparisons."""
    plan = plan_of(spark, "join_range_binned", mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_q9_name_prefix_pushed_to_part_scan(spark):
    """q9's p_name LIKE 'red%' must reach the part scan as a
    StringStartsWith pushed filter — at 100 TB the name filter is what
    shrinks part enough to broadcast."""
    plan = plan_of(spark, "q9_product_type_profit")
    assert "StringStartsWith(p_name,red)" in plan.replace(" ", ""), plan


def test_q2_min_via_window_no_nested_loop(spark):
    """q2's correlated-min is formulated as a window over the partkey
    shuffle: the plan must contain a Window node and no nested-loop or
    cartesian join (the correlated-subquery plan shape)."""
    plan = plan_of(spark, "q2_min_cost_supplier")
    assert "Window" in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_cdc_snapshot_diff_single_shuffle(spark):
    """Both snapshots must come from ONE scan and ONE user_id exchange
    (conditional max_by), not a scan+shuffle per snapshot plus a join."""
    plan = plan_of(spark, "cdc_snapshot_diff", mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Scan parquet" not in plan or plan.count("FileScan") == 1, plan
    assert "Join" not in plan, plan


def test_geo_distance_join_is_hash_not_nested_loop(spark):
    """The 2D grid-binned proximity join must run as a hash join on
    the cell id — a nested-loop plan means the rewrite regressed to
    all-pairs distance comparisons."""
    plan = plan_of(spark, "geo_distance_join", mode="simple")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_gapfill_window_reuses_spine_partitioning(spark):
    """ts_gapfill_locf: the hourly aggregate broadcasts into the spine
    and the LOCF window reuses the spine's user_id partitioning — so
    the whole query needs exactly two hash exchanges (distinct users,
    hourly agg), none between the join and the window."""
    plan = plan_of(spark, "ts_gapfill_locf", mode="simple")
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_join_strategy_hints_are_respected(spark):
    """The three join-strategy hints must actually steer the planner:
    broadcast -> BroadcastHashJoin, merge -> SortMergeJoin,
    shuffle_hash -> ShuffledHashJoin. Hints are the manual override
    when stats mislead the optimizer at scale."""
    from net7_etl_bus_spark.data import load_table

    o = load_table(spark, SF_SMALL, "orders")
    c = load_table(spark, SF_SMALL, "customer")
    for hint, node in (
        ("broadcast", "BroadcastHashJoin"),
        ("merge", "SortMergeJoin"),
        ("shuffle_hash", "ShuffledHashJoin"),
    ):
        j = o.join(c.hint(hint), o.o_custkey == c.c_custkey)
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "simple"
        )
        assert node in plan, f"{hint} hint ignored:\n{plan}"


def test_bcast_index_scan_feeds_pandas_directly(spark):
    """sim_search_bcast_index: the corpus scan must feed the
    MapInPandas scoring stage with NO shuffle below it — only the
    <= k-rows-per-query-per-batch survivors may hit the top-k
    exchange. A shuffle under the scorer would move the corpus."""
    plan = plan_of(spark, "sim_search_bcast_index", mode="simple")
    assert "MapInPandas" in plan, plan
    below_scorer = plan.split("MapInPandas", 1)[1]
    assert "Exchange" not in below_scorer, (
        f"corpus-side shuffle below the scorer:\n{plan}"
    )


def test_enrichment_input_spread_to_default_parallelism(spark):
    """http_enrichment_mock: the one-split zip CSV is hash-spread on the
    zip column to defaultParallelism partitions directly below the
    MapInPandas enrichment stage, so the stage runs one task per task
    slot rather than one task in all."""
    plan = plan_of(spark, "http_enrichment_mock", mode="simple")
    n = spark.sparkContext.defaultParallelism
    spread = r"Exchange hashpartitioning\(xxhash64\(ZipCode[^)]*\), (\d+)\)"
    assert re.findall(spread, plan) == [str(n)] and plan.count("Exchange") == 1, plan
    lines = plan.splitlines()
    i = next(k for k, line in enumerate(lines) if "MapInPandas" in line)
    assert re.search(spread, lines[i + 1]), plan


def test_zorder_needs_no_window_or_join(spark):
    """zorder_cluster: the file assignment is a per-row bit expression
    (z-range partitioning) — the plan must be scan -> project ->
    aggregate with no Window, no Join, and no more than the aggregate
    exchange + the presentation sort."""
    plan = plan_of(spark, "zorder_cluster", mode="simple")
    assert "Window" not in plan and "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan  # agg shuffle + final sort


def test_profile_columns_single_scan(spark):
    """profile_columns: every column's stats come from ONE pass — the
    plan may contain exactly one parquet scan of orders (the oracle's
    UNION-ALL form would scan it six times)."""
    plan = plan_of(spark, "profile_columns", mode="simple")
    assert plan.count("FileScan parquet") == 1, plan
    assert "Expand" in plan, plan  # multi-count_distinct expansion


def test_histogram_partial_aggregation(spark):
    """agg_histogram: partial (map-side) aggregation must collapse
    each task to <= n_bins rows before the shuffle — two HashAggregate
    levels around one Exchange."""
    plan = plan_of(spark, "agg_histogram", mode="simple")
    assert plan.count("HashAggregate") >= 2, plan
    assert "Join" not in plan, plan


def test_anomaly_zscore_stats_join_broadcast(spark):
    """anomaly_zscore: the per-type moment stats (|event_types| rows)
    must rejoin the event stream by BROADCAST — a shuffle join here
    would move the whole fact to score it."""
    plan = plan_of(spark, "anomaly_zscore", mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_skew_key_profile_topk_no_global_sort(spark):
    """skew_key_profile: the top-20 keys come from
    TakeOrderedAndProject over the aggregated counts, never a global
    sort of all keys; the grand total attaches by broadcast."""
    plan = plan_of(spark, "skew_key_profile", mode="simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sample_weighted_no_shuffle(spark):
    """sample_weighted: membership is a pure per-row function of
    (key, weight) — no join, no aggregation exchange. The ONLY
    exchange allowed is data.scan_parallel's adaptive xxhash64 spread
    (OPTIMIZATION_r13: md5 + instr folds on a single-row-group local
    scan; identity branch at production row-group counts)."""
    plan = plan_of(spark, "sample_weighted", mode="simple")
    assert plan.count("Exchange") <= 1, plan
    assert "xxhash64" in plan or "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_win_running_distinct_two_windows_no_join(spark):
    """win_running_distinct: the rewrite is two window passes (marker,
    prefix sum) — no join, no aggregate, and no more exchanges than
    the two window shuffles."""
    plan = plan_of(spark, "win_running_distinct", mode="simple")
    assert plan.count("Window") >= 2, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_knn_classify_query_side_broadcast(spark):
    """knn_classify: the labeled query batch must broadcast against
    the corpus scan (nested-loop by construction — there is no equi
    key); the corpus must never shuffle before per-query top-k."""
    plan = plan_of(spark, "knn_classify", mode="simple")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_emb_centroid_partial_agg_after_explode(spark):
    """emb_centroid: posexplode fans out in the scan stage and partial
    aggregation collapses each task to <= |labels|*dim rows before the
    single (label, dim) exchange."""
    plan = plan_of(spark, "emb_centroid", mode="simple")
    assert "Generate" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "Join" not in plan, plan


def test_text_url_extract_no_join_single_explode(spark):
    """text_url_extract: regex extraction + explode + one aggregation
    — no join anywhere, exactly one Generate."""
    plan = plan_of(spark, "text_url_extract", mode="simple")
    assert plan.count("Generate") == 1, plan
    assert "Join" not in plan, plan


def test_dedup_paragraph_boiler_join_broadcast(spark):
    """dedup_paragraph: the boilerplate set (cross-doc repeated
    paragraphs only) must rejoin the exploded paragraphs by BROADCAST
    hash join on the md5 key — the full text never shuffles for the
    membership test."""
    plan = plan_of(spark, "dedup_paragraph", mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ts_rolling_stats_single_window_pass(spark):
    """ts_rolling_stats: all four frame aggregates share ONE window
    spec — one shuffle, one sort, no self-join (the naive rolling-join
    formulation would blow up row counts)."""
    plan = plan_of(spark, "ts_rolling_stats", mode="simple")
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_agg_weighted_avg_single_scan_partial_agg(spark):
    """agg_weighted_avg: one scan, two-phase hash aggregate, no join —
    the weighted mean is a pure moment sketch."""
    plan = plan_of(spark, "agg_weighted_avg", mode="simple")
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "Join" not in plan, plan


def test_text_bpe_pairs_topk_no_global_sort(spark):
    """text_bpe_pairs: two fused explodes then TakeOrderedAndProject —
    the top-50 must not globally sort the full pair-frequency table."""
    plan = plan_of(spark, "text_bpe_pairs", mode="simple")
    assert plan.count("Generate") == 2, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan


def test_graph_degree_stats_no_cartesian(spark):
    """graph_degree_stats: the edge derivation joins orders x lineitem
    on the order key — never a cartesian product — and every
    aggregation is hash-based."""
    plan = plan_of(spark, "graph_degree_stats", mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_emb_pq_quantize_zero_shuffle(spark):
    """emb_pq_quantize: the centroid table is a plan literal, so
    quantization is a pure narrow map — no join, and no exchange
    beyond the presentation sort."""
    plan = plan_of(spark, "emb_pq_quantize", mode="simple")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_dedup_prefix_hashes_only(spark):
    """dedup_prefix: the group key is md5(lead), aggregated hash-style
    — no join, no window, no text-wide shuffle beyond the group."""
    plan = plan_of(spark, "dedup_prefix", mode="simple")
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_join_scd2_pointintime_no_nested_loop(spark):
    """join_scd2_pointintime: the temporal join must be an equi join
    on the entity key with the interval as residual — a nested-loop
    or cartesian plan here is the classic temporal-join blowup."""
    plan = plan_of(spark, "join_scd2_pointintime", mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_win_gaps_islands_no_join(spark):
    """win_gaps_islands: the two-row_number formulation needs windows
    and one aggregate — never a self-join of the event stream."""
    plan = plan_of(spark, "win_gaps_islands", mode="simple")
    assert plan.count("Window") >= 1, plan
    assert "Join" not in plan, plan


def test_fn_conditional_no_shuffle(spark):
    """fn_conditional: conditional expressions are narrow codegen'd
    maps — zero exchanges."""
    plan = plan_of(spark, "fn_conditional", mode="simple")
    assert "Exchange" not in plan, plan


def test_interval_overlap_is_hash_not_nested_loop(spark):
    """join_interval_overlap: the bucket rewrite must run as a
    BroadcastHashJoin on the bucket key — the theta form would be a
    nested loop over intervals x windows."""
    plan = plan_of(spark, "join_interval_overlap", mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_ivfpq_probe_join_is_hash(spark):
    """sim_search_ivfpq: scoring joins coded corpus to probes on cid
    as a hash join (the only nested-loop allowed is the deliberate
    K-centroid broadcast assignment)."""
    plan = plan_of(spark, "sim_search_ivfpq", mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivf_cascade_broadcast_only_group_limited(spark):
    """sim_search_ivf_cascade (r13): the two-tier assignment must stay
    broadcast-only — the S-row super relation, the K-row cmap, and the
    probe relation broadcast (BroadcastNestedLoop for the deliberate
    crossJoins, BroadcastHashJoin for the sid/cid equi-joins); the
    corpus shuffles only at the vec_id/query_id rank windows, every
    one of which carries WindowGroupLimit so per-partition top-k is
    pruned below the shuffle. A CartesianProduct or SortMergeJoin
    anywhere means a relation that must broadcast at 100 TB stopped
    broadcasting."""
    plan = plan_of(spark, "sim_search_ivf_cascade", mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_span_ngram_two_explodes_hash_joins(spark):
    """dedup_span_ngram: the positional-window explode runs once per
    branch (marked windows + dup-hash set) — exactly two Generates,
    both linear in token count; everything downstream joins/aggregates
    on 16-byte hashes — no cartesian, no window operator."""
    import re

    plan = plan_of(spark, "dedup_span_ngram")
    node_ids = {m for m in re.findall(r"\((\d+)\) Generate", plan)}
    assert len(node_ids) == 2, plan
    simple = plan_of(spark, "dedup_span_ngram", mode="simple")
    assert "CartesianProduct" not in simple, simple
    assert "Window" not in simple, simple


def test_quality_classifier_no_join_no_window(spark):
    """text_quality_classifier: weight lookup is a plan literal —
    scoring is explode + hash agg, never a join against a weight
    table or a window."""
    plan = plan_of(spark, "text_quality_classifier", mode="simple")
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_decay_weighted_single_agg_no_join(spark):
    """agg_decay_weighted: the decay weight is a narrow per-row
    expression; the whole query is scan -> partial agg -> final agg."""
    plan = plan_of(spark, "agg_decay_weighted", mode="simple")
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_pipeline_curation_no_cartesian(spark):
    """pipeline_curation: five stages, one lazy plan — the only joins
    are hash joins on doc ids / 16-byte hashes; any cartesian or
    nested-loop means a stage regressed to all-pairs."""
    plan = plan_of(spark, "pipeline_curation", mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan


def test_fuzzy_join_blocks_to_hash_join(spark):
    """join_fuzzy_levenshtein: the prefix block key must make this a
    hash equi-join with levenshtein as residual — all-pairs distance
    would be a nested loop."""
    plan = plan_of(spark, "join_fuzzy_levenshtein", mode="simple")
    assert "HashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan


# --- unpartitioned-window guard (VERDICT r4 item 5) -------------------
#
# A Window.orderBy WITHOUT partitionBy funnels its whole input through
# ONE partition's sort — fine over a dimension-sized or already-top-k
# relation, a cluster-melter over a fact. The sites below are each
# documented and bounded; this pair of tests makes the bound a test
# invariant so future edits can't silently put a fact table through a
# single-partition sort.

# (file, outermost enclosing function) of every sanctioned site.
_GLOBAL_WINDOW_ALLOWLIST = {
    ("windows.py", "win_ntile_percent"),       # over customer (dim)
    ("relational.py", "sort_orderby"),         # over supplier (dim)
    ("relational.py", "rfm_segmentation"),     # over per-customer agg
    ("graph.py", "graph_common_neighbors"),    # over top-k limit
    ("analytics.py", "skew_key_profile"),      # over top-20 limit
    ("packing.py", "pack_sequences_frame"),    # over super-bucket totals (docs/2^32 rows)
    ("text.py", "text_quality_quantile_gate"), # over <=2^16-bin score histogram
    ("batch_equiv.py", "_watermark_ledger"),   # over super-bucket maxes (events/2^36 rows)
}


def test_unpartitioned_window_sites_are_allowlisted():
    """Every `Window.orderBy(...)` call (i.e. orderBy directly on the
    Window class — a partitioned spec calls it on the partitionBy
    result instead) must appear in the reviewed allowlist."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "net7_etl_bus_spark"
    found = set()
    for py in root.rglob("*.py"):
        tree = ast.parse(py.read_text())

        class V(ast.NodeVisitor):
            def __init__(self):
                self.stack = []

            def visit_FunctionDef(self, node):
                self.stack.append(node.name)
                self.generic_visit(node)
                self.stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Call(self, node):
                f = node.func
                if (
                    isinstance(f, ast.Attribute)
                    and f.attr == "orderBy"
                    and isinstance(f.value, ast.Name)
                    and f.value.id == "Window"
                ):
                    found.add((py.name, self.stack[0] if self.stack else "<module>"))
                self.generic_visit(node)

        V().visit(tree)
    assert found == _GLOBAL_WINDOW_ALLOWLIST, (
        f"unreviewed global-window sites: {found - _GLOBAL_WINDOW_ALLOWLIST}; "
        f"stale allowlist entries: {_GLOBAL_WINDOW_ALLOWLIST - found}"
    )


def _window_line(plan: str) -> int:
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Window" in ln and "WindowGroupLimit" not in ln:
            return i
    raise AssertionError(f"no Window node in plan:\n{plan}")


def test_global_window_inputs_are_bounded(spark):
    """For each allowlisted site's registered query, the physical plan
    must show the documented bound BELOW the Window node (tree prints
    parent-first): a top-k limit, a dimension-only scan, or a
    key-collapsing aggregate."""
    # top-k-limited inputs: a TakeOrderedAndProject/Limit under the Window
    for name in ("graph_common_neighbors", "skew_key_profile"):
        plan = plan_of(spark, name, mode="simple")
        lines = plan.splitlines()
        wi = _window_line(plan)
        below = "\n".join(lines[wi + 1 :])
        assert "TakeOrderedAndProject" in below or "Limit" in below, (
            f"{name}: Window input not limit-bounded:\n{plan}"
        )

    # dimension-sized inputs: nothing fact-scale anywhere under the Window
    for name, dim in (("win_ntile_percent", "customer"), ("sort_orderby", "supplier")):
        plan = plan_of(spark, name, mode="simple")
        below = "\n".join(plan.splitlines()[_window_line(plan) + 1 :])
        assert f"{dim}.parquet" in below, f"{name}: expected {dim} scan:\n{plan}"
        for fact in ("lineitem", "orders", "events", "documents", "embeddings"):
            assert f"{fact}.parquet" not in below, (
                f"{name}: fact table under a global window:\n{plan}"
            )

    # aggregate-collapsed input: rfm's windows run over the per-customer
    # aggregate of orders, never raw orders rows
    plan = plan_of(spark, "rfm_segmentation", mode="simple")
    below = "\n".join(plan.splitlines()[_window_line(plan) + 1 :])
    assert "HashAggregate" in below and "o_custkey" in below, (
        f"rfm_segmentation: window not over the per-customer aggregate:\n{plan}"
    )

    # two-level prefix sum: text_pack_sequences' only GLOBAL window (a
    # partition-less spec starts straight with the sort column) must sit
    # directly over the super-bucket aggregate (keys=[b2]) — i.e. the
    # document stream was collapsed twice before the single-partition
    # sort ever sees a row.
    import re

    plan = plan_of(spark, "text_pack_sequences", mode="simple")
    lines = plan.splitlines()
    gw = [
        i
        for i, ln in enumerate(lines)
        if re.search(r"windowspecdefinition\(b2#\d+L? ASC", ln)
    ]
    assert len(gw) == 1, f"expected exactly one global window:\n{plan}"
    first_agg = next(
        ln for ln in lines[gw[0] + 1 :] if "HashAggregate" in ln
    )
    assert "keys=[b2" in first_agg, (
        f"global window not over the b2 aggregate:\n{plan}"
    )

    # text_quality_quantile_gate's global cumulative-count window must
    # run over the clamped-score histogram aggregate (keys=[sb],
    # <= 2^16 rows by construction), never over per-document scores.
    plan = plan_of(spark, "text_quality_quantile_gate", mode="simple")
    lines = plan.splitlines()
    gw = [
        i
        for i, ln in enumerate(lines)
        if re.search(r"windowspecdefinition\(sb#\d+L? ASC", ln)
    ]
    assert len(gw) == 1, f"expected exactly one global window:\n{plan}"
    first_agg = next(ln for ln in lines[gw[0] + 1 :] if "HashAggregate" in ln)
    assert "keys=[sb" in first_agg, (
        f"global window not over the histogram aggregate:\n{plan}"
    )

    # watermark_late_data's two-level prefix MAX: its only global
    # window must sit directly over the super-bucket (keys=[b2])
    # aggregate — the event stream is collapsed twice before the
    # single-partition sort sees a row, same contract as the packer.
    plan = plan_of(spark, "watermark_late_data", mode="simple")
    lines = plan.splitlines()
    gw = [
        i
        for i, ln in enumerate(lines)
        if re.search(r"windowspecdefinition\(b2#\d+L? ASC", ln)
    ]
    assert len(gw) == 1, f"expected exactly one global window:\n{plan}"
    first_agg = next(ln for ln in lines[gw[0] + 1 :] if "HashAggregate" in ln)
    assert "keys=[b2" in first_agg, (
        f"global window not over the b2 aggregate:\n{plan}"
    )


def test_text_tfidf_topk_windowgrouplimit_no_cartesian(spark):
    """text_tfidf_topk: the per-doc top-5 must run as WindowGroupLimit
    (k rows per doc per partition cross the exchange), the df join
    must be a hash join, and the only nested-loop is the 1-row corpus
    count broadcast."""
    plan = plan_of(spark, "text_tfidf_topk", mode="simple")
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_text_bm25_search_broadcast_queries(spark):
    """text_bm25_search: the literal query table joins BROADCAST onto
    tf (the corpus-sized relation never reshuffles for it), candidates
    rank via WindowGroupLimit, and the only nested-loops are 1-row
    broadcasts (N x T assembling the global-stats row, then that row
    onto the candidates)."""
    plan = plan_of(spark, "text_bm25_search", mode="simple")
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan


def test_graph_triangle_count_equi_joins_only(spark):
    """graph_triangle_count: every join — co-occurrence, degree
    decoration, wedge, closing edge — must be a hash/merge EQUI join
    (inequalities ride as residuals); a nested-loop anywhere here is
    the O(V^2) failure mode. OPTIMIZATION_r13: the undirected and
    oriented edge relations localCheckpoint (each had 3 consumers
    replaying the co-occurrence self-join under lineage), so the
    co-occurrence/degree HashAggregates now run once inside the
    checkpointed subplans and the final plan consumes the oriented
    relation as >= 3 ExistingRDD scans (e1/e2/e3)."""
    plan = plan_of(spark, "graph_triangle_count", mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan  # checkpoint reuse
    assert plan.count("HashAggregate") >= 2, plan  # triangle count agg


def test_emb_kmeans_train_bounded_plan(spark):
    """emb_kmeans_train: per Lloyd round, ONE K-row broadcast
    nested-loop (the centroid relation — bounded by K, never
    corpus-sized), the argmin as WindowGroupLimit (rk==1 caps each
    vec_id partition at one row pre-exchange), and a hash aggregate
    for the 64*K mean cells. No cartesian of corpus-sized sides."""
    plan = plan_of(spark, "emb_kmeans_train", mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 3, plan
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("HashAggregate") >= 6, plan


def test_emb_semdedup_cluster_scoped_pairs(spark):
    """emb_semdedup: the dedup pair join must be an EQUI join on cid
    (cluster-scoped — the whole point of SemDeDup) over the
    localCheckpointed assign relation (OPTIMIZATION_r13: one
    crossJoin+argmin computation feeds ledger base + both pair sides
    as ExistingRDD scans — the argmin's WindowGroupLimit now runs
    inside the checkpointed subplan, before this final plan)."""
    plan = plan_of(spark, "emb_semdedup", mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 3, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan  # checkpoint reuse
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        plan.count("BroadcastHashJoin") >= 1, plan


def test_agg_cms_sketch_tiny_keyspace_aggregate(spark):
    """agg_cms_heavy_hitters: the sketch build must be a two-phase
    hash aggregate over the 1024-cell key space (map-side collapse
    before ONE tiny exchange), the heavy-hitter cut
    TakeOrderedAndProject, and the probe join broadcast."""
    plan = plan_of(spark, "agg_cms_heavy_hitters", mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan
    assert "BroadcastHashJoin" in plan, plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Dynamic partition pruning: joining a year-partitioned fact to a
    FILTERED dim must inject a runtime `dynamicpruningexpression` into
    the fact scan's PartitionFilters — Spark prunes fact partitions
    from the dim filter's result at execution time, without a literal
    year predicate on the fact. At 100 TB this is the difference
    between scanning one year and scanning the decade when the cut
    only exists on the dimension side.

    The dim filter must NOT be expressible on the join key itself — a
    literal `d_year = 1995` gets constant-folded through the equi-join
    into a static partition filter (verified: Catalyst does this), so
    the dim is cut on an aggregate-derived column only the runtime can
    evaluate."""
    from net7_etl_bus_spark.data import load_table

    path = str(tmp_path / "orders_part")
    (
        load_table(spark, SF_SMALL, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.partitionBy("o_year").parquet(path)
    )
    fact = spark.read.parquet(path)
    dim = (
        load_table(spark, SF_SMALL, "orders")
        .groupBy(F.year("o_orderdate").alias("d_year"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 100)
    )
    j = fact.join(dim, fact["o_year"] == dim["d_year"]).select(
        "o_orderkey", "o_totalprice", "o_year"
    )
    plan = spark._jvm.PythonSQLUtils.explainString(j._jdf.queryExecution(), "formatted")
    assert "dynamicpruningexpression" in plan, (
        f"no dynamic partition pruning in plan:\n{plan}"
    )


def test_text_bpe_train_winner_cut_no_global_sort(spark):
    """text_bpe_train: each round's winning pair must be a 1-row
    TakeOrderedAndProject broadcast back by nested-loop (1-row build
    side), never a global sort of the pair table or a rank window;
    pair counting is hash aggregation (Catalyst re-derives earlier
    rounds' subplans inside later rounds — lazy-plan recomputation,
    each still vocabulary-bounded)."""
    plan = plan_of(spark, "text_bpe_train", mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 6, plan
    assert "Window" not in plan, plan


def test_text_ngram_lm_counts_stacked_aggregates(spark):
    """text_ngram_lm_counts: the first-word marginal must be an
    aggregate OF the materialized bigram table — ZERO parquet scans in
    the final plan (the one corpus pass lives inside the bigram
    localCheckpoint; lazily Catalyst re-derived c12 from a second
    corpus scan for the marginal branch) — the join back a hash join,
    and the top-100 TakeOrderedAndProject."""
    plan = plan_of(spark, "text_ngram_lm_counts", mode="simple")
    assert plan.count("FileScan parquet") == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_text_lm_score_two_scans(spark):
    """text_lm_score: the docstring's TWO-corpus-scan claim, pinned.
    The LM-build scan lives inside the c12 localCheckpoint (Scan
    ExistingRDD), so the final plan may contain exactly two parquet
    scans of documents — the scoring bigram pass and the doc_id
    ledger pass. A checkpoint placed above the c12-join-c1 instead
    (the r8 shape) leaves both c12 references below it and Catalyst
    re-derives the bigram aggregate from a THIRD corpus scan."""
    plan = plan_of(spark, "text_lm_score", mode="simple")
    assert plan.count("FileScan parquet") == 2, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_text_bpe_encode_two_scans_vocab_bounded(spark):
    """text_bpe_encode: the corpus is touched exactly twice — the
    word-count pass lives inside the vocab localCheckpoint (Scan
    ExistingRDD), so the final plan holds two parquet scans of
    documents (the doc-side word stream and the doc_id ledger). The
    merge rounds and the encoder all derive from the checkpoint —
    lazily they would each re-explode the corpus (the text_lm_score
    c12 lesson). Merge winners broadcast back as 1-row nested-loop
    builds; no cartesian product anywhere."""
    plan = plan_of(spark, "text_bpe_encode", mode="simple")
    assert plan.count("FileScan parquet") == 2, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_matryoshka_plan_broadcast_and_group_limits(spark):
    """sim_search_matryoshka: the query side broadcasts (never a
    corpus shuffle for 5 queries), and BOTH rank stages (coarse top-C,
    final top-k) get WindowGroupLimit pushdown — so no exchange ever
    carries more than C rows per (query, partition). Pre-AQE simple
    mode shows one WindowGroupLimit per rank stage (the Partial twin
    materializes at execution, like topk_per_group's)."""
    plan = plan_of(spark, "sim_search_matryoshka", mode="simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_binary_rerank_plan_broadcast_and_group_limits(spark):
    """sim_search_binary_rerank: same contract — broadcast query side,
    WindowGroupLimit on both the hamming top-C and the cosine top-k,
    and the XOR/popcount prefilter entirely JVM-side (zero Python)."""
    plan = plan_of(spark, "sim_search_binary_rerank", mode="simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_events_funnel_single_events_scan(spark):
    """events_funnel: ONE scan of events (the step chain is computed
    from per-user arrays, not per-stage re-joins of the fact — the
    N-self-join shape a naive funnel port produces), the step-type IN
    filter pushed to the parquet reader, and no window operator (the
    chain is array folds, not sorts)."""
    plan = plan_of(spark, "events_funnel", mode="simple")
    assert plan.count("Scan parquet") == 1, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "event_type" in ln]
    assert pushed, plan
    assert "Window" not in plan, plan


def test_containment_lsh_matches_verified_cascade_shape(spark):
    """dedup_containment_lsh (no-mega corpus) reuses the verified
    cascade's plan shape: since OPTIMIZATION_r13 both checkpoint the
    signature relation once (the duplicated with-sets aggregate across
    the three signature consumers became the dominant cost — the
    MEASURED reversal of the r3-era persist-was-slower choice), so the
    visible plan hangs off one ExistingRDD scan and the Generate count
    stays within the verified cascade's envelope plus exactly one (the
    2-struct direction explode; the unionAll formulation the original
    pin caught doubled the whole cascade to 12, and a dropped
    checkpoint here would now show up the same way), and the whole
    thing is JVM-side."""
    ours = plan_of(spark, "dedup_containment_lsh", mode="simple")
    theirs = plan_of(spark, "dedup_minhash_verified", mode="simple")
    assert ours.count("Generate") <= theirs.count("Generate") + 1, (
        ours.count("Generate"), theirs.count("Generate"),
    )
    # Both cascades' signature subtrees are checkpointed: the plans
    # must read sig from an ExistingRDD scan, not rebuild it.
    assert "ExistingRDD" in ours, ours
    assert "ExistingRDD" in theirs, theirs
    assert "BatchEvalPython" not in ours and "ArrowEvalPython" not in ours, ours
    assert "CartesianProduct" not in ours, ours


def test_shuffle_epoch_shards_single_shuffle_no_global_window(spark):
    """shuffle_epoch_shards: one exchange (hash-partitioned by shard)
    feeding per-shard sorts — no global (partition-less) window, no
    join, zero Python. The shuffle IS the epoch shuffle; anything
    beyond it is overhead."""
    plan = plan_of(spark, "shuffle_epoch_shards", mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "SinglePartition" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_split_leakage_check_no_cartesian_all_hash_joins(spark):
    """split_leakage_check: the split relation attaches to the
    verified pairs via hash equi-joins on doc ids; any cartesian or
    nested loop means the eval-hygiene pass regressed to all-pairs."""
    plan = plan_of(spark, "split_leakage_check", mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan
    assert "HashJoin" in plan, plan


def test_token_budget_per_source_window_is_two_level(spark):
    """sample_token_budget's running sum must keep the two-level shape:
    the window over raw documents partitions by (source, b1) — never by
    source alone, which would put an entire domain in one partition —
    and the per-source window runs only over the (source, b1) bucket
    aggregate. Same hazard class as text_pack_sequences' global cumsum,
    one level down (per-group instead of global)."""
    import re

    plan = plan_of(spark, "sample_token_budget", mode="simple")
    lines = plan.splitlines()
    # windows partitioned by source ALONE (spec starts source#N, then
    # the ORDER column b1): allowed only over the bucket aggregate
    src_only = [
        i
        for i, ln in enumerate(lines)
        if re.search(r"windowspecdefinition\(source#\d+, b1#\d+L? ASC", ln)
    ]
    assert len(src_only) == 1, f"expected one per-source bucket window:\n{plan}"
    first_agg = next(ln for ln in lines[src_only[0] + 1 :] if "HashAggregate" in ln)
    assert re.search(r"keys=\[source#\d+, b1#\d+", first_agg), (
        f"per-source window not over the (source, b1) aggregate:\n{plan}"
    )
    # the raw-row window must carry BOTH partition keys (source, b1)
    assert any(
        re.search(r"windowspecdefinition\(source#\d+, b1#\d+L?, h#\d+", ln)
        for ln in lines
    ), f"raw-row window not bucketed by (source, b1):\n{plan}"


def test_emb_semdedup_trained_trains_once_cluster_scoped(spark):
    """emb_semdedup_trained (r10): the trained K-row centroid relation
    is localCheckpointed, so the downstream semdedup tier references
    it as a materialized scan (3 references — ledger base + both pair
    sides) instead of re-running the 3-round Lloyd subplan per
    reference; the semdedup tier itself keeps emb_semdedup's exact
    shape — the pair join a cid EQUI join over the checkpointed
    assign relation (OPTIMIZATION_r13: argmin WindowGroupLimit runs
    inside the checkpointed subplan), no cartesian, no Python."""
    plan = plan_of(spark, "emb_semdedup_trained", mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 3, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan  # checkpoint reuse
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        plan.count("BroadcastHashJoin") >= 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_text_quality_nb_train_counting_plan(spark):
    """text_quality_nb_train (r10): training is COUNTING — token
    explode + hash aggregates + one doc_id label equi-join
    (broadcastable at this SF) + the bucket-spine equi-join; the
    1-row priors relation is the only nested loop; no window, no
    Python, no cartesian."""
    plan = plan_of(spark, "text_quality_nb_train", mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan  # 1-row priors
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 6, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_text_repetition_no_expensive_scan_side_filter(spark):
    """text_repetition (OPTIMIZATION_r13 regression pin): the >=2-words
    gate must reach the plan as the cheap Contains predicate, and NO
    Filter may re-expand the tokenize/bigram expression chain. A
    filter on the DERIVED size(split(...)) column — or a plain explode
    whose InferFiltersFromGenerate predicates push below the
    scan_parallel Exchange — re-runs the expensive expressions on the
    one-task scan side (10.1 s vs 1.3 s at sf0.1). The no-re-expansion
    half is test_registry_plan_audit's filter predicate."""
    plan = plan_of(spark, "text_repetition")
    conditions = [
        ln for ln in plan.splitlines() if ln.strip().startswith("Condition :")
    ]
    assert conditions, plan  # the contains(' ') gate must exist
    assert any("Contains(" in ln or "contains(" in ln for ln in conditions), plan

