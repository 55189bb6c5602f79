"""Physical-plan shape tests (SURVEY.md §4): pin the properties the
100 TB design depends on — pushdown, broadcast choice, bounded shuffle
count, codegen coverage — so plan regressions fail here, not on a
cluster."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_nifi_spark import io
from apache_nifi_spark.plans import (
    ProvenanceTrail,
    count_codegen_spans,
    count_exchanges,
    formatted_explain,
    has_broadcast_join,
    pushed_filters,
)
from apache_nifi_spark.registry import QUERIES

#: Queries the registry sweeps never build: they execute side effects
#: (writes/UDF pipelines) at plan-build time.  Streaming drains
#: (``stream_*``) are excluded by name as well.
PLAN_BUILD_SKIP = {
    "bucketed_colocated_join", "put_file_partitioned",
    "compress_content_gzip", "unpack_content_zip", "convert_record_csv",
    "convert_record_json", "source_binary_file",
    "multimodal_image_features", "dedup_minhash_lsh",
}


@pytest.fixture(scope="module")
def registry_frames(spark, sf_dir):
    """Every batch query built once, shared by the three registry sweeps
    (cartesian, codegen, output column types) in place of one
    construction pass each."""
    return {
        name: fn(spark, sf_dir)
        for name, fn in QUERIES.items()
        if not name.startswith("stream_") and name not in PLAN_BUILD_SKIP
    }


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    orders = io.load_table(spark, sf_dir, "orders")
    q = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    pf = pushed_filters(q)
    assert any("o_orderstatus" in f for f in pf), pf
    # column pruning: the scan reads only the two referenced columns
    assert "o_totalprice" not in formatted_explain(q).split("PushedFilters")[0].split("ReadSchema")[-1]


def test_flagship_plan_shape(spark, sf_dir):
    df = QUERIES["flagship_revenue"](spark, sf_dir)
    # the dim join must be broadcast, the date filter pushed to the scan
    assert has_broadcast_join(df)
    assert any("l_shipdate" in f for f in pushed_filters(df))
    # scan ×4 + 2 shuffle joins + agg + sort/limit stays under a tight
    # exchange budget; a regression here = an extra full-data shuffle
    assert count_exchanges(df) <= 6, count_exchanges(df)
    df.collect()  # finalize the adaptive plan so codegen spans are visible
    assert count_codegen_spans(df) >= 2


def test_widen_preserves_pushdown_and_noops_when_wide(spark, sf_dir):
    """widen_if_narrow sits ABOVE the filter, so predicate pushdown to the
    scan must survive it (q1 uses this shape); and a DataFrame that
    already has >= parallelism input splits must pass through untouched."""
    q1 = QUERIES["q1_pricing_summary"](spark, sf_dir)
    assert any("l_shipdate" in f for f in pushed_filters(q1)), pushed_filters(q1)
    # the contract that matters: widening never changes results
    narrow = io.load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    a = {tuple(r) for r in narrow.collect()}
    b = {tuple(r) for r in io.widen_if_narrow(narrow).collect()}
    assert a == b


def test_widen_split_estimate_on_joined_frame(spark, sf_dir):
    """r17 (r16 verdict #5): _estimated_scan_splits on a MULTI-SCAN
    frame sums every source's files — by design it may only err toward
    NOT widening (overestimating splits), never toward firing a widen
    the RDD probe would have skipped.  Pin that direction."""
    li = io.load_table(spark, sf_dir, "lineitem")
    orders = io.load_table(spark, sf_dir, "orders")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    par = spark.sparkContext.defaultParallelism
    est = io._estimated_scan_splits(joined, par)
    assert est is not None
    # the joined estimate is at least each single-scan estimate
    assert est >= io._estimated_scan_splits(li, par)
    assert est >= io._estimated_scan_splits(orders, par)
    # and the widen decision on the joined frame matches results-safety:
    # widening never changes rows
    a = joined.count()
    assert io.widen_if_narrow(joined).count() == a


def test_lookup_is_broadcast_not_shuffle(spark, sf_dir):
    df = QUERIES["lookup_customer_nation"](spark, sf_dir)
    assert has_broadcast_join(df)


def test_provenance_trail_counts(spark, sf_dir):
    ev = io.load_table(spark, sf_dir, "events")
    trail = ProvenanceTrail()
    src = trail.stage(ev, "CREATE")
    routed = trail.stage(src.filter(F.col("event_type") == "purchase"), "ROUTE")
    routed.count()
    events = dict((s, n) for _, s, n in trail.events())
    assert events["CREATE"] == ev.count()
    assert events["ROUTE"] == ev.filter(F.col("event_type") == "purchase").count()
    snap = trail.snapshot(spark)
    assert [r["stage"] for r in snap.orderBy("hop").collect()] == ["CREATE", "ROUTE"]


def test_no_driver_side_collect_in_library_source():
    """Static audit of the 100 TB rule that no operator ships rows to the
    driver: no ``.collect()`` / ``.toPandas()`` call anywhere in library
    source (AST walk, so docstrings don't count).  ``first()``/``count()``
    returning O(1) rows are fine and excluded."""
    import ast
    import pathlib

    root = pathlib.Path(io.__file__).parent
    # A call site may opt out ONLY by carrying a visible `# control-plane`
    # justification comment on the call's OWN line span (lineno..end_lineno
    # — ADVICE r4 #4: a lookback window let one marker silently exempt a
    # different, unmarked collect below it) — O(partitions) manifest
    # actions, catalog/offset metadata, or an HTTP response body that is
    # driver-side by nature.  Unmarked data-plane collects stay banned, and
    # every exception is auditable in source at the site itself.
    offenders = []
    for path in root.rglob("*.py"):
        src_lines = path.read_text().splitlines()
        tree = ast.parse("\n".join(src_lines))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("collect", "toPandas")
            ):
                span = src_lines[
                    node.lineno - 1 : (node.end_lineno or node.lineno)
                ]
                if any("control-plane" in ln for ln in span):
                    continue
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not offenders, f"driver-side row transfer in library code: {offenders}"


def test_no_accidental_cartesian_products(registry_frames):
    """Sweep every batch query's physical plan: no CartesianProduct
    anywhere; BroadcastNestedLoop only for genuinely non-equi joins
    (range/theta/TTL/scoring).  Guards the 100 TB rule that every join is
    either keyed (hash/sort-merge) or a bounded broadcast."""
    from apache_nifi_spark.registry import QUERIES

    # excluded: streaming drains and queries that execute side effects
    # (writes/UDF pipelines) at plan-build time
    skip = PLAN_BUILD_SKIP
    bnlj_ok = {
        # Kendall tau-b: non-equi self-join over the <=550-row value
        # GRID (50 quantities x 11 discounts), both sides bounded by
        # column cardinality, never row count
        "stats_kendall_tau",
        # Kaplan-Meier / Nelson-Aalen: 1-row global max-date broadcast
        # (censoring horizon), keyless by nature, bounded by construction
        "survival_kaplan_meier",
        "survival_nelson_aalen",
        # theta sketch: 1-row theta broadcast onto the <=k*k match set
        "sketch_theta_intersection",
        # rolling WAU: day-spine range join, spine side calendar-
        # bounded, fan-out a constant 7
        "events_rolling_wau",
        # Theil-Sen: non-equi self-join of the CALENDAR-BOUNDED month
        # frame (~84 rows -> ~3.5k slope pairs), never data-grain
        "forecast_theil_sen_trend",
        # NDCG: keyless joins of three 1-row aggregates (corpus stats,
        # DCG, IDCG) - bounded by construction
        "search_ndcg_eval",
        # HITS: keyless joins of 1-row L1-normalization totals only
        "graph_hits_scores",
        # PSI: 1-row expected-range min/max broadcast onto the band map
        "stats_psi_drift",
        # MI: 1-row grid-total broadcast onto the bounded cell frame
        "stats_mutual_information",
        # Friedman: 1-row (n, k, SS) totals onto the k-row type frame
        "stats_friedman_test",
        # Page-Hinkley: 1-row global-mean broadcast onto the day series
        "stats_page_hinkley",
        # Mann-Kendall: month-pair self-join (calendar-bounded, the
        # Theil-Sen precedent) + 1-row S/variance total joins
        "forecast_mann_kendall",
        # Lincoln-Petersen: three 1-row capture-count frames
        "stats_lincoln_petersen",
        # power-law MLE: 1-row d_min broadcast onto the degree frame
        "graph_degree_powerlaw",
        # Poisson bootstrap: 1-row point estimate x rank-2/63 CI rows
        "stats_poisson_bootstrap_ci",
        # RRF: 1-row BM25 corpus-stats frame onto the term frame
        "search_rrf_fusion",
        # RBO: 1-row rbo total x 1-row depth-100 overlap
        "search_rbo_rankings",
        # jackknife: 1-row totals onto the 32-row bucket frame
        "stats_jackknife_ratio",
        # SPRT: 1-row decision-day frame onto the ~31-day frame
        "stats_sprt_sequential",
        # EWMA chart: 1-row moment frame onto the day frame
        "stats_ewma_control_chart",
        # Fellegi-Sunter: 1-row record count x three 1-row u frames
        "linkage_fellegi_sunter",
        # log-rank: 1-row censoring-horizon broadcast (KM precedent)
        "survival_logrank_test",
        # ROC AUC: 1-row min/max broadcast (the bucketed-rank shape)
        "stats_roc_auc",
        # window funnel: 1-row entered-count broadcast
        "events_window_funnel",
        # seasonal decompose: 1-row zero-centering mean
        "forecast_seasonal_decompose",
        # expectation audit: two 1-row orphan counts
        "quality_expectation_audit",
        "range_join_price_bands", "theta_join_richer_customers",
        "mega2_geoenrich_bands",  # GeoEnrichIP range join: bounded broadcast
        "flowfile_expiration_ttl", "similarity_cosine_topk",
        "similarity_quantized_topk",  # same bounded-broadcast != shape
        "similarity_ivf_topk", "similarity_lsh_topk", "asof_signup_before_purchase",
        "join_zip_positional", "scan_content_semi", "dedup_embedding_cosine",
        "dedup_ngram_jaccard",
        # 1-row global-stats broadcast (T+V smoothing constants): keyless
        # by nature, bounded by construction
        "text_unigram_logprob",
        # same 1-row smoothing-stats broadcast shape
        "text_bigram_logprob",
        # two 1-row sides (corpus totals × fitted coefficients)
        "text_zipf_fit",
        # 1-row doc-count broadcast for the smoothed idf
        "text_tfidf_keywords",
        # bounded broadcast query side, non-equi (id != id, label != label)
        # by nature — the similarity_cosine_topk shape with a label guard
        "similarity_hard_negatives",
        # same shape: Nt/Nr one-row total broadcasts for the DSIR weights
        "dsir_importance_scores",
        # K-row centroid broadcast per Lloyd iteration: keyless scoring
        # against every centroid, bounded by k
        "cluster_kmeans_embeddings",
        # same bounded K-row centroid broadcast inside the k-means
        # blocking pass (the pair sweep itself is an equi-join ON
        # cluster); normally invisible here because the assignment is
        # localCheckpoint'ed, listed for robustness
        "dedup_semantic_semdedup",
        # wraps text_unigram_logprob: the same 1-row smoothing-stats
        # broadcast (T+V), bounded by construction
        "text_ccnet_buckets",
        # probs×buckets cross join: ≤ len(probs) × bins rows, both sides
        # bounded by construction (the quantile read-out, not data)
        "quantile_histogram_sketch",
        # 1-row corpus-stats broadcast (N, total_len) into the scoring
        # projection — bounded by construction
        "search_bm25_scores",
        # two 1-row sides (language-table rollup × distinct-text count):
        # the datacard's final cross join is 1×1 by construction
        "corpus_datacard_report",
        # 9-row Benford constants × 1-row total: bounded by construction
        "stats_benford_first_digit",
        # 1-row bigram-type-total broadcast (the KN continuation
        # denominator): keyless by nature, bounded by construction
        "text_kneser_ney_logprob",
        # 1-row basket-count broadcast (the lift denominator): keyless
        # by nature, bounded by construction
        "basket_association_rules",
        # 1-row min/max/totals broadcast feeding the range bucketer:
        # keyless by nature, bounded by construction
        "stats_ks_drift",
        # same 1-row range-bucketer broadcast shape
        "stats_mann_whitney_u",
        # the shared _cbefore_map 1-row min/max range-bucketer broadcast
        # (two of them — one per ranked column): keyless by nature,
        # bounded by construction
        "stats_spearman_rank",
        # same range-bucketer broadcast + a 1-row n/ties totals
        # broadcast: both keyless by nature, bounded by construction
        "stats_kruskal_wallis",
        # 4-row literal lag table crossed into the day-grain series:
        # bounded by construction (the lag workload, not data)
        "stats_autocorrelation",
        # 1-row corpus doc-count broadcast (the dispersion denominator):
        # keyless by nature, bounded by construction
        "text_burstiness",
        # 1-row agreement totals × 1-row chance-agreement numerator:
        # both keyless by nature, bounded by construction
        "stats_cohens_kappa",
        # 1-row min/max time-range broadcast feeding the bucketer:
        # keyless by nature, bounded by construction
        "hypertable_lttb_downsample",
    }
    for name, df in registry_frames.items():
        if name.startswith("stream_") or name in skip:
            continue
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name} has a cartesian product"
        if "BroadcastNestedLoop" in plan:
            assert name in bnlj_ok, f"{name} unexpectedly uses BroadcastNestedLoopJoin"


def test_jvm_queries_keep_wholestage_codegen(registry_frames):
    """Codegen regression guard (round-6 verdict #8): every batch query
    that executes purely JVM-side must retain at least one
    WholeStageCodegen span after execution.  This is the tripwire for
    interpreted-fallback regressions like the round-6
    ``mega_flow_json_validate`` collapse, where an optimizer rewrite
    inlined non-codegen expressions into the whole stage.  Queries with
    Python-eval nodes (mapInPandas/UDTF/Arrow) are exempt — those stages
    can't codegen by construction — as are build-time side-effect
    queries."""
    from apache_nifi_spark.plans import count_codegen_spans

    skip = PLAN_BUILD_SKIP | {
        # file-bus consumer: plan is a bare landed-file scan whose work
        # happened at publish time — nothing left to codegen
        "publish_consume_kafka_bus",
        # reader→writer bridges over row-based scans, like the csv/json
        # ones above: a bare Avro/XML scan, and (nested) a projection
        # whose `transform` lambda is a CodegenFallback expression
        "convert_record_avro", "convert_record_avro_nested",
        "convert_record_xml",
    }
    py_nodes = (
        "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        "FlatMapGroupsInPandas", "MapInArrow", "PythonUDTF", "EvalPython",
    )
    offenders = []
    for name, df in registry_frames.items():
        if name.startswith("stream_") or name in skip:
            continue
        df.collect()  # finalize the adaptive plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        if any(p in plan for p in py_nodes):
            continue
        if "EmptyRelation" in plan:
            # AQE collapsed a zero-row stage to EmptyRelation (tiny-SF
            # filters can match nothing) — nothing executed, nothing to
            # codegen; not an interpreted fallback
            continue
        if count_codegen_spans(df) == 0:
            offenders.append(name)
    assert not offenders, f"JVM-only queries running fully interpreted: {offenders}"


def test_partition_pruning_reaches_directory_listing(spark, sf_dir):
    """The hive-partitioned read must show the status predicate as a
    PartitionFilter (directory pruning), not just a data filter."""
    df = QUERIES["partition_pruned_read"](spark, sf_dir)
    plan = formatted_explain(df)
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "o_orderstatus" in seg, seg


#: Queries that carry control-plane integer tables (centroids, weights,
#: codebooks, sketch rows) as packed literals (``llm/pca._packed``).
PACKED_LITERAL_QUERIES = (
    "cluster_kmeans_embeddings", "similarity_pq_adc_topk",
    "embedding_dominant_direction", "embedding_kcenter_coreset",
    "dedup_semantic_semdedup", "text_classifier_train_gd",
    "text_classifier_train_score", "text_countmin_heavy_hitters",
    "text_countmin_production",
)


def test_packed_literals_fold_to_one_typed_literal(registry_frames):
    """A packed table folds to ONE typed array Literal in the optimized
    plan: no row re-parses it (``from_json``) or splits and casts its
    elements (``split`` over a lambda variable or a digit string)."""
    import re

    for name in PACKED_LITERAL_QUERIES:
        plan = registry_frames[name]._jdf.queryExecution().optimizedPlan().toString()
        assert not re.search(r"split\((lambda |\d)", plan), name
        assert "from_json" not in plan and "jsontostructs" not in plan.lower(), name


def test_kmeans_plan_depth_constant_in_iterations(spark):
    """The per-iteration localCheckpoint must pin centroid state so the
    FINAL plan depth does not grow with the iteration count (without it,
    iteration i re-derives all i-1 earlier passes)."""
    from pyspark.sql import functions as F

    from apache_nifi_spark.llm import kmeans_fixed_point

    df = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("float"), (F.col("id") % 11).cast("float")
        ).alias("embedding"),
    )
    p2 = formatted_explain(kmeans_fixed_point(df, k=3, iters=2))
    p6 = formatted_explain(kmeans_fixed_point(df, k=3, iters=6))
    n2, n6 = p2.count("\n"), p6.count("\n")
    assert n6 <= n2 + 5, (n2, n6)  # constant depth, not O(iters)


#: Spark jobs and stages a query may start while it is BUILT, before its
#: action, with the reason it needs them.  Stages count each job's stage
#: ids, skipped ones included.  Under AQE a shuffle runs as its own
#: map-stage job, so a Lloyd round that is one (sum, count) aggregation
#: and its collect is two jobs and three stages; the two-aggregation
#: update it replaced was three jobs and six stages a round.
CONSTRUCTION_BUDGET = {
    # the k lowest-id seeds, then two Lloyd rounds (iters=3)
    "cluster_kmeans_embeddings": (5, 7),
    # the query row, the k seeds, then one fused Lloyd round (iters=2)
    # for all m subspaces
    "similarity_pq_adc_topk": (4, 5),
}


@pytest.mark.parametrize("name", sorted(CONSTRUCTION_BUDGET))
def test_construction_runs_within_its_job_budget(spark, sf_dir, name):
    """Building the query (not running it) starts at most its budget of
    Spark jobs and stages, counted by job group.  The first build warms
    the table caches and is not counted."""
    sc = spark.sparkContext
    QUERIES[name](spark, sf_dir)
    group = f"construct-{name}"
    sc.setJobGroup(group, group)
    try:
        QUERIES[name](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
    max_jobs, max_stages = CONSTRUCTION_BUDGET[name]
    assert len(jobs) <= max_jobs and stages <= max_stages, (len(jobs), stages)


def test_ccnet_buckets_has_no_single_task_sort(spark):
    """The perplexity split is a corpus-global sort, but it must never
    run as ONE sort task (round-10 verdict scale-killer): the two-pass
    form range-partitions first, so the executed plan carries no
    SinglePartition exchange and no global (non-partitioned) Sort."""
    from pyspark.sql import functions as F

    from apache_nifi_spark.llm import ccnet_buckets

    rows = [(i, ("common word " * 5 + f"rare{i} " * (i % 7)).strip())
            for i in range(40)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = ccnet_buckets(docs)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    # the only sort is the per-range-partition window sort
    assert "Sort [ppl" not in plan.replace("Sort [_pid", ""), plan


def test_no_broadcast_hint_on_corpus_cardinality_frames():
    """Static audit, PACKAGE-WIDE (round-11 verdict item 1, scope
    widened per round-12 item 2): a forced ``F.broadcast`` on a
    user-/doc-/vocabulary-grain frame is fast at fixture scale and an
    executor OOM at real corpus scale — the hint disables AQE's
    size-measured fallback.  Every ``F.broadcast(...)`` anywhere in
    ``apache_nifi_spark/`` must broadcast a frame whose cardinality is
    bounded by something OTHER than the corpus: a fixed dim (nation:
    25 rows), a 1-row global aggregate, a literal query-term list, a
    fixed hash-bucket table, an operator contract that defines the
    side as an in-memory service (NiFi LookupService), or a
    frequency-capped heavy-hitter vocab.  New hints must be added to
    the allowlist here WITH a grain justification — that review is the
    point of the gate.  (The round-12 offenders — unigram/bigram
    vocab, tfidf dfreq, RAKE word stats, all Heaps-UNBOUNDED — were
    de-hinted; AQE still broadcasts them while measured small.)"""
    import ast
    import pathlib

    import apache_nifi_spark

    # keyed by (relative file, broadcast-arg source text)
    allowed = {
        # --- registry.py ---
        # nation is a fixed 25-row dim at every TPC-H SF
        ("registry.py", "n"): "nation dim, 25 rows",
        ("registry.py", '_t(spark, sf_dir, "nation")'): "nation dim, 25 rows",
        # 1-row global max(ts) aggregate
        ("registry.py", "mx"): "1-row global aggregate",
        # --- registry_coverage.py (r16 split of registry.py §round-3+) ---
        # literal 3-term query list and its per-term derivatives
        ("registry_coverage.py", "qf"): "3 literal query terms",
        ("registry_coverage.py", "df_"): "per-query-term df, <= 3 rows",
        ("registry_coverage.py", "st"): "1-row corpus stats aggregate",
        # df >= 100 heavy-hitter vocab: frequency cap bounds it far
        # below doc-grain (Heaps' law); pmi pairs only form over this
        ("registry_coverage.py", 'vocab.select("token")'): "df>=100 capped vocab",
        ("registry_coverage.py", "vx"): "df>=100 capped vocab",
        ("registry_coverage.py", "vy"): "df>=100 capped vocab",
        # --- operator modules ---
        # LookupRecord/LookupAttribute: NiFi's LookupService contract IS
        # an in-memory keyed service (CSV/KV file loaded whole) — the
        # caller explicitly chose the broadcast operator
        ("operators/join.py", "lookup"): "LookupService contract: in-memory dim",
        ("operators/join.py", "dim"): "GeoEnrich/range dim: bounded band table",
        ("plans/flow_import.py", "lookup"): "LookupService contract (flow def)",
        # DistributeLoad per-partition offsets: O(shuffle partitions) rows
        ("operators/route.py", "offs"): "O(num partitions) offset table",
        # --- llm modules ---
        # similarity: q = the query workload (k query points), cent =
        # k centroids, probes = queries × n_probe — all bounded by the
        # ANN parameters, not the corpus
        ("llm/similarity.py", "q"): "query workload, k rows",
        ("llm/similarity.py", "cent"): "k centroids",
        ("llm/similarity.py", "probes"): "queries × n_probe rows",
        # DSIR: tots = 1-row totals; weights = fixed hash-bucket grain
        # (modulus chosen at build time, corpus-independent)
        ("llm/dsir.py", "tots"): "1-row totals",
        ("llm/dsir.py", "weights"): "fixed hash-bucket table (modulus-bounded)",
        # text: 1-row smoothing-stats / fit frames
        ("llm/text.py", "stats"): "1-row corpus stats",
        ("llm/text.py", "fitted"): "1-row OLS fit",
        ("llm/text.py", "nd"): "1-row doc count",
        # Hudi: replaced-file-group set, O(replacecommits) manifest grain
        ("sources/hudi.py", "replaced"):
            "replaced file-group ids (manifest grain)",
        # log-rank: 2-row per-group totals
        ("registry_stats.py", "tot"): "2-row group totals",
        # sketch: quantile read-out probs frame, len(probs) rows
        ("llm/sketch.py", "pf"): "len(probs) literal rows",
        # HITS: 1-row L1-normalization totals per half-round
        ("llm/graph.py", "ta"): "1-row L1 total aggregate",
        ("llm/graph.py", "th"): "1-row L1 total aggregate",
        # MRR/MAP: 3-row literal query-term frame
        ("registry_stats.py", "qf"): "3 literal query terms",
        # KS / Mann-Whitney two-level prefix sum: mm = 1-row min/max/
        # totals aggregate; off = fixed 64-range-bucket offset table
        ("registry_analytics.py", "mm"): "1-row min/max/totals aggregate",
        ("registry_analytics.py", "off"): "fixed 64-bucket offset table",
        # Kruskal-Wallis: 1-row n/ties totals aggregate
        ("registry_analytics.py", "tot"): "1-row n/ties totals aggregate",
        # Gini/Pareto two-level scale path: per-segment min/max/totals
        ("registry_analytics.py", "seg"): "|segments|-row min/max/totals",
        # autocorrelation: 4-row literal lag table
        ("registry_analytics.py", "lags"): "4-row literal lag table",
        # Friedman: 1-row (n, k, rank-sum-of-squares) aggregate
        ("registry_analytics.py", "st"): "1-row n/k/SS totals aggregate",
        # Mann-Kendall: 1-row month count / variance-terms frames
        ("registry_analytics.py", 'm.agg(F.count(F.lit(1)).cast("bigint").alias("n"))'):
            "1-row month count",
        ("registry_analytics.py", "vs"): "1-row variance-terms frame",
        # Lincoln-Petersen: 1-row capture counts
        ("registry_analytics.py", "n2"): "1-row capture count",
        ("registry_analytics.py", "m"): "1-row recapture count",
        # power-law MLE: 1-row min-degree aggregate
        ("registry_analytics.py", "dmin"): "1-row min-degree aggregate",
        # Poisson bootstrap: rank-selected 1-row CI bounds
        ("registry_analytics.py", "lo"): "1-row CI bound",
        ("registry_analytics.py", "hi"): "1-row CI bound",
        # RRF: 1-row BM25 corpus stats
        ("registry_analytics.py", "bmstats"): "1-row BM25 corpus stats",
        # RBO: <=100-row max-depth histogram + 1-row depth-100 overlap
        ("registry_analytics.py", "mx"): "<=100-row max-depth histogram",
        ("registry_analytics.py", "tail"): "1-row depth-100 overlap",
        # jackknife: 1-row bucket totals
        ("registry_analytics.py", "tot"): "1-row bucket totals",
        # SPRT: 1-row first-crossing day
        ("registry_analytics.py", "decday"): "1-row decision day",
        # window funnel: 1-row entered-user count
        ("registry_analytics.py", "entered"): "1-row entered count",
        # seasonal decompose / expectation audit: 1-row frames
        ("registry_analytics.py", "mean_s"): "1-row seasonal mean",
        ("registry_analytics.py", "o_orph"): "1-row orphan count",
        ("registry_analytics.py", "l_orph"): "1-row orphan count",
        # Fellegi-Sunter: 1-row record count and u-probability frames
        ("registry_analytics.py", "nr"): "1-row record count",
        ("registry_analytics.py", 'u_of("seg", "u_seg")'):
            "1-row u-probability",
        ("registry_analytics.py", 'u_of("bal", "u_bal")'):
            "1-row u-probability",
        ("registry_analytics.py", "uf"): "1-row u-probability frame",
        # burstiness: 1-row corpus doc-count aggregate
        ("registry_stats.py", "ndocs"): "1-row corpus doc count",
        # Cohen's kappa: 1-row chance-agreement numerator
        ("registry_stats.py", "m"): "1-row chance-agreement numerator",
        # Kaplan-Meier: 1-row global max-date aggregate
        ("registry_stats.py", "mx"): "1-row max-date aggregate",
        # theta sketch: 1-row min-of-max-hash aggregate
        ("registry_stats.py", "theta"): "1-row theta aggregate",
        # Kendall tau-b: 1-row n / within-cell-tie totals
        ("registry_stats.py", "diag"): "1-row n/tie totals aggregate",
        # NDCG: 1-row corpus stats / DCG / IDCG aggregates
        ("registry_stats.py", "st"): "1-row corpus stats aggregate",
        ("registry_stats.py", "dcg"): "1-row DCG aggregate",
        ("registry_stats.py", "idcg"): "1-row IDCG aggregate",
    }
    pkg_root = pathlib.Path(apache_nifi_spark.__file__).parent
    offenders = []
    for path in sorted(pkg_root.rglob("*.py")):
        rel = str(path.relative_to(pkg_root))
        src = path.read_text()
        if ".broadcast(" not in src:
            continue
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and node.args
            ):
                arg_src = ast.get_source_segment(src, node.args[0])
                if (rel, arg_src) not in allowed:
                    offenders.append(
                        f"{rel}:{node.lineno} broadcast({arg_src})"
                    )
    assert not offenders, (
        "forced broadcast on a frame not in the bounded-grain allowlist "
        f"(add with a justification only if its cardinality is truly "
        f"corpus-independent): {offenders}"
    )


def test_oracled_outputs_expose_no_array_map_struct_columns(registry_frames):
    """Driver-contract gate (round-12 verdict item 1): the driver's
    correctness harness canonicalizes results with pandas
    ``sort_values`` over every column, and list/dict cells are
    unhashable there — ``scan_content_dictionary`` went red in
    CORRECTNESS_r12 exactly this way despite value-exact data.  So no
    ORACLED query may expose a top-level ArrayType/MapType/StructType
    column: string-join arrays (``array_join``) / render structs at
    the output boundary instead.  Streaming drains and side-effect
    pipelines keep the plan-build skip set of the cartesian sweep."""
    from pyspark.sql import types as T

    from apache_nifi_spark.registry import ORACLES

    skip = PLAN_BUILD_SKIP
    bad = (T.ArrayType, T.MapType, T.StructType)
    offenders = []
    for name in ORACLES:
        if name.startswith("stream_") or name in skip:
            continue
        for f in registry_frames[name].schema.fields:
            if isinstance(f.dataType, bad):
                offenders.append(
                    f"{name}.{f.name}: {f.dataType.simpleString()}"
                )
    assert not offenders, (
        "oracled query outputs with driver-unhashable top-level "
        f"array/map/struct columns: {offenders}"
    )


#: Characters in a registry query's analyzed plan (``treeString``): twice
#: the largest at sf0.001 (``stats_cohens_kappa``, 37975).  An expression
#: that repeats an operand per nesting level grows past it fast: the
#: geohash ``decode(encode(p))`` that named each operand per bit measured
#: 312410 at precision 3.
MAX_ANALYZED_PLAN_CHARS = 2 * 37975


def test_analyzed_plan_size_is_bounded(registry_frames):
    """Construction budget: a plan whose expression tree blows up costs
    analysis time on the driver before a task runs."""
    sizes = {
        name: len(df._jdf.queryExecution().analyzed().treeString())
        for name, df in registry_frames.items()
    }
    over = {n: s for n, s in sizes.items() if s > MAX_ANALYZED_PLAN_CHARS}
    assert not over, f"analyzed plans over {MAX_ANALYZED_PLAN_CHARS} chars: {over}"


def test_countmin_production_never_builds_full_vocab_table(spark, sf_dir):
    """Round-11 verdict item 2: the production two-pass count-min must
    never materialize a full-vocabulary exact-count table — the ONLY
    token-keyed aggregate in the executed plan is the candidate count,
    and it sits above the sketch-probe filter (so its input vocabulary
    is bounded by N/threshold).  The certificate variant keeps the full
    table on purpose; this gate keeps the production variant honest."""
    import re

    df = QUERIES["text_countmin_production"](spark, sf_dir)
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE appends the pre-adaptive plan after the final one: cut it off
    plan = plan.split("== Initial Plan ==")[0]
    # exactly one token-keyed aggregate (partial + final = 2 prints)
    tok_aggs = re.findall(r"HashAggregate\(keys=\[tok", plan)
    assert len(tok_aggs) == 2, f"expected 1 token-grain agg pair:\n{plan}"
    # the probe filter feeds it: a Filter on the least() of the counter
    # probes with the integer threshold
    m_agg = re.search(r"HashAggregate\(keys=\[tok", plan)
    m_filt = re.search(r"Filter .*least\(", plan)
    assert m_filt, f"no sketch-probe filter in plan:\n{plan}"
    # children print below parents: the filter must be BELOW the agg
    assert m_filt.start() > m_agg.start(), plan


def test_exact_median_twopass_has_no_global_sort_or_percentile(spark, sf_dir):
    """The production exact median must never run a SinglePartition
    sort or Spark's buffer-everything percentile aggregate — its final
    plan is the offset-ranked candidate slice (the ccnet two-pass
    machinery on ~1/4096 of the data)."""
    df = QUERIES["median_exact_twopass"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "SinglePartition" not in plan.replace(
        # the final 1-row agg of the <=2 picked ranks is SinglePartition
        # by nature (bounded input); only SORTS must never be global
        "Exchange SinglePartition", "BOUNDED-AGG-EXCHANGE"
    ) or "Sort" not in plan, plan
    assert "percentile" not in plan.lower(), plan
    # the only sorts are per-range-partition window sorts
    for line in plan.splitlines():
        if "Sort [" in line:
            assert "_pid" in line or "_v" in line, line


def test_no_global_window_on_data_grain_frames():
    """Static audit, PACKAGE-WIDE (round-14 verdict item 3, the
    regression guard for the RFM rework): a ``Window.orderBy`` with no
    ``partitionBy`` moves its ENTIRE input to one task — fine on a
    control-plane-bounded frame (a ≤64-row bucket-offset table, an
    m-row p-value step-up, a top-N-capped slice), a straggler-and-spill
    defect on a data-grain frame (the pre-r15 RFM ran three of them
    over ALL customers).  Every global ``Window.orderBy(...)`` anywhere
    in ``apache_nifi_spark/`` must appear in the allowlist below WITH a
    boundedness justification — that review is the point of the gate.
    Data-grain ranking must go through the two-level bucket prefix sum
    (``_cbefore_map`` / ``_ntile_bucketed``) instead."""
    import ast
    import pathlib

    import apache_nifi_spark

    # keyed by (relative file, orderBy-args source text)
    allowed = {
        # two-level prefix sums: the bucket-subtotal table is <=64 rows
        # (fixed range-bucket count) regardless of data size
        ("registry_analytics.py", '"__bkt"'): "<=64-row bucket offsets",
        ("registry_analytics.py", 'f"__bkt{i}"'): "<=64-row bucket offsets",
        ("registry_analytics.py", '"bkt"'): "<=64-row bucket offsets",
        # Benjamini-Hochberg step-up: m = #groups (control-plane)
        ("registry_analytics.py", '"p_value", "grp"'):
            "m-row per-group p-value frame",
        # Zipf fit: rank over the top-N capped slice (N fixed)
        ("llm/text.py", '_F.col("freq").desc(), "token"'):
            "top-N capped frequency slice",
        # histogram-quantile sketch: fixed-bin cumulative table
        ("llm/sketch.py", '"_b"'): "fixed histogram-bin table",
        # Kaplan-Meier risk/survival cumulatives: day-grain duration
        # table, bounded by the calendar span, not the data
        ("registry_stats.py", '"duration"'): "day-grain KM table",
        # Theil-Sen: month-PAIR grain slope frame (~3.5k rows,
        # calendar-bounded squared), rank-select median
        ("registry_stats.py", '"slope"'): "month-pair slope frame",
        # NDCG: row_number over the ALREADY-LIMITED 10-row top-k
        # frames (the cutoff itself is a distributed TakeOrdered)
        ("registry_stats.py", 'F.col("score").desc(), "doc_id"'):
            "window over a limit-10 frame",
        ("registry_stats.py", 'F.col("rel").desc()'):
            "window over a limit-10 frame",
        ("llm/sketch.py", "F.lit(1)"): "fixed histogram-bin table total",
        # RRF: windows over the two limit-50 frames + <=100-row fusion
        ("registry_analytics.py", 'F.col("score").desc(), "doc_id"'):
            "window over a limit-50 frame",
        ("registry_analytics.py", 'F.col("rrf").desc(), "doc_id"'):
            "window over the <=100-row fused frame",
        # RBO: windows over the two limit-100 frames + 100-row spine
        ("registry_analytics.py", 'F.col("rev").desc(), "k"'):
            "window over a limit-100 frame",
        ("registry_analytics.py", 'F.col("cnt").desc(), "k"'):
            "window over a limit-100 frame",
        ("registry_analytics.py", '"d"'):
            "fixed 100-row depth spine cumsum",
        # SPRT / EWMA chart: cumulatives over the calendar-day spine
        ("registry_analytics.py", '"day"'):
            "day-grain frame, calendar-bounded",
        ("registry_analytics.py", '"t"'):
            "day-index frame, calendar-bounded",
    }
    pkg_root = pathlib.Path(apache_nifi_spark.__file__).parent
    offenders = []
    for path in sorted(pkg_root.rglob("*.py")):
        rel = str(path.relative_to(pkg_root))
        src = path.read_text()
        if "Window.orderBy(" not in src:
            continue
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "orderBy"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "Window"
            ):
                args_src = ", ".join(
                    ast.get_source_segment(src, a) for a in node.args
                )
                if (rel, args_src) not in allowed:
                    offenders.append(
                        f"{rel}:{node.lineno} Window.orderBy({args_src})"
                    )
    assert not offenders, (
        "global (non-partitioned) Window.orderBy on a frame not in the "
        "bounded-grain allowlist (add with a justification only if its "
        f"cardinality is truly control-plane-bounded): {offenders}"
    )
