"""Benchmark harness: runs the registry's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "suite_wall_sec", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

One shared SparkSession for the whole suite (JVM startup amortized —
BASELINE.md B).  Each query is timed around a full action (collect of an
aggregated/limited result, or count for wide row sets) so the measured
number includes scan→shuffle→agg, not plan construction.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from apache_nifi_spark.registry import QUERIES  # noqa: E402
from apache_nifi_spark.session import get_spark  # noqa: E402


def _use_tmpfs() -> dict[str, str]:
    """Stage scratch (stream checkpoints/landing dirs, shuffle spill) on
    tmpfs when available.  /tmp here is disk-backed ext4; streaming
    checkpoints are fsync-heavy small-file writes that pay disk latency
    for no durability the bench needs.  On a real cluster the equivalents
    are local NVMe spill dirs + an object-store checkpoint — a deployment
    mount choice, not a code path."""
    if not os.path.isdir("/dev/shm"):
        return {}
    shm = tempfile.mkdtemp(prefix="anspark_bench_", dir="/dev/shm")
    tempfile.tempdir = shm
    return {"spark.local.dir": shm}

#: Queries whose result is small (agg/limit) are collected; wide row-level
#: results are counted (driver transfer would otherwise dominate timing).
COLLECT_MAX_COLS = 64


def run_bench(sf_dir: str) -> dict:
    # BASELINE.md §B measurement contract: small-SF runs use a low shuffle
    # partition count (task-scheduling overhead would otherwise dominate
    # sub-second queries); AQE re-splits at real scale, so this is config,
    # not a code-path difference.
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "4"))
    tmpfs = _use_tmpfs()
    spark = get_spark(app_name="bench", shuffle_partitions=shuffle, extra_conf=tmpfs)
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0  # non-standard dir name; timings still valid
    if sf < 0.5:
        # Small-SF scan config: every fixture at sf0.1 is < 100 MB, so one
        # task per scan removes per-task scheduling overhead.  At real
        # scale the default 128 MB split size re-applies — config, not a
        # code path.
        spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")
        spark.conf.set("spark.sql.files.openCostInBytes", "64m")
    else:
        # Floor-separation SF (BASELINE.md §D): fixtures are one big file
        # per table, so split DOWN to row-group granularity — the
        # multi-task scan a many-file 100 TB table gets for free.  4 MB
        # measured best at sf1 (vs 8 MB: q1 2.20→1.68 s, suite −18%;
        # 2 MB over-splits — scheduling overhead returns).
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
        spark.conf.set("spark.sql.files.openCostInBytes", "1m")

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # Warm the JVM + parquet footers + JIT: C2 compilation is
    # asynchronous, so back-to-back best-of-2 runs at session start still
    # measure interpreter-tier codegen — the first half-dozen registered
    # queries (q1/flagship/route_*) were drifting 2-3× for exactly this
    # reason.  A few seconds of representative execution (scan + join +
    # agg + decimal paths) before the loop absorbs it.
    for _ in range(2):
        QUERIES["flagship_revenue"](spark, sf_dir).write.mode(
            "overwrite"
        ).format("noop").save()
        QUERIES["q1_pricing_summary"](spark, sf_dir).write.mode(
            "overwrite"
        ).format("noop").save()

    # Flow-compile warm-up, billed to its own row (round-14 verdict
    # item 1): the mega-flow query families share ONE flow
    # compile+landing per (session, sf_dir) (_mega_outputs/_mega2_outputs)
    # — without this, whichever family member runs FIRST absorbs that
    # one-time cost inside its timed runs (mega2_lookup_xpath_xquery
    # read 8.8-15.1 s in the r14 receipt vs 1.3 s warm).  The helpers
    # compile the flow and write the landing dirs; the returned frames
    # are not executed here, so per-query timings below measure plans,
    # not authoring.
    t0 = time.perf_counter()
    try:
        from apache_nifi_spark import registry_flows as _rf

        _rf._mega(spark, sf_dir, "OrdersAgg.byStatus")
        _rf._mega2(spark, sf_dir, "LookupAgg.agg")
    except Exception:  # noqa: BLE001 — warm-up must never fail the run
        pass
    timings["flow_compile_amortized"] = round(time.perf_counter() - t0, 4)

    # Best-of-2 per query, mirroring the DuckDB baseline protocol
    # (BASELINE.md §B: duck timings are best-of-2 so the first run absorbs
    # file-cache warmup).  For Spark the first run additionally pays
    # whole-stage-codegen compilation (~0.1-0.5 s per unique plan), which
    # a long-running engine amortizes exactly like DuckDB's cache — the
    # reported number is the warm plan, the honest steady-state cost.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    # Optional subset (comma-separated names) — the BASELINE.md §D
    # floor-separation run times the top-20 at a larger SF.
    only = {n for n in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if n}
    n_run = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        # Long-session hygiene: nudge the driver GC periodically so the
        # ContextCleaner actually releases accumulated broadcasts and
        # shuffle state — without it, tail queries in a 200-query session
        # measure the JVM's garbage, not their plans.
        n_run += 1
        if n_run % 40 == 0:
            spark.sparkContext._jvm.System.gc()
        best = float("inf")
        # A query that throws (transient port/UDP/external-transport flake)
        # must not abort the whole suite: retry it once, and if it fails
        # again record the error and move on — one flaky transport query
        # costing its own timing beats an rc=1 run costing all of them
        # (the round-3 driver bench died exactly this way).
        for attempt in range(runs + 1):
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                # noop sink: materializes every output row/column on
                # executors without shipping results to the driver —
                # measures the plan.
                df.write.mode("overwrite").format("noop").save()
            except Exception as e:  # noqa: BLE001
                if attempt >= runs and best == float("inf"):
                    errors[name] = f"{type(e).__name__}: {str(e)[:200]}"
                continue
            best = min(best, time.perf_counter() - t0)
            if attempt + 1 >= runs:
                break
        if best < float("inf"):
            timings[name] = round(best, 4)
    total = round(sum(timings.values()), 4)

    spark.stop()
    if tmpfs:  # RAM-backed: nothing of the run may outlive it there
        shutil.rmtree(tmpfs["spark.local.dir"], ignore_errors=True)
    out = {
        "metric": "suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if errors:
        out["errors"] = errors
    return out


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if len(sys.argv) > 1:
        sf_dir = sys.argv[1]
    result = run_bench(sf_dir)
    # Full per-query timings go to a file; the printed line stays compact
    # (driver keeps only a bounded tail of stdout — BENCH_r01 lesson).
    # Subset runs (SPARK_GRAFT_ONLY) go to a SEPARATE file so a probe run
    # can never clobber the committed full-suite artifact (ADVICE r4 #1).
    artifact = (
        "BENCH_subset.json" if os.environ.get("SPARK_GRAFT_ONLY") else "BENCH_full.json"
    )
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), artifact)
    with open(full_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    headline = dict(
        sorted(result["queries"].items(), key=lambda kv: kv[1], reverse=True)[:15]
    )
    # Cross-round panel (r16 verdict item 2): the top-15 rotates between
    # rounds, leaving the driver's round-over-round comparison only the
    # noisiest tail.  Pin ~30 representatives (lakehouse, llm-iterative,
    # classifier, basket, streaming, wire, stats, text, relational) into
    # the printed JSON so every optimization target stays comparable
    # across rounds.  ADDITIONS-ONLY: the top-15 + two pinned rows above
    # are untouched, and panel members absent from a run are skipped.
    panel = (
        "flagship_revenue", "q1_pricing_summary",
        "iceberg_snapshot_read", "iceberg_time_travel_read",
        "delta_log_snapshot_read", "delta_optimize_compacted_read",
        "hudi_cow_snapshot_read",
        "similarity_pq_adc_topk", "embedding_kcenter_coreset",
        "cluster_kmeans_embeddings", "dedup_semantic_semdedup",
        "embedding_dominant_direction",
        "text_classifier_train_gd", "text_classifier_train_score",
        "basket_association_rules", "recommend_item_cf",
        "cube_returnflag_status", "text_textrank_keywords",
        "dedup_ngram_jaccard", "dedup_minhash_lsh",
        "compress_content_snappy_lz4", "bpe_encode_corpus",
        "stream_stateful_running_totals", "stream_wait_notify_join",
        "stream_delta_upsert_merge", "stream_tail_file",
        "stream_site_to_site", "stream_wait_notify_expiry",
        "stream_backpressure_monitor", "stream_dedup_watermark",
        "stream_tumbling_window", "stream_hypertable_rollup",
        "stream_sliding_window", "stream_session_window",
        "publish_consume_kafka_bus", "stream_quality_gate",
        "stream_static_enrich", "stream_multi_route",
        "stream_delta_append_commits", "stream_put_database",
        "flow_compile_amortized",
        "put_ftp_roundtrip", "listen_smtp_deliver",
        "put_elasticsearch_live",
        "put_slack_webhook_post", "invoke_http_enrich",
        "stats_correlation_matrix", "stats_spearman_rank",
        "graph_pagerank_links", "events_attribution_models",
        "convert_record_avro", "convert_record_avro_nested",
        "convert_record_xml", "convert_avro_to_json",
        "split_avro_datum", "avro_schema_evolution_read",
        "extract_avro_metadata_info",
    )
    for must in panel:
        if must in result["queries"]:
            headline.setdefault(must, result["queries"][must])
    print(
        json.dumps(
            {
                "metric": result["metric"],
                "value": result["value"],
                "unit": result["unit"],
                "queries": headline,
                "sf": result["sf"],
                "n_queries": len(result["queries"]),
                "full": artifact,
                **({"errors": result["errors"]} if "errors" in result else {}),
            }
        )
    )
