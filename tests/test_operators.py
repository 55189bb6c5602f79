"""Operator-level unit tests (sf0.001) — SURVEY.md §5.2.

Each test exercises one processor analog with assertions on semantics the
oracle can't see (route completeness/disjointness, match/unmatch
partitioning, as-of ordering invariants, edge cases).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_nifi_spark import io
from apache_nifi_spark.operators import (
    asof_join,
    calculate_record_stats,
    deduplicate_record,
    defragment,
    funnel,
    join_enrichment,
    lookup_record,
    lookup_split,
    merge_record,
    partition_record,
    range_join,
    route_on_attribute,
    route_text,
    sample_interval,
    split_record,
    top_k_per_group,
    validate_record,
)


def test_route_all_matching_covers_and_overlaps(spark, sf_dir):
    ev = io.load_table(spark, sf_dir, "events")
    total = ev.count()
    routes = route_on_attribute(
        ev,
        {"hi": F.col("value") > 100, "err": F.col("event_type") == "error"},
        strategy="route_all_matching",
    )
    n_hi, n_err, n_un = (
        routes["hi"].count(),
        routes["err"].count(),
        routes["unmatched"].count(),
    )
    both = ev.filter((F.col("value") > 100) & (F.col("event_type") == "error")).count()
    # all-matching: overlap counted on both routes; unmatched is the rest
    assert n_hi + n_err - both + n_un == total


def test_route_first_matching_is_disjoint_partition(spark, sf_dir):
    ev = io.load_table(spark, sf_dir, "events")
    total = ev.count()
    routes = route_on_attribute(
        ev,
        {"hi": F.col("value") > 100, "err": F.col("event_type") == "error"},
        strategy="route_first_matching",
    )
    counts = {k: v.count() for k, v in routes.items()}
    assert sum(counts.values()) == total
    # a row matching both predicates lands only on the first route
    overlap = routes["err"].filter(F.col("value") > 100).count()
    assert overlap == 0


def test_route_text_null_safe(spark):
    df = spark.createDataFrame([("abc",), (None,), ("xbz",)], "t string")
    out = route_text(df, "t", "a.c")
    assert out["matched"].count() == 1
    assert out["unmatched"].count() == 2  # null routes to unmatched


def test_validate_record_annotates_all_violations(spark, sf_dir):
    li = io.load_table(spark, sf_dir, "lineitem")
    out = validate_record(
        li, {"q": F.col("l_quantity") <= 10, "d": F.col("l_discount") <= 0.05}
    )
    assert out["valid"].count() + out["invalid"].count() == li.count()
    # a row violating both constraints lists both names
    double = out["invalid"].filter(
        (F.col("l_quantity") > 10) & (F.col("l_discount") > 0.05)
    )
    row = double.select(F.size("violations").alias("n")).first()
    if row is not None:
        assert row["n"] == 2


def test_lookup_split_partitions(spark, sf_dir):
    c = io.load_table(spark, sf_dir, "customer")
    n = io.load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 10)
    out = lookup_split(
        c.withColumnRenamed("c_nationkey", "n_nationkey"), n, on="n_nationkey"
    )
    assert out["matched"].count() + out["unmatched"].count() == c.count()
    assert out["matched"].filter(F.col("n_nationkey") >= 10).count() == 0


def test_lookup_record_broadcasts(spark, sf_dir):
    c = io.load_table(spark, sf_dir, "customer")
    n = io.load_table(spark, sf_dir, "nation")
    joined = lookup_record(c, n, on=c.c_nationkey == n.n_nationkey, how="inner")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_join_enrichment_full_outer(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "k int, a string")
    b = spark.createDataFrame([(2, "p"), (3, "q")], "k int, b string")
    out = join_enrichment(a, b, on="k", how="full")
    assert out.count() == 3


def test_range_join_half_open(spark):
    pts = spark.createDataFrame([(0.0,), (1.0,), (2.0,)], "x double")
    rngs = spark.createDataFrame([("a", 0.0, 1.0), ("b", 1.0, 2.0)], "nm string, lo double, hi double")
    out = range_join(pts, rngs, F.col("x"), F.col("lo"), F.col("hi"))
    got = {(r["x"], r["nm"]) for r in out.collect()}
    assert got == {(0.0, "a"), (1.0, "b")}  # hi exclusive, 2.0 matches nothing


def test_asof_join_backward_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "L1"), (1, 20, "L2"), (2, 5, "L3")], "k int, t int, tag string"
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 9, 900.0)], "k int, t int, v double"
    )
    out = asof_join(left, right, on="k", left_ts="t", right_ts="t", right_cols=["v"])
    got = {r["tag"]: r["v"] for r in out.collect()}
    # equal timestamps match (<=); later right rows don't leak backward
    assert got == {"L1": 100.0, "L2": 150.0, "L3": None}


def test_asof_join_forward_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "L1"), (1, 20, "L2"), (2, 5, "L3")], "k int, t int, tag string"
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 3, 900.0)], "k int, t int, v double"
    )
    out = asof_join(
        left, right, on="k", left_ts="t", right_ts="t", right_cols=["v"],
        direction="forward",
    )
    got = {r["tag"]: r["v"] for r in out.collect()}
    # equal timestamps match (>=); earlier right rows don't leak forward
    assert got == {"L1": 100.0, "L2": None, "L3": None}


def test_merge_record_bins_and_cap(spark, sf_dir):
    ev = io.load_table(spark, sf_dir, "events")
    bins = merge_record(ev, "user_id", F.col("event_id"), max_entries=5)
    mx = bins.select(F.max(F.size("records")).alias("m")).first()["m"]
    assert mx <= 5
    assert bins.count() == ev.select("user_id").distinct().count()


def test_defragment_orders_fragments(spark):
    df = spark.createDataFrame(
        [("f1", 2, "c"), ("f1", 0, "a"), ("f1", 1, "b"), ("f2", 0, "z")],
        "fid string, idx int, payload string",
    )
    out = defragment(df, "fid", "idx", F.col("payload"))
    got = {r["fid"]: r["fragments"] for r in out.collect()}
    assert got["f1"] == ["a", "b", "c"]
    assert got["f2"] == ["z"]


def test_split_record_emits_fragment_index(spark):
    df = spark.createDataFrame([(1, ["a", "b"])], "id int, arr array<string>")
    out = split_record(df, "arr")
    rows = {(r["fragment_index"], r["record"]) for r in out.collect()}
    assert rows == {(0, "a"), (1, "b")}


def test_dedup_deterministic_winner(spark):
    df = spark.createDataFrame(
        [("k", 3, "late"), ("k", 1, "first"), ("k", 2, "mid")], "k string, seq int, v string"
    )
    out = deduplicate_record(df, ["k"], keep_order_col="seq")
    assert out.collect()[0]["v"] == "first"


def test_calculate_record_stats_total(spark, sf_dir):
    ev = io.load_table(spark, sf_dir, "events")
    out = calculate_record_stats(ev, ["event_type"])
    total = out.filter(F.col("category") == "<total>").first()["record_count"]
    assert total == ev.count()
    per_cat = (
        out.filter(F.col("category") == "event_type")
        .agg(F.sum("record_count").alias("s"))
        .first()["s"]
    )
    assert per_cat == total


def test_partition_record_colocates(spark, sf_dir):
    ev = io.load_table(spark, sf_dir, "events")
    parted = partition_record(ev, ["event_type"])
    # every partition holds at most the number of distinct keys' runs;
    # verify rows survive and key runs are contiguous within partitions
    assert parted.count() == ev.count()


def test_funnel_pads_missing_columns(spark):
    a = spark.createDataFrame([(1, "x")], "id int, a string")
    b = spark.createDataFrame([(2,)], "id int")
    out = funnel(a, b)
    assert out.count() == 2
    assert set(out.columns) == {"id", "a"}


def test_top_k_per_group_exact_k(spark, sf_dir):
    o = io.load_table(spark, sf_dir, "orders")
    out = top_k_per_group(
        o, ["o_orderstatus"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 2
    )
    counts = {r["o_orderstatus"]: r["n"] for r in out.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()}
    assert all(v <= 2 for v in counts.values())


def test_sample_interval_deterministic(spark, sf_dir):
    ev = io.load_table(spark, sf_dir, "events")
    a = sample_interval(ev, F.col("event_id"), 7).count()
    b = sample_interval(ev, F.col("event_id"), 7).count()
    assert a == b > 0


def test_join_zip_truncates_to_shorter_side(spark):
    from apache_nifi_spark.operators import join_zip

    left = spark.createDataFrame(
        [("a", 1, "p1"), ("a", 2, "p2"), ("a", 3, "p3"), ("b", 1, "p4")],
        "k string, seq int, payload string",
    )
    right = spark.createDataFrame(
        [("a", 10, "e1"), ("a", 20, "e2"), ("b", 5, "e3"), ("b", 6, "e4")],
        "k string, seq int, enriched string",
    )
    out = join_zip(
        left, right, group=["k"], order=F.col("seq"),
        enrich_order=F.col("seq"), enrich_cols=["enriched"],
    )
    rows = {(r.k, r.payload, r.enriched) for r in out.collect()}
    # zip is positional per key; extra rows on either side drop out
    assert rows == {("a", "p1", "e1"), ("a", "p2", "e2"), ("b", "p4", "e3")}


def test_evaluate_xpath_extracts_fields(spark):
    from apache_nifi_spark.operators import evaluate_xpath

    df = spark.createDataFrame(
        [(1, "<r><name>x</name><v>7</v></r>"), (2, "<r><name>y</name></r>")],
        "id int, xml string",
    )
    out = evaluate_xpath(df, "xml", {"name": "/r/name/text()", "v": "/r/v/text()"})
    rows = {(r.id, r.name, r.v) for r in out.collect()}
    # missing elements come back as empty string (javax.xml xpath_string)
    assert rows == {(1, "x", "7"), (2, "y", "")}


def test_filter_attributes_retain_and_remove(spark):
    from apache_nifi_spark.operators import filter_attributes

    df = spark.createDataFrame([(1,)], "id int").select(
        "id",
        F.create_map(
            F.lit("evt_a"), F.lit("1"),
            F.lit("sys_b"), F.lit("2"),
            F.lit("evt_c"), F.lit("3"),
        ).alias("attributes"),
    )
    kept = filter_attributes(df, "attributes", r"^evt_").collect()[0].attributes
    assert sorted(kept) == ["evt_a", "evt_c"]
    removed = (
        filter_attributes(df, "attributes", r"^evt_", mode="remove")
        .collect()[0]
        .attributes
    )
    assert sorted(removed) == ["sys_b"]


def test_attributes_to_csv_order_and_nulls(spark):
    from apache_nifi_spark.operators import attributes_to_csv

    df = spark.createDataFrame([(1, None, "x")], "a int, b string, c string")
    out = attributes_to_csv(df, ["c", "a", "b"]).collect()[0].csv
    # caller's column order; nulls render as empty fields
    assert out == "x,1,"


def test_convert_character_set_roundtrip(spark):
    from apache_nifi_spark.operators import convert_character_set

    df = spark.createDataFrame([(1, "héllo wörld")], "id int, t string")
    out = convert_character_set(df, "t", "UTF-8", "UTF-8").collect()[0].t
    assert out == "héllo wörld"


def test_split_json_fragment_provenance(spark):
    from apache_nifi_spark.operators import split_json

    df = spark.createDataFrame(
        [(7, '[{"k":1},{"k":2},{"k":3}]')], "pid int, body string"
    )
    rows = split_json(df, "body", "struct<k:bigint>", keep=["pid"]).collect()
    assert [(r.pid, r.fragment_index, r.fragment_count, r.k) for r in rows] == [
        (7, 0, 3, 1),
        (7, 1, 3, 2),
        (7, 2, 3, 3),
    ]


def test_monitor_activity_flags_only_gaps(spark):
    from apache_nifi_spark.operators import monitor_activity

    df = spark.createDataFrame(
        [
            ("u1", "2024-01-01 00:00:00"),
            ("u1", "2024-01-01 00:10:00"),  # 600 s gap — below threshold
            ("u1", "2024-01-01 02:10:00"),  # 7200 s gap — flagged
            ("u2", "2024-01-01 05:00:00"),  # first event: no gap
        ],
        "user string, ts string",
    ).select("user", F.col("ts").cast("timestamp_ntz").alias("ts"))
    rows = monitor_activity(df, "ts", ["user"], threshold_seconds=3600).collect()
    assert len(rows) == 1
    assert rows[0].user == "u1" and rows[0].gap_seconds == 7200.0


def test_zip_pack_unpack_roundtrip(spark):
    from apache_nifi_spark.operators import pack_content_zip, unpack_content_zip

    df = spark.createDataFrame(
        [(1, "a.txt", "alpha"), (2, "b.txt", "bravo")],
        "doc_id bigint, fname string, text string",
    )
    packed = pack_content_zip(df, "doc_id", "fname", "text")
    out = unpack_content_zip(packed, "id", "archive").collect()
    got = {(r.id, r.entry_name, bytes(r.payload).decode()) for r in out}
    assert got == {(1, "a.txt", "alpha"), (2, "b.txt", "bravo")}


def test_invoke_http_pools_and_routes_failures(spark):
    """InvokeHTTP analog: live enrichment against a local echo server;
    transport failures yield status -1 (the `failure` relationship),
    never a task error."""
    import http.server
    import threading
    import urllib.parse

    from apache_nifi_spark.operators import invoke_http

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            q = urllib.parse.urlsplit(self.path).query
            x = urllib.parse.parse_qs(q).get("x", [""])[0]
            body = x.upper().encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]

    rows = [(i, f"http://127.0.0.1:{port}/u?x=word{i}") for i in range(10)]
    rows.append((99, "http://127.0.0.1:1/unreachable"))  # refused port
    df = spark.createDataFrame(rows, "id long, url string").repartition(3)
    got = {r["id"]: (r["response"], r["status"]) for r in invoke_http(df, "url").collect()}
    for i in range(10):
        assert got[i] == (f"WORD{i}", 200)
    assert got[99] == ("", -1)
    srv.shutdown()


def test_invoke_http_overlaps_slow_endpoint(spark, tmp_path):
    """The bounded per-partition thread pool must overlap request latency:
    16 requests against a 0.25 s-sleep endpoint in ONE partition finish
    in ~ceil(16/8)*0.25 s of request time, not 16*0.25 s.

    The input is a single-file parquet (one natural partition): a
    ``coalesce(1)`` over a driver-local relation stalls the first Arrow
    batch by several seconds in this Spark build, which would swamp the
    timing signal.  The server also records per-request (start, end)
    intervals so overlap is asserted directly, independent of job
    overhead.
    """
    import http.server
    import threading
    import time

    from apache_nifi_spark.operators import invoke_http

    intervals: list[tuple[float, float]] = []
    ilock = threading.Lock()

    class SlowHandler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            t0 = time.monotonic()
            time.sleep(0.25)
            body = b"slow"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            with ilock:
                intervals.append((t0, time.monotonic()))

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), SlowHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]

    src = str(tmp_path / "urls")
    spark.createDataFrame(
        [(i, f"http://127.0.0.1:{port}/s?i={i}") for i in range(16)],
        "id long, url string",
    ).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    assert df.rdd.getNumPartitions() == 1

    t0 = time.monotonic()
    out = invoke_http(df, "url", concurrency=8).collect()
    wall = time.monotonic() - t0
    assert all(r["status"] == 200 and r["response"] == "slow" for r in out)
    # rows keep input order through pool.map
    assert sorted(r["id"] for r in out) == list(range(16))

    # direct overlap evidence: some request began before another finished
    assert len(intervals) == 16
    max_concurrent = max(
        sum(1 for s, e in intervals if s <= t < e)
        for t, _ in intervals
    )
    assert max_concurrent >= 4, f"requests did not overlap: {intervals}"
    # and the wall stays far under the 4 s serial floor
    assert wall < 3.0, f"no overlap: {wall:.2f}s for 16 x 0.25s requests"
    srv.shutdown()


def test_kmv_approx_distinct_accuracy(spark, sf_dir):
    """KMV sketch (approx_distinct_users): exact below k, bounded error
    above, and deterministic across runs (the property that makes it
    value-oracle-able, unlike HLL)."""
    from apache_nifi_spark.registry import QUERIES

    out = {r["event_type"]: r for r in QUERIES["approx_distinct_users"](spark, sf_dir).collect()}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(out) == set(exact)
    for et, row in out.items():
        n, est = exact[et], row["approx_users"]
        if n < 64:
            assert est == float(n), f"{et}: below-k groups must be exact"
        else:
            # KMV relative std error ~ 1/sqrt(k-2) ~= 12.7%; allow 4 sigma
            assert abs(est - n) / n < 0.51, f"{et}: est={est} exact={n}"
    # determinism: identical on a re-run (no RNG, no HLL registers)
    again = {r["event_type"]: r["approx_users"]
             for r in QUERIES["approx_distinct_users"](spark, sf_dir).collect()}
    assert again == {et: r["approx_users"] for et, r in out.items()}


def test_geohash_known_value_and_roundtrip(spark):
    """The canonical example (lat 42.6, lon -5.6 → 'ezs42' at precision 5,
    from the public geohash spec), plus decode(encode(p)) lands within
    half a cell of p for a grid of points including the ±edges."""
    from apache_nifi_spark.functions.geo import geohash_decode, geohash_encode

    known = spark.createDataFrame([(42.6, -5.6)], "lat double, lon double")
    got = known.select(geohash_encode(F.col("lat"), F.col("lon"), 5).alias("g")).head()
    assert got["g"] == "ezs42"

    pts = [
        (la, lo)
        for la in (-90.0, -45.5, 0.0, 37.7749, 89.999)
        for lo in (-180.0, -122.4194, 0.0, 139.6917, 179.999)
    ]
    df = spark.createDataFrame(pts, "lat double, lon double")
    lat_c, lon_c = geohash_decode(
        geohash_encode(F.col("lat"), F.col("lon"), 8), 8
    )
    out = df.select("lat", "lon", lat_c.alias("dlat"), lon_c.alias("dlon")).collect()
    # precision 8 → lat cell 180/2^20 deg, lon cell 360/2^20 deg
    for r in out:
        assert abs(r["dlat"] - r["lat"]) <= 180.0 / (1 << 20) / 2 + 1e-12
        assert abs(r["dlon"] - r["lon"]) <= 360.0 / (1 << 20) / 2 + 1e-12


def test_parse_cef_escapes_and_nulls(spark):
    from apache_nifi_spark.functions.cef import parse_cef

    rows = [
        (1, r"CEF:0|Sec\|Vendor|prod\\x|2.1|sig9|Port \| scan|7|src=1.2.3.4 msg=hello = world"),
        (2, "garbage"),
        (3, "CEF:1|v|p|1|s|n|5|dst=9.9.9.9"),
    ]
    df = spark.createDataFrame(rows, "id long, content string")
    out = {r["id"]: r for r in parse_cef(df).collect()}
    r1 = out[1]
    assert r1["vendor"] == "Sec|Vendor"
    assert r1["product"] == "prod\\x"
    assert r1["event_name"] == "Port | scan"
    assert r1["severity"] == "7" and r1["cef_version"] == 0
    assert r1["src"] == "1.2.3.4" and r1["dst"] is None
    assert r1["msg"] == "hello = world"
    assert all(out[2][c] is None for c in
               ("cef_version", "src", "dst", "msg")) and out[2]["vendor"] == ""
    assert out[3]["dst"] == "9.9.9.9" and out[3]["msg"] is None


def test_parse_netflow5_multi_record_packet(spark):
    """A hand-packed two-flow packet (struct big-endian, the reference
    byte layout) explodes into two aligned rows — the parser's count
    field and offset arithmetic, independent of the columnar encoder."""
    import struct

    from apache_nifi_spark.functions.netflow import parse_netflow5

    def rec(src, dst, pkts, sport, dport):
        return struct.pack(
            ">IIIHHIIIIHHBBBBHHBBH",
            src, dst, 0,          # addrs + nexthop
            1, 2,                 # in/out if
            pkts, pkts * 100,     # pkts, octets
            5, 6,                 # first/last
            sport, dport,
            0, 27, 6, 0,          # pad, flags, proto, tos
            64500, 64501, 24, 24, 0,  # AS, masks, pad2
        )

    header = struct.pack(">HHIIIIBBH", 5, 2, 99, 1700000007, 0, 42, 0, 0, 0)
    pkt = header + rec(0x0A000001, 0xC0A80101, 7, 1000, 80) + rec(
        0x0A000002, 0xC0A80102, 9, 2000, 443
    )
    bad = b"\x00\x09" + pkt[2:]  # version 9 → filtered out
    df = spark.createDataFrame(
        [(1, bytearray(pkt)), (2, bytearray(bad))], "id long, packet binary"
    )
    rows = sorted(
        parse_netflow5(df, "packet").collect(), key=lambda r: r["srcport"]
    )
    assert len(rows) == 2 and {r["id"] for r in rows} == {1}
    assert rows[0]["src_ip"] == "10.0.0.1" and rows[1]["src_ip"] == "10.0.0.2"
    assert rows[0]["dst_ip"] == "192.168.1.1"
    assert [r["d_pkts"] for r in rows] == [7, 9]
    assert [r["d_octets"] for r in rows] == [700, 900]
    assert [r["dstport"] for r in rows] == [80, 443]
    assert all(r["unix_secs"] == 1700000007 and r["flow_sequence"] == 42 for r in rows)


def test_html_extract_and_modify(spark):
    from apache_nifi_spark.functions.html_elements import (
        extract_html_elements,
        modify_html_elements,
    )

    doc = (
        '<html><body>'
        '<div class="item" id="a">Alpha <b>bold</b> tail</div>'
        '<div class="item other">Beta</div>'
        '<div class="misc"><div class="item" id="n">Nested</div></div>'
        '<img class="item" src="x.png">'
        "</body></html>"
    )
    df = spark.createDataFrame([(1, doc)], "id long, html string")

    got = extract_html_elements(df, ".item").orderBy("element_index").collect()
    assert [r["attr_id"] for r in got] == ["a", None, "n", None]
    assert got[0]["inner_text"] == "Alpha bold tail"
    assert got[1]["inner_text"] == "Beta"
    assert got[2]["inner_text"] == "Nested"
    assert got[3]["tag"] == "img" and got[3]["inner_text"] == ""

    # selector variants
    assert extract_html_elements(df, "#n").count() == 1
    assert extract_html_elements(df, "div.other").count() == 1
    assert extract_html_elements(df, "b").first()["inner_text"] == "bold"

    # modify: set an attribute on every match, keep the rest verbatim
    out = modify_html_elements(
        df, "div.item", set_attr=("data-x", "1")
    ).first()["html"]
    assert out.count('data-x="1"') == 3
    assert "<b>bold</b>" in out and '<div class="misc">' in out

    # modify: replace inner text (nested matches are subsumed)
    out2 = modify_html_elements(df, ".item", set_text="GONE").first()["html"]
    assert out2.count(">GONE<") == 3  # img is void: no inner rewrite
    assert "Alpha" not in out2 and "Nested" not in out2

    # attribute strip must never match INSIDE another attribute's quoted
    # value: 'href=y' inside title is data, not an attribute position
    tricky = spark.createDataFrame(
        [(1, '<a class="item" title="x href=y" href="z">L</a>')],
        "id long, html string",
    )
    out3 = modify_html_elements(
        tricky, ".item", set_attr=("href", "new")
    ).first()["html"]
    assert 'title="x href=y"' in out3
    assert 'href="new"' in out3 and 'href="z"' not in out3


def test_hmac_sha256_rfc4231_vectors(spark):
    """The columnar HMAC must reproduce the RFC 4231 published test
    vectors (cases 1, 2, and the >block-size-key case 6)."""
    import hashlib
    import hmac as hmaclib

    from pyspark.sql import functions as F

    from apache_nifi_spark.functions.mac import hmac_sha256_col

    cases = [
        (b"\x0b" * 20, b"Hi There",
         "b0344c61d8db38535ca8afceaf0bf12b881dc200c9833da726e9376c2e32cff7"),
        (b"Jefe", b"what do ya want for nothing?",
         "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843"),
        (b"\xaa" * 131, b"Test Using Larger Than Block-Size Key - Hash Key First",
         "60e431591ee0b67f0d8a26aacbf5b77f8e0bc6213728c5140546040f0ee37f54"),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(msg)) for i, (_, msg, _) in enumerate(cases)],
        "i long, content binary",
    )
    for i, (key, msg, want) in enumerate(cases):
        got = (
            df.filter(F.col("i") == i)
            .select(hmac_sha256_col(F.col("content"), key).alias("m"))
            .first()["m"]
        )
        assert got == want
        # and the construction agrees with the stdlib for arbitrary input
        assert got == hmaclib.new(key, msg, hashlib.sha256).hexdigest()


def test_hl7_msh_numbering_and_missing_segments(spark):
    """MSH field numbering is shifted per the spec (MSH-1 is the field
    separator itself); missing segments yield empty attributes."""
    from apache_nifi_spark.functions.hl7 import (
        extract_hl7_attributes,
        hl7_field,
        hl7_segment,
    )

    msg = (
        "MSH|^~\\&|APP|FAC|||20250101||ADT^A04|MSG001|P|2.5\r"
        "PID|1||12345^^^H||SMITH^JANE"
    )
    df = spark.createDataFrame([(1, msg), (2, "PID|1||X^^^H||Y^Z")],
                               "id long, content string")
    out = {r["id"]: r for r in extract_hl7_attributes(df).collect()}
    assert out[1]["message_code"] == "ADT"
    assert out[1]["trigger_event"] == "A04"
    assert out[1]["message_control_id"] == "MSG001"
    assert out[1]["patient_id"] == "12345"
    assert out[1]["patient_family_name"] == "SMITH"
    assert out[1]["observation_value"] == ""  # no OBX segment
    # message 2 has no MSH: all MSH-derived attributes empty
    assert out[2]["message_code"] == "" and out[2]["message_control_id"] == ""
    assert out[2]["patient_family_name"] == "Y"

    # MSH-1 is the separator itself, MSH-2 the encoding characters
    row = df.filter("id = 1").select(
        hl7_field(hl7_segment(F.col("content"), "MSH"), 1, msh=True).alias("f1"),
        hl7_field(hl7_segment(F.col("content"), "MSH"), 2, msh=True).alias("f2"),
    ).first()
    assert row["f1"] == "|" and row["f2"] == "^~\\&"


def test_tar_pack_unpack_roundtrip_and_determinism(spark):
    """Tar bins are many-rows→one-archive; bytes must be deterministic
    (fixed mtime, sorted entries) so re-runs produce identical archives."""
    from apache_nifi_spark.operators import pack_content_tar, unpack_content_tar

    rows = [(i % 3, f"f{i}.txt", f"payload-{i}") for i in range(12)]
    df = spark.createDataFrame(rows, ["bin_id", "fname", "text"])
    packed = pack_content_tar(df, "bin_id", "fname", "text")
    blobs1 = {r["group_id"]: bytes(r["archive"]) for r in packed.collect()}
    blobs2 = {
        r["group_id"]: bytes(r["archive"])
        for r in pack_content_tar(df.repartition(5), "bin_id", "fname", "text").collect()
    }
    assert blobs1 == blobs2  # byte-identical under any partitioning
    out = unpack_content_tar(packed, "group_id", "archive").collect()
    got = {(r["group_id"], r["entry_name"]): bytes(r["payload"]) for r in out}
    assert len(got) == 12
    assert got[(1, "f1.txt")] == b"payload-1"


def test_flowfile_v3_roundtrip_long_fields_and_bad_magic(spark):
    """FlowFile v3 framing: the 0xFFFF long-field escape must round-trip
    a >64 KiB value, empty content is legal, and a corrupt stream fails
    loudly instead of landing truncated records."""
    import pytest

    from apache_nifi_spark.operators import pack_flowfile_v3, unpack_flowfile_v3

    big = "x" * 70_000
    rows = [(0, "a", big, "content-a"), (0, "b", "small", ""), (1, "c", "v", "zz")]
    df = spark.createDataFrame(rows, ["bin_id", "k", "v", "text"])
    packed = pack_flowfile_v3(df, "bin_id", ["k", "v"], "text")
    out = unpack_flowfile_v3(packed, "group_id", "stream").collect()
    by_k = {r["attributes"]["k"]: r for r in out}
    assert by_k["a"]["attributes"]["v"] == big
    assert bytes(by_k["b"]["content"]) == b""
    assert bytes(by_k["c"]["content"]) == b"zz"

    bad = spark.createDataFrame([(9, bytearray(b"NOTMAGIC" + b"\x00" * 16))],
                                ["group_id", "stream"])
    with pytest.raises(Exception, match="bad FlowFile v3 magic"):
        unpack_flowfile_v3(bad, "group_id", "stream").collect()


def test_flowfile_v3_nifi_wire_framing_and_truncation(spark):
    """The v3 stream must match NiFi's FlowFilePackagerV3 byte layout:
    the attribute COUNT uses the 2-byte/0xFFFF-escaped field-length
    encoding (round-10 advice — a raw 4-byte count self-round-trips but
    real NiFi UnpackContent cannot read it), and a content length that
    points past the end of the buffer raises instead of silently
    yielding a truncated record."""
    import struct

    import pytest

    from apache_nifi_spark.operators import pack_flowfile_v3, unpack_flowfile_v3

    df = spark.createDataFrame([(5, "k1", "v1", "hello")],
                               ["bin_id", "k", "v", "text"])
    stream = bytes(
        pack_flowfile_v3(df, "bin_id", ["k", "v"], "text").collect()[0]["stream"]
    )
    # hand-decode with NiFi's layout: magic, 2-byte count, then fields
    assert stream[:7] == b"NiFiFF3"
    assert struct.unpack(">H", stream[7:9])[0] == 2  # count, NOT 4-byte int
    off = 9
    seen = {}
    for _ in range(2):
        n = struct.unpack(">H", stream[off:off + 2])[0]; off += 2
        key = stream[off:off + n].decode(); off += n
        n = struct.unpack(">H", stream[off:off + 2])[0]; off += 2
        seen[key] = stream[off:off + n].decode(); off += n
    assert seen == {"k": "k1", "v": "v1"}
    clen = struct.unpack(">Q", stream[off:off + 8])[0]; off += 8
    assert stream[off:off + clen] == b"hello" and off + clen == len(stream)

    # corrupt content length -> loud failure, not a truncated record
    bad = stream[:off - 8] + struct.pack(">Q", 10_000) + stream[off:]
    bad_df = spark.createDataFrame([(9, bytearray(bad))], ["group_id", "stream"])
    with pytest.raises(Exception, match="truncated FlowFile v3 content"):
        unpack_flowfile_v3(bad_df, "group_id", "stream").collect()


def test_pgp_rfc4880_gpg_interop_and_mdc(spark, tmp_path):
    """OpenPGP content protection (RFC 4880): our SKESK+SEIPD messages
    decrypt with the REAL gpg binary and vice versa (when gpg is
    installed); the S2K count encoding matches the spec example; any
    ciphertext tamper fails the MDC check loudly; wrong passphrase
    fails the prefix quick check."""
    import shutil
    import subprocess

    import pytest

    from apache_nifi_spark.operators.pgp import (
        pgp_decrypt_message,
        pgp_encrypt_message,
        s2k_iterated_salted,
    )

    # S2K count: 0x60 → (16 + 0) << (6 + 6) = 65536 octets hashed
    assert (16 + (0x60 & 15)) << ((0x60 >> 4) + 6) == 65536
    k1 = s2k_iterated_salted(b"pw", b"12345678", 0x60)
    assert len(k1) == 16 and k1 != s2k_iterated_salted(b"pw", b"87654321", 0x60)

    msg = pgp_encrypt_message(b"attack at dawn", b"hunter2", b"saltsalt")
    assert pgp_decrypt_message(msg, b"hunter2") == b"attack at dawn"

    with pytest.raises(ValueError, match="prefix repeat|MDC"):
        pgp_decrypt_message(msg, b"wrong-pass")
    bad = bytearray(msg)
    bad[-3] ^= 0x01  # flip a ciphertext byte inside the MDC region
    with pytest.raises(ValueError, match="MDC|prefix|literal|format"):
        pgp_decrypt_message(bytes(bad), b"hunter2")

    gpg = shutil.which("gpg")
    if gpg:
        d = str(tmp_path)
        with open(f"{d}/ours.pgp", "wb") as f:
            f.write(msg)
        out = subprocess.run(
            [gpg, "--batch", "--yes", "--passphrase", "hunter2",
             "--decrypt", f"{d}/ours.pgp"],
            capture_output=True, timeout=60,
        )
        assert out.returncode == 0 and out.stdout == b"attack at dawn"
        with open(f"{d}/plain.txt", "wb") as f:
            f.write(b"from gnupg")
        out = subprocess.run(
            [gpg, "--batch", "--yes", "--rfc4880", "--passphrase", "hunter2",
             "--symmetric", "--cipher-algo", "AES", "--s2k-digest-algo",
             "SHA1", "--s2k-mode", "3", "-z", "0",
             "-o", f"{d}/theirs.pgp", f"{d}/plain.txt"],
            capture_output=True, timeout=60,
        )
        assert out.returncode == 0
        with open(f"{d}/theirs.pgp", "rb") as f:
            assert pgp_decrypt_message(f.read(), b"hunter2") == b"from gnupg"
        # gpg DEFAULT output (no -z 0): literal wrapped in a tag-8
        # compressed packet, streamed with partial/indeterminate
        # lengths — must decrypt too (ADVICE r11)
        out = subprocess.run(
            [gpg, "--batch", "--yes", "--rfc4880", "--passphrase", "hunter2",
             "--symmetric", "--cipher-algo", "AES", "--s2k-digest-algo",
             "SHA1", "--s2k-mode", "3",
             "-o", f"{d}/theirs_z.pgp", f"{d}/plain.txt"],
            capture_output=True, timeout=60,
        )
        assert out.returncode == 0
        with open(f"{d}/theirs_z.pgp", "rb") as f:
            assert pgp_decrypt_message(f.read(), b"hunter2") == b"from gnupg"
        # and explicitly per algorithm: ZIP(1), ZLIB(2), BZIP2(3)
        for algo in ("ZIP", "ZLIB", "BZIP2"):
            out = subprocess.run(
                [gpg, "--batch", "--yes", "--rfc4880", "--passphrase",
                 "hunter2", "--symmetric", "--cipher-algo", "AES",
                 "--s2k-digest-algo", "SHA1", "--s2k-mode", "3",
                 "--compress-algo", algo,
                 "-o", f"{d}/theirs_{algo}.pgp", f"{d}/plain.txt"],
                capture_output=True, timeout=60,
            )
            assert out.returncode == 0, out.stderr
            with open(f"{d}/theirs_{algo}.pgp", "rb") as f:
                assert (
                    pgp_decrypt_message(f.read(), b"hunter2")
                    == b"from gnupg"
                ), algo

    # distributed round trip through the Spark operators
    from pyspark.sql import functions as F

    from apache_nifi_spark.operators import (
        decrypt_content_pgp,
        encrypt_content_pgp,
    )

    df = spark.range(30).select(
        F.col("id"), F.concat(F.lit("doc-"), F.col("id")).alias("content")
    ).repartition(4)
    enc = encrypt_content_pgp(df, "pw", "id")
    dec = decrypt_content_pgp(enc, "pw", "id")
    got = {r["id"]: bytes(r["content"]).decode() for r in dec.collect()}
    assert got == {i: f"doc-{i}" for i in range(30)}


def test_hypertable_rollup_reaggregation_algebra(spark):
    """The coarser tier must equal a direct aggregation of the raw data
    at that grain (the re-aggregable invariant: sum-of-sums, min-of-mins
    over the finer tier loses nothing), grains validate, and the tier
    column accounts for every bucket."""
    import datetime as dt

    import pytest
    from pyspark.sql import functions as F

    from apache_nifi_spark.operators.hypertable import hypertable_rollup

    rows = []
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    for i in range(500):
        rows.append((
            base + dt.timedelta(seconds=37 * i),
            "k%d" % (i % 3),
            float((i * 7) % 101) / 4.0,
        ))
    df = spark.createDataFrame(rows, ["ts", "event_type", "value"])
    out = hypertable_rollup(df, "ts", "value", ["event_type"],
                            ["minute", "hour", "day"]).cache()

    direct_hour = {
        (r["b"], r["event_type"]): (r["n"], r["s"], r["mn"], r["mx"])
        for r in df.groupBy(
            F.date_trunc("hour", "ts").alias("b"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double")
            .alias("s"),
            F.min("value").alias("mn"), F.max("value").alias("mx"),
        ).collect()
    }
    rolled_hour = {
        (r["bucket_ts"], r["event_type"]):
            (r["n"], r["total_value"], r["min_value"], r["max_value"])
        for r in out.filter(F.col("grain") == "hour").collect()
    }
    assert rolled_hour == direct_hour
    # every tier present; finer tiers have at least as many buckets
    sizes = {r["grain"]: r["c"] for r in out.groupBy("grain")
             .agg(F.count(F.lit(1)).alias("c")).collect()}
    assert sizes["minute"] >= sizes["hour"] >= sizes["day"] >= 1
    with pytest.raises(ValueError, match="finest-first"):
        hypertable_rollup(df, "ts", "value", grains=["day", "minute"])


def test_snappy_lz4_block_codecs():
    """CompressContent's snappy and lz4 codecs (``content._codecs``,
    pyarrow underneath): property roundtrips over adversarial inputs
    (empty, single byte, highly repetitive, binary, incompressible),
    spec grammar on the decode side (copy tags 01/10/11, LZ4
    255-continued length extensions, overlapping copies), and loud
    failures on corrupt offsets and length mismatches."""
    import pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_nifi_spark.operators.content import _codecs

    snappy_compress, snappy_decompress = _codecs()["snappy"]
    lz4_compress, lz4_decompress = _codecs()["lz4"]

    for c in (b"", b"a", b"ab" * 5000, bytes(range(256)) * 8,
              b"x" * 70000, b"the cat sat on the mat " * 300):
        assert snappy_decompress(snappy_compress(c)) == c
        assert lz4_decompress(lz4_compress(c)) == c

    @settings(max_examples=150, deadline=None)
    @given(st.binary(max_size=3000))
    def roundtrip(data):
        assert snappy_decompress(snappy_compress(data)) == data
        assert lz4_decompress(lz4_compress(data)) == data

    roundtrip()

    # decode-side grammar beyond what an encoder need emit:
    # snappy copy tag 01 (1-byte offset, 3-bit length) and tag 11
    # (4-byte offset) — hand-assembled per format_description.txt
    lit = bytes([(4 - 1) << 2]) + b"abcd"                       # literal 'abcd'
    copy1 = bytes([0b01 | ((4 - 4) << 2) | (0 << 5), 4])        # len 4, off 4
    assert snappy_decompress(bytes([8]) + lit + copy1) == b"abcdabcd"
    copy4 = bytes([0b11 | ((4 - 1) << 2)]) + (4).to_bytes(4, "little")
    assert snappy_decompress(bytes([8]) + lit + copy4) == b"abcdabcd"
    # overlapping copy: off 1, len 4 → run-length expansion
    lit1 = bytes([(1 - 1) << 2]) + b"z"
    ovl = bytes([0b01 | ((4 - 4) << 2), 1])
    assert snappy_decompress(bytes([5]) + lit1 + ovl) == b"zzzzz"

    def lz4_frame(block: bytes) -> bytes:
        # magic, FLG 0x60 (v01, independent blocks, no checksums), BD
        # 0x40 (64 KB blocks), header checksum 0x82; one block; end mark
        return (bytes.fromhex("04224d18604082") + len(block).to_bytes(4, "little")
                + block + bytes(4))

    # lz4 overlapping copy + length extension: 'a' then match off=1 len 19
    # token: lit 1, matchlen nibble 15 → ext byte 0 → 15+4+0 = 19; the
    # spec's end rule keeps the last 5 bytes literals
    block = bytes([(1 << 4) | 15]) + b"a" + (1).to_bytes(2, "little") + bytes([0])
    block += bytes([5 << 4]) + b"bcdef"
    assert lz4_decompress(lz4_frame(block)) == b"a" * 20 + b"bcdef"

    with pytest.raises(OSError):  # copy offset past the output
        snappy_decompress(bytes([8]) + lit + bytes([0b10 | (3 << 2), 99, 0]))
    with pytest.raises(OSError):  # preamble says 9 bytes, elements give 8
        snappy_decompress(bytes([9]) + lit + copy1)
    with pytest.raises(OSError):  # match offset 9 with one byte out
        lz4_decompress(lz4_frame(
            bytes([(1 << 4) | 0]) + b"a" + (9).to_bytes(2, "little")
            + bytes([5 << 4]) + b"bcdef"
        ))


def test_lz4_frame_real_binary_interop(tmp_path):
    """LZ4 FRAME format: our frames decode with the REAL lz4 binary and
    vice versa (when installed); a tampered header, and a tampered
    payload under the binary's content checksum, raise."""
    import shutil
    import subprocess

    import pytest

    from apache_nifi_spark.operators.content import _codecs

    lz4_frame_compress, lz4_frame_decompress = _codecs()["lz4"]
    data = b"the quick brown fox jumps over the lazy dog. " * 400 + bytes(
        range(256)
    )
    frame = lz4_frame_compress(data)
    assert lz4_frame_decompress(frame) == data
    # a frame descriptor tamper fails the header checksum
    bad = bytearray(frame)
    bad[4] ^= 0x01
    with pytest.raises(OSError, match="headerChecksum"):
        lz4_frame_decompress(bytes(bad))

    lz4 = shutil.which("lz4")
    if lz4:
        d = str(tmp_path)
        with open(f"{d}/ours.lz4", "wb") as f:
            f.write(frame)
        out = subprocess.run([lz4, "-d", "-c", f"{d}/ours.lz4"],
                             capture_output=True, timeout=60)
        assert out.returncode == 0 and out.stdout == data
        with open(f"{d}/plain", "wb") as f:
            f.write(data)
        subprocess.run([lz4, "-f", f"{d}/plain", f"{d}/theirs.lz4"],
                       capture_output=True, timeout=60, check=True)
        with open(f"{d}/theirs.lz4", "rb") as f:
            theirs = f.read()
        assert lz4_frame_decompress(theirs) == data
        # the binary's frames carry a content checksum: a payload tamper
        # that still decodes fails it
        bad = bytearray(theirs)
        bad[20] ^= 0x01
        with pytest.raises(OSError, match="Checksum|decompress"):
            lz4_frame_decompress(bytes(bad))
