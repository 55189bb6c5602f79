"""REST flow-authoring control plane: author-over-HTTP ≡ direct import,
revision protocol, compile-on-start validation, version control."""

from __future__ import annotations

import http.client
import json
import os
import urllib.parse

import pytest

from apache_nifi_spark.plans.flow_import import run_flow_json
from apache_nifi_spark.plans.rest_api import (
    NiFiApiServer,
    author_flow_via_api,
    start_group_via_api,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _conn(server):
    u = urllib.parse.urlsplit(server.url)
    return http.client.HTTPConnection(u.hostname, u.port, timeout=30)


def _call(conn, method, path, body=None):
    payload = json.dumps(body).encode() if body is not None else None
    conn.request(
        method, path, body=payload,
        headers={"Content-Type": "application/json"} if payload else {},
    )
    resp = conn.getresponse()
    return resp.status, json.loads(resp.read() or b"{}")


@pytest.fixture
def server(spark, sf_dir):
    with NiFiApiServer(spark, sf_dir) as s:
        yield s


def test_author_mega_flow_matches_direct_import(spark, sf_dir, server):
    """Authoring the 63-processor mega flow through /nifi-api and
    scheduling it RUNNING must compile to the SAME results as the direct
    flow.json import."""
    with open(os.path.join(FIXTURES, "mega_flow.json")) as f:
        text = f.read()
    contents = json.loads(text)["flowContents"]
    gid = author_flow_via_api(server.url, contents)
    outs = start_group_via_api(server.url, gid)
    direct = run_flow_json(spark, sf_dir, text)
    assert set(outs) == set(direct)
    via_api = server.outputs(gid)
    got = sorted(map(tuple, via_api["OrdersAgg.byStatus"].collect()))
    want = sorted(map(tuple, direct["OrdersAgg.byStatus"].collect()))
    assert got == want and got


def test_revision_protocol(server):
    conn = _conn(server)
    try:
        # create requires version 0
        status, _ = _call(conn, "POST", "/nifi-api/process-groups/root/processors",
                          {"revision": {"version": 3},
                           "component": {"type": "x.UpdateAttribute"}})
        assert status == 400
        status, ent = _call(conn, "POST", "/nifi-api/process-groups/root/processors",
                            {"revision": {"version": 0},
                             "component": {"name": "A", "type": "x.UpdateAttribute",
                                           "config": {"properties": {"z": "1"}}}})
        assert status == 201 and ent["revision"]["version"] == 0
        pid = ent["id"]
        # good update bumps the revision
        status, ent = _call(conn, "PUT", f"/nifi-api/processors/{pid}",
                            {"revision": {"version": 0},
                             "component": {"config": {"properties": {"z": "2"}}}})
        assert status == 200 and ent["revision"]["version"] == 1
        assert ent["component"]["config"]["properties"]["z"] == "2"
        # stale update → 409 Conflict
        status, _ = _call(conn, "PUT", f"/nifi-api/processors/{pid}",
                          {"revision": {"version": 0},
                           "component": {"name": "B"}})
        assert status == 409
        # delete with wrong version → 409; with current → 200
        status, _ = _call(conn, "DELETE", f"/nifi-api/processors/{pid}?version=0")
        assert status == 409
        status, _ = _call(conn, "DELETE", f"/nifi-api/processors/{pid}?version=1")
        assert status == 200
        status, _ = _call(conn, "GET", f"/nifi-api/processors/{pid}")
        assert status == 404
    finally:
        conn.close()


def test_connected_processor_delete_refused(server):
    conn = _conn(server)
    try:
        ids = []
        for name in ("A", "B"):
            _, ent = _call(conn, "POST", "/nifi-api/process-groups/root/processors",
                           {"revision": {"version": 0},
                            "component": {"name": name, "type": "x.UpdateAttribute",
                                          "config": {"properties": {"z": "1"}}}})
            ids.append(ent["id"])
        status, cent = _call(conn, "POST", "/nifi-api/process-groups/root/connections",
                             {"revision": {"version": 0},
                              "component": {"source": {"id": ids[0]},
                                            "destination": {"id": ids[1]},
                                            "selectedRelationships": ["success"]}})
        assert status == 201
        status, _ = _call(conn, "DELETE", f"/nifi-api/processors/{ids[0]}?version=0")
        assert status == 409  # still connected
        status, _ = _call(conn, "DELETE", f"/nifi-api/connections/{cent['id']}?version=0")
        assert status == 200
        status, _ = _call(conn, "DELETE", f"/nifi-api/processors/{ids[0]}?version=0")
        assert status == 200
    finally:
        conn.close()


def test_compile_on_start_rejects_bad_graph(server):
    """An unsupported cycle must answer 400 with the compiler diagnostic
    at schedule time — NiFi's validation-at-start contract."""
    conn = _conn(server)
    try:
        _, g = _call(conn, "POST", "/nifi-api/process-groups/root/process-groups",
                     {"revision": {"version": 0}, "component": {"name": "bad"}})
        gid = g["id"]
        for pid in ("a", "b"):
            _call(conn, "POST", f"/nifi-api/process-groups/{gid}/processors",
                  {"revision": {"version": 0},
                   "component": {"id": pid, "type": "x.UpdateAttribute",
                                 "config": {"properties": {"z": "${event_type}"}}}})
        for s, d in (("a", "b"), ("b", "a")):
            _call(conn, "POST", f"/nifi-api/process-groups/{gid}/connections",
                  {"revision": {"version": 0},
                   "component": {"source": {"id": s}, "destination": {"id": d}}})
        status, payload = _call(conn, "PUT", f"/nifi-api/flow/process-groups/{gid}",
                                {"id": gid, "state": "RUNNING"})
        assert status == 400 and "cycle" in payload["error"]
    finally:
        conn.close()


def test_version_control_commit_history(spark, sf_dir, server):
    conn = _conn(server)
    try:
        _, g = _call(conn, "POST", "/nifi-api/process-groups/root/process-groups",
                     {"revision": {"version": 0}, "component": {"name": "vc"}})
        gid = g["id"]
        _call(conn, "POST", f"/nifi-api/process-groups/{gid}/processors",
              {"revision": {"version": 0},
               "component": {"id": "src", "type": "x.GetFile",
                             "config": {"properties": {"Input Directory": "region"}}}})
        status, v1 = _call(conn, "POST", f"/nifi-api/versions/process-groups/{gid}", {})
        assert (status, v1["version"]) == (201, 1)
        status, v2 = _call(conn, "POST", f"/nifi-api/versions/process-groups/{gid}",
                           {"comment": "second"})
        assert (status, v2["version"]) == (201, 2)
        status, hist = _call(conn, "GET", f"/nifi-api/versions/process-groups/{gid}")
        assert [h["version"] for h in hist["versions"]] == [1, 2]
        # a committed snapshot replays through the direct importer
        text = server.registry.get("default", "vc", 1)
        outs = run_flow_json(spark, sf_dir, text)
        assert outs["src.success"].count() == 5  # region table
        # committing to a NON-default bucket must still show up in the
        # group's version history (round-8 advice: history hardcoded
        # 'default')
        status, v3 = _call(conn, "POST", f"/nifi-api/versions/process-groups/{gid}",
                           {"bucket": "prod", "comment": "promoted"})
        assert (status, v3["version"]) == (201, 1)  # first version IN prod
        status, hist = _call(conn, "GET", f"/nifi-api/versions/process-groups/{gid}")
        assert status == 200
        assert [(h["version"], h["comment"]) for h in hist["versions"]] == [
            (1, "promoted")
        ]
        assert server.registry.history("prod", "vc")[0][0] == 1
    finally:
        conn.close()


def test_site_to_site_discovery(server, tmp_path):
    """GET /nifi-api/site-to-site is the reference's S2S bootstrap call
    (scripts.sh:89-98): it must answer the wire server's listening port
    and siteToSiteSecure=true, and /peers must serve the live peer list
    fetched over the wire itself."""
    from apache_nifi_spark.streaming.s2s_wire import SiteToSiteServer, s2s_peers
    from apache_nifi_spark.streaming.tls import generate_self_signed

    conn = _conn(server)
    try:
        # before attach: discovery answers "S2S disabled", peers 404
        status, ent = _call(conn, "GET", "/nifi-api/site-to-site")
        assert status == 200
        assert ent["controller"]["remoteSiteListeningPort"] is None
        assert ent["controller"]["siteToSiteSecure"] is False
        status, _ = _call(conn, "GET", "/nifi-api/site-to-site/peers")
        assert status == 404

        cert, key = generate_self_signed(str(tmp_path))
        with SiteToSiteServer(str(tmp_path / "landing"), cert, key) as s2s:
            server.attach_site_to_site("127.0.0.1", s2s.port, cert)
            status, ent = _call(conn, "GET", "/nifi-api/site-to-site")
            assert status == 200
            assert ent["controller"]["remoteSiteListeningPort"] == s2s.port
            assert ent["controller"]["siteToSiteSecure"] is True
            status, peers = _call(conn, "GET", "/nifi-api/site-to-site/peers")
            assert status == 200
            wire = s2s_peers("127.0.0.1", s2s.port, cert)
            assert [(p["hostname"], p["port"], p["secure"]) for p in peers["peers"]] \
                == [(p["host"], p["port"], p["secure"]) for p in wire]
            assert peers["peers"][0]["port"] == s2s.port
    finally:
        conn.close()


def test_ports_and_controller_service_flow(spark, sf_dir, server):
    """A flow authored over REST with an output port and a controller
    service (NiFi's shared-config indirection) must compile to the same
    result as the direct flow.json import of its committed snapshot."""
    conn = _conn(server)
    try:
        _, g = _call(conn, "POST", "/nifi-api/process-groups/root/process-groups",
                     {"revision": {"version": 0}, "component": {"name": "psvc"}})
        gid = g["id"]
        # controller service carrying the lookup config
        status, svc = _call(conn, "POST",
                            f"/nifi-api/process-groups/{gid}/controller-services",
                            {"revision": {"version": 0},
                             "component": {"type": "x.CSVRecordLookupService",
                                           "name": "nation-lookup",
                                           "config": {"properties": {
                                               "Lookup Table": "nation",
                                               "Lookup Columns": "n_name,n_regionkey",
                                           }}}})
        assert status == 201 and svc["component"]["state"] == "DISABLED"
        sid = svc["id"]
        for pid, ptype, props in (
            ("src", "x.GetFile", {"Input Directory": "customer"}),
            ("lk", "x.LookupRecord",
             {"Lookup Service": sid, "Lookup Key": "c_nationkey",
              "Lookup Field": "n_nationkey"}),
        ):
            _call(conn, "POST", f"/nifi-api/process-groups/{gid}/processors",
                  {"revision": {"version": 0},
                   "component": {"id": pid, "type": ptype,
                                 "config": {"properties": props}}})
        status, port = _call(conn, "POST",
                             f"/nifi-api/process-groups/{gid}/output-ports",
                             {"revision": {"version": 0},
                              "component": {"id": "out", "name": "enriched"}})
        assert status == 201 and port["component"]["type"] == "OUTPUT_PORT"
        for s, d, rels in (("src", "lk", ["success"]), ("lk", "out", ["matched"])):
            _call(conn, "POST", f"/nifi-api/process-groups/{gid}/connections",
                  {"revision": {"version": 0},
                   "component": {"source": {"id": s}, "destination": {"id": d},
                                 "selectedRelationships": rels}})
        # starting with the service DISABLED must fail validation (NiFi
        # refuses to start a processor whose service is not ENABLED)
        status, payload = _call(conn, "PUT", f"/nifi-api/flow/process-groups/{gid}",
                                {"state": "RUNNING"})
        assert status == 400 and "not ENABLED" in payload["error"]
        # editing while DISABLED is allowed; then enable
        status, _ = _call(conn, "PUT", f"/nifi-api/controller-services/{sid}",
                          {"revision": {"version": 0},
                           "component": {"config": {"properties": {
                               "Lookup Columns": "n_name"}}}})
        assert status == 200
        status, _ = _call(conn, "PUT", f"/nifi-api/controller-services/{sid}/run-status",
                          {"revision": {"version": 1}, "state": "ENABLED"})
        assert status == 200
        # enabled services refuse edits (NiFi lifecycle contract)
        status, _ = _call(conn, "PUT", f"/nifi-api/controller-services/{sid}",
                          {"revision": {"version": 2},
                           "component": {"name": "nope"}})
        assert status == 409
        status, run = _call(conn, "PUT", f"/nifi-api/flow/process-groups/{gid}",
                            {"state": "RUNNING"})
        assert status == 200 and "enriched.success" in run["outputs"]
        got = server.outputs(gid)["enriched.success"]
        # direct import of the committed snapshot value-matches
        _call(conn, "POST", f"/nifi-api/versions/process-groups/{gid}", {})
        text = server.registry.get("default", "psvc", 1)
        want = run_flow_json(spark, sf_dir, text)["enriched.success"]
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
        assert "n_name" in got.columns and "n_regionkey" not in got.columns
    finally:
        conn.close()


def test_s2s_input_port_ingress(spark, sf_dir, server, tmp_path):
    """Data pushed over the site-to-site wire into a remote-accessible
    input port must surface as the port's DataFrame when the group is
    scheduled RUNNING — the full reference path: REST discovery → wire
    transaction → landed batch → distributed scan."""
    import pandas as pd

    from apache_nifi_spark.streaming.s2s_wire import SiteToSiteServer, s2s_send
    from apache_nifi_spark.streaming.tls import generate_self_signed

    cert, key = generate_self_signed(str(tmp_path))
    with SiteToSiteServer(str(tmp_path / "landing"), cert, key) as s2s:
        conn = _conn(server)
        try:
            server.attach_site_to_site(
                "127.0.0.1", s2s.port, cert, landing_dir=str(tmp_path / "landing")
            )
            # push 40 flowfiles over the wire into port "ingest"
            src = spark.createDataFrame(
                [(f"k{i}", f"payload-{i}") for i in range(40)], "tag string, content string"
            ).repartition(4)
            sent = s2s_send(src, "127.0.0.1", s2s.port, cert, "ingest",
                            ["tag"], "content", summary=True)
            assert sent.filter("delivered").count() == 4  # one tx per partition
            # author: input port "ingest" → output port "landed"
            _, g = _call(conn, "POST", "/nifi-api/process-groups/root/process-groups",
                         {"revision": {"version": 0}, "component": {"name": "s2sgrp"}})
            gid = g["id"]
            _call(conn, "POST", f"/nifi-api/process-groups/{gid}/input-ports",
                  {"revision": {"version": 0},
                   "component": {"id": "in", "name": "ingest",
                                 "allowRemoteAccess": True}})
            _call(conn, "POST", f"/nifi-api/process-groups/{gid}/output-ports",
                  {"revision": {"version": 0},
                   "component": {"id": "out", "name": "landed"}})
            _call(conn, "POST", f"/nifi-api/process-groups/{gid}/connections",
                  {"revision": {"version": 0},
                   "component": {"source": {"id": "in"}, "destination": {"id": "out"}}})
            status, run = _call(conn, "PUT", f"/nifi-api/flow/process-groups/{gid}",
                                {"state": "RUNNING"})
            assert status == 200
            df = server.outputs(gid)["landed.success"]
            rows = df.collect()
            assert len(rows) == 40
            assert {r["attributes"]["tag"] for r in rows} == {f"k{i}" for i in range(40)}
            assert {r["content"] for r in rows} == {f"payload-{i}" for i in range(40)}
        finally:
            conn.close()


def test_parameter_contexts_bind_at_start(spark, sf_dir, server):
    """NiFi's flow/config separation over REST: #{param} placeholders in
    processor properties resolve through the group's bound parameter
    context at compile-on-start; unresolvable references answer 400;
    sensitive values are write-only; snapshots carry placeholders."""
    conn = _conn(server)
    try:
        status, pc = _call(conn, "POST", "/nifi-api/parameter-contexts",
                           {"revision": {"version": 0},
                            "component": {"name": "env",
                                          "parameters": [
                                              {"parameter": {"name": "src.table",
                                                             "value": "region"}},
                                              {"parameter": {"name": "api.key",
                                                             "value": "s3cr3t",
                                                             "sensitive": True}},
                                          ]}})
        assert status == 201
        pcid = pc["id"]
        # sensitive values never read back
        _, got = _call(conn, "GET", f"/nifi-api/parameter-contexts/{pcid}")
        vals = {p["parameter"]["name"]: p["parameter"]["value"]
                for p in got["component"]["parameters"]}
        assert vals == {"src.table": "region", "api.key": None}

        _, g = _call(conn, "POST", "/nifi-api/process-groups/root/process-groups",
                     {"revision": {"version": 0}, "component": {"name": "par"}})
        gid = g["id"]
        _call(conn, "POST", f"/nifi-api/process-groups/{gid}/processors",
              {"revision": {"version": 0},
               "component": {"id": "src", "type": "x.GetFile",
                             "config": {"properties":
                                        {"Input Directory": "#{src.table}"}}}})
        # start WITHOUT a bound context → 400 unresolvable
        status, payload = _call(conn, "PUT", f"/nifi-api/flow/process-groups/{gid}",
                                {"state": "RUNNING"})
        assert status == 400 and "src.table" in payload["error"]
        # bind the context (group entity PUT), then start resolves
        status, ent = _call(conn, "PUT", f"/nifi-api/process-groups/{gid}",
                            {"revision": {"version": 0},
                             "component": {"parameterContext": {"id": pcid}}})
        assert status == 200 and ent["component"]["parameterContext"]["name"] == "env"
        status, run = _call(conn, "PUT", f"/nifi-api/flow/process-groups/{gid}",
                            {"state": "RUNNING"})
        assert status == 200
        assert server.outputs(gid)["src.success"].count() == 5  # region rows
        # snapshot carries the placeholder + context name, not the value
        _, flow = _call(conn, "GET", f"/nifi-api/flow/process-groups/{gid}")
        contents = flow["processGroupFlow"]["flowContents"]
        assert contents["parameterContextName"] == "env"
        assert contents["processors"][0]["properties"]["Input Directory"] \
            == "#{src.table}"
        # a context bound to a group refuses deletion
        status, _ = _call(conn, "DELETE",
                          f"/nifi-api/parameter-contexts/{pcid}?version=0")
        assert status == 409
        # update merge: change a value, delete via explicit null
        status, _ = _call(conn, "PUT", f"/nifi-api/parameter-contexts/{pcid}",
                          {"revision": {"version": 0},
                           "component": {"parameters": [
                               {"parameter": {"name": "src.table",
                                              "value": "nation"}},
                               {"parameter": {"name": "api.key", "value": None}},
                           ]}})
        assert status == 200
        status, run = _call(conn, "PUT", f"/nifi-api/flow/process-groups/{gid}",
                            {"state": "RUNNING"})
        assert status == 200
        assert server.outputs(gid)["src.success"].count() == 25  # nation rows
    finally:
        conn.close()


def test_flow_status_and_system_diagnostics(server):
    conn = _conn(server)
    try:
        _, ent = _call(conn, "POST", "/nifi-api/process-groups/root/processors",
                       {"revision": {"version": 0},
                        "component": {"type": "x.UpdateAttribute",
                                      "config": {"properties": {"z": "1"}}}})
        status, st = _call(conn, "GET", "/nifi-api/flow/status")
        assert status == 200
        cs = st["controllerStatus"]
        assert cs["componentCounts"]["processors"] >= 1
        assert cs["stoppedCount"] >= 1 and cs["flowFilesQueued"] == 0
        status, diag = _call(conn, "GET", "/nifi-api/system-diagnostics")
        snap = diag["systemDiagnostics"]["aggregateSnapshot"]
        assert snap["availableProcessors"] >= 1
        assert snap["maxHeapBytes"] > 0 and snap["engine"].startswith("spark-")
    finally:
        conn.close()


def test_update_counter_and_counters_endpoint(server):
    """UpdateCounter rides the plan as an Observation: pending until the
    flow's outputs materialize, then rows x delta, summed across
    processors feeding the same counter name."""
    conn = _conn(server)
    try:
        _, g = _call(conn, "POST", "/nifi-api/process-groups/root/process-groups",
                     {"revision": {"version": 0}, "component": {"name": "cnt"}})
        gid = g["id"]
        for pid, props in (
            ("src", {"Input Directory": "nation"}),
            ("c1", {"Counter Name": "records.seen", "Delta": "2"}),
            ("c2", {"Counter Name": "records.seen"}),  # same counter, delta 1
        ):
            ptype = "x.GetFile" if pid == "src" else "x.UpdateCounter"
            _call(conn, "POST", f"/nifi-api/process-groups/{gid}/processors",
                  {"revision": {"version": 0},
                   "component": {"id": pid, "type": ptype,
                                 "config": {"properties": props}}})
        for s, d in (("src", "c1"), ("c1", "c2")):
            _call(conn, "POST", f"/nifi-api/process-groups/{gid}/connections",
                  {"revision": {"version": 0},
                   "component": {"source": {"id": s}, "destination": {"id": d}}})
        status, run = _call(conn, "PUT", f"/nifi-api/flow/process-groups/{gid}",
                            {"state": "RUNNING"})
        assert status == 200
        # lazy plan: counters exist but are pending
        _, ent = _call(conn, "GET", "/nifi-api/counters")
        counters = {c["name"]: c["value"]
                    for c in ent["counters"]["aggregateSnapshot"]["counters"]}
        assert counters == {"records.seen": None}
        # materialize → both observations tick: 25*2 + 25*1
        server.outputs(gid)["c2.success"].count()
        _, ent = _call(conn, "GET", "/nifi-api/counters")
        counters = {c["name"]: c["value"]
                    for c in ent["counters"]["aggregateSnapshot"]["counters"]}
        assert counters == {"records.seen": 75}
    finally:
        conn.close()


def test_provenance_query_over_rest(server):
    """NiFi's async provenance-query API backed by per-hop Observations:
    pending before the plan materializes, then CREATE/ROUTE events with
    exact per-relationship row counts."""
    conn = _conn(server)
    try:
        _, g = _call(conn, "POST", "/nifi-api/process-groups/root/process-groups",
                     {"revision": {"version": 0}, "component": {"name": "prov"}})
        gid = g["id"]
        _call(conn, "POST", f"/nifi-api/process-groups/{gid}/processors",
              {"revision": {"version": 0},
               "component": {"id": "src", "name": "Nations", "type": "x.GetFile",
                             "config": {"properties": {"Input Directory": "nation"}}}})
        _call(conn, "POST", f"/nifi-api/process-groups/{gid}/processors",
              {"revision": {"version": 0},
               "component": {"id": "rt", "name": "Zone", "type": "x.RouteOnAttribute",
                             "config": {"properties": {
                                 "low": "${n_regionkey:lt(2)}"}}}})
        _call(conn, "POST", f"/nifi-api/process-groups/{gid}/connections",
              {"revision": {"version": 0},
               "component": {"source": {"id": "src"}, "destination": {"id": "rt"},
                             "selectedRelationships": ["success"]}})
        status, _ = _call(conn, "PUT", f"/nifi-api/flow/process-groups/{gid}",
                          {"state": "RUNNING"})
        assert status == 200
        status, sub = _call(conn, "POST", "/nifi-api/provenance", {})
        assert status == 201
        qid = sub["provenance"]["id"]
        _, got = _call(conn, "GET", f"/nifi-api/provenance/{qid}")
        assert got["provenance"]["finished"] is False  # plans are lazy
        # materialize BOTH routed branches so every hop observation ticks
        outs = server.outputs(gid)
        for df in outs.values():
            df.count()
        _, got = _call(conn, "GET", f"/nifi-api/provenance/{qid}")
        assert got["provenance"]["finished"] is True
        ev = {(e["componentName"], e["relationship"]):
              (e["eventType"], e["rows"])
              for e in got["provenance"]["results"]["provenanceEvents"]}
        assert ev[("Nations", "success")] == ("CREATE", 25)
        assert ev[("Zone", "low")] == ("ROUTE", 10)   # regionkey 0,1 → 5 each
        assert ev[("Zone", "unmatched")] == ("ROUTE", 15)
        # componentName search term filters
        status, sub2 = _call(conn, "POST", "/nifi-api/provenance",
                             {"provenance": {"request": {"searchTerms":
                                 {"componentName": "Zone"}}}})
        _, got2 = _call(conn, "GET", f"/nifi-api/provenance/{sub2['provenance']['id']}")
        names = {e["componentName"]
                 for e in got2["provenance"]["results"]["provenanceEvents"]}
        assert names == {"Zone"}
        # delete the query handle
        status, _ = _call(conn, "DELETE", f"/nifi-api/provenance/{qid}")
        assert status == 200
        status, _ = _call(conn, "GET", f"/nifi-api/provenance/{qid}")
        assert status == 404
    finally:
        conn.close()


def test_single_user_token_auth(spark, sf_dir):
    """Secured facade (the reference's single-user profile): login issues
    an HS256 JWT, bad credentials and bad/expired tokens answer 401, and
    the full author+run cycle works over Bearer auth."""
    from apache_nifi_spark.plans.rest_api import fetch_token
    from apache_nifi_spark.plans.flow_import import FlowImportError

    with NiFiApiServer(spark, sf_dir, credentials=("admin", "admin123456!")) as s:
        # bad credentials -> 401 at login
        with pytest.raises(FlowImportError, match="401"):
            fetch_token(s.url, "admin", "wrong")
        # no token -> 401 on any endpoint
        conn = _conn(s)
        status, body = _call(conn, "GET", "/nifi-api/flow/about")
        assert status == 401, body
        # tampered token -> 401
        token = fetch_token(s.url, "admin", "admin123456!")
        assert token.count(".") == 2
        bad = token[:-2] + ("AA" if not token.endswith("AA") else "BB")
        conn.request("GET", "/nifi-api/flow/about",
                     headers={"Authorization": f"Bearer {bad}"})
        resp = conn.getresponse()
        assert resp.status == 401
        resp.read()
        # valid token -> full authoring cycle
        conn.request("GET", "/nifi-api/flow/about",
                     headers={"Authorization": f"Bearer {token}"})
        resp = conn.getresponse()
        assert resp.status == 200
        json.loads(resp.read())
        with open(os.path.join(FIXTURES, "mega_flow.json")) as f:
            contents = json.load(f)["flowContents"]
        gid = author_flow_via_api(s.url, contents, token=token)
        outs = start_group_via_api(s.url, gid, token=token)
        assert outs
        # expired token -> 401 (issue with ttl in the past)
        with NiFiApiServer(
            spark, sf_dir, credentials=("u", "p"), token_ttl=-5
        ) as s2:
            expired = fetch_token(s2.url, "u", "p")
            c2 = _conn(s2)
            c2.request("GET", "/nifi-api/flow/about",
                       headers={"Authorization": f"Bearer {expired}"})
            r2 = c2.getresponse()
            assert r2.status == 401
            r2.read()


def test_bulletin_board_records_start_failures(server):
    """A compile-on-start failure answers 400 AND lands on the bulletin
    board with the compiler diagnostic; after/sourceId filters apply."""
    # empty board initially
    st, body = _call(_conn(server), "GET", "/nifi-api/flow/bulletin-board")
    assert st == 200 and body["bulletinBoard"]["bulletins"] == []
    conn = _conn(server)
    st, g = _call(conn, "POST", "/nifi-api/process-groups/root/process-groups",
                  {"revision": {"version": 0}, "component": {"name": "bad"}})
    gid = g["id"]
    # a processor type the compiler rejects
    st, _ = _call(conn, "POST", f"/nifi-api/process-groups/{gid}/processors",
                  {"revision": {"version": 0},
                   "component": {"id": "x1", "type": "x.NoSuchProcessor",
                                 "config": {"properties": {}}}})
    assert st == 201
    st, err = _call(conn, "PUT", f"/nifi-api/flow/process-groups/{gid}",
                    {"id": gid, "state": "RUNNING"})
    assert st == 400
    st, body = _call(conn, "GET", "/nifi-api/flow/bulletin-board")
    bulletins = body["bulletinBoard"]["bulletins"]
    assert len(bulletins) == 1
    b = bulletins[0]["bulletin"]
    assert b["level"] == "ERROR" and b["sourceId"] == gid
    assert b["message"] == err["error"]  # board mirrors the 400 diagnostic
    # after-filter excludes it
    st, body = _call(conn, "GET",
                     f"/nifi-api/flow/bulletin-board?after={b['id']}")
    assert body["bulletinBoard"]["bulletins"] == []
    # sourceId filter
    st, body = _call(conn, "GET",
                     "/nifi-api/flow/bulletin-board?sourceId=nope")
    assert body["bulletinBoard"]["bulletins"] == []


def test_label_crud_and_snapshot(server):
    """Labels round-trip through CRUD with the revision protocol and
    appear in the flow snapshot (flow definitions carry annotations)."""
    conn = _conn(server)
    try:
        st, ent = _call(conn, "POST", "/nifi-api/process-groups/root/labels",
                        {"revision": {"version": 0},
                         "component": {"label": "ingest zone",
                                       "position": {"x": 10.0, "y": 20.0}}})
        assert st == 201
        lid = ent["id"]
        st, got = _call(conn, "GET", f"/nifi-api/labels/{lid}")
        assert st == 200 and got["component"]["label"] == "ingest zone"
        # stale update refused, fresh accepted
        st, _ = _call(conn, "PUT", f"/nifi-api/labels/{lid}",
                      {"revision": {"version": 7}, "component": {"label": "x"}})
        assert st == 409
        st, got = _call(conn, "PUT", f"/nifi-api/labels/{lid}",
                        {"revision": {"version": 0},
                         "component": {"label": "landing zone"}})
        assert st == 200 and got["revision"]["version"] == 1
        st, flow = _call(conn, "GET", "/nifi-api/flow/process-groups/root")
        labels = flow["processGroupFlow"]["flowContents"]["labels"]
        assert [lb["label"] for lb in labels] == ["landing zone"]
        st, _ = _call(conn, "DELETE", f"/nifi-api/labels/{lid}?version=1")
        assert st == 200
        st, _ = _call(conn, "GET", f"/nifi-api/labels/{lid}")
        assert st == 404
    finally:
        conn.close()


def test_login_missing_fields_answer_401(spark, sf_dir):
    """Login with absent username/password fields must answer 401, not
    500 — the constant-time compare (ADVICE round-9) coerces missing
    form fields before hashing."""
    from apache_nifi_spark.plans.flow_import import FlowImportError
    from apache_nifi_spark.plans.rest_api import fetch_token

    with NiFiApiServer(spark, sf_dir, credentials=("admin", "admin123456!")) as s:
        conn = _conn(s)
        for form in ("username=admin", "password=admin123456!", ""):
            conn.request(
                "POST", "/nifi-api/access/token", body=form,
                headers={"Content-Type": "application/x-www-form-urlencoded"},
            )
            resp = conn.getresponse()
            assert resp.status == 401, form
            resp.read()
        # and the happy path still issues a token afterwards
        assert fetch_token(s.url, "admin", "admin123456!").count(".") == 2
