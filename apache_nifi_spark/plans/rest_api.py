"""REST flow-authoring control plane: the /nifi-api facade.

The reference deployment's PRIMARY entry point is the NiFi REST API —
flows are authored and operated by ``POST /nifi-api/...`` calls over
HTTP (/root/reference/scripts.sh:89-98, updated.sh:241-243; SURVEY.md
§3.1).  This module puts the same control surface in front of this
engine's compiler: components are created/updated/deleted through the
documented endpoint shapes, and scheduling a process group RUNNING
compiles its graph through ``plans.flow_import.run_flow`` into lazy
DataFrames — one Catalyst plan per dangling output relationship.

Endpoint subset (paths and entity shapes follow the public NiFi 2.x
REST API):

==========================================================  ============
``POST   /nifi-api/process-groups/{id}/process-groups``      create group
``POST   /nifi-api/process-groups/{id}/processors``          create processor
``GET    /nifi-api/processors/{id}``                         fetch entity
``PUT    /nifi-api/processors/{id}``                         update (revision-checked)
``DELETE /nifi-api/processors/{id}?version=N``               delete (revision-checked)
``POST   /nifi-api/process-groups/{id}/connections``         create connection
``DELETE /nifi-api/connections/{id}?version=N``              delete connection
``GET    /nifi-api/flow/process-groups/{id}``                flow snapshot
``PUT    /nifi-api/flow/process-groups/{id}``                schedule state
``POST   /nifi-api/versions/process-groups/{id}``            commit to registry
``GET    /nifi-api/versions/process-groups/{id}``            version history
``GET    /nifi-api/flow/about``                              version info
``GET    /nifi-api/site-to-site``                            S2S discovery
``GET    /nifi-api/site-to-site/peers``                      live S2S peer list
``POST   /nifi-api/process-groups/{id}/input-ports``         create input port
``POST   /nifi-api/process-groups/{id}/output-ports``        create output port
``GET/DELETE /nifi-api/{input,output}-ports/{id}``           port entity
``POST   /nifi-api/process-groups/{id}/controller-services`` create service
``GET/PUT/DELETE /nifi-api/controller-services/{id}``        service entity
``PUT    /nifi-api/controller-services/{id}/run-status``     enable / disable
``POST   /nifi-api/parameter-contexts``                      create context
``GET/PUT/DELETE /nifi-api/parameter-contexts/{id}``         context entity
``PUT    /nifi-api/process-groups/{id}``                     rename / bind context
``GET    /nifi-api/flow/status``                             component counts
``GET    /nifi-api/system-diagnostics``                      live JVM snapshot
``GET    /nifi-api/counters``                                UpdateCounter totals
``POST   /nifi-api/provenance``                              submit prov query
``GET/DELETE /nifi-api/provenance/{id}``                     poll / drop query
``POST   /nifi-api/access/token``                            single-user login
``GET    /nifi-api/flow/bulletin-board``                     flow-event bulletins
``POST   /nifi-api/process-groups/{id}/labels``              create label
``GET/PUT/DELETE /nifi-api/labels/{id}``                     label entity
==========================================================  ============

Auth: constructed with ``credentials=(user, password)`` the facade runs
the single-user profile the reference deploys (its nifi-auth Secret sets
``SINGLE_USER_CREDENTIALS_USERNAME/PASSWORD`` for the stock image —
nifi-secret-volume/nifi-auth.yaml:8-9): every request must carry
``Authorization: Bearer <jwt>`` obtained from the form-encoded login
endpoint (HS256-signed, TTL-bounded); bad credentials and bad/expired
tokens answer 401.  Without ``credentials`` the facade stays open (the
unsecured dev profile).

Parameter contexts are NiFi's flow/config separation: ``#{name}``
placeholders in processor and controller-service properties bind through
the group's assigned context at compile-on-start (unresolvable → 400);
version-control snapshots carry the placeholders and the context NAME,
never the values; sensitive parameter values are write-only (reads
answer null).

Ports are group-boundary identity nodes (data crosses process-group
boundaries only through ports); a remote-accessible input port bound to
an attached site-to-site server becomes live ingress — scheduling the
group RUNNING compiles the port to a distributed JSON-lines scan of its
landed transactions.  Controller services are NiFi's shared-config
indirection: a processor property that names a service pulls the
service's properties in at compile time; services are created DISABLED,
must be ENABLED before a referencing group starts (400 otherwise), and
refuse edits while ENABLED — the NiFi lifecycle contract.

Semantics carried over from NiFi:

- **Optimistic locking**: every component carries a revision
  ``{version, clientId}``.  Creates must present version 0; updates and
  deletes must present the CURRENT version or the call answers **409
  Conflict** — the exact contract NiFi uses to serialize concurrent
  editors.
- **Compile-on-start**: ``PUT .../flow/process-groups/{id}`` with
  ``{"state": "RUNNING"}`` validates and compiles the group; a graph
  the importer rejects (unsupported cycle, missing property) answers
  **400** with the compiler's diagnostic, mirroring NiFi's validation
  errors at start time.
- **Version control**: ``POST /nifi-api/versions/process-groups/{id}``
  snapshots the group's flow definition into a
  ``plans.flow_registry.FlowRegistry`` (the NiFi Registry analog) —
  append-only, monotonic versions.

Scale notes: this is a pure control plane — entities are processor
DESCRIPTIONS, never data.  Compilation builds lazy plans; the data path
(parquet scans → the compiled Catalyst plan) never touches this server,
so a 100 TB run costs the same handful of driver-side HTTP calls as the
fixtures here.
"""

from __future__ import annotations

import functools
import hmac
import http.client
import json
import os
import re
import threading
import urllib.parse
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from apache_nifi_spark import net
from apache_nifi_spark.plans.flow_import import FlowImportError, run_flow
from apache_nifi_spark.plans.flow_registry import FlowRegistry

__all__ = [
    "NiFiApiServer",
    "author_flow_via_api",
    "start_group_via_api",
    "fetch_token",
]


class _ApiError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


def _b64url(raw: bytes) -> str:
    import base64

    return base64.urlsafe_b64encode(raw).rstrip(b"=").decode()


def _b64url_dec(s: str) -> bytes:
    import base64

    return base64.urlsafe_b64decode(s + "=" * (-len(s) % 4))


def _jwt_issue(secret: bytes, sub: str, ttl: int) -> str:
    """Compact HS256 JWT (RFC 7519) — what NiFi's single-user login
    returns from POST /nifi-api/access/token."""
    import hmac
    import time as _time

    header = _b64url(json.dumps({"alg": "HS256", "typ": "JWT"}).encode())
    now = int(_time.time())
    payload = _b64url(
        json.dumps({"sub": sub, "iat": now, "exp": now + ttl}).encode()
    )
    sig = _b64url(
        hmac.new(secret, f"{header}.{payload}".encode(), "sha256").digest()
    )
    return f"{header}.{payload}.{sig}"


def _jwt_verify(secret: bytes, token: str) -> str:
    """Return the subject of a valid unexpired token, else _ApiError 401."""
    import hmac
    import time as _time

    parts = token.split(".")
    if len(parts) != 3:
        raise _ApiError(401, "malformed bearer token")
    header, payload, sig = parts
    want = _b64url(
        hmac.new(secret, f"{header}.{payload}".encode(), "sha256").digest()
    )
    if not hmac.compare_digest(want, sig):
        raise _ApiError(401, "invalid token signature")
    try:
        claims = json.loads(_b64url_dec(payload))
    except ValueError:
        raise _ApiError(401, "malformed token payload")
    if int(claims.get("exp") or 0) < int(_time.time()):
        raise _ApiError(401, "token expired")
    return str(claims.get("sub") or "")


class NiFiApiServer(net.Server):
    """In-process /nifi-api control plane over the flow compiler."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        registry: FlowRegistry | None = None,
        credentials: tuple[str, str] | None = None,
        token_ttl: int = 3600,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.registry = registry or FlowRegistry()
        # Single-user auth (the reference deploys the stock image's
        # single-user-provider: SINGLE_USER_CREDENTIALS_USERNAME/PASSWORD
        # env from its nifi-auth Secret — nifi-secret-volume/
        # nifi-auth.yaml:8-9).  credentials=None keeps the facade open
        # (the unsecured dev profile).
        self._credentials = credentials
        self._token_ttl = token_ttl
        self._jwt_secret = os.urandom(32) if credentials else b""
        self._lock = threading.Lock()
        # component stores — all control-plane metadata, never data
        self._groups: dict[str, dict] = {
            "root": {
                "name": "NiFi Flow",
                "processors": {},
                "connections": {},
                "ports": {},
                "services": {},
            }
        }
        self._revisions: dict[str, int] = {"root": 0}
        self._owner: dict[str, str] = {}  # component id → group id
        self._state: dict[str, str] = {"root": "STOPPED"}
        self._outputs: dict[str, dict[str, DataFrame]] = {}
        # per-group schedule generation: bumped under the lock by every
        # acked RUNNING/STOPPED; a RUNNING compile that finishes after a
        # newer ack must not overwrite it (round-10 advice)
        self._sched_gen: dict[str, int] = {}
        self._version_buckets: dict[str, str] = {}  # group id → registry bucket
        self._s2s: dict[str, Any] | None = None  # attached S2S wire endpoint
        self._param_contexts: dict[str, dict] = {}  # id → {name, parameters}
        self._group_context: dict[str, str] = {}  # group id → context id
        self._bulletins: list[dict] = []  # flow-event board, monotonic ids
        self._counters: dict[str, dict[str, list]] = {}  # gid → name → [Observation]
        self._provenance: dict[str, dict] = {}  # gid → (component, rel) → (etype, obs)
        self._prov_queries: dict[str, dict] = {}  # query id → filter

        api = self

        class Handler(net.HttpHandler):
            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length") or 0)
                raw = self.rfile.read(n) if n else b""
                if not raw:
                    return {}
                try:
                    return json.loads(raw)
                except ValueError as e:
                    raise _ApiError(400, f"malformed JSON body: {e}")

            def _answer(self, status: int, payload: dict) -> None:
                data = json.dumps(payload).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _answer_text(self, status: int, text: str) -> None:
                data = text.encode()
                self.send_response(status)
                self.send_header("Content-Type", "text/plain")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _route(self, method: str) -> None:
                try:
                    parsed = urllib.parse.urlsplit(self.path)
                    q = dict(urllib.parse.parse_qsl(parsed.query))
                    if parsed.path == "/nifi-api/access/token":
                        # form-encoded credential exchange, text/plain JWT
                        # back — the stock single-user login contract.
                        if method != "POST":
                            raise _ApiError(405, "POST only")
                        n = int(self.headers.get("Content-Length") or 0)
                        form = dict(
                            urllib.parse.parse_qsl(
                                (self.rfile.read(n) if n else b"").decode()
                            )
                        )
                        self._answer_text(201, api._issue_token(form))
                        return
                    if api._credentials is not None:
                        authz = self.headers.get("Authorization") or ""
                        if not authz.startswith("Bearer "):
                            raise _ApiError(401, "bearer token required")
                        _jwt_verify(api._jwt_secret, authz[7:].strip())
                    status, payload = api._dispatch(
                        method, parsed.path, q, self._body()
                    )
                    self._answer(status, payload)
                except _ApiError as e:
                    self._answer(e.status, {"error": str(e)})
                except FlowImportError as e:
                    self._answer(400, {"error": str(e)})
                except Exception as e:  # compiler/internal
                    self._answer(500, {"error": f"{type(e).__name__}: {e}"})

            def do_GET(self):
                self._route("GET")

            def do_POST(self):
                self._route("POST")

            def do_PUT(self):
                self._route("PUT")

            def do_DELETE(self):
                self._route("DELETE")

        super().__init__(Handler, host, port)

    # ------------------------------------------------------------ control --

    def _issue_token(self, form: dict) -> str:
        if self._credentials is None:
            raise _ApiError(409, "this instance is not configured for login")
        user, pw = self._credentials
        # Constant-time compares (same primitive as the token-signature
        # check): & not `and`, so the password compare always runs — an
        # early-exit would leak username validity through timing.
        u_ok = hmac.compare_digest(
            str(form.get("username", "")).encode(), user.encode()
        )
        p_ok = hmac.compare_digest(
            str(form.get("password", "")).encode(), pw.encode()
        )
        if not (u_ok & p_ok):
            raise _ApiError(401, "invalid credentials")
        return _jwt_issue(self._jwt_secret, user, self._token_ttl)

    @property
    def url(self) -> str:
        host, port = self.address
        return f"http://{host}:{port}"

    def outputs(self, group_id: str = "root") -> dict[str, DataFrame]:
        """Compiled output DataFrames of a RUNNING group (lazy plans)."""
        with self._lock:
            if group_id not in self._outputs:
                raise KeyError(f"group {group_id!r} is not running")
            return dict(self._outputs[group_id])

    # ---------------------------------------------------------- revisions --

    def _check_revision(self, cid: str, presented: Any) -> None:
        current = self._revisions.get(cid)
        if current is None:
            raise _ApiError(404, f"unknown component {cid!r}")
        if int(presented if presented is not None else -1) != current:
            raise _ApiError(
                409,
                f"revision mismatch for {cid!r}: presented {presented}, "
                f"current {current} (NiFi optimistic-locking contract)",
            )

    def _entity(self, cid: str, component: dict) -> dict:
        return {
            "id": cid,
            "revision": {"version": self._revisions[cid]},
            "component": dict(component, id=cid),
        }

    # ----------------------------------------------------------- dispatch --

    def _dispatch(
        self, method: str, path: str, query: dict, body: dict
    ) -> tuple[int, dict]:
        # Network-bound routes run OUTSIDE the global metadata lock: the
        # S2S peer fetch is a TLS round-trip and run_flow's compile may
        # perform S2S discovery — one slow/hung peer must not stall every
        # other control-plane request.  _s2s is written once (attach) and
        # only read here; _schedule scopes the lock itself.
        if path == "/nifi-api/site-to-site" and method == "GET":
            return self._s2s_controller()
        if path == "/nifi-api/site-to-site/peers" and method == "GET":
            return self._s2s_peer_list()
        m = re.fullmatch(r"/nifi-api/flow/process-groups/([^/]+)", path)
        if m and method == "PUT":
            return self._schedule(m.group(1), body)
        with self._lock:
            m = re.fullmatch(r"/nifi-api/process-groups/([^/]+)/processors", path)
            if m and method == "POST":
                return self._create_processor(m.group(1), body)
            m = re.fullmatch(r"/nifi-api/process-groups/([^/]+)/connections", path)
            if m and method == "POST":
                return self._create_connection(m.group(1), body)
            m = re.fullmatch(r"/nifi-api/process-groups/([^/]+)/process-groups", path)
            if m and method == "POST":
                return self._create_group(m.group(1), body)
            m = re.fullmatch(
                r"/nifi-api/process-groups/([^/]+)/(input|output)-ports", path
            )
            if m and method == "POST":
                return self._create_port(m.group(1), m.group(2).upper(), body)
            m = re.fullmatch(r"/nifi-api/(?:input|output)-ports/([^/]+)", path)
            if m:
                if method == "GET":
                    return self._get_port(m.group(1))
                if method == "DELETE":
                    return self._delete_component(m.group(1), "ports", query)
            m = re.fullmatch(
                r"/nifi-api/process-groups/([^/]+)/controller-services", path
            )
            if m and method == "POST":
                return self._create_service(m.group(1), body)
            m = re.fullmatch(r"/nifi-api/controller-services/([^/]+)/run-status", path)
            if m and method == "PUT":
                return self._service_run_status(m.group(1), body)
            m = re.fullmatch(r"/nifi-api/controller-services/([^/]+)", path)
            if m:
                if method == "GET":
                    return self._get_service(m.group(1))
                if method == "PUT":
                    return self._update_service(m.group(1), body)
                if method == "DELETE":
                    return self._delete_component(m.group(1), "services", query)
            if path == "/nifi-api/parameter-contexts" and method == "POST":
                return self._create_param_context(body)
            m = re.fullmatch(r"/nifi-api/parameter-contexts/([^/]+)", path)
            if m:
                if method == "GET":
                    return self._get_param_context(m.group(1))
                if method == "PUT":
                    return self._update_param_context(m.group(1), body)
                if method == "DELETE":
                    return self._delete_param_context(m.group(1), query)
            m = re.fullmatch(r"/nifi-api/process-groups/([^/]+)", path)
            if m and method == "PUT":
                return self._update_group(m.group(1), body)
            if path == "/nifi-api/flow/bulletin-board" and method == "GET":
                return self._bulletin_board(query)
            if path == "/nifi-api/flow/status" and method == "GET":
                return self._flow_status()
            if path == "/nifi-api/counters" and method == "GET":
                return self._get_counters()
            if path == "/nifi-api/provenance" and method == "POST":
                return self._submit_provenance(body)
            m = re.fullmatch(r"/nifi-api/provenance/([^/]+)", path)
            if m:
                if method == "GET":
                    return self._get_provenance(m.group(1))
                if method == "DELETE":
                    self._prov_queries.pop(m.group(1), None)
                    return 200, {"id": m.group(1)}
            if path == "/nifi-api/system-diagnostics" and method == "GET":
                return self._system_diagnostics()
            m = re.fullmatch(r"/nifi-api/process-groups/([^/]+)/funnels", path)
            if m and method == "POST":
                # funnels are identity many-in/one-out nodes; the importer
                # models them as a processor of type "Funnel"
                body = dict(body)
                body["component"] = dict(body.get("component") or {}, type="Funnel")
                return self._create_processor(m.group(1), body)
            m = re.fullmatch(r"/nifi-api/process-groups/([^/]+)/labels", path)
            if m and method == "POST":
                return self._create_label(m.group(1), body)
            m = re.fullmatch(r"/nifi-api/labels/([^/]+)", path)
            if m:
                return self._label_entity(m.group(1), method, body, query)
            m = re.fullmatch(r"/nifi-api/processors/([^/]+)", path)
            if m:
                if method == "GET":
                    return self._get_processor(m.group(1))
                if method == "PUT":
                    return self._update_processor(m.group(1), body)
                if method == "DELETE":
                    return self._delete_component(m.group(1), "processors", query)
            m = re.fullmatch(r"/nifi-api/connections/([^/]+)", path)
            if m and method == "DELETE":
                return self._delete_component(m.group(1), "connections", query)
            m = re.fullmatch(r"/nifi-api/flow/process-groups/([^/]+)", path)
            if m and method == "GET":
                return self._get_flow(m.group(1))
            m = re.fullmatch(r"/nifi-api/versions/process-groups/([^/]+)", path)
            if m:
                if method == "POST":
                    return self._commit_version(m.group(1), body)
                if method == "GET":
                    return self._version_history(m.group(1))
            if path == "/nifi-api/flow/about" and method == "GET":
                return 200, {
                    "about": {
                        "title": "apache_nifi_spark",
                        "version": "2.7.2-surface/pyspark",
                    }
                }
            raise _ApiError(404, f"no route for {method} {path}")

    # ------------------------------------------------------- site-to-site --

    def attach_site_to_site(
        self,
        host: str,
        port: int,
        cert_path: str,
        landing_dir: str | None = None,
    ) -> None:
        """Expose a running ``streaming.s2s_wire.SiteToSiteServer`` through
        the REST discovery endpoints — the reference's S2S bootstrap is
        literally ``GET /nifi-api/site-to-site`` answering
        ``remoteSiteListeningPort`` + ``siteToSiteSecure``
        (/root/reference/scripts.sh:89-98).  With ``landing_dir`` set (the
        wire server's committed-transaction directory), remote-accessible
        INPUT PORTS become live ingress: scheduling a group RUNNING binds
        each such port to a distributed JSON-lines scan of its landed
        transactions."""
        with self._lock:
            self._s2s = {
                "host": host,
                "port": port,
                "cert": cert_path,
                "landing": landing_dir,
            }

    def _s2s_port_sources(self, gid: str) -> dict[str, DataFrame]:
        """Ingress bindings for remote-accessible input ports: each reads
        the S2S landing files committed for that port name (splittable
        JSON-lines — a distributed scan, not a driver read)."""
        landing = (self._s2s or {}).get("landing")
        if not landing:
            return {}
        import glob as _glob
        import os as _os

        out: dict[str, DataFrame] = {}
        for p in self._group(gid)["ports"].values():
            if p["type"] == "INPUT_PORT" and p.get("allowRemoteAccess"):
                pattern = _os.path.join(landing, f"{p['name']}_*.jsonl")
                if _glob.glob(pattern):  # control-plane manifest probe
                    out[p["name"]] = self.spark.read.schema(
                        "attributes map<string,string>, content string"
                    ).json(pattern)
        return out

    def _s2s_controller(self) -> tuple[int, dict]:
        ctl: dict[str, Any] = {"id": "root", "name": self._groups["root"]["name"]}
        if self._s2s is None:
            # NiFi with S2S disabled: port absent, secure false
            ctl.update(remoteSiteListeningPort=None, siteToSiteSecure=False)
        else:
            ctl.update(
                remoteSiteListeningPort=self._s2s["port"], siteToSiteSecure=True
            )
        return 200, {"controller": ctl}

    def _s2s_peer_list(self) -> tuple[int, dict]:
        """Live peer list, fetched over the S2S wire itself so the REST
        answer and the socket protocol can never disagree."""
        if self._s2s is None:
            raise _ApiError(404, "site-to-site is not enabled")
        from apache_nifi_spark.streaming.s2s_wire import s2s_peers

        peers = s2s_peers(self._s2s["host"], self._s2s["port"], self._s2s["cert"])
        return 200, {
            "peers": [
                {
                    "hostname": p["host"],
                    "port": p["port"],
                    "secure": p["secure"],
                    "flowFileCount": p["flowFileCount"],
                }
                for p in peers
            ]
        }

    # ------------------------------------------------------------- groups --

    def _group(self, gid: str) -> dict:
        g = self._groups.get(gid)
        if g is None:
            raise _ApiError(404, f"unknown process group {gid!r}")
        return g

    def _create_group(self, parent: str, body: dict) -> tuple[int, dict]:
        self._group(parent)
        comp = body.get("component") or {}
        if int((body.get("revision") or {}).get("version", -1)) != 0:
            raise _ApiError(400, "create requires revision.version == 0")
        gid = comp.get("id") or f"pg-{uuid.uuid4().hex[:12]}"
        if gid in self._revisions:
            raise _ApiError(400, f"component id {gid!r} already exists")
        self._groups[gid] = {
            "name": comp.get("name") or gid,
            "processors": {},
            "connections": {},
            "ports": {},
            "services": {},
        }
        self._revisions[gid] = 0
        self._state[gid] = "STOPPED"
        return 201, self._entity(gid, {"name": self._groups[gid]["name"]})

    # --------------------------------------------------------- processors --

    def _create_processor(self, gid: str, body: dict) -> tuple[int, dict]:
        g = self._group(gid)
        comp = body.get("component") or {}
        if int((body.get("revision") or {}).get("version", -1)) != 0:
            raise _ApiError(400, "create requires revision.version == 0")
        if not comp.get("type"):
            raise _ApiError(400, "processor create needs component.type")
        pid = comp.get("id") or f"p-{uuid.uuid4().hex[:12]}"
        if pid in self._revisions:
            raise _ApiError(400, f"component id {pid!r} already exists")
        props = dict(((comp.get("config") or {}).get("properties")) or {})
        g["processors"][pid] = {
            "identifier": pid,
            "name": comp.get("name") or pid,
            "type": comp["type"],
            "properties": props,
        }
        self._revisions[pid] = 0
        self._owner[pid] = gid
        return 201, self._entity(pid, self._proc_component(g["processors"][pid]))

    @staticmethod
    def _proc_component(p: dict) -> dict:
        return {
            "name": p["name"],
            "type": p["type"],
            "config": {"properties": dict(p["properties"])},
        }

    def _find_processor(self, pid: str) -> tuple[dict, dict]:
        gid = self._owner.get(pid)
        if gid is None or pid not in self._groups[gid]["processors"]:
            raise _ApiError(404, f"unknown processor {pid!r}")
        return self._groups[gid], self._groups[gid]["processors"][pid]

    def _get_processor(self, pid: str) -> tuple[int, dict]:
        _, p = self._find_processor(pid)
        return 200, self._entity(pid, self._proc_component(p))

    def _update_processor(self, pid: str, body: dict) -> tuple[int, dict]:
        _, p = self._find_processor(pid)
        self._check_revision(pid, (body.get("revision") or {}).get("version"))
        comp = body.get("component") or {}
        if "name" in comp:
            p["name"] = comp["name"]
        new_props = (comp.get("config") or {}).get("properties")
        if new_props is not None:
            # NiFi merge semantics: present keys update, explicit null deletes
            for k, v in new_props.items():
                if v is None:
                    p["properties"].pop(k, None)
                else:
                    p["properties"][k] = v
        self._revisions[pid] += 1
        return 200, self._entity(pid, self._proc_component(p))

    def _delete_component(
        self, cid: str, kind: str, query: dict
    ) -> tuple[int, dict]:
        gid = self._owner.get(cid)
        if gid is None or cid not in self._groups[gid][kind]:
            raise _ApiError(404, f"unknown component {cid!r}")
        self._check_revision(cid, query.get("version"))
        comp = self._groups[gid][kind].pop(cid)
        del self._revisions[cid]
        del self._owner[cid]
        if kind in ("processors", "ports"):
            # NiFi refuses to delete a connected component
            for c in self._groups[gid]["connections"].values():
                if cid in (c["source"]["id"], c["destination"]["id"]):
                    self._groups[gid][kind][cid] = comp
                    self._revisions[cid] = int(query.get("version", 0))
                    self._owner[cid] = gid
                    raise _ApiError(
                        409, f"component {cid!r} still has connections"
                    )
        if kind == "services":
            # NiFi refuses to delete a referenced controller service
            for p in self._groups[gid]["processors"].values():
                if cid in p["properties"].values():
                    self._groups[gid][kind][cid] = comp
                    self._revisions[cid] = int(query.get("version", 0))
                    self._owner[cid] = gid
                    raise _ApiError(
                        409, f"controller service {cid!r} is still referenced"
                    )
        return 200, {"id": cid}

    # -------------------------------------------------- ports + services --

    def _create_port(self, gid: str, kind: str, body: dict) -> tuple[int, dict]:
        g = self._group(gid)
        comp = body.get("component") or {}
        if int((body.get("revision") or {}).get("version", -1)) != 0:
            raise _ApiError(400, "create requires revision.version == 0")
        pid = comp.get("id") or f"port-{uuid.uuid4().hex[:12]}"
        if pid in self._revisions:
            raise _ApiError(400, f"component id {pid!r} already exists")
        g["ports"][pid] = {
            "identifier": pid,
            "name": comp.get("name") or pid,
            "type": f"{kind}_PORT",
            # NiFi 2.x: a root-group port reachable over site-to-site
            "allowRemoteAccess": bool(comp.get("allowRemoteAccess")),
        }
        self._revisions[pid] = 0
        self._owner[pid] = gid
        return 201, self._entity(pid, dict(g["ports"][pid]))

    def _create_label(self, gid: str, body: dict) -> tuple[int, dict]:
        """Labels are the canvas annotation entity — no runtime effect,
        but flow definitions carry them, so the model round-trips them."""
        g = self._group(gid)
        comp = body.get("component") or {}
        if int((body.get("revision") or {}).get("version", -1)) != 0:
            raise _ApiError(400, "create requires revision.version == 0")
        lid = comp.get("id") or f"label-{uuid.uuid4().hex[:12]}"
        if lid in self._revisions:
            raise _ApiError(400, f"component id {lid!r} already exists")
        g.setdefault("labels", {})[lid] = {
            "identifier": lid,
            "label": comp.get("label") or "",
            "position": comp.get("position") or {"x": 0.0, "y": 0.0},
            "width": comp.get("width") or 150.0,
            "height": comp.get("height") or 150.0,
        }
        self._revisions[lid] = 0
        self._owner[lid] = gid
        return 201, self._entity(lid, dict(g["labels"][lid]))

    def _label_entity(self, lid: str, method: str, body: dict, query: dict):
        gid = self._owner.get(lid)
        if gid is None or lid not in self._groups[gid].get("labels", {}):
            raise _ApiError(404, f"unknown label {lid!r}")
        labels = self._groups[gid]["labels"]
        if method == "GET":
            return 200, self._entity(lid, dict(labels[lid]))
        if method == "PUT":
            self._check_revision(lid, (body.get("revision") or {}).get("version"))
            comp = body.get("component") or {}
            for k in ("label", "position", "width", "height"):
                if k in comp:
                    labels[lid][k] = comp[k]
            self._revisions[lid] += 1
            return 200, self._entity(lid, dict(labels[lid]))
        # DELETE
        self._check_revision(lid, query.get("version"))
        del labels[lid]
        del self._revisions[lid]
        del self._owner[lid]
        return 200, {"id": lid}

    def _get_port(self, pid: str) -> tuple[int, dict]:
        gid = self._owner.get(pid)
        if gid is None or pid not in self._groups[gid]["ports"]:
            raise _ApiError(404, f"unknown port {pid!r}")
        return 200, self._entity(pid, dict(self._groups[gid]["ports"][pid]))

    def _create_service(self, gid: str, body: dict) -> tuple[int, dict]:
        g = self._group(gid)
        comp = body.get("component") or {}
        if int((body.get("revision") or {}).get("version", -1)) != 0:
            raise _ApiError(400, "create requires revision.version == 0")
        if not comp.get("type"):
            raise _ApiError(400, "controller service create needs component.type")
        sid = comp.get("id") or f"cs-{uuid.uuid4().hex[:12]}"
        if sid in self._revisions:
            raise _ApiError(400, f"component id {sid!r} already exists")
        g["services"][sid] = {
            "identifier": sid,
            "name": comp.get("name") or sid,
            "type": comp["type"],
            "properties": dict(((comp.get("config") or {}).get("properties")) or {}),
            "state": "DISABLED",  # NiFi creates services disabled
        }
        self._revisions[sid] = 0
        self._owner[sid] = gid
        return 201, self._entity(sid, dict(g["services"][sid]))

    def _find_service(self, sid: str) -> dict:
        gid = self._owner.get(sid)
        if gid is None or sid not in self._groups[gid]["services"]:
            raise _ApiError(404, f"unknown controller service {sid!r}")
        return self._groups[gid]["services"][sid]

    def _get_service(self, sid: str) -> tuple[int, dict]:
        return 200, self._entity(sid, dict(self._find_service(sid)))

    def _update_service(self, sid: str, body: dict) -> tuple[int, dict]:
        s = self._find_service(sid)
        self._check_revision(sid, (body.get("revision") or {}).get("version"))
        if s["state"] == "ENABLED":
            raise _ApiError(409, "controller service must be DISABLED to edit")
        comp = body.get("component") or {}
        if "name" in comp:
            s["name"] = comp["name"]
        new_props = (comp.get("config") or {}).get("properties")
        if new_props is not None:
            for k, v in new_props.items():
                if v is None:
                    s["properties"].pop(k, None)
                else:
                    s["properties"][k] = v
        self._revisions[sid] += 1
        return 200, self._entity(sid, dict(s))

    def _service_run_status(self, sid: str, body: dict) -> tuple[int, dict]:
        s = self._find_service(sid)
        self._check_revision(sid, (body.get("revision") or {}).get("version"))
        state = (body.get("state") or "").upper()
        if state not in ("ENABLED", "DISABLED"):
            raise _ApiError(400, f"state must be ENABLED or DISABLED, got {state!r}")
        s["state"] = state
        self._revisions[sid] += 1
        return 200, self._entity(sid, dict(s))

    # -------------------------------------------------- parameter contexts --

    def _pc_entity(self, pcid: str) -> dict:
        """Context entity with NiFi's sensitive-value contract: sensitive
        parameter VALUES are write-only — reads answer null."""
        pc = self._param_contexts[pcid]
        return self._entity(
            pcid,
            {
                "name": pc["name"],
                "parameters": [
                    {
                        "parameter": {
                            "name": n,
                            "value": None if p["sensitive"] else p["value"],
                            "sensitive": p["sensitive"],
                        }
                    }
                    for n, p in sorted(pc["parameters"].items())
                ],
            },
        )

    @staticmethod
    def _parse_params(comp: dict) -> dict[str, dict]:
        out = {}
        for entry in comp.get("parameters") or []:
            p = entry.get("parameter") or {}
            if not p.get("name"):
                raise _ApiError(400, "parameter without a name")
            out[p["name"]] = {
                "value": p.get("value"),
                "sensitive": bool(p.get("sensitive")),
            }
        return out

    def _create_param_context(self, body: dict) -> tuple[int, dict]:
        comp = body.get("component") or {}
        if int((body.get("revision") or {}).get("version", -1)) != 0:
            raise _ApiError(400, "create requires revision.version == 0")
        if not comp.get("name"):
            raise _ApiError(400, "parameter context needs component.name")
        pcid = comp.get("id") or f"pc-{uuid.uuid4().hex[:12]}"
        if pcid in self._revisions:
            raise _ApiError(400, f"component id {pcid!r} already exists")
        self._param_contexts[pcid] = {
            "name": comp["name"],
            "parameters": self._parse_params(comp),
        }
        self._revisions[pcid] = 0
        return 201, self._pc_entity(pcid)

    def _get_param_context(self, pcid: str) -> tuple[int, dict]:
        if pcid not in self._param_contexts:
            raise _ApiError(404, f"unknown parameter context {pcid!r}")
        return 200, self._pc_entity(pcid)

    def _update_param_context(self, pcid: str, body: dict) -> tuple[int, dict]:
        if pcid not in self._param_contexts:
            raise _ApiError(404, f"unknown parameter context {pcid!r}")
        self._check_revision(pcid, (body.get("revision") or {}).get("version"))
        comp = body.get("component") or {}
        pc = self._param_contexts[pcid]
        if "name" in comp:
            pc["name"] = comp["name"]
        # merge semantics mirror processor properties: present names
        # update/add, an explicit null VALUE removes the parameter
        for entry in comp.get("parameters") or []:
            p = entry.get("parameter") or {}
            if not p.get("name"):
                raise _ApiError(400, "parameter without a name")
            if p.get("value") is None:
                pc["parameters"].pop(p["name"], None)
            else:
                pc["parameters"][p["name"]] = {
                    "value": p.get("value"),
                    "sensitive": bool(p.get("sensitive")),
                }
        self._revisions[pcid] += 1
        return 200, self._pc_entity(pcid)

    def _delete_param_context(self, pcid: str, query: dict) -> tuple[int, dict]:
        if pcid not in self._param_contexts:
            raise _ApiError(404, f"unknown parameter context {pcid!r}")
        self._check_revision(pcid, query.get("version"))
        bound = [g for g, c in self._group_context.items() if c == pcid]
        if bound:
            raise _ApiError(
                409, f"parameter context {pcid!r} is bound to groups {bound}"
            )
        del self._param_contexts[pcid]
        del self._revisions[pcid]
        return 200, {"id": pcid}

    def _update_group(self, gid: str, body: dict) -> tuple[int, dict]:
        g = self._group(gid)
        self._check_revision(gid, (body.get("revision") or {}).get("version"))
        comp = body.get("component") or {}
        if "name" in comp:
            g["name"] = comp["name"]
        pc_ref = comp.get("parameterContext")
        if pc_ref is not None:
            pcid = (pc_ref or {}).get("id")
            if pcid is None:  # explicit null reference unbinds
                self._group_context.pop(gid, None)
            elif pcid not in self._param_contexts:
                raise _ApiError(400, f"unknown parameter context {pcid!r}")
            else:
                self._group_context[gid] = pcid
        self._revisions[gid] += 1
        ent = {"name": g["name"]}
        if gid in self._group_context:
            pcid = self._group_context[gid]
            ent["parameterContext"] = {
                "id": pcid, "name": self._param_contexts[pcid]["name"]
            }
        return 200, self._entity(gid, ent)

    def _resolve_parameters(self, gid: str, contents: dict) -> dict:
        """Bind ``#{name}`` placeholders in processor/service properties
        through the group's parameter context at compile time — NiFi's
        start-time parameter resolution.  An unresolvable reference is a
        validation error (400), same as NiFi's invalid state."""
        import re as _re

        pcid = self._group_context.get(gid)
        params = (
            self._param_contexts[pcid]["parameters"] if pcid is not None else {}
        )

        def sub(value: str, where: str) -> str:
            def repl(m: "_re.Match[str]") -> str:
                name = m.group(1)
                if name not in params:
                    raise _ApiError(
                        400,
                        f"{where}: unresolvable parameter reference "
                        f"#{{{name}}} (no parameter context bound)"
                        if pcid is None
                        else f"{where}: parameter {name!r} is not defined in "
                        f"context {self._param_contexts[pcid]['name']!r}",
                    )
                return str(params[name]["value"])

            return _re.sub(r"#\{([A-Za-z0-9_.\- ]+)\}", repl, value)

        out = dict(contents)
        for kind in ("processors", "controllerServices"):
            rows = []
            for p in contents.get(kind, []):
                props = {
                    k: sub(v, p.get("name") or p["identifier"])
                    if isinstance(v, str) and "#{" in v
                    else v
                    for k, v in (p.get("properties") or {}).items()
                }
                rows.append(dict(p, properties=props))
            out[kind] = rows
        return out

    # ------------------------------------------------------- flow status --

    def _flow_status(self) -> tuple[int, dict]:
        running = sum(1 for s in self._state.values() if s == "RUNNING")
        stopped = sum(1 for s in self._state.values() if s == "STOPPED")
        return 200, {
            "controllerStatus": {
                "activeThreadCount": 0,
                "runningCount": running,
                "stoppedCount": stopped,
                "invalidCount": 0,
                "flowFilesQueued": 0,  # compiled plans hold no queues
                "componentCounts": {
                    "processors": sum(
                        len(g["processors"]) for g in self._groups.values()
                    ),
                    "connections": sum(
                        len(g["connections"]) for g in self._groups.values()
                    ),
                    "ports": sum(len(g["ports"]) for g in self._groups.values()),
                    "controllerServices": sum(
                        len(g["services"]) for g in self._groups.values()
                    ),
                    "processGroups": len(self._groups) - 1,  # minus root
                },
            }
        }

    @staticmethod
    def _observation_value(obs: Any) -> int | None:
        """Non-blocking Observation read: the counter has a value once
        the observed plan's first action finished; before that it is
        pending (None).  Uses the JVM Observation's getRowOrEmpty so an
        un-materialized flow can never hang the endpoint."""
        jo = getattr(obs, "_jo", None)
        if jo is None:
            return None
        try:
            opt = jo.getRowOrEmpty()
            # py4j surfaces scala None as Python None pre-materialization
            if opt is None or not opt.isDefined():
                return None
            return int(opt.get().getLong(0))
        except Exception:  # pragma: no cover - py4j surface drift
            return None

    def _get_counters(self) -> tuple[int, dict]:
        """NiFi's counters endpoint: one row per UpdateCounter counter
        name, summed across all processors feeding it; flows whose plans
        haven't materialized yet report pending (null) — counters only
        tick when data actually flows, same as NiFi."""
        rows = []
        agg: dict[str, int | None] = {}
        for counters in self._counters.values():
            for cname, obs_list in counters.items():
                for obs in obs_list:
                    v = self._observation_value(obs)
                    if cname not in agg:
                        agg[cname] = v
                    elif v is not None:
                        agg[cname] = (agg[cname] or 0) + v
        for cname in sorted(agg):
            rows.append({"name": cname, "value": agg[cname]})
        return 200, {"counters": {"aggregateSnapshot": {"counters": rows}}}

    def _submit_provenance(self, body: dict) -> tuple[int, dict]:
        """NiFi's async provenance-query shape: POST registers the query
        (optional componentName search term), GET polls for results."""
        req = (body.get("provenance") or {}).get("request") or body.get("request") or {}
        qid = f"prov-{uuid.uuid4().hex[:12]}"
        terms = req.get("searchTerms") or {}
        self._prov_queries[qid] = {"component": terms.get("componentName")}
        return 201, {"provenance": {"id": qid, "finished": False}}

    def _get_provenance(self, qid: str) -> tuple[int, dict]:
        q = self._prov_queries.get(qid)
        if q is None:
            raise _ApiError(404, f"unknown provenance query {qid!r}")
        events = []
        finished = True
        for gid, prov in self._provenance.items():
            for (component, rel), (etype, obs) in prov.items():
                if q["component"] and component != q["component"]:
                    continue
                v = self._observation_value(obs)
                if v is None:
                    finished = False
                events.append(
                    {
                        "groupId": gid,
                        "componentName": component,
                        "relationship": rel,
                        "eventType": etype,
                        "rows": v,
                    }
                )
        events.sort(key=lambda e: (e["groupId"], e["componentName"], e["relationship"]))
        return 200, {
            "provenance": {
                "id": qid,
                "finished": finished,
                "results": {"provenanceEvents": events},
            }
        }

    def _system_diagnostics(self) -> tuple[int, dict]:
        """Live engine diagnostics off the actual Spark driver JVM."""
        sc = self.spark.sparkContext
        rt = sc._jvm.Runtime.getRuntime()  # type: ignore[union-attr]
        return 200, {
            "systemDiagnostics": {
                "aggregateSnapshot": {
                    "availableProcessors": sc.defaultParallelism,
                    "maxHeapBytes": int(rt.maxMemory()),
                    "totalHeapBytes": int(rt.totalMemory()),
                    "freeHeapBytes": int(rt.freeMemory()),
                    "engine": f"spark-{self.spark.version}",
                }
            }
        }

    # -------------------------------------------------------- connections --

    def _create_connection(self, gid: str, body: dict) -> tuple[int, dict]:
        g = self._group(gid)
        comp = body.get("component") or {}
        if int((body.get("revision") or {}).get("version", -1)) != 0:
            raise _ApiError(400, "create requires revision.version == 0")
        src = (comp.get("source") or {}).get("id")
        dst = (comp.get("destination") or {}).get("id")
        if not src or not dst:
            raise _ApiError(400, "connection needs source.id and destination.id")
        for endpoint in (src, dst):
            if endpoint not in g["processors"] and endpoint not in g["ports"]:
                raise _ApiError(
                    400, f"connection endpoint {endpoint!r} not in group {gid!r}"
                )
        cid = comp.get("id") or f"c-{uuid.uuid4().hex[:12]}"
        if cid in self._revisions:
            raise _ApiError(400, f"component id {cid!r} already exists")
        conn = {"source": {"id": src}, "destination": {"id": dst}}
        rels = comp.get("selectedRelationships")
        if rels:
            conn["selectedRelationships"] = list(rels)
        g["connections"][cid] = conn
        self._revisions[cid] = 0
        self._owner[cid] = gid
        return 201, self._entity(cid, dict(conn))

    # ------------------------------------------------------ flow + running --

    def _flow_contents(self, gid: str) -> dict:
        g = self._group(gid)
        pcid = self._group_context.get(gid)
        return {
            "name": g["name"],
            # snapshots carry the context NAME and raw #{...} placeholders
            # (values live in the context, never in version control —
            # NiFi's parameter/flow separation)
            **(
                {"parameterContextName": self._param_contexts[pcid]["name"]}
                if pcid is not None
                else {}
            ),
            "processors": [dict(p) for p in g["processors"].values()],
            "connections": [
                dict(c, identifier=cid) for cid, c in g["connections"].items()
            ],
            "inputPorts": [
                dict(p) for p in g["ports"].values() if p["type"] == "INPUT_PORT"
            ],
            "outputPorts": [
                dict(p) for p in g["ports"].values() if p["type"] == "OUTPUT_PORT"
            ],
            "controllerServices": [dict(s) for s in g["services"].values()],
            "labels": [dict(lb) for lb in g.get("labels", {}).values()],
        }

    def _get_flow(self, gid: str) -> tuple[int, dict]:
        return 200, {
            "processGroupFlow": {
                "id": gid,
                "state": self._state.get(gid, "STOPPED"),
                "flowContents": self._flow_contents(gid),
            }
        }

    # -------------------------------------------------------- bulletins --

    def _post_bulletin(self, source_id: str, level: str, message: str) -> None:
        """Append a flow-event bulletin (NiFi's component warning/error
        surface).  Board is bounded like NiFi's (most recent 1000).
        Caller holds self._lock (all callers are _dispatch paths; the
        lock is not reentrant, so no acquisition here)."""
        import time as _time

        self._bulletins.append(
            {
                "id": len(self._bulletins) + 1,
                "sourceId": source_id,
                "sourceName": self._groups.get(source_id, {}).get(
                    "name", source_id
                ),
                "category": "Flow Controller",
                "level": level,
                "message": message,
                "timestamp": _time.strftime("%H:%M:%S UTC", _time.gmtime()),
            }
        )

    def _bulletin_board(self, q: dict) -> tuple[int, dict]:
        """GET /nifi-api/flow/bulletin-board — ``after`` (bulletin id
        floor), ``sourceId`` and ``limit`` filters, newest last, the
        public endpoint's query contract."""
        after = int(q.get("after") or 0)
        limit = int(q.get("limit") or 1000)
        src = q.get("sourceId")
        # caller (_dispatch) holds self._lock — non-reentrant, don't take
        rows = [
            b
            for b in self._bulletins[-1000:]
            if b["id"] > after and (src is None or b["sourceId"] == src)
        ]
        return 200, {
            "bulletinBoard": {
                "bulletins": [
                    {"id": b["id"], "canRead": True, "bulletin": b}
                    for b in rows[-limit:]
                ],
                "generated": "now",
            }
        }

    def _schedule(self, gid: str, body: dict) -> tuple[int, dict]:
        # Entered WITHOUT self._lock (see _dispatch): the lock scopes the
        # metadata snapshot and the result store, while run_flow — whose
        # compile may make S2S discovery round-trips to remote peers —
        # runs unlocked so a slow peer can't stall the control plane.
        state = (body.get("state") or "").upper()
        if state not in ("RUNNING", "STOPPED"):
            raise _ApiError(400, f"state must be RUNNING or STOPPED, got {state!r}")
        with self._lock:
            contents = self._flow_contents(gid)
            if state == "STOPPED":
                self._sched_gen[gid] = self._sched_gen.get(gid, 0) + 1
                self._outputs.pop(gid, None)
                self._state[gid] = "STOPPED"
                return 200, {"id": gid, "state": "STOPPED"}
            # compile-on-start: validation errors answer 400 (see _route);
            # #{param} references bind through the group's parameter
            # context here — NiFi's start-time resolution
            contents = self._resolve_parameters(gid, contents)
            port_sources = self._s2s_port_sources(gid)
            self._sched_gen[gid] = self._sched_gen.get(gid, 0) + 1
            gen = self._sched_gen[gid]
        counters: dict[str, list] = {}
        provenance: dict = {}
        try:
            outs = run_flow(
                self.spark,
                self.sf_dir,
                {"flowContents": contents},
                port_sources=port_sources,
                counters=counters,
                provenance=provenance,
            )
        except FlowImportError as e:
            # NiFi raises start-time validation failures onto the
            # bulletin board; the API still answers 400 (re-raise).
            with self._lock:
                self._post_bulletin(gid, "ERROR", str(e))
            raise
        with self._lock:
            if self._sched_gen.get(gid) != gen:
                # a newer RUNNING/STOPPED was acked for this gid while we
                # compiled unlocked — its state wins; ours is stale
                return 200, {
                    "id": gid,
                    "state": self._state.get(gid, "STOPPED"),
                    "superseded": True,
                }
            self._counters[gid] = counters
            self._provenance[gid] = provenance
            self._outputs[gid] = outs
            self._state[gid] = "RUNNING"
        return 200, {
            "id": gid,
            "state": "RUNNING",
            "outputs": sorted(outs),
        }

    # ---------------------------------------------------- version control --

    def _commit_version(self, gid: str, body: dict) -> tuple[int, dict]:
        contents = self._flow_contents(gid)
        text = json.dumps({"flowContents": contents}, sort_keys=True)
        bucket = body.get("bucket") or "default"
        version = self.registry.publish(
            bucket=bucket,
            flow=self._group(gid)["name"],
            sql_text=text,
            comment=body.get("comment") or "",
        )
        self._version_buckets[gid] = bucket
        return 201, {"id": gid, "version": version}

    def _version_history(self, gid: str) -> tuple[int, dict]:
        name = self._group(gid)["name"]
        bucket = self._version_buckets.get(gid, "default")
        return 200, {
            "id": gid,
            "versions": [
                {"version": v, "digest": d, "comment": c}
                for (v, d, c) in self.registry.history(bucket, name)
            ],
        }


# ------------------------------------------------------------ API client ---


def fetch_token(base_url: str, username: str, password: str) -> str:
    """POST /nifi-api/access/token — the login call every secured-NiFi
    automation script makes first (the reference's deployment is secured
    single-user: nifi-secret-volume/nifi-auth.yaml)."""
    u = urllib.parse.urlsplit(base_url)
    conn = http.client.HTTPConnection(u.hostname, u.port, timeout=30)
    try:
        body = urllib.parse.urlencode(
            {"username": username, "password": password}
        ).encode()
        conn.request(
            "POST",
            "/nifi-api/access/token",
            body=body,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
        )
        resp = conn.getresponse()
        data = resp.read().decode()
        if resp.status >= 400:
            raise FlowImportError(f"access/token → {resp.status}: {data}")
        return data
    finally:
        conn.close()


def _call(
    conn: http.client.HTTPConnection,
    method: str,
    path: str,
    body: dict | None = None,
    token: str | None = None,
) -> dict:
    payload = json.dumps(body).encode() if body is not None else None
    headers = {"Content-Type": "application/json"} if payload else {}
    if token:
        headers["Authorization"] = f"Bearer {token}"
    conn.request(
        method,
        path,
        body=payload,
        headers=headers,
    )
    resp = conn.getresponse()
    data = json.loads(resp.read() or b"{}")
    if resp.status >= 400:
        raise FlowImportError(
            f"{method} {path} → {resp.status}: {data.get('error')}"
        )
    return data


def author_flow_via_api(
    base_url: str, contents: dict, token: str | None = None
) -> str:
    """Replay a flow.json ``flowContents`` snapshot as REST authoring
    calls — the migration path a NiFi operator's deploy scripts take
    (reference scripts.sh drives exactly these endpoints).  Returns the
    created process-group id."""
    u = urllib.parse.urlsplit(base_url)
    conn = http.client.HTTPConnection(u.hostname, u.port, timeout=30)
    try:
        _tcall = functools.partial(_call, token=token)
        gid = _tcall(
            conn,
            "POST",
            "/nifi-api/process-groups/root/process-groups",
            {
                "revision": {"version": 0},
                "component": {"name": contents.get("name") or "authored-flow"},
            },
        )["id"]
        for s in contents.get("controllerServices", []):
            _tcall(
                conn,
                "POST",
                f"/nifi-api/process-groups/{gid}/controller-services",
                {
                    "revision": {"version": 0},
                    "component": {
                        "id": s["identifier"],
                        "name": s.get("name"),
                        "type": s["type"],
                        "config": {"properties": s.get("properties") or {}},
                    },
                },
            )
            # snapshots carry config, not runtime state: default ENABLED
            if (s.get("state") or "ENABLED").upper() == "ENABLED":
                _tcall(
                    conn,
                    "PUT",
                    f"/nifi-api/controller-services/{s['identifier']}/run-status",
                    {"revision": {"version": 0}, "state": "ENABLED"},
                )
        for kind, path_kind in (("inputPorts", "input-ports"),
                                ("outputPorts", "output-ports")):
            for pt in contents.get(kind, []):
                _tcall(
                    conn,
                    "POST",
                    f"/nifi-api/process-groups/{gid}/{path_kind}",
                    {
                        "revision": {"version": 0},
                        "component": {
                            "id": pt["identifier"],
                            "name": pt.get("name"),
                            "allowRemoteAccess": pt.get("allowRemoteAccess"),
                        },
                    },
                )
        for p in contents.get("processors", []):
            _tcall(
                conn,
                "POST",
                f"/nifi-api/process-groups/{gid}/processors",
                {
                    "revision": {"version": 0},
                    "component": {
                        "id": p["identifier"],
                        "name": p.get("name"),
                        "type": p["type"],
                        "config": {"properties": p.get("properties") or {}},
                    },
                },
            )
        for c in contents.get("connections", []):
            _tcall(
                conn,
                "POST",
                f"/nifi-api/process-groups/{gid}/connections",
                {
                    "revision": {"version": 0},
                    "component": {
                        "source": {"id": c["source"]["id"]},
                        "destination": {"id": c["destination"]["id"]},
                        "selectedRelationships": c.get("selectedRelationships"),
                    },
                },
            )
        return gid
    finally:
        conn.close()


def start_group_via_api(
    base_url: str, gid: str, token: str | None = None
) -> list[str]:
    """Schedule a group RUNNING; returns the compiled output names."""
    u = urllib.parse.urlsplit(base_url)
    conn = http.client.HTTPConnection(u.hostname, u.port, timeout=60)
    try:
        _tcall = functools.partial(_call, token=token)
        return _tcall(
            conn,
            "PUT",
            f"/nifi-api/flow/process-groups/{gid}",
            {"id": gid, "state": "RUNNING"},
        )["outputs"]
    finally:
        conn.close()
