"""Scoped NiFi flow-definition (flow.json) import → composed DataFrame plan.

The reference deployment's core workflow is versioned flow.json snapshots
pushed through NiFi Registry (/root/reference/nifi-registry/
deployement.yaml:14-16); this module ingests such a snapshot — the
``flowContents`` process-group shape of the public flow-definition format —
and compiles the processor graph onto the operators this engine already
implements, producing one lazy DataFrame per dangling output relationship.

Scope (documented): processors whose analogs exist here —

=====================  ====================================================
GetFile / GenerateFlowFile   fixture-table scan (``Input Directory`` names
                             the table; SURVEY.md §2.1)
RouteOnAttribute             dynamic properties are EL *strings*, compiled
                             by functions/el_parser (§2.3)
UpdateAttribute              dynamic properties are EL strings → derived
                             columns (§2.4)
QueryRecord                  dynamic properties are SQL against FLOWFILE
                             (§2.3/§2.5)
LookupRecord                 broadcast-join enrichment against another
                             fixture table (§2.6)
Funnel                       implicit — multiple connections into one
                             processor union (§2.8)
PutFile                      terminal pass-through (optionally writes
                             parquet when ``Directory`` is an absolute
                             path) (§2.2)
ReplaceText / ExtractText    regex replace / capture-to-attributes (§2.4)
RouteText / RouteOnContent   content-regex matched/unmatched split (§2.3)
DistributeLoad               weighted round-robin → one output per
                             relationship (§2.3)
DuplicateFlowFile            copy.index fan-out (§2.3)
UpdateCounter                identity hop whose traffic ticks a named
                             counter (Observation aggregate riding the
                             action; served by /nifi-api/counters)
TransformXml                 inline ``XSLT Stylesheet`` property compiled
                             by functions/xslt (§2.4)
ValidateJson                 inline ``Schema Text`` compiled by
                             functions/json_schema → valid/invalid (§2.3)
GeohashRecord                lat/lon record paths → geohash column
                             (functions/geo, §2.4)
ParseCEF                     CEF header/extension parse (functions/cef)
CountText                    line/word/char counter columns (§2.4)
ForkRecord                   array record-path → per-element child rows
                             keeping parent fields (§2.5)
GenerateRecord               deterministic synthetic source (§2.1)
ValidateXml                  structural contract → valid/invalid (§2.3)
VerifyContentMAC             HMAC route → success/failure (§2.4)
RetryFlowFile                bounded retry-loop unroll (see
                             ``_unroll_retry_cycles``) (§2.3)
LookupAttribute              broadcast dim join → matched/unmatched (§2.6)
EvaluateXPath / XQuery       JVM xpath_* columns (§2.4)
GeoEnrichIP                  broadcast range join over a bands table (§2.6)
Encrypt/DecryptContent       aes_encrypt/aes_decrypt column ops (§2.4)
ParseNetflowv5 / HL7 / HTML / email / Excel / Unpack
                             binary-content codecs (§2.4)
MonitorActivity / AttributeRollingWindow
                             keyed windows (§2.5/§2.7)
Listen* / TailFile           landing-directory batch drain (§2.1)
=====================  ====================================================

Composition is purely declarative: the importer never executes anything —
it builds one Catalyst plan per output, so filter pushdown/column pruning
work across *processor* boundaries, something NiFi's FlowFile-at-a-time
runtime cannot do.  At 100 TB the imported flow runs exactly like a
hand-written pipeline (broadcast lookups, pushed-down routes), because it
*is* one.
"""

from __future__ import annotations

import contextvars
import json
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: active counter sink for the compile in progress (run_flow(counters=...)):
#: UpdateCounter registers its Observation here — a side-channel because
#: _apply's return contract is relationship → DataFrame only
_ACTIVE_COUNTERS: contextvars.ContextVar[dict | None] = contextvars.ContextVar(
    "nifi_flow_counters", default=None
)

from apache_nifi_spark import io
from apache_nifi_spark.functions.el_parser import compile_el, el_predicate

__all__ = ["run_flow", "run_flow_json", "FlowImportError"]


class FlowImportError(ValueError):
    """Unsupported or malformed flow definition."""


def run_flow_json(
    spark: SparkSession,
    sf_dir: str,
    text: str,
    port_sources: dict[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Parse flow.json text (e.g. a FlowRegistry-pinned snapshot) and run it."""
    return run_flow(spark, sf_dir, json.loads(text), port_sources=port_sources)


def run_flow(
    spark: SparkSession,
    sf_dir: str,
    flow: dict,
    port_sources: dict[str, DataFrame] | None = None,
    counters: dict[str, list] | None = None,
    provenance: dict | None = None,
) -> dict[str, DataFrame]:
    """Compile a flow snapshot to DataFrames.

    Returns ``{"<processor name>.<relationship>": DataFrame}`` for every
    relationship that has no outgoing connection (the flow's outputs).

    ``port_sources`` binds ingress DataFrames to INPUT PORTS by port
    name: in NiFi, data crosses a process-group boundary only through
    ports, so an input port with no upstream connection inside the group
    is fed from outside — a parent-group queue or a site-to-site
    transfer.  The REST facade uses this to bind a remote-accessible
    port to the S2S landing scan.

    ``counters``, when supplied, collects each UpdateCounter processor's
    ``Observation`` under its counter name (list — several processors may
    feed one counter).  Observation metrics ride the plan's first action
    with zero extra passes; values become readable once the flow's
    outputs materialize (NiFi's counters likewise only tick when data
    actually flows).

    ``provenance``, when supplied, instruments EVERY processor output
    relationship with a hop Observation and fills the dict with
    ``(component, relationship) → (event_type, Observation)`` — the
    NiFi provenance-repository analog at aggregate grain (CREATE for
    sources, SEND/RECEIVE for ports, ROUTE for everything else).  Same
    zero-extra-pass transport as counters.
    """
    token = _ACTIVE_COUNTERS.set(counters)
    try:
        return _run_flow_inner(spark, sf_dir, flow, port_sources, provenance)
    finally:
        _ACTIVE_COUNTERS.reset(token)


def _run_flow_inner(
    spark: SparkSession,
    sf_dir: str,
    flow: dict,
    port_sources: dict[str, DataFrame] | None = None,
    provenance: dict | None = None,
) -> dict[str, DataFrame]:
    contents = flow.get("flowContents", flow)
    procs = {p["identifier"]: p for p in contents.get("processors", [])}
    # Funnel nodes are identity processors: many-in, one unioned output.
    for fn in contents.get("funnels", []):
        procs[fn["identifier"]] = {
            "identifier": fn["identifier"],
            "name": fn.get("name") or fn["identifier"],
            "type": "Funnel",
            "properties": {},
        }
    # Ports are group-boundary identity nodes.
    for kind, ptype in (("inputPorts", "InputPort"), ("outputPorts", "OutputPort")):
        for pt in contents.get(kind, []):
            procs[pt["identifier"]] = {
                "identifier": pt["identifier"],
                "name": pt.get("name") or pt["identifier"],
                "type": ptype,
                "properties": {},
            }
    # Remote process groups: each remote INPUT PORT becomes a synthetic
    # egress node pushing its input over the site-to-site wire (see the
    # RemoteInputPort branch in _apply).  NiFi serializes the RPG with
    # its target URI and remote port descriptors; connections address
    # the remote port identifiers directly.
    for rpg in contents.get("remoteProcessGroups", []):
        target = rpg.get("targetUri") or (
            (rpg.get("targetUris") or "").split(",")[0]
        )
        ca = rpg.get("caFile") or ""
        for rp in rpg.get("inputPorts", []):
            procs[rp["identifier"]] = {
                "identifier": rp["identifier"],
                "name": rp.get("name") or rp["identifier"],
                "type": "RemoteInputPort",
                "properties": {
                    "targetUri": target,
                    "caFile": ca,
                    "portName": rp.get("name") or rp["identifier"],
                },
            }
    if not procs:
        raise FlowImportError("flow has no processors")
    # Controller-service indirection (NiFi shared config): a processor
    # property whose VALUE names a controller service pulls the service's
    # properties in at compile time; explicit processor properties win.
    # Referencing a DISABLED service is a validation error — NiFi refuses
    # to start a processor whose service is not ENABLED.
    services = {
        s["identifier"]: s for s in contents.get("controllerServices", [])
    }
    if services:
        for pid, p in list(procs.items()):
            merged = dict(p.get("properties") or {})
            for prop_name, v in list(merged.items()):
                svc = services.get(v)
                if svc is None:
                    continue
                if (svc.get("state") or "ENABLED").upper() != "ENABLED":
                    raise FlowImportError(
                        f"{p.get('name') or pid}: property {prop_name!r} "
                        f"references controller service "
                        f"{svc.get('name') or v!r} which is not ENABLED"
                    )
                for sk, sv in (svc.get("properties") or {}).items():
                    merged.setdefault(sk, sv)
            procs[pid] = dict(p, properties=merged)
    conns = contents.get("connections", [])
    # NiFi flows routinely contain retry loops (failure → RetryFlowFile →
    # back to the same processor).  Batch compilation needs a DAG, so
    # bounded retry cycles are UNROLLED (one copy of the loop body per
    # attempt) before scheduling; any other cycle still errors below.
    procs, conns = _unroll_retry_cycles(procs, conns)

    incoming: dict[str, list[tuple[str, str]]] = defaultdict(list)
    outgoing: dict[str, set[str]] = defaultdict(set)  # pid → rels consumed
    for c in conns:
        src = c["source"]["id"]
        dst = c["destination"]["id"]
        if src not in procs or dst not in procs:
            raise FlowImportError(f"connection references unknown processor: {c}")
        rels = c.get("selectedRelationships") or ["success"]
        for rel in rels:
            incoming[dst].append((src, rel))
            outgoing[src].add(rel)

    # topological order (Kahn) — flow graphs must be acyclic
    indeg = {pid: 0 for pid in procs}
    for dst, srcs in incoming.items():
        indeg[dst] = len(srcs)
    ready = sorted(pid for pid, d in indeg.items() if d == 0)
    order: list[str] = []
    deps_left = dict(indeg)
    while ready:
        pid = ready.pop(0)
        order.append(pid)
        for dst, srcs in incoming.items():
            n = sum(1 for s, _ in srcs if s == pid)
            if n:
                deps_left[dst] -= n
                if deps_left[dst] == 0:
                    ready.append(dst)
        ready.sort()
    if len(order) != len(procs):
        raise FlowImportError("flow graph has a cycle")

    # ForkEnrichment lineage: which branch ('original'/'enrichment') each
    # processor's output descends from.  Connection array order in an
    # exported flow.json is arbitrary serialization order, so
    # JoinEnrichment must NOT pick sides positionally — it resolves by
    # relationship name first, then by this lineage tag.
    branch: dict[str, str | None] = {}

    def _tag(src: str, rel: str) -> str | None:
        if procs[src].get("type", "").rsplit(".", 1)[-1] == "ForkEnrichment":
            return rel if rel in ("original", "enrichment") else None
        return branch.get(src)

    outputs: dict[str, dict[str, DataFrame]] = {}
    for pid in order:
        proc = procs[pid]
        tags = {t for src, rel in incoming.get(pid, []) if (t := _tag(src, rel))}
        branch[pid] = tags.pop() if len(tags) == 1 else None
        named_ins = [
            (rel, outputs[src][rel], _tag(src, rel))
            for src, rel in incoming.get(pid, [])
            if rel in outputs.get(src, {})
        ]
        df = None
        two_sided = proc.get("type", "").rsplit(".", 1)[-1] == "JoinEnrichment"
        if named_ins and not two_sided:
            df = named_ins[0][1]
            for _, other, _ in named_ins[1:]:
                # Funnel semantics: UNION ALL.  allowMissingColumns
                # mirrors NiFi queues, where FlowFiles from different
                # branches may carry different attribute sets (e.g. a
                # retry branch adds flowfile.retries) — absent columns
                # null-fill.
                df = df.unionByName(other, allowMissingColumns=True)
        elif named_ins:
            df = named_ins[0][1]  # placeholder; JoinEnrichment uses named_ins
        if df is None and proc.get("type") == "InputPort":
            # ingress: no upstream inside the group — bind from outside
            pname = proc.get("name") or pid
            df = (port_sources or {}).get(pname)
            if df is None:
                raise FlowImportError(
                    f"input port {pname!r} has no upstream connection and "
                    "no bound external source"
                )
        outputs[pid] = _apply(spark, sf_dir, proc, df, named_ins)
        if provenance is not None:
            # hop accounting: one Observation per output relationship —
            # the provenance-repository analog at aggregate grain
            from pyspark.sql import Observation

            ptype_short = proc.get("type", "").rsplit(".", 1)[-1]
            etype = (
                "CREATE" if not incoming.get(pid)
                else "RECEIVE" if ptype_short == "InputPort"
                else "SEND" if ptype_short == "OutputPort"
                else "ROUTE"
            )
            import uuid as _uuid

            instrumented = {}
            for rel, rel_df in outputs[pid].items():
                obs = Observation(f"prov_{pid}_{rel}_{_uuid.uuid4().hex[:8]}")
                instrumented[rel] = rel_df.observe(
                    obs, F.count(F.lit(1)).alias("rows")
                )
                provenance[(procs[pid].get("name") or pid, rel)] = (etype, obs)
            outputs[pid] = instrumented

    result: dict[str, DataFrame] = {}
    for pid, rels in outputs.items():
        name = procs[pid].get("name") or pid
        for rel, df in rels.items():
            if rel not in outgoing.get(pid, set()):
                result[f"{name}.{rel}"] = df
    return result


# ---------------------------------------------------- retry-cycle unroll ---


def _find_back_edge(procs: dict, conns: list) -> dict | None:
    """First connection that closes a cycle (DFS back-edge), or None."""
    adj: dict[str, list[dict]] = defaultdict(list)
    for c in conns:
        adj[c["source"]["id"]].append(c)
    state: dict[str, int] = {}  # 0 unvisited / 1 on-stack / 2 done

    def dfs(u: str) -> dict | None:
        state[u] = 1
        for c in adj.get(u, ()):
            v = c["destination"]["id"]
            s = state.get(v, 0)
            if s == 1:
                return c
            if s == 0:
                hit = dfs(v)
                if hit is not None:
                    return hit
        state[u] = 2
        return None

    for pid in procs:
        if state.get(pid, 0) == 0:
            hit = dfs(pid)
            if hit is not None:
                return hit
    return None


def _reachable(start: str, conns: list, forward: bool) -> set[str]:
    adj: dict[str, set[str]] = defaultdict(set)
    for c in conns:
        a, b = c["source"]["id"], c["destination"]["id"]
        adj[a if forward else b].add(b if forward else a)
    seen, stack = set(), [start]
    while stack:
        n = stack.pop()
        for m in adj.get(n, ()):
            if m not in seen:
                seen.add(m)
                stack.append(m)
    return seen


def _unroll_retry_cycles(procs: dict, conns: list) -> tuple[dict, list]:
    """Rewrite bounded retry loops into an acyclic graph.

    NiFi's canonical loop is ``body --failure--> RetryFlowFile --retry-->
    body`` with 'retries_exceeded' exiting when ``Maximum Retries`` is
    spent [2.7.2-surface].  Batch semantics: the loop body is replicated
    once per attempt (1 + max retries copies); attempt *i*'s retry
    relationship feeds attempt *i+1*'s loop entry; every copy's exit
    relationships union into the original downstream consumers; the last
    copy's RetryFlowFile routes everything to 'retries_exceeded'.  The
    unroll is a pure graph rewrite — the attempt copies compile into ONE
    Catalyst plan like any other processors.  Cycles that do not pass a
    'retry' back-edge of a RetryFlowFile are unsupported and error."""
    import copy as _copy

    def mk_conn(a: str, b: str, template: dict) -> dict:
        c = _copy.deepcopy(template)
        c["source"] = {"id": a}
        c["destination"] = {"id": b}
        return c

    for _ in range(8):  # bound for nested/multiple loops
        be = _find_back_edge(procs, conns)
        if be is None:
            return procs, conns
        u, v = be["source"]["id"], be["destination"]["id"]
        # The DFS-discovered back-edge depends on serialization order and
        # may be ANY edge of the cycle (e.g. the body's failure edge when
        # the RetryFlowFile precedes its sources in the processors array).
        # Canonicalize: search the cycle for the RetryFlowFile 'retry'
        # edge and unroll on that one.
        scc = (_reachable(v, conns, forward=True) | {v}) & (
            _reachable(u, conns, forward=False) | {u}
        )
        for c in conns:
            a, b = c["source"]["id"], c["destination"]["id"]
            if (
                a in scc
                and b in scc
                and procs[a].get("type", "").rsplit(".", 1)[-1] == "RetryFlowFile"
                and (c.get("selectedRelationships") or ["success"]) == ["retry"]
            ):
                be = c
                u, v = a, b
                break
        rels = be.get("selectedRelationships") or ["success"]
        if procs[u].get("type", "").rsplit(".", 1)[-1] != "RetryFlowFile" or rels != [
            "retry"
        ]:
            raise FlowImportError(
                "flow graph has a cycle that is not a RetryFlowFile retry "
                f"loop (back-edge {procs[u].get('name', u)} -{rels}-> "
                f"{procs[v].get('name', v)}); only bounded retry loops "
                "can be unrolled"
            )
        k = int((procs[u].get("properties") or {}).get("Maximum Retries", "3"))
        if not 0 < k <= 64:
            raise FlowImportError(f"Maximum Retries must be in 1..64, got {k}")
        rest = [c for c in conns if c is not be]
        cycle = (_reachable(v, rest, forward=True) | {v}) & (
            _reachable(u, rest, forward=False) | {u}
        )

        def cid(n: str, i: int) -> str:
            return n if i == 1 else f"{n}__retry{i}"

        new_procs = dict(procs)
        for i in range(1, k + 2):
            for n in cycle:
                if i == 1:
                    p = new_procs[n] = _copy.deepcopy(procs[n])
                else:
                    p = _copy.deepcopy(procs[n])
                    p["identifier"] = cid(n, i)
                    p["name"] = f"{p.get('name') or n}~retry{i}"
                    new_procs[cid(n, i)] = p
                if n == u:  # stamp the attempt number on each RetryFlowFile
                    p.setdefault("properties", {})["_unroll_attempt"] = str(i)
        new_conns: list[dict] = []
        for c in rest:
            a, b = c["source"]["id"], c["destination"]["id"]
            if a in cycle:  # in-cycle and exit edges replicate per attempt
                for i in range(1, k + 2):
                    new_conns.append(mk_conn(cid(a, i), cid(b, i) if b in cycle else b, c))
            else:  # entry edges (and unrelated edges) feed attempt 1 only
                new_conns.append(c)
        for i in range(1, k + 1):  # the back-edge becomes attempt chaining
            new_conns.append(mk_conn(cid(u, i), cid(v, i + 1), be))
        procs, conns = new_procs, new_conns
    raise FlowImportError("too many retry loops to unroll (max 8)")


# ------------------------------------------------------------- processors ---

#: configuration properties (never user dynamic expressions), SCOPED PER
#: PROCESSOR TYPE — one global set silently swallowed dynamic properties
#: whose names happened to collide with another processor's config keys
#: ('Attribute', 'Mode', 'SQL', 'Header', ...).  Only types that read
#: dynamic properties need an entry; everything else reads config by key.
_COMMON_STATIC = {
    "Record Reader", "Record Writer", "record-reader", "record-writer",
}
_STATIC_BY_TYPE: dict[str, set[str]] = {
    "RouteOnAttribute": {"Routing Strategy", "routing-strategy"},
    "UpdateAttribute": {"Delete Attributes Expression", "Store State"},
    "QueryRecord": {"include-zero-record-flowfiles", "Cache Schema"},
    "ExtractText": {"Column"},
    "DistributeLoad": {
        "Order Column", "Distribution Strategy", "Number of Relationships",
    },
    "EvaluateJsonPath": {
        "Column", "Destination", "Return Type",
        "Path Not Found Behavior", "Null Value Representation",
    },
    "RenameRecordField": set(),
    "UpdateRecord": {"Replacement Value Strategy"},
}


def _dynamic(props: dict, ptype: str) -> dict:
    static = _COMMON_STATIC | _STATIC_BY_TYPE.get(ptype, set())
    return {k: v for k, v in (props or {}).items() if k not in static}


def _apply(
    spark: SparkSession,
    sf_dir: str,
    proc: dict,
    df: DataFrame | None,
    named_ins: list[tuple[str, DataFrame, str | None]] | None = None,
) -> dict[str, DataFrame]:
    ptype = proc.get("type", "").rsplit(".", 1)[-1]
    props = proc.get("properties") or {}
    name = proc.get("name") or proc.get("identifier")
    named_ins = named_ins or []

    if ptype in ("GetFile", "GenerateFlowFile", "ListFile", "FetchFile"):
        table = props.get("Input Directory")
        if table not in io.TABLES:
            raise FlowImportError(
                f"{name}: 'Input Directory' must name a fixture table, got {table!r}"
            )
        # Imported flows routinely chain CPU-heavy per-row work (XPath,
        # validation, HL7/CEF parsing) straight onto the scan; widen a
        # single-split source so that work spreads across cores.  No-op
        # when the scan already has enough splits (real-scale tables).
        return {"success": io.widen_if_narrow(io.load_table(spark, sf_dir, table))}

    if ptype == "GenerateRecord":
        n = int(props.get("Number of Records", "100"))
        base = spark.range(0, n).select(F.col("id").alias("rec_id"))
        h = F.md5(F.concat(F.lit("gr:"), F.col("rec_id").cast("string")))
        return {
            "success": base.select(
                "rec_id",
                (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 10000)
                .alias("amount"),
                F.substring(h, 9, 8).alias("token"),
            )
        }

    if ptype in ("ExecuteSQL", "ExecuteSQLRecord", "QueryDatabaseTable"):
        from apache_nifi_spark.sources import jdbc_read

        url = props.get("Database Connection URL") or props.get("JDBC URL")
        sql_text = props.get("SQL select query") or props.get("SQL")
        if not (url and sql_text):
            raise FlowImportError(
                f"{name}: {ptype} needs 'Database Connection URL' + "
                "'SQL select query'"
            )
        opts = {"driver": props["Driver"]} if props.get("Driver") else {}
        part = props.get("Partition Column")
        if part:  # GenerateTableFetch execution half: parallel range fetch
            return {
                "success": jdbc_read(
                    spark, url, sql_text,
                    partition_column=part,
                    lower_bound=int(props.get("Lower Bound", "0")),
                    upper_bound=int(props.get("Upper Bound", "1000000")),
                    num_partitions=int(props.get("Fetch Partitions", "4")),
                    options=opts,
                )
            }
        return {"success": jdbc_read(spark, url, sql_text, options=opts)}

    if ptype in ("ListenHTTP", "ListenTCP", "ListenUDP", "ListenSyslog", "TailFile"):
        # Landing-zone sources: the listener tier (streaming/listen.py)
        # lands wire payloads as durable files; an imported flow starts
        # from that directory.  Batch import = drain what has landed
        # (the streaming drain of the same dir is stream_json_landing).
        directory = props.get("Landing Directory") or props.get("File to Tail")
        if not directory or not directory.startswith("/"):
            raise FlowImportError(
                f"{name}: {ptype} needs an absolute 'Landing Directory'"
            )
        landed = spark.read.text(directory).withColumnRenamed("value", "line")
        if ptype == "ListenSyslog":
            from apache_nifi_spark.operators.transform import parse_syslog

            return {"success": parse_syslog(landed)}
        return {"success": landed}

    if df is None:
        raise FlowImportError(f"{name}: non-source processor has no input")

    if ptype == "RouteOnAttribute":
        from apache_nifi_spark.operators.route import route_on_attribute

        routes = {rel: el_predicate(src) for rel, src in _dynamic(props, ptype).items()}
        if not routes:
            raise FlowImportError(f"{name}: RouteOnAttribute needs EL properties")
        strategy = props.get("Routing Strategy", "Route to Property name")
        mapped = (
            "route_first_matching"
            if "Property name" in strategy
            else "route_all_matching"
        )
        return route_on_attribute(df, routes, strategy=mapped)

    if ptype == "UpdateAttribute":
        from apache_nifi_spark.functions.el_parser import el_select

        exprs = {k: v for k, v in _dynamic(props, ptype).items()}
        return {"success": el_select(df, exprs)}

    if ptype == "QueryRecord":
        out: dict[str, DataFrame] = {}
        for rel, sql_text in _dynamic(props, ptype).items():
            # spark.sql analyzes eagerly, so the view binding is captured
            # per-statement — later FLOWFILE rebinds don't disturb it.
            df.createOrReplaceTempView("FLOWFILE")
            out[rel] = spark.sql(sql_text)
        if not out:
            raise FlowImportError(f"{name}: QueryRecord needs SQL properties")
        return out

    if ptype == "LookupRecord":
        table = props.get("Lookup Table")
        key = props.get("Lookup Key")
        field = props.get("Lookup Field", key)  # lookup-side column
        if table not in io.TABLES or not key:
            raise FlowImportError(
                f"{name}: LookupRecord needs 'Lookup Table' (fixture) + 'Lookup Key'"
            )
        lookup = io.load_table(spark, sf_dir, table)
        cols = props.get("Lookup Columns")
        if cols:
            keep = [c.strip() for c in cols.split(",")]
            lookup = lookup.select(*dict.fromkeys([field, *keep]))
        cond = df[key] == lookup[field]
        matched = df.join(F.broadcast(lookup), on=cond, how="inner")
        unmatched = df.join(F.broadcast(lookup), on=cond, how="left_anti")
        return {"matched": matched, "unmatched": unmatched}

    if ptype == "ReplaceText":
        col = props.get("Column", "text")
        pattern = props.get("Regular Expression")
        repl = props.get("Replacement Value", "")
        if pattern is None:
            raise FlowImportError(f"{name}: ReplaceText needs 'Regular Expression'")
        from apache_nifi_spark.operators.transform import replace_text

        return {"success": replace_text(df, col, pattern, repl)}

    if ptype == "ExtractText":
        col = props.get("Column", "text")
        from apache_nifi_spark.operators.transform import extract_text

        pats = {out: (rx, 1) for out, rx in _dynamic(props, ptype).items()}
        if not pats:
            raise FlowImportError(f"{name}: ExtractText needs regex properties")
        return {"matched": extract_text(df, col, pats)}

    if ptype in ("RouteText", "RouteOnContent"):
        col = props.get("Column", "text")
        rx = props.get("Regular Expression") or props.get(
            "Matching Expression"
        )
        if rx is None:
            raise FlowImportError(f"{name}: {ptype} needs a regex property")
        matched = df.filter(F.col(col).rlike(rx))
        return {"matched": matched, "unmatched": df.filter(~F.col(col).rlike(rx))}

    if ptype == "DistributeLoad":
        from apache_nifi_spark.operators.route import distribute_load

        weights = {
            rel: int(w)
            for rel, w in _dynamic(props, ptype).items()
            if rel != "Order Column"
        }
        order = props.get("Order Column")
        if not weights or not order:
            raise FlowImportError(
                f"{name}: DistributeLoad needs weight properties + 'Order Column'"
            )
        routed = distribute_load(df, weights, order)
        return {
            rel: routed.filter(F.col("relationship") == rel).drop("relationship")
            for rel in weights
        }

    if ptype == "DuplicateFlowFile":
        from apache_nifi_spark.operators.route import duplicate_flowfile

        n = int(props.get("Number of Copies", "1"))
        return {"success": duplicate_flowfile(df, n)}

    if ptype == "RetryFlowFile":
        # Inside an unrolled retry loop (see _unroll_retry_cycles) the
        # attempt number is static per copy: records arriving here have
        # failed the loop body exactly `attempt` times.  Within budget →
        # everything re-enters the loop on 'retry'; the final copy sends
        # everything to 'retries_exceeded' with the spent counter, the
        # attribute NiFi's RetryFlowFile maintains.
        attempt = int(props.get("_unroll_attempt", "1"))
        kmax = int(props.get("Maximum Retries", "3"))
        counted = df.withColumn("flowfile.retries", F.lit(attempt).cast("int"))
        if attempt <= kmax:
            return {
                "retry": counted,
                "retries_exceeded": counted.filter(F.lit(False)),
            }
        return {"retries_exceeded": counted}

    if ptype == "TransformXml":
        from apache_nifi_spark.functions.xslt import xslt_compile
        from apache_nifi_spark.operators.transform import transform_xml

        xsl = props.get("XSLT Stylesheet")
        col = props.get("Column", "xml")
        if not xsl:
            raise FlowImportError(
                f"{name}: TransformXml needs the inline 'XSLT Stylesheet' property"
            )
        return {"success": transform_xml(df, col, xslt_compile(xsl))}

    if ptype == "ValidateJson":
        from apache_nifi_spark.functions.json_schema import validate_json

        schema_text = props.get("Schema Text") or props.get("JSON Schema")
        col = props.get("Column", "content")
        if not schema_text:
            raise FlowImportError(f"{name}: ValidateJson needs 'Schema Text'")
        out_df = validate_json(df, json.loads(schema_text), doc_col=col)
        return {
            "valid": out_df.filter(F.col("valid")).drop("valid", "validation_error"),
            "invalid": out_df.filter(~F.col("valid")).drop("valid"),
        }

    if ptype == "GeohashRecord":
        from apache_nifi_spark.functions.geo import geohash_record

        lat = props.get("Latitude Record Path", "lat")
        lon = props.get("Longitude Record Path", "lon")
        precision = int(props.get("Geohash Level", "8"))
        out_col = props.get("Geohash Record Path", "geohash")
        return {
            "success": geohash_record(
                df, lat_col=lat, lon_col=lon, precision=precision, out_col=out_col
            )
        }

    if ptype == "ParseCEF":
        from apache_nifi_spark.functions.cef import parse_cef

        col = props.get("Column", "content")
        return {"success": parse_cef(df, content_col=col)}

    if ptype == "CountText":
        col = props.get("Column", "text")
        body = F.col(col)
        lines = F.split(body, "\n", -1)
        words = F.filter(F.split(body, r"\s+", -1), lambda t: t != "")
        return {
            "success": df.withColumns(
                {
                    "text.line.count": F.size(lines).cast("int"),
                    "text.word.count": F.size(words).cast("int"),
                    "text.character.count": F.length(body).cast("int"),
                }
            )
        }

    if ptype == "ForkRecord":
        col = props.get("Record Path") or props.get("Fork Path")
        if not col:
            raise FlowImportError(f"{name}: ForkRecord needs 'Record Path'")
        keep = [c for c in df.columns if c != col]
        return {
            "fork": df.select(
                *keep, F.posexplode(F.col(col)).alias("pos", "element")
            )
        }

    if ptype == "ValidateXml":
        col = props.get("Column", "content")
        xsd = props.get("Schema Text") or props.get("XSD Text")
        if xsd:  # XSD mode: inline schema, sequence/occurs/type checks
            from apache_nifi_spark.functions.xsd import validate_xml_xsd

            out_df = validate_xml_xsd(df, xsd, content_col=col)
        else:  # structural mode: root tag + required children
            from apache_nifi_spark.sources.xml_codec import validate_xml

            root = props.get("Root Tag")
            req = tuple(
                s.strip()
                for s in (props.get("Required Elements") or "").split(",")
                if s.strip()
            )
            out_df = validate_xml(df, content_col=col, root_tag=root,
                                  required_elements=req)
        return {
            "valid": out_df.filter(F.col("valid")).drop("valid", "validation_error"),
            "invalid": out_df.filter(~F.col("valid")).drop("valid"),
        }

    if ptype == "VerifyContentMAC":
        from apache_nifi_spark.functions.mac import verify_content_mac

        key = (props.get("MAC Key") or "").encode()
        if not key:
            raise FlowImportError(f"{name}: VerifyContentMAC needs 'MAC Key'")
        out_df = verify_content_mac(
            df, key,
            content_col=props.get("Column", "content"),
            mac_col=props.get("MAC Column", "mac"),
        )
        return {
            "success": out_df.filter(F.col("mac_ok")).drop("mac_ok", "computed_mac"),
            "failure": out_df.filter(~F.col("mac_ok")).drop("mac_ok"),
        }

    if ptype == "PutFile":
        directory = props.get("Directory", "")
        if directory.startswith("/"):
            df.write.mode("overwrite").parquet(directory)
        return {"success": df}

    if ptype == "Funnel":
        return {"success": df}

    if ptype == "UpdateCounter":
        # NiFi ops counter: identity pass-through whose traffic increments
        # a named counter.  Spark-first: an Observation aggregate rides
        # the plan's action — zero extra passes/shuffles; the counter is
        # rows × delta of whatever actually flows.
        from pyspark.sql import Observation

        cname = props.get("Counter Name")
        if not cname:
            raise FlowImportError(f"{name}: UpdateCounter needs 'Counter Name'")
        delta = int(props.get("Delta", "1"))
        import uuid as _uuid

        obs = Observation(f"counter_{cname}_{_uuid.uuid4().hex[:8]}")
        out = df.observe(obs, F.coalesce(F.sum(F.lit(delta)), F.lit(0)).alias("value"))
        sink = _ACTIVE_COUNTERS.get()
        if sink is not None:
            sink.setdefault(cname, []).append(obs)
        return {"success": out}

    if ptype in ("InputPort", "OutputPort"):
        # group-boundary pass-through; an output port's unconsumed
        # "success" IS the group's exposed output
        if df is None:
            raise FlowImportError(f"{name}: {ptype} has no incoming data")
        return {"success": df}

    if ptype == "RemoteInputPort":
        # Site-to-site EGRESS: a connection into a RemoteProcessGroup's
        # input port pushes the records to the peer cluster over the
        # real S2S wire.  Bootstrap is exactly the reference's sequence
        # (scripts.sh:89-98): GET /nifi-api/site-to-site on the target
        # for the listening port, then the peer list over the socket,
        # least-loaded peer first (NiFi's load-balancing step).  Rows
        # serialize as JSON flowfiles; one TLS two-phase transaction per
        # partition (streaming/s2s_wire.s2s_send) — an aborted
        # transaction routes its whole partition to "failure", NiFi's
        # redelivery granularity.
        if df is None:
            raise FlowImportError(f"{name}: RemoteInputPort has no incoming data")
        import http.client
        import urllib.parse

        from apache_nifi_spark.streaming.s2s_wire import s2s_peers, s2s_send

        target = props.get("targetUri") or ""
        ca = props.get("caFile") or ""
        port_name = props.get("portName") or name
        u = urllib.parse.urlsplit(target)
        if u.scheme not in ("http", "https") or not u.hostname:
            raise FlowImportError(
                f"{name}: RemoteProcessGroup needs an http(s) targetUri,"
                f" got {target!r}"
            )
        if u.scheme == "https":
            import ssl

            # No caFile → system CA verification (round-10 advice: never
            # silently disable verification — a MITM could steer the
            # data channel by forging the discovery response, and the
            # data channel cannot run without a truststore anyway, so
            # the unverified path was an insecure dead end).  A pinned
            # caFile overrides the system bundle, matching the data
            # channel's truststore.
            ctx = ssl.create_default_context(cafile=ca or None)
            conn = http.client.HTTPSConnection(
                u.hostname, u.port or 443, timeout=10, context=ctx
            )
        else:
            conn = http.client.HTTPConnection(
                u.hostname, u.port or 80, timeout=10
            )
        try:
            conn.request("GET", "/nifi-api/site-to-site")
            ctl = json.loads(conn.getresponse().read())["controller"]
        except (OSError, ValueError, KeyError) as e:
            raise FlowImportError(
                f"{name}: S2S discovery against {target!r} failed: {e}"
            )
        finally:
            conn.close()
        s2s_port = ctl.get("remoteSiteListeningPort")
        if not s2s_port:
            raise FlowImportError(
                f"{name}: target {target!r} has site-to-site disabled"
            )
        peer = min(
            s2s_peers(u.hostname, s2s_port, ca),
            key=lambda p: p["flowFileCount"],
        )
        content = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
        # Pinned: success and failure are two lineages of the SAME push;
        # without the cut each consumer re-executes the wire stage and
        # the peer receives every transaction twice.  eager=False folds
        # the one wire execution into the first consuming action.
        sent = (
            s2s_send(
                df.withColumn("__content", content),
                peer["host"],
                peer["port"],
                ca,
                port_name,
                attr_cols=[],
                content_col="__content",
            )
            .drop("__content")
            .localCheckpoint(eager=False)
        )
        return {
            "success": sent.filter(F.col("delivered")).drop("delivered"),
            "failure": sent.filter(~F.col("delivered")).drop("delivered"),
        }

    # ----------------------------------------------------- enrichment ---
    if ptype == "ForkEnrichment":
        # Both relationships carry the same records; downstream
        # JoinEnrichment distinguishes them by connection relationship.
        return {"original": df, "enrichment": df}

    if ptype == "JoinEnrichment":
        sides = {rel: d for rel, d, _ in named_ins}
        orig = sides.get("original")
        enr = sides.get("enrichment")
        if orig is None or enr is None:
            # Relationship names are not literally original/enrichment
            # (e.g. a QueryRecord on the enrichment branch emits 'sql').
            # Resolve by ForkEnrichment lineage — NOT by connection array
            # position, which is arbitrary serialization order in an
            # exported flow.json and would silently swap join sides.
            by_tag = {tag: d for _, d, tag in named_ins if tag}
            orig = orig if orig is not None else by_tag.get("original")
            enr = enr if enr is not None else by_tag.get("enrichment")
        if orig is None or enr is None:
            raise FlowImportError(
                f"{name}: cannot identify JoinEnrichment 'original' vs "
                "'enrichment' inputs — name the incoming relationships or "
                "route both branches through a ForkEnrichment"
            )
        sql_text = props.get("SQL")
        if sql_text:  # SQL strategy: Calcite in NiFi, Catalyst here
            from apache_nifi_spark.operators.join import join_enrichment_sql

            return {"joined": join_enrichment_sql(spark, orig, enr, sql_text)}
        key = props.get("Join Key")
        if not key:
            raise FlowImportError(f"{name}: JoinEnrichment needs 'SQL' or 'Join Key'")
        from apache_nifi_spark.operators.join import join_enrichment

        how = {"Wrapper": "left", "Insert": "inner"}.get(
            props.get("Join Strategy", "Wrapper"), "left"
        )
        return {"joined": join_enrichment(orig, enr, on=key, how=how)}

    # -------------------------------------------------- merge / split ---
    if ptype == "MergeContent":
        from apache_nifi_spark.operators.aggregate import defragment
        from apache_nifi_spark.operators.content import merge_content_text

        if props.get("Merge Strategy") == "Defragment":
            frag_id = props.get("Fragment Identifier", "fragment_id")
            frag_ix = props.get("Fragment Index", "fragment_index")
            payload = F.col(props.get("Payload Column", "content"))
            return {"merged": defragment(df, frag_id, frag_ix, payload)}
        group = props.get("Correlation Attribute Name")
        content = props.get("Payload Column", "content")
        order = props.get("Order Attribute", content)
        if not group:
            raise FlowImportError(
                f"{name}: MergeContent needs 'Correlation Attribute Name'"
            )
        return {
            "merged": merge_content_text(
                df, group, content, order,
                header=props.get("Header", ""),
                demarcator=props.get("Demarcator", "\n"),
                footer=props.get("Footer", ""),
            )
        }

    if ptype == "MergeRecord":
        from apache_nifi_spark.operators.aggregate import merge_record

        corr = props.get("Correlation Attribute Name")
        payload = F.col(props.get("Payload Column", "content"))
        if not corr:
            raise FlowImportError(
                f"{name}: MergeRecord needs 'Correlation Attribute Name'"
            )
        max_entries = props.get("Maximum Number of Entries")
        return {
            "merged": merge_record(
                df, corr, payload,
                max_entries=int(max_entries) if max_entries else None,
            )
        }

    if ptype in ("SplitRecord", "SplitAvro"):
        from apache_nifi_spark.operators.aggregate import split_record

        col = props.get("Record Path")
        if not col:
            raise FlowImportError(f"{name}: {ptype} needs 'Record Path'")
        return {"splits": split_record(df, col)}

    if ptype == "SplitJson":
        from apache_nifi_spark.operators.transform import split_json

        col = props.get("Column", "content")
        schema = props.get("Element Schema")
        keep = [
            c.strip()
            for c in (props.get("Keep Columns") or "").split(",")
            if c.strip()
        ]
        if not schema:
            raise FlowImportError(f"{name}: SplitJson needs 'Element Schema'")
        return {"split": split_json(df, col, schema, keep=keep)}

    if ptype == "SplitText":
        col = props.get("Column", "text")
        lines = F.split(F.col(col), "\n", -1)
        return {
            "splits": df.select(
                "*", F.posexplode(lines).alias("fragment_index", "line")
            ).drop(col)
        }

    if ptype == "SplitContent":
        col = props.get("Column", "content")
        seq = props.get("Byte Sequence")
        if not seq:
            raise FlowImportError(f"{name}: SplitContent needs 'Byte Sequence'")
        import re as _re

        parts = F.split(F.col(col), _re.escape(seq), -1)
        return {
            "splits": df.select(
                "*", F.posexplode(parts).alias("fragment_index", "fragment")
            ).drop(col)
        }

    if ptype == "SegmentContent":
        col = props.get("Column", "content")
        size = int(props.get("Segment Size", "1024"))
        n_seg = F.ceil(F.length(F.col(col)) / F.lit(size)).cast("int")
        idx = F.sequence(F.lit(0), F.greatest(n_seg, F.lit(1)) - 1)
        return {
            "segments": df.select(
                "*", F.explode(idx).alias("segment_index")
            ).withColumn(
                "segment",
                F.expr(f"substring({col}, segment_index * {size} + 1, {size})"),
            ).drop(col)
        }

    # ------------------------------------------------- record plumbing ---
    if ptype == "ConvertRecord":
        fmt = (props.get("Record Writer Format") or "json").lower()
        if fmt == "json":
            out = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
        elif fmt == "csv":
            out = F.concat_ws(
                ",", *[F.col(c).cast("string") for c in df.columns]
            )
        else:
            raise FlowImportError(
                f"{name}: ConvertRecord writer {fmt!r} not in scoped import"
            )
        return {"success": df.withColumn("content", out)}

    if ptype == "PartitionRecord":
        from apache_nifi_spark.operators.aggregate import partition_record

        keys = [
            c.strip()
            for c in (props.get("Partition Columns") or "").split(",")
            if c.strip()
        ]
        if not keys:
            raise FlowImportError(f"{name}: PartitionRecord needs 'Partition Columns'")
        return {"success": partition_record(df, keys)}

    if ptype == "EnforceOrder":
        from apache_nifi_spark.operators.window import enforce_order

        group = props.get("Group Identifier")
        order = props.get("Order Column")
        if not group or not order:
            raise FlowImportError(
                f"{name}: EnforceOrder needs 'Group Identifier' + 'Order Column'"
            )
        return {"success": enforce_order(df, group, order)}

    if ptype == "DeduplicateRecord":
        from apache_nifi_spark.operators.aggregate import deduplicate_record

        keys = [
            c.strip()
            for c in (props.get("Deduplication Keys") or "").split(",")
            if c.strip()
        ]
        if not keys:
            raise FlowImportError(f"{name}: DeduplicateRecord needs 'Deduplication Keys'")
        return {
            "success": deduplicate_record(
                df, keys, keep_order_col=props.get("Order Column")
            )
        }

    if ptype == "SampleRecord":
        from apache_nifi_spark.operators import sample as _sample

        strategy = props.get("Sampling Strategy", "Interval Sampling")
        order = props.get("Order Column")
        if "Interval" in strategy:
            if not order:
                raise FlowImportError(f"{name}: interval sampling needs 'Order Column'")
            n = int(props.get("Sampling Interval", "10"))
            return {"success": _sample.sample_interval(df, F.col(order), n)}
        if "Probabilistic" in strategy:
            frac = float(props.get("Sampling Probability", "0.1"))
            return {"success": _sample.sample_probabilistic(df, frac)}
        if "Reservoir" in strategy:
            k = int(props.get("Reservoir Size", "100"))
            key = F.col(order) if order else None
            return {"success": _sample.sample_reservoir(df, k, order_key=key)}
        raise FlowImportError(f"{name}: unknown sampling strategy {strategy!r}")

    if ptype == "ControlRate":
        from apache_nifi_spark.operators.sample import control_rate_limit

        group = props.get("Rate Controlled Attribute")
        order = props.get("Order Column")
        per = int(props.get("Maximum Rate", "3"))
        if not group or not order:
            raise FlowImportError(
                f"{name}: ControlRate needs 'Rate Controlled Attribute' + 'Order Column'"
            )
        return {"success": control_rate_limit(df, F.col(group), F.col(order), per)}

    # ------------------------------------------------ attribute / json ---
    if ptype == "FlattenJson":
        from apache_nifi_spark.operators.transform import flatten_json

        return {"success": flatten_json(df)}

    if ptype == "EvaluateJsonPath":
        col = props.get("Column", "content")
        derived = {
            out: F.get_json_object(F.col(col), path)
            for out, path in _dynamic(props, ptype).items()
        }
        if not derived:
            raise FlowImportError(f"{name}: EvaluateJsonPath needs JSONPath properties")
        return {"matched": df.withColumns(derived)}

    if ptype == "AttributesToJSON":
        from apache_nifi_spark.operators.transform import attributes_to_json

        cols = [
            c.strip()
            for c in (props.get("Attributes List") or "").split(",")
            if c.strip()
        ] or df.columns
        return {
            "success": attributes_to_json(
                df, cols, out_col=props.get("Destination Attribute", "json")
            )
        }

    if ptype == "AttributesToCSV":
        from apache_nifi_spark.operators.transform import attributes_to_csv

        cols = [
            c.strip()
            for c in (props.get("Attributes List") or "").split(",")
            if c.strip()
        ] or df.columns
        return {
            "success": attributes_to_csv(
                df, cols, out_col=props.get("Destination Attribute", "csv")
            )
        }

    if ptype == "FilterAttribute":
        from apache_nifi_spark.operators.transform import filter_attributes

        col = props.get("Column", "attributes")
        pattern = props.get("Attribute Pattern")
        if not pattern:
            raise FlowImportError(f"{name}: FilterAttribute needs 'Attribute Pattern'")
        return {
            "success": filter_attributes(
                df, col, pattern, mode=props.get("Filter Mode", "retain")
            )
        }

    # --------------------------------------------------- content codecs ---
    if ptype == "CompressContent":
        from apache_nifi_spark.operators.content import (
            compress_content,
            decompress_content,
        )

        col = props.get("Column", "content")
        codec = props.get("Compression Format", "gzip")
        fn = (
            decompress_content
            if props.get("Mode", "compress") == "decompress"
            else compress_content
        )
        return {"success": fn(df, col, codec)}

    if ptype == "EncodeContent":
        col = props.get("Column", "content")
        enc = props.get("Encoding", "base64")
        mode = props.get("Mode", "encode")
        c = F.col(col)
        if enc == "base64":
            # Spark's base64 may emit MIME-chunked output (CRLF every 76
            # chars, SPARK-47307); strip to canonical RFC 4648 form.
            out = (
                F.regexp_replace(F.base64(c.cast("binary")), "\r\n", "")
                if mode == "encode"
                else F.unbase64(c).cast("string")
            )
        elif enc in ("hex", "base16"):
            out = (
                F.hex(c.cast("binary"))
                if mode == "encode"
                else F.unhex(c).cast("string")
            )
        else:
            raise FlowImportError(f"{name}: unsupported encoding {enc!r}")
        return {"success": df.withColumn(col, out)}

    if ptype in ("CryptographicHashContent", "HashContent", "HashAttribute"):
        col = props.get("Column", "content")
        algo = props.get("Hash Algorithm", "SHA-256").upper().replace("-", "")
        c = F.col(col).cast("binary")
        if algo == "MD5":
            out = F.md5(c)
        elif algo in ("SHA256", "SHA512", "SHA224", "SHA384"):
            out = F.sha2(c, int(algo[3:]))
        else:
            raise FlowImportError(f"{name}: unsupported hash {algo!r}")
        dest = props.get("Hash Attribute", f"{col}_hash")
        return {"success": df.withColumn(dest, out)}

    if ptype == "ModifyBytes":
        col = props.get("Column", "content")
        start = int(props.get("Start Offset", "0"))
        end = int(props.get("End Offset", "0"))
        c = F.col(col).cast("binary")
        keep = F.greatest(F.length(c) - F.lit(start + end), F.lit(0))
        return {
            "success": df.withColumn(
                col, F.expr(
                    f"substring(cast({col} as binary), {start + 1}, "
                    f"greatest(octet_length(cast({col} as binary)) - {start + end}, 0))"
                ).cast("string"),
            ).withColumn(f"{col}_len", keep.cast("int"))
        }

    if ptype == "ConvertCharacterSet":
        from apache_nifi_spark.operators.transform import convert_character_set

        return {
            "success": convert_character_set(
                df,
                props.get("Column", "content"),
                props.get("Input Character Set", "UTF-8"),
                props.get("Output Character Set", "UTF-8"),
            )
        }

    # -------------------------------------------------- parse / extract ---
    if ptype == "JoltTransformJSON":
        spec = json.loads(props.get("Jolt Specification") or "{}")
        if not spec:
            raise FlowImportError(f"{name}: JoltTransformJSON needs 'Jolt Specification'")
        if isinstance(spec, list):
            # The real NiFi spec shape: an operations chain
            # ([{"operation": "shift"|"default"|"remove", "spec": ...}])
            # applied to the JSON content column — columnar when the
            # spec is literal-path, interpreter for wildcards
            # (functions/jolt.py).
            from apache_nifi_spark.functions.jolt import jolt_transform_json

            return {
                "success": jolt_transform_json(
                    df, spec, props.get("Column", "content")
                )
            }
        # Scoped shift: {"outField": "sourceColumn"} → nested via dots.
        fields = [F.col(src).alias(out) for out, src in spec.items()]
        return {"success": df.withColumn("content", F.to_json(F.struct(*fields)))}

    if ptype == "ExtractGrok":
        col = props.get("Column", "line")
        grok = props.get("Grok Expression")
        if not grok:
            raise FlowImportError(f"{name}: ExtractGrok needs 'Grok Expression'")
        regex, groups = _compile_grok(grok)
        derived = {}
        for i, (gname, cast) in enumerate(groups, start=1):
            c = F.regexp_extract(F.col(col), regex, i)
            derived[gname] = c.cast(cast) if cast else c
        return {"matched": df.withColumns(derived)}

    if ptype == "ParseSyslog":
        from apache_nifi_spark.operators.transform import parse_syslog

        return {"success": parse_syslog(df, col=props.get("Column", "line"))}

    if ptype == "ParseSyslog5424":
        from apache_nifi_spark.operators.transform import parse_syslog_5424

        return {"success": parse_syslog_5424(df, col=props.get("Column", "line"))}

    if ptype == "CalculateRecordStats":
        from apache_nifi_spark.operators.aggregate import calculate_record_stats

        cats = [
            c.strip()
            for c in (props.get("Categories") or "").split(",")
            if c.strip()
        ]
        if not cats:
            raise FlowImportError(f"{name}: CalculateRecordStats needs 'Categories'")
        return {"success": calculate_record_stats(df, cats)}

    if ptype == "RenameRecordField":
        from apache_nifi_spark.operators.transform import rename_fields

        renames = _dynamic(props, ptype)
        if not renames:
            raise FlowImportError(f"{name}: RenameRecordField needs rename properties")
        return {"success": rename_fields(df, renames)}

    if ptype == "RemoveRecordField":
        from apache_nifi_spark.operators.transform import remove_fields

        fields = [
            c.strip() for c in (props.get("Fields") or "").split(",") if c.strip()
        ]
        if not fields:
            raise FlowImportError(f"{name}: RemoveRecordField needs 'Fields'")
        return {"success": remove_fields(df, fields)}

    if ptype == "UpdateRecord":
        from apache_nifi_spark.functions.el_parser import el_select

        exprs = dict(_dynamic(props, ptype))
        if not exprs:
            raise FlowImportError(f"{name}: UpdateRecord needs EL properties")
        return {"success": el_select(df, exprs)}

    # ------------------------------------------------------- scan / log ---
    if ptype == "ScanAttribute":
        attr = props.get("Attribute")
        terms = [
            t.strip() for t in (props.get("Dictionary") or "").split(",") if t.strip()
        ]
        if not attr or not terms:
            raise FlowImportError(f"{name}: ScanAttribute needs 'Attribute' + 'Dictionary'")
        hit = F.col(attr).cast("string").isin(terms)
        return {"matched": df.filter(hit), "unmatched": df.filter(~hit)}

    if ptype == "ScanContent":
        col = props.get("Column", "content")
        terms = [
            t.strip() for t in (props.get("Dictionary") or "").split(",") if t.strip()
        ]
        if not terms:
            raise FlowImportError(f"{name}: ScanContent needs 'Dictionary'")
        hit = None
        for t in terms:
            p = F.col(col).contains(t)
            hit = p if hit is None else (hit | p)
        return {"matched": df.filter(hit), "unmatched": df.filter(~hit)}

    if ptype == "IdentifyMimeType":
        from apache_nifi_spark.llm.multimodal import identify_mime_type

        return {"success": identify_mime_type(df, props.get("Column", "content"))}

    if ptype in ("LogAttribute", "LogMessage"):
        return {"success": df}

    # ------------------------------------------------------------- sinks ---
    if ptype in ("PublishKafka", "PublishKafkaRecord"):
        bus_dir = props.get("Bus Directory")
        topic = props.get("Topic Name", "flow-out")
        if bus_dir:
            from apache_nifi_spark.streaming.kafka_bus import FileKafkaBus

            key_field = props.get("Message Key Field")
            bus = FileKafkaBus(bus_dir)
            rendered = df.select(
                *([F.col(key_field)] if key_field else []),
                F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
            )
            bus.publish(rendered, topic, key_col=key_field, value_col="value")
        return {"success": df}

    if ptype == "PublishMQTT":
        broker = props.get("Broker URI", "")
        topic_col = props.get("Topic Column")
        payload_col = props.get("Payload Column", "content")
        if not broker.startswith("tcp://"):
            raise FlowImportError(
                f"{name}: PublishMQTT needs a tcp:// Broker URI, got {broker!r}"
            )
        if not topic_col:
            raise FlowImportError(f"{name}: PublishMQTT needs 'Topic Column'")
        from apache_nifi_spark.streaming.mqtt import publish_mqtt

        host, _, port = broker[len("tcp://"):].partition(":")
        # pinned: success/failure must share ONE broker publish (the
        # RemoteInputPort lesson — two lineages would publish twice)
        out = publish_mqtt(
            df, host, int(port or "1883"), topic_col, payload_col
        ).localCheckpoint(eager=False)
        return {
            "success": out.filter(F.col("published")).drop("published"),
            "failure": out.filter(~F.col("published")).drop("published"),
        }

    if ptype == "PublishAMQP":
        broker = props.get("Broker URI", "")
        exchange = props.get("Exchange Name", "")
        rk_col = props.get("Routing Key Column")
        payload_col = props.get("Payload Column", "content")
        if not broker.startswith("amqp://"):
            raise FlowImportError(
                f"{name}: PublishAMQP needs an amqp:// Broker URI, got {broker!r}"
            )
        if not rk_col:
            raise FlowImportError(f"{name}: PublishAMQP needs 'Routing Key Column'")
        from apache_nifi_spark.streaming.amqp_wire import publish_amqp

        host, _, port = broker[len("amqp://"):].partition(":")
        # pinned: success/failure must share ONE broker publish (the
        # RemoteInputPort lesson — two lineages would publish twice)
        out = publish_amqp(
            df, host, int(port or "5672"), exchange, rk_col, payload_col
        ).localCheckpoint(eager=False)
        return {
            "success": out.filter(F.col("published")).drop("published"),
            "failure": out.filter(~F.col("published")).drop("published"),
        }

    if ptype in ("PutDatabaseRecord", "PutSQL"):
        url = props.get("JDBC URL")
        table = props.get("Table Name")
        if url and table:
            from apache_nifi_spark.sources.formats import jdbc_write

            jdbc_write(df, url, table)
        return {"success": df}

    # ------------------------------------- round-7 importer widening ---
    # Close the gap between "implemented in the engine" and "importable
    # from a flow.json": each branch below wires an existing operator.
    if ptype == "LookupAttribute":
        from apache_nifi_spark.operators.join import lookup_record

        table = props.get("Lookup Table")
        key = props.get("Lookup Key")
        if table not in io.TABLES or not key:
            raise FlowImportError(
                f"{name}: LookupAttribute needs 'Lookup Table' (fixture) + 'Lookup Key'"
            )
        dim = io.load_table(spark, sf_dir, table)
        cols = [
            c.strip()
            for c in (props.get("Lookup Columns") or "").split(",")
            if c.strip()
        ]
        if cols:
            dim = dim.select(key, *cols)
        src = props.get("Source Column", key)
        joined = lookup_record(
            df, dim.withColumnRenamed(key, src), on=src, how="left"
        )
        probe = cols[0] if cols else src
        return {
            "matched": joined.filter(F.col(probe).isNotNull()),
            "unmatched": joined.filter(F.col(probe).isNull()),
        }

    if ptype == "EvaluateXPath":
        from apache_nifi_spark.operators.transform import evaluate_xpath

        col = props.get("Column", "content")
        paths = {
            k: v
            for k, v in props.items()
            if k not in ("Column", "Destination", "Return Type")
        }
        if not paths:
            raise FlowImportError(f"{name}: EvaluateXPath needs XPath properties")
        return {"matched": evaluate_xpath(df, col, paths)}

    if ptype == "EvaluateXQuery":
        from apache_nifi_spark.functions.xquery import evaluate_xquery

        col = props.get("Column", "content")
        queries = {k: v for k, v in props.items() if k != "Column"}
        if not queries:
            raise FlowImportError(f"{name}: EvaluateXQuery needs XQuery properties")
        return {"matched": evaluate_xquery(df, col, queries)}

    if ptype == "GeoEnrichIP":
        from apache_nifi_spark.operators.join import range_join

        table = props.get("Range Table")
        point = props.get("Point Column")
        lo = props.get("Range Lo")
        hi = props.get("Range Hi")
        if table not in io.TABLES or not (point and lo and hi):
            raise FlowImportError(
                f"{name}: GeoEnrichIP needs 'Range Table' (fixture) + "
                "'Point Column'/'Range Lo'/'Range Hi'"
            )
        dim = io.load_table(spark, sf_dir, table)
        # lo/hi/point accept SQL expressions (MaxMind-style range tables
        # rarely store bounds in final form)
        return {
            "found": range_join(df, dim, F.expr(point), F.expr(lo), F.expr(hi))
        }

    if ptype in ("EncryptContent", "DecryptContent"):
        key = props.get("Key")
        col = props.get("Column", "content")
        mode = props.get("Cipher Mode", "GCM")
        if not key:
            raise FlowImportError(f"{name}: {ptype} needs 'Key'")
        if mode not in ("GCM", "CBC", "ECB"):
            raise FlowImportError(f"{name}: unsupported 'Cipher Mode' {mode!r}")
        # key/mode pass as literal Columns, never spliced into SQL text —
        # a key containing a quote must not break (or rewrite) the plan
        if ptype == "EncryptContent":
            out_col = F.call_function(
                "aes_encrypt", F.col(col).cast("binary"), F.lit(key), F.lit(mode)
            )
        else:
            out_col = F.call_function(
                "aes_decrypt", F.col(col), F.lit(key), F.lit(mode)
            ).cast("string")
        return {"success": df.withColumn(col, out_col)}

    if ptype == "ParseNetflowv5":
        from apache_nifi_spark.functions.netflow import parse_netflow5

        return {"success": parse_netflow5(df, props.get("Column", "packet"))}

    if ptype == "ExtractHL7Attributes":
        from apache_nifi_spark.functions.hl7 import extract_hl7_attributes

        return {"success": extract_hl7_attributes(df, props.get("Column", "content"))}

    if ptype == "GetHTMLElement":
        from apache_nifi_spark.functions.html_elements import extract_html_elements

        selector = props.get("CSS Selector")
        if not selector:
            raise FlowImportError(f"{name}: GetHTMLElement needs 'CSS Selector'")
        return {
            "element": extract_html_elements(
                df,
                selector,
                content_col=props.get("Column", "html"),
                id_col=props.get("Id Column", "id"),
            )
        }

    if ptype == "ModifyHTMLElement":
        from apache_nifi_spark.functions.html_elements import modify_html_elements

        selector = props.get("CSS Selector")
        if not selector:
            raise FlowImportError(f"{name}: ModifyHTMLElement needs 'CSS Selector'")
        set_attr = None
        if props.get("Attribute Name"):
            set_attr = (props["Attribute Name"], props.get("Attribute Value", ""))
        return {
            "success": modify_html_elements(
                df,
                selector,
                content_col=props.get("Column", "html"),
                set_attr=set_attr,
                set_text=props.get("Modified Value"),
            )
        }

    if ptype == "ExtractEmailHeaders":
        from apache_nifi_spark.sources.email_codec import parse_email_headers

        return {
            "success": parse_email_headers(
                df,
                content_col=props.get("Column", "message"),
                id_col=props.get("Id Column"),
            )
        }

    if ptype == "ExtractEmailAttachments":
        from apache_nifi_spark.sources.email_codec import extract_email_attachments

        return {
            "attachments": extract_email_attachments(
                df,
                content_col=props.get("Column", "message"),
                id_col=props.get("Id Column", "id"),
            )
        }

    if ptype == "ConvertExcelToCSVProcessor":
        from apache_nifi_spark.sources.excel_codec import excel_to_records

        schema = props.get("Element Schema")
        if not schema:
            raise FlowImportError(
                f"{name}: ConvertExcelToCSVProcessor needs 'Element Schema' (DDL)"
            )
        return {
            "success": excel_to_records(df, props.get("Column", "content"), schema)
        }

    if ptype == "UnpackContent":
        from apache_nifi_spark.operators.content import unpack_content_zip

        return {
            "success": unpack_content_zip(
                df,
                id_col=props.get("Id Column", "id"),
                archive_col=props.get("Column", "content"),
            )
        }

    if ptype == "MonitorActivity":
        from apache_nifi_spark.operators.window import monitor_activity

        ts = props.get("Timestamp Column", "ts")
        groups = [
            g.strip() for g in (props.get("Group Columns") or "").split(",") if g.strip()
        ]
        threshold = int(props.get("Threshold Duration Seconds", "300"))
        return {"inactive": monitor_activity(df, ts, groups, threshold)}

    if ptype == "AttributeRollingWindow":
        from apache_nifi_spark.operators.window import rolling_window

        group = props.get("Group Column")
        order = props.get("Order Column")
        value = props.get("Value to Track")
        if not (group and order and value):
            raise FlowImportError(
                f"{name}: AttributeRollingWindow needs "
                "'Group Column'/'Order Column'/'Value to Track'"
            )
        n = int(props.get("Window Size", "10"))
        return {"success": rolling_window(df, group, order, value, preceding=n - 1)}

    raise FlowImportError(
        f"{name}: unsupported processor type {ptype!r} (scoped import; see module doc)"
    )


#: grok pattern → (regex fragment, spark cast type or None)
_GROK_PATTERNS = {
    "WORD": (r"\w+", None),
    "NOTSPACE": (r"\S+", None),
    "DATA": (r".*?", None),
    "GREEDYDATA": (r".*", None),
    "INT": (r"[+-]?\d+", "long"),
    "NUMBER": (r"[+-]?\d+(?:\.\d+)?", "double"),
    "IP": (r"\d{1,3}(?:\.\d{1,3}){3}", None),
    "LOGLEVEL": (r"TRACE|DEBUG|INFO|WARN|ERROR|FATAL", None),
    "UUID": (r"[0-9a-fA-F-]{36}", None),
}


def _compile_grok(expr: str) -> tuple[str, list[tuple[str, str | None]]]:
    """Compile a ``%{PATTERN:name}`` grok expression to one regex with
    ordered capture groups (public grok semantics; each named pattern
    becomes a capturing group, literals pass through escaped).  An
    unnamed ``%{PATTERN}`` token — common as a separator — compiles to a
    NON-capturing group instead of being escaped into literal text
    (which would silently never match)."""
    import re as _re

    groups: list[tuple[str, str | None]] = []
    out: list[str] = []
    pos = 0
    for m in _re.finditer(r"%\{(\w+)(?::(\w+))?\}", expr):
        out.append(_re.escape(expr[pos:m.start()]))
        pat, gname = m.group(1), m.group(2)
        if pat not in _GROK_PATTERNS:
            raise FlowImportError(f"unknown grok pattern %{{{pat}}}")
        rx, cast = _GROK_PATTERNS[pat]
        if gname:
            out.append(f"({rx})")
            groups.append((gname, cast))
        else:
            out.append(f"(?:{rx})")
        pos = m.end()
    out.append(_re.escape(expr[pos:]))
    return "".join(out), groups
