"""JoltTransformJSON (§2.4 [2.7.2-surface]): the Jolt operations-chain
spec language over JSON documents.

Scope (documented subset of public Jolt):

- ``shift``  — nested spec mirroring the INPUT tree; leaf values are
  output paths (string or list of strings, dot-separated).  ``*``
  wildcard keys and ``&`` / ``&0`` / ``&1`` back-references are
  supported by the interpreter tier; literal-only specs compile
  columnar.
- ``default`` — nested spec of values applied where absent (never
  overwrites).
- ``remove``  — nested spec; a leaf (any value) deletes that key; ``*``
  deletes all.
- unsupported operations (``cardinality``, ``sort``, ``modify-*``)
  raise at compile time.

Two execution tiers, chosen automatically:

1. **Columnar** (preferred): a chain whose shift uses only literal keys
   and which starts with ``shift`` compiles to ONE Spark expression —
   ``try_parse_json`` → per-leaf ``try_variant_get`` → nested
   ``struct`` → ``to_json``.  Missing inputs vanish from the output
   (``to_json`` omits nulls), exactly Jolt's shift semantics.  Map-only,
   JVM-side, one JSON parse per row.
2. **Interpreter** (fallback): wildcard/back-reference specs run the
   pure-Python reference interpreter under ``io.with_columns`` (Arrow
   batches, one ``json.loads``/``dumps`` per row) — the same interpreter the
   tests use as the differential reference for tier 1.

Scale: both tiers are map-only over the scan; tier 1 rides whole-stage
codegen paths, tier 2 is Arrow-batched Python at parser cost.
"""

from __future__ import annotations

import json
import re
from typing import Any

from pyspark.sql import Column, DataFrame

__all__ = ["jolt_reference", "jolt_columnar", "jolt_transform_json"]

_SUPPORTED_OPS = ("shift", "default", "remove")
_AMP_RX = re.compile(r"&(\d*)")


def _validate_chain(operations: list[dict]) -> None:
    for op in operations:
        kind = op.get("operation")
        if kind not in _SUPPORTED_OPS:
            raise ValueError(
                f"unsupported Jolt operation {kind!r} (supported: {_SUPPORTED_OPS})"
            )
        if not isinstance(op.get("spec"), dict):
            raise ValueError(f"Jolt {kind!r} operation needs a dict 'spec'")


# ------------------------------------------------------- interpreter tier ---


def _put(out: dict, path: str, value: Any, matched: list[str]) -> None:
    """Write ``value`` at a dot-separated output path, resolving ``&N``
    back-references against the matched-key stack (``&``/``&0`` = the
    nearest match, ``&1`` one level up)."""

    def resolve(seg: str) -> str:
        return _AMP_RX.sub(
            lambda m: matched[-1 - int(m.group(1) or 0)], seg
        )

    segs = [resolve(s) for s in path.split(".")]
    node = out
    for s in segs[:-1]:
        nxt = node.setdefault(s, {})
        if not isinstance(nxt, dict):
            # a scalar was written here by an earlier leaf; descending
            # wins (last-writer semantics) rather than raising mid-batch
            node[s] = nxt = {}
        node = nxt
    node[segs[-1]] = value


def _shift(data: Any, spec: dict, out: dict, matched: list[str]) -> None:
    if not isinstance(data, dict):
        return
    for key, value in data.items():
        sub = spec.get(key)
        if sub is None and "*" in spec:  # literal match beats the wildcard
            sub = spec["*"]
        if sub is None:
            continue
        matched.append(key)
        if isinstance(sub, dict):
            _shift(value, sub, out, matched)
        elif isinstance(sub, list):
            for path in sub:
                _put(out, path, value, matched)
        else:
            _put(out, sub, value, matched)
        matched.pop()


def _default(data: dict, spec: dict) -> None:
    for key, value in spec.items():
        if isinstance(value, dict):
            node = data.setdefault(key, {})
            if isinstance(node, dict):
                _default(node, value)
        elif key not in data:
            data[key] = value


def _remove(data: dict, spec: dict) -> None:
    for key, value in spec.items():
        targets = list(data) if key == "*" else ([key] if key in data else [])
        for t in targets:
            if isinstance(value, dict):
                if isinstance(data[t], dict):
                    _remove(data[t], value)
            else:
                del data[t]


def jolt_reference(doc: Any, operations: list[dict]) -> Any:
    """Pure-Python Jolt-subset interpreter (also the io.with_columns
    fallback body)."""
    _validate_chain(operations)
    for op in operations:
        kind, spec = op["operation"], op["spec"]
        if kind == "shift":
            out: dict = {}
            _shift(doc, spec, out, [])
            doc = out
        elif kind == "default":
            if isinstance(doc, dict):
                _default(doc, spec)
        elif kind == "remove":
            if isinstance(doc, dict):
                _remove(doc, spec)
    return doc


# --------------------------------------------------------- columnar tier ---


class _Fallback(Exception):
    """Spec construct outside the columnar subset — use the interpreter."""


class _Leaf:
    __slots__ = ("path",)

    def __init__(self, path: str):
        self.path = path  # '$.a.b' into the source document


class _Lit:
    __slots__ = ("value",)

    def __init__(self, value: Any):
        self.value = value


def _literal_shift_pairs(spec: dict, in_path: str, pairs: list) -> bool:
    """Collect (input variant path, output dot path) pairs; False if the
    spec needs the interpreter (wildcards / back-references)."""
    for key, sub in spec.items():
        if "*" in key or "&" in key:
            return False
        path = f"{in_path}.{key}"
        if isinstance(sub, dict):
            if not _literal_shift_pairs(sub, path, pairs):
                return False
        else:
            outs = sub if isinstance(sub, list) else [sub]
            for o in outs:
                if "&" in o or "*" in o or "[" in o:
                    return False
                pairs.append((path, o))
    return True


def jolt_columnar(doc_col: str, operations: list[dict]) -> Column | None:
    """One Spark expression for a literal chain starting with shift, or
    ``None`` when the spec needs the interpreter tier."""
    from pyspark.sql import functions as F

    _validate_chain(operations)
    if not operations or operations[0]["operation"] != "shift":
        return None  # tree unknown before the first shift
    pairs: list[tuple[str, str]] = []
    if not _literal_shift_pairs(operations[0]["spec"], "$", pairs):
        return None

    tree: dict = {}

    def put_tree(path: str, node) -> None:
        segs = path.split(".")
        cur = tree
        for s in segs[:-1]:
            nxt = cur.setdefault(s, {})
            if not isinstance(nxt, dict):
                cur[s] = nxt = {}
            cur = nxt
        cur[segs[-1]] = node

    def get_subtree(path: str):
        cur = tree
        for s in path.split("."):
            if not isinstance(cur, dict) or s not in cur:
                return None
            cur = cur[s]
        return cur

    for in_path, out_path in pairs:
        put_tree(out_path, _Leaf(in_path))

    for op in operations[1:]:
        kind, spec = op["operation"], op["spec"]

        def walk_default(node: dict, s: dict) -> None:
            for k, v in s.items():
                if "*" in k or "&" in k:
                    raise _Fallback()
                if isinstance(v, dict):
                    if isinstance(node.get(k), _Leaf):
                        # the shifted value's runtime type is unknown at
                        # compile time; the interpreter descends when it
                        # turns out to be a dict — cannot express columnar
                        raise _Fallback()
                    sub = node.setdefault(k, {})
                    if isinstance(sub, dict):
                        walk_default(sub, v)
                elif k not in node:
                    node[k] = _Lit(v)
                elif isinstance(node[k], _Leaf):
                    # shifted key may be absent at runtime, in which case
                    # the default fills it — presence unknown columnar
                    raise _Fallback()

        def walk_remove(node: dict, s: dict) -> None:
            for k, v in s.items():
                if "*" in k or "&" in k:
                    raise _Fallback()
                if k not in node:
                    continue
                if isinstance(v, dict):
                    if isinstance(node[k], _Leaf):
                        raise _Fallback()  # runtime type unknown, see above
                    if isinstance(node[k], dict):
                        walk_remove(node[k], v)
                else:
                    del node[k]

        try:
            if kind == "default":
                walk_default(tree, spec)
            elif kind == "remove":
                walk_remove(tree, spec)
            else:
                return None  # a second shift re-reads the intermediate doc
        except _Fallback:
            return None

    root = F.try_parse_json(F.col(doc_col))

    def all_absent(node) -> Column:
        """True when nothing under this node exists in the input and no
        default contributes — the subtree must then be OMITTED (Jolt
        writes nothing for unmatched shifts), not serialized as ``{}``.
        Re-evaluates leaf variant-gets once per ancestor level; spec
        depth is small (2–3), so the duplication factor is bounded."""
        if isinstance(node, _Leaf):
            return F.try_variant_get(root, node.path, "variant").isNull()
        if isinstance(node, _Lit):
            return F.lit(False)
        pred = None
        for v in node.values():
            p = all_absent(v)
            pred = p if pred is None else pred & p
        return pred if pred is not None else F.lit(True)

    def build(node) -> Column:
        if isinstance(node, _Leaf):
            return F.try_variant_get(root, node.path, "variant")
        if isinstance(node, _Lit):
            return F.lit(node.value)
        s = F.struct(*[build(v).alias(k) for k, v in node.items()])
        # null struct → to_json omits the field entirely
        return F.when(~all_absent(node), s)

    body = (
        F.coalesce(F.to_json(build(tree)), F.lit("{}")) if tree else F.lit("{}")
    )
    # unparseable content → null result, identical to the interpreter tier
    return F.when(root.isNotNull(), body)


def jolt_transform_json(
    df: DataFrame, operations: list[dict], content_col: str = "content"
) -> DataFrame:
    """The processor surface: rewrite ``content_col`` through the chain,
    columnar when the spec allows, interpreter otherwise."""
    col = jolt_columnar(content_col, operations)
    if col is not None:
        return df.withColumn(content_col, col)

    from apache_nifi_spark.io import with_columns

    def run(batches):
        for (raws,) in batches:
            outs = []
            for raw in raws:
                try:
                    doc = json.loads(raw) if raw is not None else None
                except (TypeError, ValueError):
                    doc = None
                if doc is None:
                    outs.append(None)
                    continue
                outs.append(
                    json.dumps(
                        jolt_reference(doc, operations), separators=(",", ":")
                    )
                )
            yield outs,

    return with_columns(df, [content_col], run, f"`{content_col}` string")
