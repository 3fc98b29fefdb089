"""Convert a Spark *parsed* (unresolved) logical plan into Python nodes.

One ``toJSON()`` call per statement carries the whole tree across
py4j; the ``Node`` tree is built in Python from its pre-order arrays,
and everything downstream (resolution, rendering, lineage) is pure
Python.  The JSON leaves out three things the analyzer needs, and only
those are fetched from the JVM, per node, through a handle reached by
getters from the plan root (memoized per statement):

* Catalyst's ``Origin`` (startIndex / stopIndex into the statement),
  read only where the renderer reads ``src``: literals, subqueries and
  unknown (``Opaque``) expressions.  The slice is what lets the
  renderer reproduce literals exactly as written (``"Category159"``
  keeps its double quotes, ``'$V_PARYMD'`` its single quotes — the
  reference emits raw token text, reference README.md:523-526);
* a ``Seq[String]`` name the JSON flattens ambiguously to ``"[x, y]"``:
  a quoted part holding ``", "``, or a list cut at
  ``spark.sql.maxToStringFields``;
* the ``INSERT OVERWRITE DIRECTORY`` path (a URI, written as ``null``).

Rarer still, a literal's value is fetched when its JSON text is not
what py4j returns (dates, timestamps), and a join type's ``sql()``
when the type is not a plain object.

This and the catalog metastore are the only JVM boundaries of the
analysis plane; like the reference's ``ParseDriver.parse``
(README.md:747-750) it never touches executors.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession


@dataclass
class Node:
    """A parsed plan/expression node, detached from the JVM."""

    cls: str
    fields: dict[str, Any] = field(default_factory=dict)
    children: list["Node"] = field(default_factory=list)
    src: str | None = None  # exact source slice, expressions only

    def __getitem__(self, key: str) -> Any:
        return self.fields[key]

    def get(self, key: str, default: Any = None) -> Any:
        return self.fields.get(key, default)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt(jopt):
    return jopt.get() if jopt.isDefined() else None


#: ``Origin(line, startPosition, startIndex, stopIndex, sqlText, …)``
_ORIGIN_RE = re.compile(
    r"Origin\((?:None|Some\(\d+\)),(?:None|Some\(\d+\)),"
    r"(?:None|Some\((\d+)\)),(?:None|Some\((\d+)\)),"
)


def _src_of(jnode, sql: str) -> str | None:
    """The statement text ``jnode`` was parsed from, in two py4j calls.
    None only when its ``Origin`` carries no indices: a py4j error
    propagates, and an ``Origin`` text that does not parse raises —
    either would otherwise drop a literal's quoting from the output."""
    text = jnode.origin().toString()
    m = _ORIGIN_RE.match(text)
    if m is None:
        raise ValueError(f"unparsable Catalyst origin: {text[:200]!r}")
    start, stop = m.groups()
    if start is None or stop is None:
        return None
    return sql[int(start) : int(stop) + 1]


def _simple_name(binary_name: str) -> str:
    """``Class.getSimpleName`` of a JVM binary class name: package and
    enclosing classes dropped, a Scala object's trailing ``$`` kept."""
    name = binary_name.rsplit(".", 1)[-1]
    return name.rstrip("$").rsplit("$", 1)[-1] + ("$" if name.endswith("$") else "")


#: Quoted tokens: a name part can hold ", " only inside backquotes (or
#: double quotes, under ANSI double-quoted identifiers).  A string
#: literal in double quotes matches too, which costs only a fetch.
_QUOTED_RE = re.compile(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|`(?:[^`]|``)*`")
#: ``truncatedString``'s tail when a Seq outgrows maxToStringFields
_TRUNCATED_RE = re.compile(r"\.\.\. \d+ more fields\Z")


@dataclass
class _J:
    """One node of the JSON tree, with the getter path (``("f", name)``
    call, ``("i", k)`` Seq index, ``("o", None)`` Option value) that
    reaches its JVM object from the statement's plan root."""

    cls: str
    f: dict[str, Any]
    kids: list["_J"]
    path: tuple


def _tree(arr: list[dict], path: tuple) -> _J:
    """Rebuild a ``TreeNode.toJSON`` pre-order array into a tree.  A
    leaf below the root (literals, subqueries, relations) is reached
    through the root's ``collectLeaves()``, also pre-order: two calls
    at any depth."""
    nodes = iter(arr)
    leaves = path + (("f", "collectLeaves"),)
    n_leaves = 0

    def build(at: tuple) -> _J:
        nonlocal n_leaves
        d = next(nodes)
        n = _J(_simple_name(d["class"]), d, [], at)
        if d["num-children"] == 0 and at != path:
            n.path = leaves + (("i", n_leaves),)
            n_leaves += 1
        kids = at + (("f", "children"),)
        n.kids = [build(kids + (("i", i),)) for i in range(d["num-children"])]
        return n

    return build(path)


#: Plan wrappers that contribute nothing to lineage — unwrapped in place
#: (the reference likewise has no ORDER BY / LIMIT handling,
#: reference README.md §2.8).  Sort is NOT here: it converts to a node
#: so the analyzer's extended-tags mode can emit ``ORDERBY:`` (default
#: mode ignores it, matching the reference).
_PASS_THROUGH = {
    "GlobalLimit", "LocalLimit", "Offset", "Distinct", "UnresolvedHint",
    "WithWindowDefinition",
    # DISTRIBUTE BY / CLUSTER BY: physical placement only, no lineage
    "RepartitionByExpression", "Repartition",
}

_DDL_TARGET_CLASSES = {
    "UnresolvedIdentifier": "nameParts",
    "UnresolvedTable": "multipartIdentifier",
    "UnresolvedTableOrView": "multipartIdentifier",
    "UnresolvedNamespace": "multipartIdentifier",
    "UnresolvedRelation": "multipartIdentifier",
}

_BINARY_OPS = {
    "EqualTo": "=", "EqualNullSafe": "<=>", "GreaterThan": ">",
    "GreaterThanOrEqual": ">=", "LessThan": "<", "LessThanOrEqual": "<=",
    "Add": "+", "Subtract": "-", "Multiply": "*", "Divide": "/", "Remainder": "%",
    "BitwiseAnd": "&", "BitwiseOr": "|", "BitwiseXor": "^",
}

#: Literal types whose JSON text is ``str()`` of the py4j value
_LITERAL_AS_JSON = {"string", "integer", "long", "short", "byte"}


class _Statement:
    """One statement's JSON tree → ``Node`` conversion, with the JVM
    handles of the nodes that needed a per-node fetch."""

    def __init__(self, jplan, sql: str):
        self.sql = sql
        self.handles: dict[tuple, Any] = {(): jplan}
        self.quoted_comma = any(
            t[0] != "'" and ", " in t for t in _QUOTED_RE.findall(sql)
        )

    def handle(self, path: tuple):
        h = self.handles.get(path)
        if h is None:
            h = self.handle(path[:-1])
            kind, arg = path[-1]
            h = getattr(h, arg)() if kind == "f" else h.apply(arg) if kind == "i" else h.get()
            self.handles[path] = h
        return h

    def src(self, n: _J) -> str | None:
        return _src_of(self.handle(n.path), self.sql)

    @staticmethod
    def _path(n: _J, name: str, opt: bool = False) -> tuple:
        return n.path + (("f", name),) + ((("o", None),) if opt else ())

    def sub(self, n: _J, name: str, i: int | None = None, opt: bool = False) -> _J | None:
        """The expression/plan tree held (not as a child) in field
        ``name`` of ``n``; ``i`` indexes a Seq, ``opt`` unwraps an Option."""
        arr, path = n.f.get(name), self._path(n, name, opt)
        if arr is None:
            return None
        if i is not None:
            arr, path = arr[i], path + (("i", i),)
        return _tree(arr, path)

    def subs(self, n: _J, name: str) -> list[_J]:
        return [self.sub(n, name, i) for i in range(len(n.f.get(name) or []))]

    def product(self, n: _J, name: str) -> _J:
        """The case-class value (not a tree) in field ``name`` of ``n``."""
        d = n.f[name]
        cls = _simple_name(d.get("product-class") or d.get("object", ""))
        return _J(cls, d, [], self._path(n, name))

    def names(self, n: _J, name: str, opt: bool = False) -> list[str] | None:
        """A ``Seq[String]`` field, JSON-encoded as ``"[a, b]"``; fetched
        from the JVM when that text does not decode uniquely."""
        value = n.f.get(name)
        if value is None or isinstance(value, list):  # None / empty Seq
            return None if value is None else []
        parts = value[1:-1].split(", ")
        if (len(parts) > 1 and self.quoted_comma) or _TRUNCATED_RE.match(parts[-1]):
            return [str(p) for p in _seq(self.handle(self._path(n, name, opt)))]
        return parts

    def ddl_target(self, n: _J) -> list[str] | None:
        """The multi-part name of a DDL statement's target table, from
        the Unresolved* placeholder among its direct children."""
        for ch in n.kids:
            key = _DDL_TARGET_CLASSES.get(ch.cls)
            if key:
                return self.names(ch, key)
        return None

    def literal_value(self, n: _J) -> str | None:
        """``str()`` of the literal's py4j value — the renderer's fallback
        when the source slice is unusable."""
        value, dtype = n.f["value"], str(n.f["dataType"])  # complex types: a dict
        if value is None:
            return None
        if dtype in _LITERAL_AS_JSON or dtype.startswith("decimal("):
            return value
        if dtype == "boolean":
            return value.title()
        if dtype == "double":
            return str(float(value))
        return str(self.handle(n.path).value())  # dates, timestamps, …

    def assignment(self, a: _J) -> tuple[Node, Node]:
        """``SET key = value`` (an ``Assignment``) as a (key, value) pair."""
        return self.expr(a.kids[a.f["key"]]), self.expr(a.kids[a.f["value"]])

    def plan(self, n: _J) -> Node:
        cls, f, kids = n.cls, n.f, n.kids

        if cls in _PASS_THROUGH:
            return self.plan(kids[0])
        if cls == "UnresolvedRelation":
            return Node("UnresolvedRelation", {"parts": self.names(n, "multipartIdentifier")})
        if cls == "SubqueryAlias":
            return Node("SubqueryAlias", {"alias": f["identifier"]["name"]}, [self.plan(kids[0])])
        if cls == "Project":
            plist = [self.expr(e) for e in self.subs(n, "projectList")]
            return Node("Project", {"exprs": plist}, [self.plan(kids[0])])
        if cls == "Aggregate":
            aggs = [self.expr(e) for e in self.subs(n, "aggregateExpressions")]
            keys = [self.expr(e) for e in self.subs(n, "groupingExpressions")]
            return Node("Aggregate", {"exprs": aggs, "keys": keys}, [self.plan(kids[0])])
        if cls == "Filter":
            cond = self.expr(self.sub(n, "condition"))
            return Node("Filter", {"cond": cond}, [self.plan(kids[0])])
        if cls == "UnresolvedHaving":
            # Distinct node so the analyzer can tag HAVING: (the reference
            # predates HAVING and had only WHERE:/JOIN tags).
            cond = self.expr(self.sub(n, "havingCondition"))
            return Node("Having", {"cond": cond}, [self.plan(kids[0])])
        if cls == "Sort":
            keys = [self.expr(so.kids[0]) for so in self.subs(n, "order")]
            return Node("Sort", {"keys": keys}, [self.plan(kids[0])])
        if cls == "Join":
            jcond = self.sub(n, "condition", opt=True)
            # USING/NATURAL joins carry their keys in the join TYPE
            # (UsingJoin(tpe, cols) / NaturalJoin(tpe)), with condition()
            # undefined — unwrap to the inner type for the label and keep
            # the keys so the analyzer can emit the join-condition tag.
            jtype = self.product(n, "joinType")
            using = self.names(jtype, "usingColumns") if jtype.cls == "UsingJoin" else None
            natural = jtype.cls == "NaturalJoin"
            if using is not None or natural:
                jtype = self.product(jtype, "tpe")
            # Inner→JOIN, FullOuter→FULLOUTERJOIN … — the reference labels
            # joins by stripping TOK_ from the Hive token (README.md:276).
            # A join type object's sql() is its name, spaced: LeftOuter$
            # → "LEFT OUTER"; any other join type is asked for its sql().
            if "object" in jtype.f:
                label = jtype.cls.rstrip("$").upper()
            else:
                label = str(self.handle(jtype.path).sql()).replace(" ", "")
            if label in ("INNER", "CROSS"):
                label = "JOIN"
            elif not label.endswith("JOIN"):
                label += "JOIN"
            fields = {
                "label": label,
                "cond": self.expr(jcond) if jcond is not None else None,
                "using": using,
                "natural": natural,
            }
            return Node("Join", fields, [self.plan(kids[f["left"]]), self.plan(kids[f["right"]])])
        if cls == "Union":
            return Node("Union", {}, [self.plan(c) for c in kids])
        if cls == "UnresolvedWith":
            # WITH ctes (beyond the reference — it predates CTEs): each
            # (name, SubqueryAlias(query)) pair plus the main query child
            ctes = []
            for i, rel in enumerate(f["cteRelations"]):
                path = n.path + (("f", "cteRelations"), ("i", i), ("f", "_2"))
                ctes.append((rel["_1"], self.plan(_tree(rel["_2"], path).kids[0])))
            return Node("With", {"ctes": ctes}, [self.plan(kids[0])])
        if cls == "InsertIntoStatement":
            fields = {
                "table_parts": self.plan(self.sub(n, "table"))["parts"],
                "overwrite": f["overwrite"],
                # lowercase like every other identifier path: a
                # consumer joining edges on to_name case-sensitively
                # must not see default.sink.C2 beside default.sink.c2
                "cols": [c.lower() for c in self.names(n, "userSpecifiedCols")],
            }
            return Node("InsertIntoStatement", fields, [self.plan(kids[f["query"]])])
        if cls in ("UpdateTable", "DeleteFromTable"):
            # condition is Option[Expression] on UpdateTable but a plain
            # Expression on DeleteFromTable — normalize both.
            cond = self.sub(n, "condition", opt=cls == "UpdateTable")
            fields = {"cond": self.expr(cond) if cond is not None else None}
            if cls == "UpdateTable":
                fields["assignments"] = [self.assignment(a) for a in self.subs(n, "assignments")]
            return Node(cls, fields, [self.plan(kids[f["table"]])])
        if cls == "MergeIntoTable":
            # MERGE INTO (beyond the reference): target + source relations,
            # the ON condition, and per-action SET/INSERT assignments
            # (DeleteAction / star actions carry none).
            actions = []
            for seq in ("matchedActions", "notMatchedActions", "notMatchedBySourceActions"):
                for a in self.subs(n, seq):
                    pairs = [self.assignment(a.kids[i]) for i in a.f.get("assignments") or []]
                    actions.append({"kind": a.cls, "assignments": pairs})
            return Node(
                "MergeIntoTable",
                {"cond": self.expr(self.sub(n, "mergeCondition")), "actions": actions},
                [self.plan(kids[f["targetTable"]]), self.plan(kids[f["sourceTable"]])],
            )
        if cls == "ScriptTransformation":
            # Hive TRANSFORM ... USING 'script' (beyond the reference): an
            # opaque row transform — every output column derives from every
            # input expression of the child projection.
            out_names = [a.f["name"].lower() for a in self.subs(n, "output")]
            fields = {"script": f["script"], "out_names": out_names}
            return Node("ScriptTransformation", fields, [self.plan(kids[0])])
        if cls == "Generate":
            # LATERAL VIEW (beyond the reference): generator output columns
            # carry the generator expression's sources.
            outs = [self.expr(a) for a in self.subs(n, "generatorOutput")]
            fields = {
                "alias": f.get("qualifier"),
                "out_names": [o["parts"][-1].lower() for o in outs if o.cls == "Attr"],
                "gen": self.expr(self.sub(n, "generator")),
            }
            return Node("Generate", fields, [self.plan(kids[0])])
        if cls == "CreateTableLikeCommand":
            def _ti_parts(ti: dict) -> list[str]:
                db = ti.get("database")
                return ([db] if db is not None else []) + [ti["table"]]

            return Node("CreateTableLike", {
                "table_parts": _ti_parts(f["targetTable"]),
                "source_parts": _ti_parts(f["sourceTable"]),
            })
        if cls == "InsertIntoDir":
            # INSERT OVERWRITE [LOCAL] DIRECTORY '/path' — the reference's
            # TOK_DIR destination (README.md:211-225); the path is the sink.
            uri = _opt(self.handle(n.path).storage().locationUri())
            path = str(uri) if uri is not None else None
            return Node("InsertIntoDir", {"path": path}, [self.plan(kids[0])])
        if cls == "SetCatalogAndNamespace":
            return Node("Use", {"parts": self.ddl_target(n) or []})
        if cls in ("CreateTableAsSelect", "ReplaceTableAsSelect"):
            fields = {"table_parts": self.names(kids[f["name"]], "nameParts")}
            return Node("CreateTableAsSelect", fields, [self.plan(kids[f["query"]])])
        if cls == "DropTable":
            return Node("DropTable", {"table_parts": self.ddl_target(n)})
        if cls == "TruncateTable":
            return Node("TruncateTable", {"table_parts": self.ddl_target(n)})
        if cls == "LoadData":
            return Node("LoadData", {"table_parts": self.ddl_target(n)})
        if cls == "RenameTable":
            parts = self.ddl_target(n)
            return Node("AlterTable", {"table_parts": parts, "new_parts": self.names(n, "newName")})
        if cls.startswith(("Alter", "AddColumns", "ReplaceColumns", "RenameColumn",
                           "DropColumns", "SetTableProperties", "AddPartitions",
                           "DropPartitions", "RenamePartitions")):
            return Node("AlterTable", {"table_parts": self.ddl_target(n)})
        if cls in ("CreateTable", "CreateTableStatement"):
            return Node("CreateTable", {"table_parts": self.ddl_target(n)})
        if cls == "CreateView":
            return Node("CreateView", {"table_parts": self.ddl_target(n)}, [self.plan(kids[1])])
        if cls == "CreateViewCommand":  # CREATE [OR REPLACE] TEMP VIEW
            ti = f["name"]
            db = ti.get("database")
            return Node(
                "CreateView",
                {"table_parts": ([db] if db else []) + [ti["table"]], "temp": True},
                [self.plan(kids[f["plan"]])],
            )

        # Unknown plan node: keep class name + children so the walker can
        # recurse (robustness over the full Spark SQL surface).
        return Node(cls, {}, [self.plan(c) for c in kids])

    def expr(self, n: _J) -> Node:
        cls, f, kids = n.cls, n.f, n.kids

        def kid(name: str) -> Node:
            return self.expr(kids[f[name]])

        if cls == "UnresolvedAttribute":
            return Node("Attr", {"parts": self.names(n, "nameParts")})
        if cls == "UnresolvedStar":
            return Node("Star", {"parts": self.names(n, "target", opt=True)})
        if cls == "Alias":
            return Node("Alias", {"name": f["name"]}, [kid("child")])
        if cls == "UnresolvedAlias":
            return Node("UnresolvedAlias", {}, [kid("child")])
        if cls == "Literal":
            src = self.src(n)  # resolves the handle literal_value may need
            return Node("Literal", {"value": self.literal_value(n)}, src=src)
        if cls == "UnresolvedFunction":
            fields = {"name": ".".join(self.names(n, "nameParts")), "distinct": f["isDistinct"]}
            return Node("Function", fields, [self.expr(kids[i]) for i in f["arguments"]])
        if cls in ("And", "Or"):
            return Node(cls, {}, [kid("left"), kid("right")])
        if cls in _BINARY_OPS:
            return Node("BinOp", {"op": _BINARY_OPS[cls]}, [kid("left"), kid("right")])
        if cls == "Not":
            return Node("Not", {}, [kid("child")])
        if cls in ("UnaryMinus", "UnaryPositive"):
            return Node("Unary", {"op": "-" if cls == "UnaryMinus" else "+"}, [kid("child")])
        if cls == "BitwiseNot":
            return Node("Unary", {"op": "~"}, [kid("child")])
        if cls == "In":
            return Node("In", {}, [kid("value")] + [self.expr(kids[i]) for i in f["list"]])
        if cls in ("Like", "RLike", "ILike"):
            kw = {"Like": "like", "RLike": "rlike", "ILike": "ilike"}[cls]
            return Node("LikeOp", {"kw": kw}, [kid("left"), kid("right")])
        if cls in ("IsNull", "IsNotNull"):
            kw = "isnull" if cls == "IsNull" else "isnotnull"
            return Node("NullTest", {"kw": kw}, [kid("child")])
        if cls == "CaseWhen":
            # children are the flattened (when, then) branches, then the
            # else value if any
            branches = [
                (self.expr(kids[2 * i]), self.expr(kids[2 * i + 1]))
                for i in range(len(f["branches"]))
            ]
            els = self.expr(kids[-1]) if len(kids) % 2 else None
            return Node("CaseWhen", {"branches": branches, "else": els})
        if cls == "UnresolvedExtractValue":
            return Node("Subscript", {}, [kid("child"), kid("extraction")])

        if cls in ("ScalarSubquery", "Exists", "ListQuery", "LateralSubquery", "InSubquery"):
            # expression-level subquery: keep the inner plan so the walker
            # can register its input tables (beyond the reference's Q3).
            # The EXPRESSION origin is unreliable here — Exists spans
            # `NOT EXISTS (…)` under a NOT and the WHOLE statement when
            # bare, InSubquery never covers the probed value — but the
            # inner PLAN's origin is the exact subquery text in every
            # case; carry it for the renderer, which reads the expression
            # slice only for a scalar subquery.
            values = [self.expr(kids[i]) for i in f.get("values", [])]
            inner = self.sub(kids[f["query"]] if cls == "InSubquery" else n, "plan")
            return Node(
                "SubqueryExpr",
                {"plan": self.plan(inner), "kind": cls, "plan_src": self.src(inner)},
                values,
                src=None if cls in ("Exists", "InSubquery") else self.src(n),
            )

        # Unknown expression: generic node; renderer falls back to the
        # source slice, sources = union over children.
        return Node("Opaque", {"cls": cls}, [self.expr(c) for c in kids], src=self.src(n))


def convert_plan(jplan, sql: str) -> Node:
    """Detach ``jplan`` (parsed from ``sql``): one ``toJSON()`` call,
    plus the per-node fetches the module docstring lists."""
    return _Statement(jplan, sql).plan(_tree(json.loads(jplan.toJSON()), ()))


def parse_statement(spark: SparkSession, sql: str) -> Node:
    """Parse one statement with Spark's own SQL parser (py4j, driver
    only — the analysis plane never executes anything) and detach it."""
    jparser = spark._jsparkSession.sessionState().sqlParser()  # noqa: SLF001
    return convert_plan(jparser.parsePlan(sql), sql)
