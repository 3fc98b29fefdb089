"""Seeded HiveQL corpus for the ``lineage`` workload.

The generator builds every script from its own small model of the
query, so each script carries its expected lineage -- input tables,
output tables and, per output column in emit order, the parsed name,
the sink column and the source-column multiset.  That expectation is
the workload's oracle; it never comes from the analyzer under test.

Structure is fixed by a script's index (statements, statement kind,
joins, subquery depth, SELECT width, expression mix), so every seed
yields the same mix of shapes; the seed picks the schema, tables,
columns and literals.  Source-column strings follow the reference's
rules: a column read through a derived table or CTE is named
``<base table prefixes, &-joined>.<derived column name>``; CASE
contributes only its THEN/ELSE values.

Table repetition and statements per script are taken from the
repository's reference scripts (``reference_profile``): as there, no
generated script names a table twice; over the generated scripts, the
share of FROM/JOIN table references that name a table only an earlier
script named follows ``ACROSS_SCRIPT``, and the mean number of
statements follows ``STATEMENTS_PER_SCRIPT``.  The choices are made by running count, not
by chance, so every seed has the same repetition.  A FROM table is
never one whose columns the same FROM list already exposes, so every
column name is unique within a FROM and the number of metastore
lookups a script needs depends on its shape alone.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass

from perfbench.goldens import GOLDEN_TABLES, GOLDENS, Golden, check_golden

DATABASES = ("ods", "dwd", "dws", "ads")
TABLE_WORDS = (
    "user", "order", "item", "shop", "city", "device", "page", "coupon",
    "payment", "refund", "sku", "brand", "channel", "visit", "promo", "stock",
)
TABLE_KINDS = ("fact", "dim", "log", "snap")
COL_WORDS = (
    "id", "amt", "cnt", "dt", "status", "kind", "title", "price", "qty",
    "score", "flag", "src", "lvl", "label", "ts", "code", "city", "uid",
)
SOURCES_PER_DB = 8
SOURCE_WIDTH = 10
TARGETS_PER_DB = 2
TARGET_WIDTH = 8
#: As many generated scripts as goldens, so each half weighs the same in
#: the op statistics.  A choice, not a measurement.
N_GENERATED = len(GOLDENS)

#: ``reference_profile`` of ``reference_scripts()``, frozen so that an edit
#: to a reference script does not silently change the workload (the
#: benchmark's tests recompute it): of the 23 FROM/JOIN table
#: references in the 10 reference scripts, none names a table its own
#: script already named and 3 name a table an earlier script named; the
#: scripts hold 13 statements besides USE.
ACROSS_SCRIPT = 3 / 23
STATEMENTS_PER_SCRIPT = 13 / 10

STATEMENT_KINDS = ("insert", "overwrite_part", "select", "cte", "union", "groupby")
ITEM_KINDS = ("col", "alias", "nvl", "concat", "udf", "case", "arith", "lit")
DERIVED_KINDS = ("alias", "nvl", "concat", "udf", "arith")
UDFS = ("fx_clean", "fx_mask", "fx_bucket")


@dataclass(frozen=True)
class Table:
    db: str
    name: str
    cols: tuple[str, ...]
    partition: str | None = None
    target: bool = False

    @property
    def qname(self) -> str:
        return f"{self.db}.{self.name}"

    @property
    def all_cols(self) -> tuple[str, ...]:
        """Catalog column order: partition columns come last."""
        return self.cols + ((self.partition,) if self.partition else ())


@dataclass(frozen=True)
class Expected:
    inputs: frozenset[str]
    outputs: frozenset[str]
    #: (parsed name, sink column or None, sorted sources), in emit order
    columns: tuple[tuple[str, str | None, tuple[str, ...]], ...]


@dataclass(frozen=True)
class Script:
    name: str
    text: str
    expected: Expected | None = None  # generated scripts
    golden: Golden | None = None  # reference goldens


def reference_scripts() -> list[str]:
    """The HiveQL scripts of the repository with reference expectations:
    the seven goldens and the three analysis-plane probe scripts behind
    ln01/ln02 (``hadoop__spark/plans/probes.py``)."""
    from hadoop__spark.plans import probes

    return [g.script for g in GOLDENS] + [
        probes._SCRIPT, probes._SCRIPT_EXTENDED, probes._SCRIPT_TAGS,  # noqa: SLF001
    ]


_TABLE_REF = re.compile(r"\b(?:from|join)\s+([a-z_][\w.]*)", re.I)
_DEFINED = re.compile(r"\bcreate\s+view\s+(\w+)|\b(\w+)\s+as\s*\(", re.I)
_USE = re.compile(r"use\s+(\w+)", re.I)


def reference_profile(scripts: list[str]) -> dict:
    """Table repetition and statement counts of ``scripts``, in order.

    A table reference is a name after FROM or JOIN, qualified by the
    current ``USE`` database; names the script defines itself (CTEs,
    views) are not tables.  ``within``: references that name a table the
    same script already named; ``across``: references that name a table
    only an earlier script named; ``statements``: statements besides
    USE."""
    refs = within = across = statements = 0
    earlier: set[str] = set()
    for text in scripts:
        db, mine = "default", set()
        defined = {(a or b).lower() for a, b in _DEFINED.findall(text)}
        for stmt in filter(None, (x.strip() for x in text.split(";"))):
            use = _USE.fullmatch(stmt)
            if use:
                db = use.group(1).lower()
                continue
            statements += 1
            for name in _TABLE_REF.findall(stmt):
                name = name.lower()
                if name in defined:
                    continue
                qname = name if "." in name else f"{db}.{name}"
                refs += 1
                within += qname in mine
                across += qname not in mine and qname in earlier
                mine.add(qname)
        earlier |= mine
    return {"scripts": len(scripts), "refs": refs, "within": within,
            "across": across, "statements": statements}


class _TablePicker:
    """Picks every FROM table of the generated corpus: never one the
    script already named, and one an earlier script named while the
    running share of such picks is below ``ACROSS_SCRIPT``; otherwise
    one no script has named yet while any is left."""

    def __init__(self, rng: random.Random, sources: list[Table]):
        self.rng = rng
        self.sources = sources
        self.earlier: list[Table] = []  # named by an earlier script
        self.refs = self.across = 0

    def next_script(self, used: list[Table]) -> None:
        self.earlier += [t for t in dict.fromkeys(used) if t not in self.earlier]

    def pick(self, used: list[Table], exclude: frozenset[str]) -> Table:
        self.refs += 1
        ok = [t for t in self.sources if t.qname not in exclude]
        before = [t for t in self.earlier if t in ok and t not in used]
        if before and self.across < ACROSS_SCRIPT * self.refs:
            t = self.rng.choice(before)
        else:
            fresh = [t for t in ok if t not in used and t not in self.earlier]
            t = self.rng.choice(fresh or before or ok)
        self.across += t not in used and t in self.earlier
        return t


def make_schema(seed: int) -> list[Table]:
    """Source and target tables of the generated corpus."""
    rng = random.Random(f"perfbench-schema-{seed}")
    codes = iter(rng.sample(
        [a + b for a in "abcdefghijklmnopqrstuvwxyz" for b in "abcdefghjkmnpqrstuvwxyz"],
        len(DATABASES) * (SOURCES_PER_DB + TARGETS_PER_DB),
    ))
    tables = []
    for db in DATABASES:
        names = rng.sample(
            [f"{w}_{k}" for w in TABLE_WORDS for k in TABLE_KINDS],
            SOURCES_PER_DB + TARGETS_PER_DB,
        )
        for i, name in enumerate(names):
            code = next(codes)
            if i < SOURCES_PER_DB:
                words = rng.sample(COL_WORDS, SOURCE_WIDTH)
                tables.append(Table(db, name, tuple(f"{code}_{w}" for w in words)))
            else:
                words = rng.sample(COL_WORDS, TARGET_WIDTH)
                part = f"{code}_part" if i % 2 == 0 else None
                tables.append(Table(
                    db, name, tuple(f"{code}_{w}" for w in words), part, True
                ))
    return tables


def catalog_ddl(seed: int) -> list[str]:
    """Statements that create every table the corpus reads or writes."""
    stmts = []
    dbs = sorted({q.split(".")[0] for q in GOLDEN_TABLES} | set(DATABASES))
    stmts += [f"CREATE DATABASE IF NOT EXISTS `{db}`" for db in dbs]
    for qname, cols in GOLDEN_TABLES.items():
        db, name = qname.split(".")
        stmts.append(f"CREATE TABLE `{db}`.`{name}` ({cols}) USING parquet")
    for t in make_schema(seed):
        cols = ", ".join(f"{c} STRING" for c in t.all_cols)
        part = f" PARTITIONED BY ({t.partition})" if t.partition else ""
        stmts.append(f"CREATE TABLE {t.qname} ({cols}) USING parquet{part}")
    return stmts


@dataclass
class _Src:
    """One FROM source as the enclosing query sees it."""

    alias: str
    cols: list[tuple[str, list[str]]]  # output name -> its sources
    table: Table | None = None
    #: the table whose column names this source exposes (itself, or the
    #: table behind a ``SELECT *`` derived table)
    names_of: str | None = None

    @classmethod
    def of_table(cls, alias: str, t: Table, base: bool = True) -> "_Src":
        """``t`` under ``alias``; ``base=False`` for ``SELECT * FROM t``
        seen from outside its derived table."""
        return cls(alias, [(c, [f"{t.qname}.{c}"]) for c in t.cols],
                   t if base else None, t.qname)

    def names(self) -> list[str]:
        return [n for n, srcs in self.cols if srcs]

    def source_of(self, name: str) -> str:
        if self.table is not None:
            return f"{self.table.qname}.{name}"
        prefixes: list[str] = []
        for n, srcs in self.cols:
            if n == name:
                for s in srcs:
                    p = s.rsplit(".", 1)[0]
                    if p not in prefixes:
                        prefixes.append(p)
        return f"{'&'.join(prefixes)}.{name}"


class _ScriptGen:
    def __init__(self, rng: random.Random, schema: list[Table],
                 picker: _TablePicker, tick: int):
        self.rng = rng
        self.targets = [t for t in schema if t.target]
        self.picker = picker
        self.used: list[Table] = []
        self.inputs: set[str] = set()
        self.current_db = "default"
        self._n = 0  # alias counter
        self._tick = tick  # rotates structural choices

    def _next(self, prefix: str) -> str:
        self._n += 1
        return f"{prefix}{self._n}"

    def _turn(self, k: int) -> int:
        self._tick += 1
        return self._tick % k

    def table(self, exclude: frozenset[str] = frozenset()) -> Table:
        t = self.picker.pick(self.used, exclude)
        self.used.append(t)
        self.inputs.add(t.qname)
        return t

    def tref(self, t: Table) -> str:
        return t.name if t.db == self.current_db else t.qname

    def col(self, srcs: list[_Src], src: _Src | None = None,
            avoid: str | None = None) -> tuple[str, str]:
        """A column reference: (SQL text, expected source string).
        Unqualified every sixth time the name is unique in the FROM."""
        src = src or self.rng.choice(srcs)
        names = [n for n in src.names() if n != avoid] or src.names()
        name = self.rng.choice(names)
        bare = self._turn(6) == 0
        unique = sum(name in s.names() for s in srcs) == 1
        sql = name if bare and unique else f"{src.alias}.{name}"
        return sql, src.source_of(name)

    def item(self, kind: str, srcs: list[_Src], out: str):
        """(SQL, parsed name, expected sources) of one select item."""
        if kind == "col":
            sql, s = self.col(srcs)
            return sql, sql.rsplit(".", 1)[-1], [s]
        if kind == "alias":
            sql, s = self.col(srcs)
            return f"{sql} AS {out}", out, [s]
        if kind == "nvl":
            sql, s = self.col(srcs)
            return f"nvl({sql}, 0) AS {out}", out, [s]
        if kind == "concat":
            (a, sa), (b, sb) = self.col(srcs), self.col(srcs)
            return f"concat({a}, '-', {b}) AS {out}", out, [sa, sb]
        if kind == "udf":
            (a, sa), (b, sb) = self.col(srcs), self.col(srcs)
            fn = UDFS[self._turn(len(UDFS))]
            return f"{fn}({a}, {b}) AS {out}", out, [sa, sb]
        if kind == "case":
            src = self.rng.choice(srcs)
            w, _ = self.col(srcs)
            a, sa = self.col(srcs, src)
            b, sb = self.col(srcs, src, avoid=a.rsplit(".", 1)[-1])
            if a == b:
                return (f"CASE WHEN {w} > 0 THEN {a} ELSE 'n/a' END AS {out}",
                        out, [sa])
            return (
                f"CASE WHEN {w} > 0 THEN {a} WHEN {w} < -5 THEN {b} "
                f"ELSE 'n/a' END AS {out}",
                out, [sa, sb],
            )
        if kind == "arith":
            (a, sa), (b, sb) = self.col(srcs), self.col(srcs)
            return f"{a} + {b} AS {out}", out, [sa, sb]
        if kind == "lit":
            return f"'v{self.rng.randint(0, 99)}' AS {out}", out, []
        raise ValueError(kind)

    def where(self, srcs: list[_Src]) -> str:
        a, _ = self.col(srcs)
        b, _ = self.col(srcs)
        kind = self._turn(4)
        if kind == 0:
            extra = f"{b} IN (1, 2, 3)"
        elif kind == 1:
            t = self.table()
            extra = f"{b} IN (SELECT {self.rng.choice(t.cols)} FROM {self.tref(t)})"
        elif kind == 2:
            t = self.table()
            src = self.rng.choice(srcs)
            extra = (
                f"EXISTS (SELECT 1 FROM {self.tref(t)} z "
                f"WHERE z.{self.rng.choice(t.cols)} = "
                f"{src.alias}.{self.rng.choice(src.names())})"
            )
        else:
            extra = f"{b} IS NOT NULL"
        return f"{a} > {self.rng.randint(0, 50)} AND {extra}"

    def source(self, depth: int, exclude: frozenset[str] = frozenset()):
        """A FROM source: a base table, or a derived table ``depth``
        levels deep."""
        if depth == 0:
            t = self.table(exclude)
            alias = self._next("t")
            return f"{self.tref(t)} {alias}", _Src.of_table(alias, t)
        alias = self._next("s")
        if depth == 1 and self._turn(3) == 0:
            t = self.table()
            inner_alias = self._next("t")
            inner = _Src.of_table(inner_alias, t)
            sql = (f"(SELECT * FROM {self.tref(t)} {inner_alias} "
                   f"WHERE {self.where([inner])}) {alias}")
            return sql, _Src.of_table(alias, t, base=False)
        from_sql, srcs = self.from_clause(depth - 1, self._turn(2))
        items, cols = [], []
        for k in range(2 + self._turn(2)):
            kind = DERIVED_KINDS[self._turn(len(DERIVED_KINDS))]
            sql, name, sources = self.item(kind, srcs, f"{alias}c{k}")
            items.append(sql)
            cols.append((name, sources))
        sql = (f"(SELECT {', '.join(items)} FROM {from_sql} "
               f"WHERE {self.where(srcs)}) {alias}")
        return sql, _Src(alias, cols)

    def from_clause(self, depth: int, joins: int,
                    first: tuple[str, _Src] | None = None):
        sql, src = first or self.source(depth)
        parts, srcs = [sql], [src]
        for _ in range(joins):
            in_from = frozenset(s.names_of for s in srcs if s.names_of)
            jsql, jsrc = self.source(0, in_from)
            left = self.rng.choice(srcs)
            kind = ("JOIN", "LEFT JOIN", "JOIN")[self._turn(3)]
            parts.append(
                f"{kind} {jsql} ON {left.alias}.{self.rng.choice(left.names())}"
                f" = {jsrc.alias}.{self.rng.choice(jsrc.names())}"
            )
            srcs.append(jsrc)
        return " ".join(parts), srcs

    def select(self, width: int, srcs: list[_Src], first_kind: int,
               prefix: str = "x"):
        items, cols = [], []
        for k in range(width):
            kind = ITEM_KINDS[(first_kind + k) % len(ITEM_KINDS)]
            sql, name, sources = self.item(kind, srcs, f"{prefix}{k}")
            items.append(sql)
            cols.append((name, sources))
        return items, cols

    def statement(self, kind: str, joins: int, depth: int, width: int):
        """(SQL, output table or None, [(name, sources)] in emit order)."""
        if kind in ("insert", "cte", "union", "groupby"):
            target = self.rng.choice([t for t in self.targets if not t.partition])
        elif kind == "overwrite_part":
            target = self.rng.choice([t for t in self.targets if t.partition])
        else:
            target = None
        head = ""
        if kind == "cte":
            from_sql, srcs = self.from_clause(depth, min(joins, 1))
            # item kinds 1-4 (alias, nvl, concat, udf) all carry sources
            items, cols = self.select(4, srcs, 1, prefix="wc")
            head = (f"WITH w AS (SELECT {', '.join(items)} FROM {from_sql} "
                    f"WHERE {self.where(srcs)}) ")
            from_sql, srcs = self.from_clause(
                0, joins, first=("w", _Src("w", cols))
            )
        else:
            from_sql, srcs = self.from_clause(depth, joins)
        if kind == "groupby":
            n_keys = 1 + width % 3
            keys = [self.col(srcs) for _ in range(n_keys)]
            items = [k[0] for k in keys]
            cols = [(k[0].rsplit(".", 1)[-1], [k[1]]) for k in keys]
            for k in range(width - n_keys):
                sql, s = self.col(srcs)
                fn = ("sum({})", "count(DISTINCT {})", "max({})")[self._turn(3)]
                items.append(f"{fn.format(sql)} AS x{k}")
                cols.append((f"x{k}", [s]))
            agg, _ = self.col(srcs)
            body = (f"SELECT {', '.join(items)} FROM {from_sql} "
                    f"WHERE {self.where(srcs)} GROUP BY {', '.join(items[:n_keys])} "
                    f"HAVING sum({agg}) > 10")
        else:
            items, cols = self.select(width, srcs, self._turn(len(ITEM_KINDS)))
            body = (f"SELECT {', '.join(items)} FROM {from_sql} "
                    f"WHERE {self.where(srcs)}")
        if kind == "union":
            from2, srcs2 = self.from_clause(0, max(joins - 1, 0))
            items2, cols2 = self.select(width, srcs2, self._turn(len(ITEM_KINDS)))
            body += f" UNION ALL SELECT {', '.join(items2)} FROM {from2}"
            cols = [(n, s + s2) for (n, s), (_, s2) in zip(cols, cols2)]
        if target is None:
            return body, None, cols
        if kind == "overwrite_part":
            sink = (f"INSERT OVERWRITE TABLE {self.tref(target)} "
                    f"PARTITION ({target.partition}='2024-01-{self.rng.randint(1, 28):02d}') ")
        else:
            sink = f"INSERT INTO TABLE {self.tref(target)} "
        return head + sink + body, target, cols


def generate(seed: int) -> list[Script]:
    """The corpus for ``seed``: the seven goldens, then ``N_GENERATED``
    generated scripts."""
    schema = make_schema(seed)
    rng = random.Random(f"perfbench-scripts-{seed}")
    picker = _TablePicker(rng, [t for t in schema if not t.target])
    scripts = [Script(f"golden.{g.name}", g.script, golden=g) for g in GOLDENS]
    n_statements = 0
    for i in range(N_GENERATED):
        gen = _ScriptGen(rng, schema, picker, tick=i)
        stmts, outputs, columns = [], set(), []
        if i % 2 == 0:
            gen.current_db = rng.choice(DATABASES)
            stmts.append(f"USE {gen.current_db}")
        # 1 or 2 statements, keeping the running mean at the reference's
        n = 1 + (n_statements + 2 <= STATEMENTS_PER_SCRIPT * (i + 1))
        n_statements += n
        for j in range(n):
            kind = STATEMENT_KINDS[(i + 2 * j) % len(STATEMENT_KINDS)]
            sql, target, cols = gen.statement(
                kind, joins=(i + j) % 3, depth=(i // 2 + j) % 3,
                width=2 + (i + 3 * j) % 4,
            )
            stmts.append(sql)
            if target is not None:
                outputs.add(target.qname)
            for k, (name, sources) in enumerate(cols):
                to_name = (f"{target.qname}.{target.all_cols[k]}"
                           if target is not None else None)
                columns.append((name, to_name, tuple(sorted(sources))))
        picker.next_script(gen.used)
        scripts.append(Script(
            f"gen.{i:02d}",
            ";\n".join(stmts),
            expected=Expected(
                frozenset(gen.inputs), frozenset(outputs), tuple(columns)
            ),
        ))
    return scripts


def check(script: Script, res) -> list[str]:
    """Differences between an analyzer result and the script's oracle;
    empty when the result matches."""
    if script.golden is not None:
        return check_golden(script.golden, res)
    exp = script.expected
    problems = []
    if res.input_tables != exp.inputs:
        problems.append(
            f"inputs: got {sorted(res.input_tables)} want {sorted(exp.inputs)}"
        )
    if res.output_tables != exp.outputs:
        problems.append(
            f"outputs: got {sorted(res.output_tables)} want {sorted(exp.outputs)}"
        )
    got = tuple(
        (c.to_name_parse, c.to_name, tuple(sorted(c.from_names)))
        for c in res.col_lines
    )
    if got != exp.columns:
        for k, (g, w) in enumerate(zip(got, exp.columns)):
            if g != w:
                problems.append(f"column {k}: got {g} want {w}")
                break
        if len(got) != len(exp.columns):
            problems.append(f"{len(got)} columns, want {len(exp.columns)}")
    return problems
