"""Negative-surface lineage tests: adversarial HiveQL that must
degrade GRACEFULLY, never crash the analyzer.

The reference's operational value was robustness on unknown input —
``LineParser`` treats any unrecognized function token as an opaque
expression and keeps walking (reference README.md:471-487).  These
tests pin the analyzer's behavior on inputs outside the seven goldens:
unknown multi-argument functions in filters, nested CASE inside a
subscript, UNION branches with mismatched arity, deep subquery
nesting, raw syntax errors, and validation failures — so a future
refactor that starts throwing on any of them fails loudly here."""

from __future__ import annotations

import pytest
from pyspark.errors import ParseException

from hadoop__spark.plans import LineageAnalyzer, LineageError
from hadoop__spark.plans.lineage import DictMetastore


@pytest.fixture()
def analyzer(spark):
    ms = DictMetastore(
        {
            "db.src": ["a", "b", "m", "k"],
            "db.src2": ["k", "z"],
            "db.dest": ["x"],
            "db.t2": ["c", "d"],
        }
    )
    return LineageAnalyzer(spark, ms)


def test_unknown_function_with_args_in_where(analyzer):
    """An unregistered 3-arg UDF in a WHERE must not break analysis:
    the predicate lands as an opaque WHERE: tag with every column
    reference qualified, and column lineage is unaffected."""
    res = analyzer.analyze(
        "use db;insert into table dest select a from src "
        "where my_udf(a, b, 3) > 0"
    )
    assert res.input_tables == {"db.src"}
    assert res.output_tables == {"db.dest"}
    (line,) = res.col_lines
    assert line.from_names == ("db.src.a",)
    assert set(line.conditions) == {
        "WHERE:my_udf(db.src.a,db.src.b,3) > 0"
    }
    assert line.to_name == "db.dest.x"


def test_unknown_function_in_select_collects_all_args(analyzer):
    """An unknown function in the projection contributes ALL its column
    arguments as sources and tags the expression COLFUN: — the
    pass-through contract (reference README.md:471-487)."""
    res = analyzer.analyze(
        "use db;insert into table dest select some_udf(a, b, k) from src"
    )
    (line,) = res.col_lines
    assert sorted(line.from_names) == ["db.src.a", "db.src.b", "db.src.k"]
    assert set(line.conditions) == {
        "COLFUN:some_udf(db.src.a,db.src.b,db.src.k)"
    }


def test_nested_case_inside_subscript(analyzer):
    """A CASE WHEN (with a nested function call) used as a map
    subscript key parses and renders as one COLFUN tag; the lineage
    source is the subscripted map column."""
    res = analyzer.analyze(
        "use db;insert into table dest select "
        "m[case when k=1 then concat('x','y') else 'z' end] from src"
    )
    (line,) = res.col_lines
    assert line.from_names == ("db.src.m",)
    assert set(line.conditions) == {
        "COLFUN:db.src.m[case when db.src.k = 1 "
        "then concat('x','y') else 'z' end]"
    }
    assert line.to_name == "db.dest.x"


def test_union_mismatched_arity_degrades(analyzer):
    """UNION branches of different arity: Spark's parser accepts the
    statement (resolution would fail later), and the analyzer keeps
    going — matched positions merge sources across branches, the
    orphaned column keeps its lineage with NO sink assignment
    (to_name None), and validate=True does not turn this into an
    error (validation checks tables, not arity)."""
    sql = (
        "use db;insert into table dest "
        "select a, b from src union all select c from t2"
    )
    for validate in (False, True):
        res = analyzer.analyze(sql, validate=validate)
        assert res.input_tables == {"db.src", "db.t2"}
        lines = {l.to_name_parse: l for l in res.col_lines}
        assert set(lines) == {"a", "b"}
        assert sorted(lines["a"].from_names) == ["db.src.a", "db.t2.c"]
        assert lines["a"].to_name == "db.dest.x"
        assert lines["b"].from_names == ("db.src.b",)
        assert lines["b"].to_name is None


def test_deep_nesting_accumulates_all_filters(analyzer):
    """Three levels of FROM-subquery nesting: lineage tunnels through
    every level and each level's WHERE lands as its own tag."""
    res = analyzer.analyze(
        "use db;insert into table dest select a from "
        "(select a from (select a, b from src where b > 1) x "
        "where a < 5) y"
    )
    (line,) = res.col_lines
    assert line.from_names == ("db.src.a",)
    assert set(line.conditions) == {
        "WHERE:db.src.b > 1",
        "WHERE:db.src.a < 5",
    }


def test_syntax_error_raises_parse_exception(analyzer):
    """Garbage SQL surfaces Spark's ParseException unchanged (a typed,
    diagnosable failure — not a LineageError and not silence)."""
    with pytest.raises(ParseException):
        analyzer.analyze("use db;insert into table dest selct a frm src")


def test_validate_flags_unknown_table(analyzer):
    """validate=True is the LineValidater equivalent: an input table
    absent from the metastore is a LineageError naming the table."""
    with pytest.raises(LineageError, match="db.no_such_table"):
        analyzer.analyze(
            "use db;insert into table dest select a from no_such_table",
            validate=True,
        )
    # the same statement without validation degrades gracefully
    res = analyzer.analyze(
        "use db;insert into table dest select a from no_such_table"
    )
    assert res.input_tables == {"db.no_such_table"}


def test_in_subquery_condition_renders_probed_column(analyzer):
    """IN (subquery) predicates: Catalyst's origin slice spans only
    `IN (SELECT …)`, never the probed value — the WHERE: tag must
    re-attach the qualified probed column, and the subquery still
    registers as an input table (NOTES round-13 deferred item e)."""
    res = analyzer.analyze(
        "use db;insert into table dest select a from src "
        "where k in (select c from t2)"
    )
    assert res.input_tables == {"db.src", "db.t2"}
    (line,) = res.col_lines
    assert set(line.conditions) == {
        "WHERE:db.src.k in (select c from t2)"
    }


def test_not_in_subquery_renders_single_not(analyzer):
    """NOT IN (subquery): the InSubquery origin slice already starts
    with `NOT IN`, so the old Opaque fallback rendered `not NOT IN …`
    with no probed column."""
    res = analyzer.analyze(
        "use db;insert into table dest select a from src "
        "where k not in (select c from t2)"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {
        "WHERE:db.src.k not in (select c from t2)"
    }


def test_multi_value_in_subquery_renders_tuple(analyzer):
    """(a,b) IN (SELECT …) keeps every probed column, parenthesized."""
    res = analyzer.analyze(
        "use db;insert into table dest select a from src "
        "where (a, b) in (select c, d from t2)"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {
        "WHERE:(db.src.a,db.src.b) in (select c, d from t2)"
    }


def test_using_join_emits_condition_tag(analyzer):
    """JOIN … USING (k): the keys live in the join TYPE (Catalyst
    UsingJoin), condition() is undefined — the tag must render the
    implied equality with each side qualified in its own context
    (NOTES round-13 deferred item d)."""
    res = analyzer.analyze(
        "use db;insert into table dest "
        "select src.a from src join t2 using (k)"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {"JOIN:db.src.k = db.t2.k"}

    res = analyzer.analyze(
        "use db;insert into table dest "
        "select src.a from src left join t2 using (k, b)"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {
        "LEFTOUTERJOIN:(db.src.k = db.t2.k and db.src.b = db.t2.b)"
    }


def test_natural_join_derives_keys_from_metastore(analyzer):
    """NATURAL JOIN: common columns come from the metastore (db.src
    and db.t2 share no columns here, so join dest2 which shares k) —
    and when either side is unknown the tag degrades to the keyword
    instead of vanishing."""
    res = analyzer.analyze(
        "use db;insert into table dest "
        "select src.a from src natural join src2"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {"JOIN:db.src.k = db.src2.k"}

    res = analyzer.analyze(
        "use db;insert into table dest "
        "select src.a from src natural left join unknown_tbl"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {"LEFTOUTERJOIN:natural"}


def test_struct_field_through_alias_resolves_column(analyzer):
    """`t.addr.city` through a FROM alias is a struct FIELD access —
    provenance is the COLUMN (db.src.m), with the field path kept on
    the rendered name; the old code treated any 3-part attribute as
    db.table.col and produced garbage `t.addr.city` provenance plus a
    bogus validation binding (NOTES round-13 deferred item c)."""
    res = analyzer.analyze(
        "use db;insert into table dest select t.m.city from src t "
        "where t.m.zip = '10' "
    )
    (line,) = res.col_lines
    assert line.from_names == ("db.src.m.city",)
    assert set(line.conditions) == {"WHERE:db.src.m.zip = '10'"}
    # the validation binding is the real column, so validate passes
    analyzer.analyze(
        "use db;insert into table dest select t.m.city from src t",
        validate=True,
    )


def test_view_does_not_shadow_table_after_use(analyzer):
    """CREATE VIEW in db then USE other: a same-named TABLE in the new
    database must NOT resolve to the stale view's lineage (the old
    bare-name registration did exactly that); the view still resolves
    by bare name in its own db and by qualified name from anywhere
    (NOTES round-13 deferred item b)."""
    res = analyzer.analyze(
        "use db;create view v as select a from src;"
        "insert into table dest select a from v;"
        "use other;insert into table dest select x from v"
    )
    by_stmt = res.col_lines
    # statement 2: v resolves to the view -> src.a provenance
    assert by_stmt[1].from_names == ("db.src.a",)
    # statement 3: other.v is a base table, not the stale view
    assert by_stmt[2].from_names == ("other.v.x",)
    assert "other.v" in res.input_tables

    # qualified reference still reaches the view from the other db
    res = analyzer.analyze(
        "use db;create view v as select a from src;"
        "use other;insert into table dest select a from db.v"
    )
    assert res.col_lines[-1].from_names == ("db.src.a",)


def test_temp_view_resolves_across_use(analyzer):
    """Temp views are session-global and db-independent: the bare name
    keeps resolving after USE other."""
    res = analyzer.analyze(
        "use db;create temporary view tv as select a from src;"
        "use other;insert into table dest select a from tv"
    )
    assert res.col_lines[-1].from_names == ("db.src.a",)


def test_exists_subquery_renders_once(analyzer):
    """EXISTS predicates: Catalyst's Exists origin spans `NOT EXISTS
    (…)` under a NOT (the src fallback doubled the keyword) and the
    WHOLE statement when bare (the tag quoted the outer query) — the
    inner plan's origin slice is the reliable subquery text."""
    res = analyzer.analyze(
        "use db;insert into table dest select a from src "
        "where not exists (select 1 from t2 where t2.c = src.k)"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {
        "WHERE:not exists (select 1 from t2 where t2.c = src.k)"
    }
    res = analyzer.analyze(
        "use db;insert into table dest select a from src "
        "where exists (select 1 from t2 where t2.c = src.k)"
    )
    (line,) = res.col_lines
    assert set(line.conditions) == {
        "WHERE:exists (select 1 from t2 where t2.c = src.k)"
    }
    assert res.input_tables == {"db.src", "db.t2"}


def test_with_wrapped_insert_keeps_sink(analyzer):
    """`WITH w AS (…) INSERT INTO …` parses as With(InsertInto…) —
    the statement dispatch hoists the CTEs and keeps the sink (it
    used to fall through to the bare-SELECT branch, losing the
    destination and all column edges)."""
    res = analyzer.analyze(
        "use db;with w as (select a, b from src where b > 1) "
        "insert into table dest select a from w"
    )
    assert res.output_tables == {"db.dest"}
    assert res.input_tables == {"db.src"}
    assert res.statements == ["USE", "INSERT"]
    (line,) = res.col_lines
    assert line.from_names == ("db.src.a",)
    assert line.to_name == "db.dest.x"
    assert set(line.conditions) == {"WHERE:db.src.b > 1"}

    # multi-insert under a WITH keeps every branch's sink
    res = analyzer.analyze(
        "use db;with w as (select a, b from src) "
        "from w "
        "insert into table dest select a "
        "insert into table t2 select a, b"
    )
    assert res.output_tables == {"db.dest", "db.t2"}
    assert res.statements[-1] == "MULTIINSERT"
    assert [l.from_names for l in res.col_lines] == [
        ("db.src.a",), ("db.src.a",), ("db.src.b",)
    ]


def test_having_subquery_registers_inputs(analyzer):
    """`HAVING k IN (SELECT …)` registers the subquery's input table
    (the Having branch never scanned its condition for subqueries)."""
    res = analyzer.analyze(
        "use db;insert into table dest select k from src "
        "group by k having k in (select c from t2)"
    )
    assert res.input_tables == {"db.src", "db.t2"}
    (line,) = res.col_lines
    assert "HAVING:db.src.k in (select c from t2)" in line.conditions


def test_case_when_predicate_subquery_is_not_a_source(analyzer):
    """A subquery inside a WHEN predicate gates rows — it registers
    its input table but does NOT feed the item's sources (the
    reference's CASE rule: only THEN/ELSE values are lineage
    sources); a subquery in VALUE position (boolean expression as the
    selected value) still does."""
    res = analyzer.analyze(
        "use db;insert into table dest select "
        "case when a in (select c from t2) then k else a end from src"
    )
    (line,) = res.col_lines
    assert sorted(line.from_names) == ["db.src.a", "db.src.k"]
    assert res.input_tables == {"db.src", "db.t2"}

    # value position: the boolean derives from the subquery's column
    res = analyzer.analyze(
        "use db;insert into table dest "
        "select a in (select c from t2) from src"
    )
    (line,) = res.col_lines
    assert sorted(line.from_names) == ["db.src.a", "db.t2.c"]


def test_with_wrapped_dir_insert_and_update(analyzer):
    """The WITH hoist covers every sink-statement class Spark wraps:
    directory inserts and UPDATE (whose IN-subquery probes a CTE)."""
    res = analyzer.analyze(
        "use db;with w as (select a from src) "
        "insert overwrite directory '/tmp/out' select a from w"
    )
    assert res.output_tables == {"/tmp/out"}
    assert res.input_tables == {"db.src"}
    (line,) = res.col_lines
    assert line.from_names == ("db.src.a",)

    res = analyzer.analyze(
        "use db;with w as (select a from src) "
        "update t2 set d = 1 where c in (select a from w)"
    )
    assert res.output_tables == {"db.t2"}
    assert res.input_tables == {"db.src", "db.t2"}
    assert res.statements[-1] == "UPDATE"


#: Spots where a plan's JSON form loses or nearly loses what the
#: analyzer reads: a Seq[String] flattens to "[x, y]" (backquoted parts
#: holding ", " or "]", lists past spark.sql.maxToStringFields), join
#: types are bare objects, directory URIs are null, and literals,
#: subqueries and opaque expressions render from source text the JSON
#: does not carry.  Each expected output was captured from the
#: getter-per-field bridge and must not change.
_COLS30 = ", ".join(f"c{i:02d}" for i in range(1, 31))
_WHERE_LIT = (
    "'WHERE:((db.src.m = \"Cat\" and db.src.k > 1e3) "
    "and db.src.a < date \\'2020-01-01\\')'"
)
JSON_LOSSY_SPOTS = {
    "backquoted_names": (
        "use db;insert into table dest select `x, y`, `p]q`.b from src `p]q`",
        "inputTable:['db.src']\noutputTable:['db.dest']\n"
        "ToTable:db.dest,ToNameParse:x, y,ToName:db.dest.x,FromName:db.src.x, y,Condition:[]\n"
        "ToTable:db.dest,ToNameParse:b,ToName:None,FromName:db.src.b,Condition:[]",
    ),
    "qualified_star": (
        "use db;select s.*, t2.c from src s join t2 on s.k = t2.c",
        "inputTable:['db.src', 'db.t2']\noutputTable:[]\n" + "\n".join(
            f"ToTable:TOK_TMP_FILE,ToNameParse:{c},ToName:None,FromName:db.{t}.{c},"
            "Condition:['JOIN:db.src.k = db.t2.c']"
            for t, c in [("src", "a"), ("src", "b"), ("src", "m"), ("src", "k"), ("t2", "c")]
        ),
    ),
    "count_star": (
        "use db;insert into table dest select count(*) from src where a > 0",
        "inputTable:['db.src']\noutputTable:['db.dest']\n"
        "ToTable:db.dest,ToNameParse:,ToName:db.dest.x,FromName:,"
        "Condition:['COLFUN:count(*)', 'WHERE:db.src.a > 0']",
    ),
    "literals": (
        "use db;select \"Cat\" as c1, 1e3 as c2, date '2020-01-01' as c3, "
        "nvl(a, \"Cat\") as c4, concat(b, 1e3) as c5 from src "
        "where m = \"Cat\" and k > 1e3 and a < date '2020-01-01'",
        "inputTable:['db.src']\noutputTable:[]\n" + "\n".join(
            f"ToTable:TOK_TMP_FILE,ToNameParse:{name},ToName:None,FromName:{src},"
            f"Condition:[{colfun}, {_WHERE_LIT}]"
            for name, src, colfun in [
                ("c1", "", "'COLFUN:\"Cat\"'"),
                ("c2", "", "'COLFUN:1e3'"),
                ("c3", "", "\"COLFUN:date '2020-01-01'\""),
                ("c4", "db.src.a", "'COLFUN:nvl(db.src.a,\"Cat\")'"),
                ("c5", "db.src.b", "'COLFUN:concat(db.src.b,1e3)'"),
            ]
        ),
    ),
    "local_directory": (
        "use db;insert overwrite local directory '/tmp/o' select a, b from src",
        "inputTable:['db.src']\noutputTable:['/tmp/o']\n"
        "ToTable:/tmp/o,ToNameParse:a,ToName:None,FromName:db.src.a,Condition:[]\n"
        "ToTable:/tmp/o,ToNameParse:b,ToName:None,FromName:db.src.b,Condition:[]",
    ),
    "lateral_view": (
        "use db;select a, x from src lateral view explode(m) ex as x",
        "inputTable:['db.src']\noutputTable:[]\n"
        "ToTable:TOK_TMP_FILE,ToNameParse:a,ToName:None,FromName:db.src.a,Condition:[]\n"
        "ToTable:TOK_TMP_FILE,ToNameParse:x,ToName:None,FromName:db.src.m,Condition:[]",
    ),
    "using_natural_full_outer_joins": (
        "use db;select a, z from src join src2 using (k);"
        "select a, z from src natural join src2;"
        "select a, c from src full outer join t2 on src.k = t2.c",
        "inputTable:['db.src', 'db.src2', 'db.t2']\noutputTable:[]\n" + "\n".join(
            f"ToTable:TOK_TMP_FILE,ToNameParse:{c},ToName:None,FromName:db.{t}.{c},"
            f"Condition:['{tag}']"
            for tag, pairs in [
                ("JOIN:db.src.k = db.src2.k", [("src", "a"), ("src2", "z")] * 2),
                ("FULLOUTERJOIN:db.src.k = db.t2.c", [("src", "a"), ("t2", "c")]),
            ]
            for t, c in pairs
        ),
    ),
    "not_in_exists_scalar_subqueries": (
        "use db;insert into table dest select (select max(c) from t2) from src "
        "where k not in (select c from t2) "
        "and exists (select 1 from t2 where t2.d = src.b)",
        "inputTable:['db.src', 'db.t2']\noutputTable:['db.dest']\n"
        "ToTable:db.dest,ToNameParse:,ToName:db.dest.x,FromName:db.t2.c,"
        "Condition:['COLFUN:(select max(c) from t2)', "
        "'WHERE:(db.src.k not in (select c from t2) "
        "and exists (select 1 from t2 where t2.d = src.b))']",
    ),
    "quoted_comma_string_and_cast": (
        "use db;select concat(a, \"p, q\") as s, cast(b as int) as i, a || b as ab from src",
        "inputTable:['db.src']\noutputTable:[]\n"
        "ToTable:TOK_TMP_FILE,ToNameParse:s,ToName:None,FromName:db.src.a,"
        "Condition:['COLFUN:concat(db.src.a,\"p, q\")']\n"
        "ToTable:TOK_TMP_FILE,ToNameParse:i,ToName:None,FromName:db.src.b,"
        "Condition:['COLFUN:cast(b as int)']\n"
        "ToTable:TOK_TMP_FILE,ToNameParse:ab,ToName:None,FromName:db.src.a,db.src.b,"
        "Condition:['COLFUN:a || b']",
    ),
    "insert_column_list_past_max_to_string_fields": (
        f"use db;insert into table dest ({_COLS30}) select {', '.join(['a'] * 30)} from src",
        "inputTable:['db.src']\noutputTable:['db.dest']\n" + "\n".join(
            f"ToTable:db.dest,ToNameParse:a,ToName:db.dest.c{i:02d},FromName:db.src.a,Condition:[]"
            for i in range(1, 31)
        ),
    ),
}


@pytest.mark.parametrize("spot", sorted(JSON_LOSSY_SPOTS))
def test_json_lossy_spots_keep_their_output(analyzer, spot):
    script, expected = JSON_LOSSY_SPOTS[spot]
    assert analyzer.analyze(script).format() == expected
