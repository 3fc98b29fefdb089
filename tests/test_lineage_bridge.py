"""The analysis plane's two JVM boundaries: the plan bridge
(``plans/jbridge.py``: one ``toJSON()`` per statement plus per-node
fetches) and the catalog metastore (one metadata read per table).

Pinned here: the metastore answers exactly what
``spark.catalog.listColumns`` answers without running a Spark job, a
whole ``INSERT … SELECT`` stays inside a py4j call budget, and a
failed origin fetch raises instead of silently dropping a literal's
source text."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JError

from hadoop__spark.plans import LineageAnalyzer
from hadoop__spark.plans.jbridge import _src_of
from hadoop__spark.plans.lineage import DictMetastore, SparkCatalogMetastore
from perfbench.harness import on_jvm_call


def _list_columns(spark, name: str) -> list[str] | None:
    """The previous metastore, as the oracle: ``listColumns`` on the
    name, then on the name without its first part."""
    for n in (name, name.split(".", 1)[-1]):
        try:
            return [c.name for c in spark.catalog.listColumns(n)]
        except Exception:
            continue
    return None


def test_catalog_metastore_matches_list_columns_without_jobs(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS msdb")
    spark.sql(
        "CREATE TABLE IF NOT EXISTS msdb.part (b STRING, a INT, p STRING) "
        "USING parquet PARTITIONED BY (p)"
    )
    spark.sql("CREATE TABLE IF NOT EXISTS msdb.plain (x INT, Y STRING) USING parquet")
    spark.sql("CREATE OR REPLACE VIEW msdb.pview AS SELECT a, b FROM msdb.part")
    spark.sql("CREATE OR REPLACE TEMP VIEW ms_tv AS SELECT 1 AS one, 'x' AS Two")
    spark.sql("CREATE OR REPLACE GLOBAL TEMP VIEW ms_gv AS SELECT 2 AS g")
    sc = spark.sparkContext
    names = [
        "ms_tv", "default.ms_tv", "global_temp.ms_gv", "msdb.pview",
        "msdb.part", "msdb.plain", "spark_catalog.msdb.plain",
        "MSDB.Plain", "msdb.no_such_table", "no_such_db.t", "/tmp/out",
    ]
    try:
        expected = {n: _list_columns(spark, n) for n in names}
        ms = SparkCatalogMetastore(spark)
        sc.setJobGroup("metastore-lookups", "SparkCatalogMetastore.columns")
        try:
            got = {n: ms.columns(n) for n in names}
            jobs = sc.statusTracker().getJobIdsForGroup("metastore-lookups")
            sc.setJobGroup("job-counter-control", "one job")
            spark.range(1).collect()
            control = sc.statusTracker().getJobIdsForGroup("job-counter-control")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert got == expected
        assert got["msdb.part"] == ["b", "a", "p"]  # partition column last
        assert got["default.ms_tv"] == ["one", "Two"]
        assert got["msdb.no_such_table"] is None
        assert jobs == []
        assert len(control) == 1  # the job counter does see jobs
    finally:
        spark.sql("DROP VIEW IF EXISTS msdb.pview")
        spark.sql("DROP TABLE IF EXISTS msdb.part")
        spark.sql("DROP TABLE IF EXISTS msdb.plain")
        spark.sql("DROP DATABASE IF EXISTS msdb")
        spark.catalog.dropTempView("ms_tv")
        spark.catalog.dropGlobalTempView("ms_gv")


#: A join, CASE, nvl/concat, an IN-subquery and GROUP BY in one
#: INSERT … SELECT.  Measured with the same counter: 597 py4j calls
#: when the bridge read every field through its own getter, 61 with
#: one toJSON() and per-node origin fetches.
BUDGET_STATEMENT = (
    "insert overwrite table dw.order_label "
    "select o.uid, "
    "case when o.amt > 100 then 'big' else 'small' end as size, "
    "nvl(concat(u.name, '-', u.city), 'n/a') as label, "
    "count(o.id) as n "
    "from ods.orders o join ods.users u on o.uid = u.id "
    "where o.status in (select code from ods.live_codes where live = 1) "
    "group by o.uid, case when o.amt > 100 then 'big' else 'small' end, "
    "nvl(concat(u.name, '-', u.city), 'n/a')"
)
CALL_BUDGET = 61


def test_insert_select_stays_inside_py4j_call_budget(spark):
    ms = DictMetastore({
        "ods.orders": ["id", "uid", "amt", "status"],
        "ods.users": ["id", "name", "city"],
        "ods.live_codes": ["code", "live"],
        "dw.order_label": ["uid", "size", "label", "n"],
    })
    calls: list[int] = []
    with on_jvm_call(spark, lambda: calls.append(1)):
        res = LineageAnalyzer(spark, ms).analyze(BUDGET_STATEMENT)
    assert len(calls) <= CALL_BUDGET
    by_name = {l.to_name_parse: l for l in res.col_lines}
    assert "COLFUN:nvl(concat(ods.users.name,'-',ods.users.city),'n/a')" in (
        by_name["label"].conditions
    )
    assert (
        "WHERE:ods.orders.status in (select code from ods.live_codes where live = 1)"
        in by_name["uid"].conditions
    )


class _Origin:
    def __init__(self, text: str):
        self.text = text

    def toString(self) -> str:  # noqa: N802 - the JVM method name
        return self.text


class _Expr:
    def __init__(self, origin):
        self._origin = origin

    def origin(self):
        if isinstance(self._origin, Exception):
            raise self._origin
        return self._origin


SQL = "SELECT 'Cat' FROM t"


def test_src_of_is_none_only_without_origin_indices():
    full = "Origin(Some(1),Some(7),Some(7),Some(11),Some(SELECT 'Cat' FROM t),None,None,None,None)"
    assert _src_of(_Expr(_Origin(full)), SQL) == "'Cat'"
    bare = "Origin(None,None,None,None,None,None,None,None,None)"
    assert _src_of(_Expr(_Origin(bare)), SQL) is None


def test_src_of_raises_on_py4j_and_parse_errors():
    with pytest.raises(Py4JError):
        _src_of(_Expr(Py4JError("gateway gone")), SQL)
    with pytest.raises(ValueError, match="unparsable Catalyst origin"):
        _src_of(_Expr(_Origin("Origin(line=1, start=7)")), SQL)


def test_src_of_reads_a_parsed_literal(spark):
    sql = 'SELECT "Category159" AS c FROM t'
    jplan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    literal = jplan.projectList().apply(0).child()
    assert _src_of(literal, sql) == '"Category159"'
