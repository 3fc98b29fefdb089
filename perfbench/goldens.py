"""The reference's seven ``LineParserTest`` goldens (reference
README.md:861-1218) as benchmark inputs with their expected lineage.

Each entry: the script, the catalog tables it resolves against, and the
expectations the reference asserts -- input tables, output tables and,
per parsed output column, the source-column multiset and condition set.
Sources are compared as multisets, as in tests/test_lineage_golden.py.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Golden:
    name: str
    script: str
    inputs: frozenset[str]
    outputs: frozenset[str]
    #: parsed output name -> (source multiset, condition set, to_name or None)
    columns: dict


#: db.table -> column DDL; every table a golden reads or writes.
GOLDEN_TABLES = {
    "app.hand_qq_passenger": "statid STRING, channel INT",
    "app.return_benefit_base_foo": "id STRING",
    "app.dest": "statid STRING",
    "default.test": "ip STRING, name STRING, age INT, area INT",
    "app.test": "name STRING, ip STRING, age INT",
    "app.test1": "ip STRING, area INT, `date` STRING",
    "dw.test": (
        "params MAP<STRING,STRING>, arr ARRAY<INT>, `year` STRING, "
        "`month` STRING, `day` STRING"
    ),
    "dw.dest": "num INT, maptest STRING, arrtest INT, `date` STRING",
    "app.users": "id STRING",
    "app.action_video": "uid STRING, `date` STRING",
    "fact.action_comment": "uid STRING, `date` STRING",
    "default.source_table_1": "name STRING, id INT",
    "default.source_table_2": "name STRING, id INT, category STRING",
    "default.source_table_3": "name STRING, id INT",
    "default.target_table": "name STRING, id INT, category STRING",
    "detail.usersequence_client": (
        "orderid INT, b INT, bbb INT, clienttype INT"
    ),
    "fact.orderpayment": (
        "datekey STRING, userid INT, orderid INT, a INT, aaa INT, test STRING"
    ),
    "dim.user": "userid INT",
    "test.customer_kpi": "aaa STRING, bbbaaa INT, buyer_count BIGINT",
}


def _ms(ref: str) -> tuple[str, ...]:
    return tuple(sorted(ref.split(","))) if ref else ()


_J_CONDS = frozenset({
    "WHERE:app.hand_qq_passenger.channel > 10",
    "JOIN:app.hand_qq_passenger.statid = app.return_benefit_base_foo.id",
})
_W_CONDS = frozenset({
    "WHERE:((default.test.age > 10 and default.test.area in (11,22)) "
    "or default.test.name <> '$V_PARYMD')"
})
_JOIN_CONDS = frozenset({
    "WHERE:((app.test.age > 10 and app.test1.area in (11,22)) and "
    "to_date(app.test1.date) > date_sub('20151001',7))",
    "JOIN:app.test.ip = app.test1.ip",
})
_U_CONDS = frozenset({
    "WHERE:app.action_video.date = '2010-06-03'",
    "WHERE:fact.action_comment.date = '2008-06-03'",
    "JOIN:app.users.id = app.action_video&fact.action_comment.uid",
})
_U2_CONDS = frozenset({"WHERE:default.source_table_3.name = 123"})
_S25_CONDS = frozenset({
    "JOIN:((fact.orderpayment.orderid > detail.usersequence_client.orderid "
    "or fact.orderpayment.a = detail.usersequence_client.b) and "
    "fact.orderpayment.aaa = detail.usersequence_client.bbb)",
    "WHERE:(fact.orderpayment.datekey = '20131118' and "
    "(dim.user.userid in (111,222) or "
    "hash(fact.orderpayment.test) like '%123%'))",
    "WHERE:fact.orderpayment.userid isnotnull",
    "FULLOUTERJOIN:dim.user.userid = fact.orderpayment.userid",
})

GOLDENS = [
    Golden(
        "parse_all_column",
        "use app;insert into table dest select statid from "
        "(select * from hand_qq_passenger a join return_benefit_base_foo b "
        "on a.statid=b.id where a.channel > 10) base",
        frozenset({"app.hand_qq_passenger", "app.return_benefit_base_foo"}),
        frozenset({"app.dest"}),
        {"statid": (_ms("app.hand_qq_passenger.statid"), _J_CONDS,
                    "app.dest.statid")},
    ),
    Golden(
        "parse_where",
        "INSERT OVERWRITE table app.dest PARTITION "
        "(year='2015',month='10',day='$day') "
        "select ip,name from test where age > 10 and area in (11,22) "
        "or name<>'$V_PARYMD'",
        frozenset({"default.test"}),
        frozenset({"app.dest"}),
        {
            "ip": (_ms("default.test.ip"), _W_CONDS, None),
            "name": (_ms("default.test.name"), _W_CONDS, None),
        },
    ),
    Golden(
        "parse_join",
        "use app;insert into table dest select nvl(a.name,0) as name, b.ip  "
        "from test a join test1 b on a.ip=b.ip where a.age > 10 and "
        "b.area in (11,22) and to_date(b.date) > date_sub('20151001',7)",
        frozenset({"app.test", "app.test1"}),
        frozenset({"app.dest"}),
        {
            "ip": (_ms("app.test1.ip"), _JOIN_CONDS, None),
            "name": (
                _ms("app.test.name"),
                _JOIN_CONDS | {"COLFUN:nvl(app.test.name,0)"},
                None,
            ),
        },
    ),
    Golden(
        "parse_map",
        "use dw;insert into table dest select 1+1 as num, "
        "params['cid'] as maptest,arr[0] as arrtest,"
        "CONCAT(year,month,day) as date from test ",
        frozenset({"dw.test"}),
        frozenset({"dw.dest"}),
        {
            "num": ((), frozenset({"COLFUN:1 + 1"}), None),
            "maptest": (
                _ms("dw.test.params"),
                frozenset({"COLFUN:dw.test.params['cid']"}),
                None,
            ),
            "arrtest": (
                _ms("dw.test.arr"), frozenset({"COLFUN:dw.test.arr[0]"}), None
            ),
            "date": (
                _ms("dw.test.year,dw.test.month,dw.test.day"),
                frozenset(
                    {"COLFUN:CONCAT(dw.test.year,dw.test.month,dw.test.day)"}
                ),
                None,
            ),
        },
    ),
    Golden(
        "parse_union",
        "use default;use app;SELECT u.id, actions.date FROM ( "
        "SELECT av.uid AS uid, av.date as date "
        "FROM action_video av "
        "WHERE av.date = '2010-06-03' "
        "UNION ALL "
        "SELECT ac.uid AS uid,ac.date as date "
        "FROM fact.action_comment ac "
        "WHERE ac.date = '2008-06-03' "
        ") actions JOIN users u ON (u.id = actions.uid)",
        frozenset({"app.users", "app.action_video", "fact.action_comment"}),
        frozenset(),
        {
            "id": (_ms("app.users.id"), _U_CONDS, None),
            "date": (
                _ms("app.action_video&fact.action_comment.date"), _U_CONDS, None
            ),
        },
    ),
    Golden(
        "parse_union2",
        'INSERT OVERWRITE TABLE target_table '
        'SELECT name, id, "Category159"  FROM source_table_1 '
        "UNION ALL "
        "SELECT name, id,category FROM source_table_2 "
        "UNION ALL "
        'SELECT name, id, "Category160"  FROM source_table_3 where name=123',
        frozenset({
            "default.source_table_1",
            "default.source_table_2",
            "default.source_table_3",
        }),
        frozenset({"default.target_table"}),
        {
            "name": (
                _ms("default.source_table_1.name,default.source_table_2.name,"
                    "default.source_table_3.name"),
                _U2_CONDS,
                None,
            ),
            "id": (
                _ms("default.source_table_1.id,default.source_table_2.id,"
                    "default.source_table_3.id"),
                _U2_CONDS,
                None,
            ),
            "category": (
                _ms("default.source_table_2.category"),
                _U2_CONDS | {'COLFUN:"Category159"', 'COLFUN:"Category160"'},
                None,
            ),
        },
    ),
    Golden(
        "parse_sql25",
        "from(select p.datekey datekey, p.userid userid, c.clienttype "
        "from detail.usersequence_client c join fact.orderpayment p "
        "on (p.orderid > c.orderid or p.a = c.b) and p.aaa=c.bbb "
        "full outer join dim.user du on du.userid = p.userid "
        "where p.datekey = '20131118' and (du.userid in (111,222) "
        "or hash(p.test) like '%123%')) base "
        "insert overwrite table test.customer_kpi "
        "select concat(base.datekey,1,2) as aaa, "
        "case when base.userid > 5 then base.clienttype "
        "when base.userid > 1 then base.datekey+5 "
        "else 1-base.clienttype end bbbaaa,"
        "count(distinct hash(base.userid)) buyer_count "
        "where base.userid is not null "
        "group by base.datekey, base.clienttype",
        frozenset({
            "detail.usersequence_client", "fact.orderpayment", "dim.user"
        }),
        frozenset({"test.customer_kpi"}),
        {
            "aaa": (
                _ms("fact.orderpayment.datekey"),
                _S25_CONDS | {"COLFUN:concat(fact.orderpayment.datekey,1,2)"},
                None,
            ),
            "bbbaaa": (
                _ms("detail.usersequence_client.clienttype,"
                    "detail.usersequence_client.clienttype,"
                    "fact.orderpayment.datekey"),
                _S25_CONDS | {
                    "COLFUN:case when fact.orderpayment.userid > 5 then "
                    "detail.usersequence_client.clienttype when "
                    "fact.orderpayment.userid > 1 then "
                    "fact.orderpayment.datekey + 5 "
                    "else 1 - detail.usersequence_client.clienttype end"
                },
                None,
            ),
            "buyer_count": (
                _ms("fact.orderpayment.userid"),
                _S25_CONDS
                | {"COLFUN:count(distinct (hash(fact.orderpayment.userid)))"},
                None,
            ),
        },
    ),
]


def check_golden(golden: Golden, res) -> list[str]:
    """Differences between an analyzer result and the golden; empty when
    the result matches."""
    problems = []
    if res.input_tables != golden.inputs:
        problems.append(f"inputs {sorted(res.input_tables)}")
    if res.output_tables != golden.outputs:
        problems.append(f"outputs {sorted(res.output_tables)}")
    lines = {}
    for line in res.col_lines:
        if line.to_name_parse in lines:
            problems.append(f"duplicate output {line.to_name_parse}")
        lines[line.to_name_parse] = line
    if set(lines) != set(golden.columns):
        problems.append(f"columns {sorted(lines)}")
        return problems
    for name, (sources, conds, to_name) in golden.columns.items():
        line = lines[name]
        if tuple(sorted(line.from_names)) != sources:
            problems.append(f"{name}: sources {line.from_names}")
        if set(line.conditions) != conds:
            problems.append(f"{name}: conditions {sorted(line.conditions)}")
        if to_name is not None and line.to_name != to_name:
            problems.append(f"{name}: to_name {line.to_name}")
    return problems
