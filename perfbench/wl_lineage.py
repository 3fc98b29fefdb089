"""``lineage`` workload: ``LineageAnalyzer(spark).analyze`` over the
seeded HiveQL corpus, resolving against the session catalog (the
analyzer's default metastore).  One op is one script.  It exercises the
parser, the py4j bridge, the metastore and the resolver, and executes
no query; the Spark jobs it submits are the catalog's own
(``listColumns`` collects its rows through small jobs)."""

from __future__ import annotations

import shutil
import time
from contextlib import contextmanager

from hadoop__spark.plans import jbridge, lineage
from hadoop__spark.plans.lineage import LineageAnalyzer, SparkCatalogMetastore

from perfbench import harness, lineage_corpus


class _TimedMetastore:
    """The default catalog metastore behind a timing wrapper: one span
    per lookup, tagged with whether this script already looked the
    table up and whether it resolved."""

    def __init__(self, inner, tracer: harness.Tracer):
        self.inner = inner
        self.tracer = tracer
        self.seen: set[str] = set()

    def columns(self, qualified_table: str):
        key = qualified_table.lower()
        with self.tracer.span("plans.metastore", table=key,
                              repeat=key in self.seen, resolved=False) as rec:
            cols = self.inner.columns(qualified_table)
            rec["resolved"] = cols is not None
        self.seen.add(key)
        return cols


class LineageWorkload:
    name = "lineage"

    def __init__(self, session: harness.Session, seed: int, tracer: harness.Tracer):
        self.session = session
        self.tracer = tracer
        self.scripts = {s.name: s for s in lineage_corpus.generate(seed)}
        self.ddl = lineage_corpus.catalog_ddl(seed)
        self.setup_parts: list[dict] = []

    def setup(self) -> None:
        """(Re)start the session, fill the catalog, warm the analyzer."""
        t0 = time.perf_counter()
        spark = self.session.start()
        t1 = time.perf_counter()
        warehouse = self.session.run_dir / "warehouse"
        shutil.rmtree(warehouse, ignore_errors=True)
        warehouse.mkdir()
        for stmt in self.ddl:
            spark.sql(stmt)
        t2 = time.perf_counter()
        LineageAnalyzer(spark).analyze(next(iter(self.scripts.values())).text)
        self.setup_parts.append({"start_s": t1 - t0, "views_s": t2 - t1})

    def op_names(self) -> list[str]:
        return list(self.scripts)

    def run_op(self, name: str, traced: bool):
        spark = self.session.spark
        if not traced:
            return LineageAnalyzer(spark).analyze(self.scripts[name].text)
        ms = _TimedMetastore(SparkCatalogMetastore(spark), self.tracer)
        return LineageAnalyzer(spark, metastore=ms).analyze(self.scripts[name].text)

    def check(self, name: str, result) -> list[str]:
        return lineage_corpus.check(self.scripts[name], result)

    def run_cold_op(self, name: str):
        return self.run_op(name, traced=False)

    def prepare_oracle(self) -> None:
        pass  # the corpus generator built each script's expectation

    @contextmanager
    def instrument(self):
        """Spans around the parser entry and the bridge (traced runs)."""
        tracer = self.tracer
        parse, convert = lineage.parse_statement, jbridge.convert_plan

        def traced_parse(spark, sql):
            with tracer.span("plans.parse"):
                return parse(spark, sql)

        def traced_convert(jplan, sql):
            cur = tracer.innermost()
            if cur is not None and cur["name"] == "plans.jbridge":
                return convert(jplan, sql)  # recursive call: same span
            with tracer.span("plans.jbridge"):
                return convert(jplan, sql)

        lineage.parse_statement = traced_parse
        jbridge.convert_plan = traced_convert
        try:
            yield
        finally:
            lineage.parse_statement = parse
            jbridge.convert_plan = convert

    def layer_metrics(self, spans: list[dict], n_passes: int,
                      cold: list) -> dict[str, float]:
        """Per-op means of the analysis-plane layers over traced ops."""
        n_ops = n_passes * len(self.scripts)
        self_s = harness.self_times(spans)
        by = {}
        for s in spans:
            by.setdefault(s["name"], []).append(s)
        lookups = by.get("plans.metastore", [])
        ops = {s["id"]: s["op_name"] for s in by.get("op", [])}

        def golden(lookup: dict) -> bool:
            return self.scripts[ops[lookup["op"]]].golden is not None

        def per_op_ms(name: str) -> float:
            return 1000.0 * sum(self_s[s["id"]] for s in by.get(name, [])) / n_ops

        def repeat_frac(lookups: list[dict]) -> float:
            return sum(s["repeat"] for s in lookups) / len(lookups) if lookups else 0.0

        return {
            "plans.parse.ms": per_op_ms("plans.parse"),
            "plans.parse.calls": len(by.get("plans.parse", [])) / n_ops,
            "plans.jbridge.ms": per_op_ms("plans.jbridge"),
            "plans.jbridge.py4j_calls": sum(
                s["py4j"] for s in by.get("plans.jbridge", [])
            ) / n_ops,
            "plans.metastore.ms": per_op_ms("plans.metastore"),
            "plans.metastore.lookups": len(lookups) / n_ops,
            "plans.metastore.repeat_frac": repeat_frac(lookups),
            "plans.metastore.repeat_frac.golden": repeat_frac(
                [s for s in lookups if golden(s)]
            ),
            "plans.metastore.repeat_frac.generated": repeat_frac(
                [s for s in lookups if not golden(s)]
            ),
            "plans.metastore.unresolved": sum(
                not s["resolved"] for s in lookups
            ) / n_ops,
            "plans.lineage.self_ms": per_op_ms("op"),
        }
