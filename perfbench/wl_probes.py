"""``probes`` workload: the 15 ``bench.HEADLINE`` probes plus the nine
pipeline probes.  One op is one probe.  The cold pass runs each probe
through the ``noop`` sink, as ``bench.py`` does; timed passes collect
each probe's rows to the driver so every timed op is checked against
the probe's DuckDB oracle.  Exercises Catalyst (the SQL probes, layer
``queries``) and the batch operators (``operators.dedup``,
``operators.similarity``, ``operators.corpus``; layer ``operators``),
and bypasses the lineage plane and the ingest state.

Probes run over the benchmark's copy of the sf0.01 fixture, the scale
the pinned oracles of dd05, dd07, ann02 and ann03 were captured at.
"""

from __future__ import annotations

import math
import time
from contextlib import nullcontext

from bench import HEADLINE
from hadoop__spark.queries import probe_map
from hadoop__spark.session import TABLES, register_views

from perfbench import harness

PIPELINE = [
    "pp01_corpus_prep_pipeline",
    "pp02_training_prep",
    "dd04_ngram_jaccard",
    "dd05_simhash",
    "dd06_embedding_dedup",
    "dd07_embedding_dedup_bucketed",
    "dd08_dedup_clusters",
    "ann02_ivf_topk",
    "ann03_ivf_persisted",
]
SF_DIR = str(harness.DATA_DIR)


def canon(df) -> list[tuple]:
    """Order-insensitive canonical rows of a pandas frame, as the
    repository's oracle-parity tests compare them: columns sorted by
    name, NULL/NaN as one token, floats by repr, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False, name=None):
        rows.append(tuple(
            "<null>" if v is None or (isinstance(v, float) and math.isnan(v))
            else repr(v) if isinstance(v, float) else str(v)
            for v in tup
        ))
    return sorted(rows)


class ProbesWorkload:
    name = "probes"

    def __init__(self, session: harness.Session, seed: int, tracer: harness.Tracer):
        # the inputs are the fixed fixture: the seed only permutes the
        # timed passes (run.pass_order)
        self.session = session
        self.tracer = tracer
        probes = probe_map()
        self.probes = {n: probes[n] for n in HEADLINE + PIPELINE}
        self.setup_parts: list[dict] = []
        self.oracle: dict[str, list] = {}

    def layer(self, name: str) -> str:
        return "queries" if self.probes[name].fn is None else "operators"

    def setup(self) -> None:
        """(Re)start the session, register the fixture views, warm up
        with the query ``bench.py`` warms up with."""
        t0 = time.perf_counter()
        spark = self.session.start()
        t1 = time.perf_counter()
        register_views(spark, SF_DIR)
        t2 = time.perf_counter()
        spark.sql("SELECT COUNT(*) FROM lineitem").collect()
        self.setup_parts.append({"start_s": t1 - t0, "views_s": t2 - t1})

    def op_names(self) -> list[str]:
        """Cold-pass order: ``bench.HEADLINE`` order, then the pipeline
        probes."""
        return list(self.probes)

    def run_cold_op(self, name: str):
        """``bench.py``'s measurement: build the probe, run it through
        the ``noop`` sink."""
        df = self.probes[name].run(self.session.spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()

    def run_op(self, name: str, traced: bool):
        spark = self.session.spark
        probe = self.probes[name]
        if not traced:
            return probe.run(spark, SF_DIR).toPandas()
        with self.tracer.span("probe.build"):
            df = probe.run(spark, SF_DIR)
        if probe.fn is None:
            with self.tracer.span("probe.plan"):
                df._jdf.queryExecution().executedPlan()  # noqa: SLF001
        with self.tracer.span("probe.exec"):
            return df.toPandas()

    def check(self, name: str, result) -> list[str]:
        if result is None:
            return []  # cold pass: noop sink, nothing to compare
        want = self.oracle[name]
        if sorted(result.columns) != want[0]:
            return [f"columns {sorted(result.columns)} vs oracle {want[0]}"]
        got = canon(result)
        if len(got) != len(want[1]):
            return [f"row count {len(got)} vs oracle {len(want[1])}"]
        bad = [(a, b) for a, b in zip(got, want[1]) if a != b]
        return [f"{len(bad)} rows differ; first {bad[0]}"] if bad else []

    def prepare_oracle(self) -> None:
        """Each probe's expected rows: its DuckDB oracle over the same
        parquet files, canonicalized once."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{self.session.run_dir / 'tmp'}'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{harness.DATA_DIR / f'{t}.parquet'}')"
            )
        try:
            for name, probe in self.probes.items():
                want = con.execute(probe.oracle).fetchdf()
                self.oracle[name] = (sorted(want.columns), canon(want))
        finally:
            con.close()

    def instrument(self):
        return nullcontext()  # spans come from run_op itself

    def layer_metrics(self, spans: list[dict], n_passes: int,
                      cold: list) -> dict[str, float]:
        """Per-pass sums by layer and per-probe means over traced passes,
        and the HEADLINE-15 total of the cold pass (``bench.py``'s
        value)."""
        by_id = {s["id"]: s for s in spans}
        out = {"probes.headline15_cold_s": sum(
            seconds for name, seconds, _, _ in cold if name in HEADLINE
        )}
        for name in self.probes:
            ops = [s for s in spans if s["name"] == "op" and s["op_name"] == name]
            out[f"probe.{name}.ms"] = 1000.0 * sum(
                s["end"] - s["start"] for s in ops) / len(ops)
            out[f"probe.{name}.jobs"] = sum(s["jobs"] for s in ops) / len(ops)

        def total(layer: str, span_name: str | None, key: str | None = None) -> float:
            acc = 0.0
            for s in spans:
                if span_name is not None and s["name"] == span_name:
                    op = by_id[s["parent"]]
                    if self.layer(op["op_name"]) == layer:
                        acc += 1000.0 * (s["end"] - s["start"])
                elif key is not None and s["name"] == "op":
                    if self.layer(s["op_name"]) == layer:
                        acc += s[key]
            return acc / n_passes

        out.update({
            "queries.plan_ms": total("queries", "probe.plan"),
            "queries.exec_ms": total("queries", "probe.exec"),
            "queries.shuffle_write_bytes": total("queries", None, "shuffle_write_bytes"),
            "operators.build_ms": total("operators", "probe.build"),
            "operators.exec_ms": total("operators", "probe.exec"),
            "operators.jobs": total("operators", None, "jobs"),
            "operators.shuffle_write_bytes": total("operators", None, "shuffle_write_bytes"),
            "operators.spill_bytes": total("operators", None, "spill_bytes"),
        })
        return out

