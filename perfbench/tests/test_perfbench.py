"""The benchmark's own tests: input generators, span bookkeeping and
Spark job accounting.  Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import tempfile
import time

import pytest

from perfbench import harness, lineage_corpus, run

SUBSET = ["h01_pricing_summary", "dd02_dedup_fingerprint", "ann03_ivf_persisted"]


def _digest(seed: int) -> str:
    h = hashlib.sha256()
    for s in lineage_corpus.generate(seed):
        h.update(s.text.encode())
        if s.expected is not None:
            exp = s.expected
            h.update(repr((sorted(exp.inputs), sorted(exp.outputs), exp.columns)).encode())
    for stmt in lineage_corpus.catalog_ddl(seed):
        h.update(stmt.encode())
    return h.hexdigest()


def test_generators_identical_per_seed_and_differ_across_seeds():
    assert _digest(3) == _digest(3)
    assert len({_digest(s) for s in range(5)}) == 5
    names = [f"op{i}" for i in range(24)]
    assert run.pass_order(names, 3, 1) == run.pass_order(names, 3, 1)
    assert run.pass_order(names, 3, 1) != run.pass_order(names, 4, 1)
    assert run.pass_order(names, 3, 1) != run.pass_order(names, 3, 2)
    assert sorted(run.pass_order(names, 3, 1)) == sorted(names)


def test_corpus_shapes_do_not_depend_on_seed():
    """Every seed yields the same statements per script and the same
    output columns; only names and literals differ."""

    def shape(seed):
        return [
            (s.text.count(";"), [c[1] is None for c in s.expected.columns])
            for s in lineage_corpus.generate(seed) if s.expected is not None
        ]

    assert shape(1) == shape(2) == shape(9)


def test_corpus_repetition_follows_the_reference_scripts():
    """The frozen repetition and statement parameters are those of the
    reference scripts, and every seed's generated scripts realize them
    to within one reference or one statement."""
    ref = lineage_corpus.reference_profile(lineage_corpus.reference_scripts())
    assert ref["within"] == 0
    assert lineage_corpus.ACROSS_SCRIPT == ref["across"] / ref["refs"]
    assert lineage_corpus.STATEMENTS_PER_SCRIPT == ref["statements"] / ref["scripts"]
    for seed in (1, 2, 9):
        gen = lineage_corpus.reference_profile([
            s.text for s in lineage_corpus.generate(seed) if s.expected is not None
        ])
        n = gen["refs"]
        assert gen["within"] == 0
        assert abs(gen["across"] / n - lineage_corpus.ACROSS_SCRIPT) <= 1 / n
        assert abs(gen["statements"] / gen["scripts"]
                   - lineage_corpus.STATEMENTS_PER_SCRIPT) <= 1 / gen["scripts"]


def test_reference_profile_reads_use_ctes_and_views():
    prof = lineage_corpus.reference_profile([
        "use a; select * from t join b.u on t.x = u.x",
        "create view v as select * from a.t; "
        "with w as (select x from b.u) select * from v join w on v.x = w.x "
        "join a.t z on z.x = w.x",
    ])
    # refs: a.t, b.u | a.t (across), b.u (across), a.t (within)
    assert prof == {"scripts": 2, "refs": 5, "within": 1, "across": 2,
                    "statements": 3}


def test_self_times_and_nesting():
    tracer = harness.Tracer(enabled=True)
    with tracer.span("op"):
        with tracer.span("a"):
            time.sleep(0.002)
            with tracer.span("b"):
                time.sleep(0.002)
        with tracer.span("c"):
            time.sleep(0.001)
    _assert_well_formed(tracer.spans)
    self_s = harness.self_times(tracer.spans)
    a = next(s for s in tracer.spans if s["name"] == "a")
    assert self_s[a["id"]] == pytest.approx(
        (a["end"] - a["start"]) - (tracer.spans[2]["end"] - tracer.spans[2]["start"])
    )
    off = harness.Tracer(enabled=False)
    with off.span("op") as rec:
        assert rec is None
    assert off.spans == []


def _assert_well_formed(spans):
    by_id = {s["id"]: s for s in spans}
    self_s = harness.self_times(spans)
    for s in spans:
        assert s["end"] >= s["start"]
        assert self_s[s["id"]] >= 0.0
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
            assert s["op"] == p["op"]


def test_benchmark_json_lists_what_run_prints():
    spec = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == {"lineage", "probes"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


# -- with a Spark session ----------------------------------------------------


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    run_dir = tmp_path_factory.mktemp("perfbench")
    for sub in ("tmp", "local", "warehouse"):
        (run_dir / sub).mkdir()
    saved, tempfile.tempdir = tempfile.tempdir, str(run_dir / "tmp")
    s = harness.Session(run_dir)
    s.start()
    yield s
    s.close()
    tempfile.tempdir = saved


def _workload(session, name, traced):
    wl = run.workload_class(name)(session, 5, harness.Tracer(enabled=traced))
    wl.setup()
    return wl


def test_lineage_corpus_matches_oracle_with_well_formed_spans(session):
    wl = _workload(session, "lineage", traced=True)
    names = wl.op_names()
    meter = harness.SparkMeter(session.spark)
    jobs0 = meter.total_jobs()
    calls = []
    with harness.on_jvm_call(session.spark, lambda: calls.append(1)):
        _, plain = run.run_pass(wl, names, False)
    untraced_jobs = meter.total_jobs() - jobs0
    jobs0 = meter.total_jobs()
    with wl.instrument(), wl.tracer.count_py4j(session.spark):
        _, records = run.run_pass(wl, names, True, meter)
    # the catalog metastore's listColumns collects through Spark jobs
    ops = [s for s in wl.tracer.spans if s["name"] == "op"]
    assert sum(s["jobs"] for s in ops) == meter.total_jobs() - jobs0
    assert untraced_jobs == meter.total_jobs() - jobs0
    # the end-to-end call count and the spans' counts agree exactly
    assert len(calls) == sum(s["py4j"] for s in wl.tracer.spans) > 0
    for name, _, result, error in plain + records:
        assert error is None, (name, error)
        assert wl.check(name, result) == [], name
    _assert_well_formed(wl.tracer.spans)
    layers = wl.layer_metrics(wl.tracer.spans, 1, [])
    assert layers["plans.parse.calls"] > 1
    assert layers["plans.jbridge.py4j_calls"] > 0
    assert layers["plans.metastore.lookups"] > 0
    assert layers["plans.metastore.unresolved"] == 0


def test_metastore_lookups_do_not_depend_on_seed(session):
    """The resolver asks the metastore as often for every seed's corpus."""
    from hadoop__spark.plans.lineage import DictMetastore, LineageAnalyzer

    from perfbench.goldens import GOLDEN_TABLES

    class Counting(DictMetastore):
        n = 0

        def columns(self, qualified_table):
            Counting.n += 1
            return super().columns(qualified_table)

    def lookups(seed):
        tables = {t.qname: list(t.all_cols) for t in lineage_corpus.make_schema(seed)}
        tables.update((q, ["c"]) for q in GOLDEN_TABLES)
        Counting.n = 0
        for script in lineage_corpus.generate(seed):
            LineageAnalyzer(session.spark, Counting(tables)).analyze(script.text)
        return Counting.n

    assert lookups(1) == lookups(2) == lookups(3) > 0


def test_meter_counts_each_stage_that_ran_once(session):
    """Under AQE a one-shuffle aggregate runs a map-stage job and a
    result job that lists the map stage again as skipped: two stages
    ran.  Stage and task counts must equal the status store's per-job
    counts of completed stages and tasks."""
    spark = session.spark
    meter = harness.SparkMeter(spark)
    group = meter.begin("one-shuffle")
    spark.range(0, 100000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    job_ids = list(meter.tracker.getJobIdsForGroup(group))
    got = meter.end(group)
    jobs = [meter.store.job(j) for j in job_ids]
    listed = sum(len(meter.tracker.getJobInfo(j).stageIds) for j in job_ids)
    assert got["jobs"] == len(jobs)
    assert got["stages"] == sum(j.numCompletedStages() for j in jobs) == 2
    assert listed > got["stages"]  # the skipped listing was there to skip
    assert got["tasks"] == sum(j.numCompletedTasks() for j in jobs)
    assert got["shuffle_write_bytes"] > 0


def test_op_job_counts_sum_to_pass_and_untraced_submits_same_jobs(session):
    wl = _workload(session, "probes", traced=True)
    wl.prepare_oracle()
    meter = harness.SparkMeter(session.spark)
    run.run_pass(wl, SUBSET, False)  # warm
    jobs0 = meter.total_jobs()
    _, plain = run.run_pass(wl, SUBSET, False)
    untraced_jobs = meter.total_jobs() - jobs0
    jobs0 = meter.total_jobs()
    with wl.instrument(), wl.tracer.count_py4j(session.spark):
        _, traced = run.run_pass(wl, SUBSET, True, meter)
    traced_jobs = meter.total_jobs() - jobs0
    ops = [s for s in wl.tracer.spans if s["name"] == "op"]
    assert [s["op_name"] for s in ops] == SUBSET
    assert all(s["jobs"] > 0 for s in ops)
    assert sum(s["jobs"] for s in ops) == traced_jobs
    assert untraced_jobs == traced_jobs
    for name, _, result, error in plain + traced:
        assert error is None and wl.check(name, result) == [], name
    _assert_well_formed(wl.tracer.spans)
