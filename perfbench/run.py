#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload lineage --seed 1 --seconds 10 --trace 0

Runs one workload in one Python process on ``local[$(nproc)]`` as a
closed loop with one client: each op starts when the previous one has
returned.  A run launches the JVM and sets up, runs timed passes over
every op in a seed-permuted order until ``--seconds`` have passed
(whole passes only), checks every op's output against an oracle that
does not come from the engine, and last sets up ``SETUP_REPS - 1`` more
times by restarting the session inside the same JVM.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` first runs
one cold pass in a fixed order (as ``bench.py`` does: right after
launch and warm-up), then alternates untraced and traced timed passes
and prints the per-layer metrics, the wall-clock figures and the
tracing overhead among them.  The last line of standard output is the
result object; the line before it carries provenance and sample counts.
Results and spans are also written to ``.perfbench_out/``.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import HEADLINE  # noqa: E402
from perfbench import harness  # noqa: E402
from perfbench.wl_probes import PIPELINE  # noqa: E402

SETUP_REPS = 5

END_TO_END = {
    "setup_s": "s",
    "jvm_calls_per_op": "count",
}

# Figures of the whole run that move with the speed of the host, which
# drifts by up to 1.7x between runs: they cannot hold a bound, so the
# traced run reports them with the layers (README "Run-to-run spread
# and bounds").
RUN_FIGURES = {
    "ops_per_s": "1/s",
    "op_ms.p50": "ms",
    "cold_pass_s": "s",
    "jvm_peak_rss_mb": "MB",
}

PER_LAYER = {
    **RUN_FIGURES,
    "session.launch_s": "s",
    "session.start_s": "s",
    "session.views_s": "s",
    "plans.parse.ms": "ms",
    "plans.parse.calls": "count",
    "plans.jbridge.ms": "ms",
    "plans.jbridge.py4j_calls": "count",
    "plans.metastore.ms": "ms",
    "plans.metastore.lookups": "count",
    "plans.metastore.repeat_frac": "ratio",
    "plans.metastore.repeat_frac.golden": "ratio",
    "plans.metastore.repeat_frac.generated": "ratio",
    "plans.metastore.unresolved": "count",
    "plans.lineage.self_ms": "ms",
    "queries.plan_ms": "ms",
    "queries.exec_ms": "ms",
    "queries.shuffle_write_bytes": "bytes",
    "operators.build_ms": "ms",
    "operators.exec_ms": "ms",
    "operators.jobs": "count",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "probes.headline15_cold_s": "s",
    **{f"probe.{n}.{k}": u for n in HEADLINE + PIPELINE for k, u in (("ms", "ms"), ("jobs", "count"))},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.busy_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def workload_class(name: str):
    if name == "lineage":
        from perfbench.wl_lineage import LineageWorkload

        return LineageWorkload
    if name == "probes":
        from perfbench.wl_probes import ProbesWorkload

        return ProbesWorkload
    raise SystemExit(f"unknown workload {name!r}")


def pass_order(names: list[str], seed: int, k: int) -> list[str]:
    """Op order of timed pass ``k``: ``names`` permuted by the seed."""
    out = list(names)
    random.Random(f"{seed}-{k}").shuffle(out)
    return out


def run_pass(wl, names, traced: bool, meter=None, cold: bool = False):
    """Run ``names`` back to back; returns the pass wall time and one
    (name, seconds, result, error) record per op.  Traced ops get an
    ``op`` span carrying the op's Spark counters."""
    records = []
    t_pass = time.perf_counter()
    for name in names:
        group = meter.begin(name) if traced else None
        rec, result, error = None, None, None
        t0 = time.perf_counter()
        try:
            with wl.tracer.span("op", op_name=name) if traced else nullcontext() as rec:
                if cold:
                    result = wl.run_cold_op(name)
                else:
                    result = wl.run_op(name, traced)
        except Exception as e:  # a failed op is counted, not fatal
            traceback.print_exc()
            error = f"{type(e).__name__}: {e}"
        finally:
            dt = time.perf_counter() - t0
            if traced:
                rec.update(meter.end(group))
        records.append((name, dt, result, error))
    return time.perf_counter() - t_pass, records


def provenance(args, spark_version: str | None) -> dict:
    import duckdb

    commit = None
    root = harness.ROOT
    if (root / ".git").exists():
        try:
            commit = subprocess.run(
                ["git", "-C", str(root), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=30, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark": spark_version,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "git_commit": commit,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["lineage", "probes"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    run_name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = harness.prepare_environment(run_name)
    cls = workload_class(args.workload)
    session = harness.Session(run_dir)
    tracer = harness.Tracer(enabled=traced)
    wl = cls(session, args.seed, tracer)
    attempted = failed = 0
    errors: list[str] = []

    def account(records) -> None:
        nonlocal attempted, failed
        for name, _, result, error in records:
            attempted += 1
            problems = [error] if error else wl.check(name, result)
            if problems:
                failed += 1
                errors.append(f"{name}: {problems[0]}")

    try:
        setups = []

        def setup() -> None:
            # a restart's first step, stopping the last session, is not
            # set-up, and it takes either about 0.1 s or about 0.45 s
            session.stop()
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)

        setup()  # launches the JVM
        spark = session.spark
        cold_wall, cold = None, []
        if traced:
            cold_wall, cold = run_pass(wl, wl.op_names(), traced=False, cold=True)
            account(cold)
        meter = harness.SparkMeter(spark) if traced else None
        wl.prepare_oracle()

        passes = []  # (traced, wall, records, jobs submitted or None)
        jvm_calls = 0  # py4j calls of the untraced timed passes

        def count_call() -> None:
            nonlocal jvm_calls
            jvm_calls += 1

        cpu0 = harness.cpu_times()
        t_start = time.perf_counter()
        while True:
            for mode in ([False, True] if traced else [False]):
                names = pass_order(wl.op_names(), args.seed, len(passes))
                if mode:
                    jobs0 = meter.total_jobs()
                    with wl.instrument(), tracer.count_py4j(spark):
                        wall, records = run_pass(wl, names, True, meter)
                    submitted = meter.total_jobs() - jobs0
                else:
                    with harness.on_jvm_call(spark, count_call):
                        wall, records = run_pass(wl, names, False)
                    submitted = None
                account(records)
                passes.append((mode, wall, records, submitted))
            if time.perf_counter() - t_start >= args.seconds:
                break
        host = harness.host_shares(cpu0, harness.cpu_times())
        spark_version = spark.version
        for _ in range(SETUP_REPS - 1):
            setup()  # restarts the session in the same JVM
        rss = session.jvm_peak_rss_mb()
    finally:
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    plain = [p for p in passes if not p[0]]
    lat_ms = [1000.0 * r[1] for p in plain for r in p[2]]
    samples = {
        "setup_reps": len(setups),
        "cold_ops": len(cold),
        "timed_passes": len(plain),
        "timed_ops": len(lat_ms),
    }
    if not traced:
        values = {
            "setup_s": statistics.median(setups),
            "jvm_calls_per_op": jvm_calls / len(lat_ms),
        }
        units = END_TO_END
    else:
        values = {
            "ops_per_s": len(lat_ms) / sum(p[1] for p in plain),
            "op_ms.p50": statistics.median(lat_ms),
            "cold_pass_s": cold_wall,
            "jvm_peak_rss_mb": rss,
            **layer_values(wl, cold, passes, tracer),
        }
        units = PER_LAYER
        samples["traced_passes"] = len(passes) - len(plain)
        samples["jobs_submitted_per_traced_pass"] = [p[3] for p in passes if p[0]]
        samples["jobs_in_op_groups"] = sum(
            s["jobs"] for s in tracer.spans if s["name"] == "op"
        )
        tracer.write(
            harness.OUT_DIR / f"spans-{args.workload}-seed{args.seed}.jsonl"
        )
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    info = {
        "provenance": provenance(args, spark_version),
        "samples": samples,
        "pass_wall_s": [p[1] for p in plain],
        "jvm_peak_rss_mb": rss,
        "host_during_timed_passes": host,
        "errors": errors[:20],
    }
    out = harness.OUT_DIR / (
        f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    timings = {
        "setup_s": setups,
        "cold_pass_ms": [[r[0], 1000.0 * r[1]] for r in cold],
        "timed_passes_ms": [  # (traced, [(op, ms), ...]) per pass
            [p[0], [[r[0], 1000.0 * r[1]] for r in p[2]]] for p in passes
        ],
    }
    out.write_text(json.dumps({**info, **result, "timings": timings}, indent=1))
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


def layer_values(wl, cold, passes, tracer) -> dict[str, float]:
    """Per-layer metrics of a traced run; layers the workload bypasses
    read 0."""
    values = dict.fromkeys(PER_LAYER.keys() - RUN_FIGURES.keys(), 0.0)
    parts = wl.setup_parts
    values["session.launch_s"] = parts[0]["start_s"]
    values["session.start_s"] = statistics.median([p["start_s"] for p in parts])
    values["session.views_s"] = statistics.median([p["views_s"] for p in parts])
    traced_passes = [p for p in passes if p[0]]
    n = len(traced_passes)
    values.update(wl.layer_metrics(tracer.spans, n, cold))
    ops = [s for s in tracer.spans if s["name"] == "op"]
    for key in ("jobs", "stages", "tasks"):
        values[f"spark.{key}"] = sum(s[key] for s in ops) / n
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    traced_wall = sum(p[1] for p in traced_passes)
    values["spark.busy_frac"] = sum(s["task_ms"] for s in ops) / (
        1000.0 * traced_wall * cores
    )
    plain_walls = [p[1] for p in passes if not p[0]]
    values["trace.overhead_frac"] = (
        statistics.median([p[1] for p in traced_passes]) / statistics.median(plain_walls)
        - 1.0
    )
    return values


if __name__ == "__main__":
    sys.exit(main())
