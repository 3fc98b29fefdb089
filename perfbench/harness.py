"""Shared plumbing for the benchmark workloads: where a run may write,
the Spark session it measures, per-op Spark accounting and the span
tracer.

Everything a run writes lives under ``.perfbench_run/`` (scratch,
deleted at the end) and ``.perfbench_out/`` (results and spans) at the
root of the checkout.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import subprocess
import tempfile
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

import py4j.protocol

ROOT = Path(__file__).resolve().parent.parent
DATA_DIR = Path(__file__).resolve().parent / "data" / "sf0.01"
OUT_DIR = ROOT / ".perfbench_out"
RUN_ROOT = ROOT / ".perfbench_run"


def prepare_environment(run_name: str) -> Path:
    """Point every temporary path the run can touch (Python's tempfile,
    the JVMs' java.io.tmpdir and perf-data files, Spark's local dirs)
    into the checkout.

    Must run before the session starts: the JVM is launched with the
    environment set here."""
    run_dir = RUN_ROOT / run_name
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = str(run_dir / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # A departure from get_spark's 16g default, which is more than the
    # 15 GB the 4-core sizing host has in all; see README "Loop model".
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    OUT_DIR.mkdir(exist_ok=True)
    return run_dir


class Session:
    """The engine's SparkSession (``hadoop__spark.session.get_spark``)
    with the run's scratch paths, restartable inside one JVM so set-up
    can be measured several times per run."""

    def __init__(self, run_dir: Path):
        self.run_dir = run_dir
        self.spark = None
        self._proc = None

    def start(self):
        """Start the session, or stop and start it again."""
        from hadoop__spark.session import get_spark

        self.stop()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
                "spark.local.dir": str(self.run_dir / "local"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._proc = self.spark.sparkContext._gateway.proc  # noqa: SLF001
        return self.spark

    def stop(self) -> None:
        """Stop the session; the JVM keeps running."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM (peak resident set) of the Spark driver JVM."""
        pid = self.spark._jvm.ProcessHandle.current().pid()  # noqa: SLF001
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found for the Spark JVM")

    def close(self) -> None:
        """Stop Spark and wait until the JVM process has exited."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway  # noqa: SLF001
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None  # noqa: SLF001
            SparkContext._jvm = None  # noqa: SLF001
        if self._proc is not None:
            if self._proc.stdin is not None:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait()


# --------------------------------------------------------------------------
# tracing


class Tracer:
    """Spans kept in memory: name, start, end, parent span and the op
    (root span) they belong to.  ``enabled=False`` records nothing.

    ``count_py4j`` wraps the py4j client so every call into the JVM is
    counted on the innermost open span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "py4j": 0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def innermost(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    def count_py4j(self, spark):
        """Count py4j calls while the block runs (traced runs)."""
        if not self.enabled:
            return nullcontext()

        def bump():
            if self._stack:
                self._stack[-1]["py4j"] += 1

        return on_jvm_call(spark, bump)

    def write(self, path: Path) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


# py4j sends this when Python's garbage collector frees a JVM object
# proxy, so it lands in whichever op is running when the collector runs:
# not a call the op made, and not counted.
_RELEASE = py4j.protocol.MEMORY_COMMAND_NAME + py4j.protocol.MEMORY_DEL_SUBCOMMAND_NAME


@contextmanager
def on_jvm_call(spark, hook):
    """Call ``hook()`` before every py4j call from this process into the
    Spark JVM while the block runs (object releases excepted)."""
    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
    send = client.send_command

    def hooked(command, *args, **kwargs):
        if not command.startswith(_RELEASE):
            hook()
        return send(command, *args, **kwargs)

    client.send_command = hooked
    try:
        yield
    finally:
        del client.send_command


def self_times(spans: list[dict]) -> dict[int, float]:
    """Seconds each span spent outside its children: its duration minus
    the union of its children's intervals."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            if cur_end is None or c["start"] > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = c["start"], c["end"]
            else:
                cur_end = max(cur_end, c["end"])
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# --------------------------------------------------------------------------
# Spark accounting


_GROUP_IDS = itertools.count()  # unique across meters of one process


class SparkMeter:
    """Jobs, stages, tasks, task time and shuffle/spill bytes of one op,
    read from a job group per op, ``statusTracker()`` and the status
    store over py4j.  Works with ``spark.ui.enabled=false``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()  # noqa: SLF001
        self.tracker = self.sc.statusTracker()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()

    def begin(self, label: str) -> str:
        group = f"perfbench-{next(_GROUP_IDS)}"
        self.sc.setJobGroup(group, label)
        return group

    def end(self, group: str) -> dict:
        """Counters of every job submitted under ``group``.  A stage
        counts once, and only if it ran: under AQE each shuffle runs in
        a map-stage job of its own and the next job lists it again as a
        SKIPPED stage."""
        self.sc._jsc.clearJobGroup()  # noqa: SLF001
        self.bus.waitUntilEmpty()
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0,
        }
        stage_ids = set()
        for job_id in self.tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = self.tracker.getJobInfo(job_id)
            stage_ids.update(info.stageIds if info else ())
        for stage_id in sorted(stage_ids):
            try:
                sd = self.store.lastStageAttempt(stage_id)
            except Exception:
                continue  # never submitted and not recorded
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["task_ms"] += sd.executorRunTime()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def total_jobs(self) -> int:
        """Jobs the application has submitted so far."""
        self.bus.waitUntilEmpty()
        return self.store.jobsList(None).size()


def cpu_times() -> list[int]:
    """Aggregate CPU tick counters of the host (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Share of host CPU time that was idle and stolen by the hypervisor
    between two ``cpu_times`` readings -- context for noisy runs."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"idle_frac": (d[3] + d[4]) / total, "steal_frac": d[7] / total}
