"""Spans and Spark counters for the traced run.

Spans are recorded by the benchmark around its own calls into the
program; nothing inside the program is instrumented. They stay in
memory and are written once, when the run ends.

Counters come from Spark's REST status API (the surface
``xlearning_spark.status.executor_table`` reads): jobs with their job
group, stages with their task metrics, SQL executions with their plan
nodes.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.run_id, attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def _rest(spark, endpoint: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{endpoint}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _ms(stamp: str) -> float:
    """REST timestamps ('2026-10-17T03:07:33.123GMT') as epoch seconds."""
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    plan_nodes: int = 0
    codegen_stages: int = 0

    def add(self, other: "Counters") -> None:
        for k in self.__dict__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class SparkStatus:
    """Reads job/stage/SQL metrics for job groups or time windows.

    ``snapshot()`` drains the listener bus and pulls the REST lists once;
    the ``counters_*`` methods then aggregate from that snapshot, so a
    traced pass costs three HTTP requests however many queries it ran.
    """

    def __init__(self, spark):
        self.spark = spark
        self._jobs: list[dict] = []
        self._stages: dict[int, dict] = {}
        self._sql: list[dict] = []

    def snapshot(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self._jobs = _rest(self.spark, "jobs")
        self._stages = {}
        for s in _rest(self.spark, "stages"):
            if s["status"] in ("COMPLETE", "FAILED"):
                self._stages[s["stageId"]] = s  # latest attempt wins
        # The SQL endpoint pages (20 executions by default).
        self._sql = _rest(
            self.spark, "sql?details=true&planDescription=false&offset=0&length=1000000"
        )

    def _aggregate(self, jobs: list[dict]) -> Counters:
        c = Counters(jobs=len(jobs))
        job_ids = {j["jobId"] for j in jobs}
        seen: set[int] = set()
        for j in jobs:
            for sid in j["stageIds"]:
                st = self._stages.get(sid)
                if st is None or sid in seen:
                    continue  # skipped (reused shuffle output)
                seen.add(sid)
                c.stages += 1
                c.tasks += st["numTasks"]
                c.executor_run_s += st["executorRunTime"] / 1e3
                c.executor_cpu_s += st["executorCpuTime"] / 1e9
                c.shuffle_read_bytes += st["shuffleReadBytes"]
                c.shuffle_write_bytes += st["shuffleWriteBytes"]
                c.spill_bytes += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        for ex in self._sql:
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if ran & job_ids:
                names = [n["nodeName"] for n in ex.get("nodes", [])]
                c.plan_nodes += sum(
                    1 for n in names if not n.startswith("WholeStageCodegen")
                )
                c.codegen_stages += sum(
                    1 for n in names if n.startswith("WholeStageCodegen")
                )
        return c

    def counters_for_group(self, group: str) -> Counters:
        return self._aggregate([j for j in self._jobs if j.get("jobGroup") == group])

    def counters_between(self, t0: float, t1: float) -> Counters:
        """Jobs submitted in the wall-clock window [t0, t1] (epoch s);
        used where the program sets its own job group (streaming)."""
        return self._aggregate(
            [
                j
                for j in self._jobs
                if "submissionTime" in j and t0 <= _ms(j["submissionTime"]) <= t1
            ]
        )


def jvm_gc_seconds(spark) -> float:
    """Total JVM collection time so far, from the GC MXBeans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3
