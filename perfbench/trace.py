"""Spans, Spark job-group attribution and the event-log parser.

Every timed call runs inside a span.  A span has an id, a name, a parent,
a start and an end; in a traced run its id is also the Spark job group of
the calls it makes, so Spark's own event log attributes each job, stage and
task to exactly one span.  Spans stay in memory and are written with the
layer file when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; while ``sc`` is set, labels Spark jobs with them."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # SparkContext whose jobs are labelled, or None

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        parent_id = parent.id if parent else None
        s = Span(f"s{len(self.spans)}", name, parent_id, 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.id, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, parent.name)
                else:
                    self.sc._jsc.clearJobGroup()

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


@dataclass
class Totals:
    """Engine work attributed to one job group (or summed over several)."""

    jobs: int = 0
    job_s: float = 0.0
    schema_jobs: int = 0  # jobs launched inside DataFrameReader.parquet
    schema_s: float = 0.0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_bytes_mb: float = 0.0

    def __iadd__(self, other: "Totals") -> "Totals":
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)
        return self


_MB = 1024.0 * 1024.0
_READER_FRAME = "DataFrameReader.parquet("
PYTHON_SENT = "data sent to Python workers"


def parse_event_log(lines) -> dict[str, Totals]:
    """Fold a Spark JSON event log into per-job-group totals.

    Jobs carry their group in ``spark.jobGroup.id``; stages map to the job
    that submitted them and tasks to their stage.  A job counts as a schema
    job when every stage it runs was created inside
    ``DataFrameReader.parquet`` — the footer/listing jobs a Parquet read
    launches before any query runs.  Jobs without a group are ignored.
    """
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_schema: dict[int, bool] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, Totals] = defaultdict(Totals)
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = e["Job ID"]
            job_group[jid] = group
            job_start[jid] = e["Submission Time"]
            infos = e.get("Stage Infos") or []
            job_schema[jid] = bool(infos) and all(
                _READER_FRAME in (s.get("Details") or "") for s in infos
            )
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid not in job_group:
                continue
            t = out[job_group[jid]]
            secs = (e["Completion Time"] - job_start[jid]) / 1000.0
            t.jobs += 1
            t.job_s += secs
            if job_schema[jid]:
                t.schema_jobs += 1
                t.schema_s += secs
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(e["Stage Info"]["Stage ID"])
            if jid is not None:
                out[job_group[jid]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid is None:
                continue
            t = out[job_group[jid]]
            t.tasks += 1
            m = e.get("Task Metrics") or {}
            t.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            t.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            t.jvm_gc_s += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            t.shuffle_read_mb += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / _MB
            sw = m.get("Shuffle Write Metrics") or {}
            t.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / _MB
            t.spill_mb += m.get("Disk Bytes Spilled", 0) / _MB
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PYTHON_SENT:
                    t.python_bytes_mb += float(acc.get("Update") or 0) / _MB
    return dict(out)


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning milliseconds of ``df``'s own
    QueryExecution, read from its QueryPlanningTracker (planning is forced
    first, so all three phases are present)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0.0
    while it.hasNext():
        total += float(it.next()._2().durationMs())
    return total
