"""Reader for Spark's JSON event log (``spark.eventLog.enabled``).

Spark 4 writes the log zstd-compressed; ``pyarrow.input_stream`` decodes
it, so no ``zstandard`` module is needed. The reader attributes SQL
executions to pipeline outputs by the path in their
``InsertIntoHadoopFsRelationCommand`` node and sums the task-level
metrics the benchmark's layer ledger reports: the Python/Arrow boundary
(MapInArrow SQL metrics), shuffle writes and task failures.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

import pyarrow as pa

_INSERT = "InsertIntoHadoopFsRelationCommand "
# output dir -> ledger name; the first matching pattern wins
_OUTPUTS = [
    (re.compile(r"/sinks/([^/]+)/"), "sink.{0}"),
    (re.compile(r"/dlq/"), "dlq"),
    (re.compile(r"/_metrics/"), "metrics_write"),
]
_PY_METRICS = {
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "returned_bytes",
    "time to run Python workers": "run_ms",
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "number of output rows": "rows",
}


@dataclass
class Execution:
    """One SQL execution: wall span (ms since epoch) and output target."""

    id: int
    start_ms: int
    root: int
    end_ms: int | None = None
    description: str = ""
    output: str | None = None

    @property
    def seconds(self) -> float:
        return ((self.end_ms or self.start_ms) - self.start_ms) / 1000.0

    @property
    def target(self) -> str:
        """Ledger name: ``sink.<name>``, ``dlq``, ``metrics_write``,
        ``totals_collect`` or ``other``."""
        if self.output:
            for rx, name in _OUTPUTS:
                m = rx.search(self.output + "/")
                if m:
                    return name.format(*m.groups())
        if self.description.startswith("collect at"):
            return "totals_collect"
        return "other"


@dataclass
class EventLog:
    executions: dict[int, Execution] = field(default_factory=dict)
    # accumulator id -> (plan node name, metric name)
    accumulators: dict[int, tuple[str, str]] = field(default_factory=dict)
    stage_exec: dict[int, int] = field(default_factory=dict)
    tasks: list[dict] = field(default_factory=list)
    stage_attempts: list[tuple[int, int]] = field(default_factory=list)

    def window(self, t0: float, t1: float) -> list[Execution]:
        """Executions that started within ``[t0, t1]`` (epoch seconds),
        without the wrappers that nest others (a streaming micro-batch's
        execution spans the writes its ``foreachBatch`` function runs)."""
        wrappers = {e.root for e in self.executions.values()
                    if e.root != e.id}
        return sorted((e for e in self.executions.values()
                       if t0 * 1000 <= e.start_ms <= t1 * 1000
                       and e.id not in wrappers),
                      key=lambda e: e.start_ms)

    def _tasks_of(self, execs: list[Execution]) -> list[dict]:
        ids = {e.id for e in execs}
        return [t for t in self.tasks
                if self.stage_exec.get(t["Stage ID"]) in ids]

    def python_boundary(self, execs: list[Execution]) -> dict[str, float]:
        """MapInArrow SQL metrics summed over the executions' tasks."""
        out = {v: 0 for v in _PY_METRICS.values()}
        for t in self._tasks_of(execs):
            for acc in t["Task Info"].get("Accumulables", []):
                node, name = self.accumulators.get(acc["ID"], ("", ""))
                if "MapInArrow" in node and name in _PY_METRICS:
                    out[_PY_METRICS[name]] += int(acc.get("Update") or 0)
        return out

    def shuffle(self, execs: list[Execution]) -> dict[str, int]:
        b = r = 0
        for t in self._tasks_of(execs):
            w = (t.get("Task Metrics") or {}).get("Shuffle Write Metrics", {})
            b += int(w.get("Shuffle Bytes Written", 0))
            r += int(w.get("Shuffle Records Written", 0))
        return {"bytes_written": b, "records": r}

    def failures(self) -> dict[str, int]:
        """Failed task attempts and stage re-attempts in the whole log."""
        return {
            "task_failed": sum(
                1 for t in self.tasks
                if t["Task End Reason"].get("Reason") != "Success"),
            "stage_retried": sum(1 for _, a in self.stage_attempts if a > 0),
        }


def _walk_plan(node: dict, acc: dict[int, tuple[str, str]]) -> str | None:
    """Record the plan's accumulator ids; return the output path of its
    InsertIntoHadoopFsRelationCommand node, if any."""
    for m in node.get("metrics", []):
        acc[int(m["accumulatorId"])] = (node["nodeName"], m["name"])
    out = None
    s = node.get("simpleString", "")
    if _INSERT in s:
        out = s.split(_INSERT, 1)[1].split(",", 1)[0]
    for c in node.get("children", []):
        out = _walk_plan(c, acc) or out
    return out


def log_files(event_dir: str) -> list[str]:
    """Event files under ``event_dir``, in the rolled layout Spark 4
    writes (``eventlog_v2_<app>/events_<n>_<app>[.zstd]``)."""
    return sorted(glob.glob(os.path.join(event_dir, "eventlog_v2_*",
                                         "events_*")),
                  key=lambda p: (os.path.dirname(p),
                                 int(os.path.basename(p).split("_")[1])))


def read_events(path: str) -> list[dict]:
    """Decode one event file; a ``.zstd``/``.zst`` suffix means zstd."""
    codec = "zstd" if path.endswith((".zstd", ".zst")) else None
    with pa.input_stream(path, compression=codec) as s:
        text = s.read().decode("utf-8")
    out = []
    for line in text.splitlines():
        if not line.strip():
            continue
        try:
            out.append(json.loads(line))
        except json.JSONDecodeError:
            # an in-progress log may end in a partly written line
            break
    return out


def parse(events: list[dict]) -> EventLog:
    log = EventLog()
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            ex = Execution(e["executionId"], e["time"],
                           root=e.get("rootExecutionId", e["executionId"]),
                           description=e.get("description", ""))
            ex.output = _walk_plan(e.get("sparkPlanInfo") or {},
                                   log.accumulators)
            log.executions[ex.id] = ex
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(e.get("sparkPlanInfo") or {}, log.accumulators)
        elif kind.endswith("SQLExecutionEnd"):
            ex = log.executions.get(e["executionId"])
            if ex is not None:
                ex.end_ms = e["time"]
        elif kind == "SparkListenerJobStart":
            eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                for sid in e.get("Stage IDs", []):
                    log.stage_exec[sid] = int(eid)
        elif kind == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            log.stage_attempts.append((si["Stage ID"],
                                       si.get("Stage Attempt ID", 0)))
        elif kind == "SparkListenerTaskEnd":
            log.tasks.append(e)
    return log


def load(event_dir: str) -> EventLog:
    events: list[dict] = []
    for p in log_files(event_dir):
        events += read_events(p)
    return parse(events)
