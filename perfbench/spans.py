"""Spans for the traced run, and the Spark-side numbers behind them.

A span is opened by the benchmark around each call into a layer. It records
name, start, end, parent and run id, and sets the Spark job group to its own
id, so every job the layer issues is attributed to it. Spans stay in memory
and are written out once, at the end of the run. After the run the Spark
status REST API (UI on in the traced run only) gives, per job group, the
jobs, stages, tasks, executor time, GC, shuffle bytes and the Python-boundary
SQL metrics of each ``*InPandas``/``*EvalPython`` node.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.request
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

UNTRACED_GROUP = "perfbench/untraced"


@dataclass
class Span:
    name: str
    span_id: str
    parent: str | None
    run_id: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end or time.time()) - self.start


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _open(self, name: str, attrs: dict) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(name, f"{self.run_id}/{len(self.spans)}", parent, self.run_id,
                 time.time(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.span_id, name)
        return s

    def _close(self) -> None:
        s = self._stack.pop()
        s.end = time.time()
        self.sc.setJobGroup(
            self._stack[-1].span_id if self._stack else UNTRACED_GROUP,
            self._stack[-1].name if self._stack else "untraced",
        )

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self._open(name, attrs)
        try:
            yield s
        finally:
            self._close()

    def phase(self, name: str) -> Span:
        """End the open phase span (if any) and start ``name`` as its
        sibling: for layers whose boundaries are the entries of successive
        calls inside one composed function."""
        if self._stack and self._stack[-1].attrs.get("phase"):
            self._close()
        return self._open(name, {"phase": True})

    def end_phases(self) -> None:
        if self._stack and self._stack[-1].attrs.get("phase"):
            self._close()

    def subtree(self, root: Span) -> list[Span]:
        ids = {root.span_id}
        out = [root]
        for s in self.spans:
            if s.parent in ids:
                ids.add(s.span_id)
                out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


@contextlib.contextmanager
def patched(module, name: str, wrapper_factory):
    """Temporarily replace ``module.name`` with ``wrapper_factory(orig)``."""
    orig = getattr(module, name)
    setattr(module, name, wrapper_factory(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


class BarrierCounter:
    """Counts and times ``staging.materialize`` calls (every staging barrier
    in the program goes through it)."""

    def __init__(self):
        self.calls = 0
        self.seconds = 0.0

    def wrap(self, orig):
        def materialize(df, name: str = "stage"):
            t0 = time.perf_counter()
            try:
                return orig(df, name)
            finally:
                self.calls += 1
                self.seconds += time.perf_counter() - t0

        return materialize


# ---------------------------------------------------------------- REST side

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
    "h": 3600.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}
_TOTAL = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(value: str) -> float:
    """'1.5 KiB', '69 ms', or the 'total (min, med, max ...)\\n14.5 s (...)'
    form the SQL tab uses for per-task metrics → base units (bytes, s)."""
    text = value.split("\n", 1)[1] if value.startswith("total") else value
    m = _TOTAL.match(text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return (
        datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_PY_NODE = re.compile(r"InPandas|EvalPython|InArrow|PythonUDTF")


class SparkRest:
    """Reads the status REST API of the running application."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def drain(self, timeout_s: float = 30.0) -> None:
        """Wait until the listener has recorded every finished job."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if not self.get("/jobs?status=running") and not self.get(
                "/stages?status=active"
            ):
                time.sleep(0.3)
                return
            time.sleep(0.2)

    def sql_executions(self, page: int = 500) -> list[dict]:
        """Every SQL execution of the application. ``/sql`` returns one
        page (20 executions unless ``length`` says otherwise), so read
        pages until one comes back short."""
        out: list[dict] = []
        while True:
            batch = self.get(
                f"/sql?details=true&planDescription=false"
                f"&offset={len(out)}&length={page}"
            )
            out.extend(batch)
            if len(batch) < page:
                return out

    def by_group(self) -> dict[str, dict]:
        """job group → {jobs, stages, tasks, task_run_s, task_cpu_s, gc_s,
        shuffle_write_mb, shuffle_read_mb, intervals, py_*}."""
        self.drain()
        jobs = self.get("/jobs")
        stages = {
            (st["stageId"], st["attemptId"]): st
            for st in self.get("/stages")
            if st["status"] == "COMPLETE"
        }
        by_stage: dict[int, list[dict]] = {}
        for (sid, _), st in stages.items():
            by_stage.setdefault(sid, []).append(st)
        groups: dict[str, dict] = {}
        job_group = {}
        for j in jobs:
            g = j.get("jobGroup") or UNTRACED_GROUP
            job_group[j["jobId"]] = g
            acc = groups.setdefault(g, _empty())
            acc["jobs"] += 1
            for sid in j["stageIds"]:
                for st in by_stage.pop(sid, []):
                    acc["stages"] += 1
                    acc["tasks"] += st["numCompleteTasks"]
                    acc["task_run_s"] += st["executorRunTime"] / 1e3
                    acc["task_cpu_s"] += st["executorCpuTime"] / 1e9
                    acc["gc_s"] += st["jvmGcTime"] / 1e3
                    acc["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
                    acc["shuffle_read_mb"] += st["shuffleReadBytes"] / 1e6
                    s, e = _ts(st.get("submissionTime")), _ts(st.get("completionTime"))
                    if s is not None and e is not None:
                        acc["intervals"].append((s, e))
        for _ in range(20):  # the SQL listener may lag the job listener
            executions = self.sql_executions()
            missing = referenced_executions(jobs) - {ex["id"] for ex in executions}
            if not missing:
                break
            time.sleep(0.5)
        else:
            raise RuntimeError(
                f"/sql returned {len(executions)} executions but jobs refer to "
                f"{len(missing)} more (first: {sorted(missing)[:5]})"
            )
        for ex in executions:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            g = next((job_group[i] for i in ids if i in job_group), None)
            if g is None:
                continue
            acc = groups[g]
            for node in ex.get("nodes", []):
                if not _PY_NODE.search(node.get("nodeName", "")):
                    continue
                for m in node.get("metrics", []):
                    name, v = m["name"], parse_sql_metric(m["value"])
                    if name == "data sent to Python workers":
                        acc["py_to_python_mb"] += v / 1e6
                    elif name == "data returned from Python workers":
                        acc["py_from_python_mb"] += v / 1e6
                    elif name == "time to run Python workers":
                        acc["py_udf_s"] += v
        return groups


_ROOT_TAG = re.compile(r"-execution-root-id-(\d+)$")


def referenced_executions(jobs: list[dict]) -> set[int]:
    """Root SQL execution ids named in the jobs' tags."""
    return {
        int(m.group(1))
        for j in jobs
        for tag in j.get("jobTags", [])
        if (m := _ROOT_TAG.search(tag))
    }


def _empty() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
        "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0, "py_to_python_mb": 0.0,
        "py_from_python_mb": 0.0, "py_udf_s": 0.0, "intervals": [],
    }


SPARK_KEYS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb",
)
PY_KEYS = ("to_python_mb", "from_python_mb", "udf_s")


def op_rollup(tracer: Tracer, op: Span, groups: dict[str, dict]) -> dict:
    """Spark totals of one traced operation (its span and all children),
    plus the driver gap: op wall time minus the time at least one of its
    stages was running."""
    total = _empty()
    for s in tracer.subtree(op):
        g = groups.get(s.span_id)
        if g is None:
            continue
        for k, v in g.items():
            total[k] = total[k] + v
        s.attrs["spark"] = {k: v for k, v in g.items() if k != "intervals"}
    busy = _union_len(
        [(max(a, op.start), min(b, op.end)) for a, b in total.pop("intervals")
         if b > op.start and a < op.end]
    )
    total["driver_gap_s"] = op.seconds - busy
    return total
