"""Layer ledger: benchmark-side spans plus a Spark event-log reducer.

The benchmark wraps a span around each call it makes into one of the
engine's layers. After a traced run, `reduce_event_log` reads the
uncompressed Spark event log of that run and charges every Spark job to one
layer:

1. by submission time, to the innermost span open when the job was
   submitted (job groups are not used: the engine submits some jobs from its
   own worker threads, which carry no job description);
2. then, inside spans marked `refine`, by the job's call site: a job whose
   action was called from an engine module is charged to that module's
   layer (`collect at .../itext2kg_spark/merge/components.py:73` ->
   `merge.components`), when that layer is one the ledger reports.

Task metrics of the stages each job ran are summed per layer, together with
the SQL metrics `time to run Python workers` and `time to start Python
workers` that Python-boundary operators report per task.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager

# every generic metric of the full per-layer table, in print order
GENERIC = (
    "wall_s", "jobs", "tasks", "exec_run_s", "exec_cpu_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "rows_in", "rows_out",
    "py_run_s", "py_start_s",
)

_CALLSITE_MODULE = re.compile(r"itext2kg_spark/([\w/]+)\.py:\d+")
_MB = 1024.0 * 1024.0


class Spans:
    """In-memory spans: (name, start_ms, end_ms, root, refine, tag).

    Times are wall-clock epoch milliseconds, the clock Spark stamps its
    events with. Spans may be opened from several threads at once.
    """

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, root: bool = False, refine: bool = False,
             tag: str = ""):
        start = time.time() * 1000.0
        try:
            yield
        finally:
            end = time.time() * 1000.0
            with self._lock:
                self.spans.append({
                    "name": name, "start": start, "end": end, "root": root,
                    "refine": refine, "tag": tag,
                })

    def wrap(self, module, attr: str, name: str | None, record=None):
        """Replace `module.attr` by a wrapper that spans each call as `name`
        (no span when None) and passes (args, kwargs, result) to `record`;
        returns the undo callable."""
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            if name is None:
                out = orig(*args, **kwargs)
            else:
                with self.span(name):
                    out = orig(*args, **kwargs)
            if record is not None:
                record(args, kwargs, out)
            return out

        setattr(module, attr, wrapped)
        return lambda: setattr(module, attr, orig)


def callsite_layer(callsite: str) -> str | None:
    """`collect at /x/itext2kg_spark/merge/kg.py:12` -> `merge.kg`."""
    m = _CALLSITE_MODULE.search(callsite or "")
    return m.group(1).replace("/", ".") if m else None


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_jobs(lines) -> dict[int, dict]:
    """Event-log lines -> {job id: summed task metrics + submission time
    and call site}. Each executed stage is charged to the first job that
    lists it (later jobs that list a stage skip it)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "submit": float(ev["Submission Time"]),
                "callsite": props.get("callSite.short", ""),
                "tasks": 0, "exec_run_ms": 0.0, "exec_cpu_ns": 0.0,
                "shuffle_write_b": 0.0, "shuffle_read_b": 0.0,
                "spill_b": 0.0, "rows_in": 0.0, "rows_out": 0.0,
                "py_run_ms": 0.0, "py_start_ms": 0.0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if job is None:
                continue
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            job["tasks"] += 1
            job["exec_run_ms"] += _num(tm.get("Executor Run Time"))
            job["exec_cpu_ns"] += _num(tm.get("Executor CPU Time"))
            job["shuffle_write_b"] += _num(sw.get("Shuffle Bytes Written"))
            job["shuffle_read_b"] += _num(sr.get("Remote Bytes Read")) + _num(
                sr.get("Local Bytes Read"))
            job["spill_b"] += _num(tm.get("Disk Bytes Spilled"))
            job["rows_in"] += _num((tm.get("Input Metrics") or {}).get(
                "Records Read")) + _num(sr.get("Total Records Read"))
            job["rows_out"] += _num((tm.get("Output Metrics") or {}).get(
                "Records Written")) + _num(sw.get("Shuffle Records Written"))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == "time to run Python workers":
                    job["py_run_ms"] += _num(acc.get("Update"))
                elif acc.get("Name") == "time to start Python workers":
                    job["py_start_ms"] += _num(acc.get("Update"))
    return jobs


def attribute(jobs: dict[int, dict], spans: list[dict],
              layers: set[str]) -> dict[int, str]:
    """{job id: layer}; jobs submitted outside every span are left out."""
    out = {}
    for jid, job in jobs.items():
        t = job["submit"]
        open_ = [s for s in spans if s["start"] <= t <= s["end"]]
        if not open_:
            continue
        inner = max(open_, key=lambda s: s["start"])
        layer = inner["name"]
        if any(s["refine"] for s in open_):
            site = callsite_layer(job["callsite"])
            if site in layers:
                layer = site
        out[jid] = layer
    return out


def layer_table(spans: list[dict], jobs: dict[int, dict],
                layers: list[str]) -> dict[str, dict[str, float]]:
    """Per-layer generic metrics: wall from spans (summed over every span of
    the layer), the rest from the jobs charged to it."""
    table = {name: {m: 0.0 for m in GENERIC} for name in layers}
    for s in spans:
        if s["name"] in table:
            table[s["name"]]["wall_s"] += (s["end"] - s["start"]) / 1000.0
    for jid, layer in attribute(jobs, spans, set(layers)).items():
        row, job = table[layer], jobs[jid]
        row["jobs"] += 1
        row["tasks"] += job["tasks"]
        row["exec_run_s"] += job["exec_run_ms"] / 1000.0
        row["exec_cpu_s"] += job["exec_cpu_ns"] / 1e9
        row["shuffle_write_mb"] += job["shuffle_write_b"] / _MB
        row["shuffle_read_mb"] += job["shuffle_read_b"] / _MB
        row["spill_mb"] += job["spill_b"] / _MB
        row["rows_in"] += job["rows_in"]
        row["rows_out"] += job["rows_out"]
        row["py_run_s"] += job["py_run_ms"] / 1000.0
        row["py_start_s"] += job["py_start_ms"] / 1000.0
    return table


def coverage(spans: list[dict], start_ms: float, end_ms: float) -> float:
    """Sum of root-span durations inside [start, end] over that interval."""
    covered = sum(
        min(s["end"], end_ms) - max(s["start"], start_ms)
        for s in spans
        if s["root"] and s["end"] > start_ms and s["start"] < end_ms
    )
    return covered / max(end_ms - start_ms, 1e-9)


def reduce_event_log(path: str, spans: list[dict],
                     layers: list[str]) -> dict[str, dict[str, float]]:
    with open(path, encoding="utf-8") as f:
        jobs = read_jobs(f)
    return layer_table(spans, jobs, layers)
