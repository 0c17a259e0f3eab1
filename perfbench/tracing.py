"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here observes the engine from outside:

- ``Tracer.span`` records a span (layer, name, start, end, parent id) in
  memory; spans nest through a stack, so a span's self time is its duration
  minus its direct children's.
- ``Tracer.install`` rebinds ``sources`` loaders and the public functions of
  the operator modules, in every already-imported module of the package, to
  wrappers that open a span; ``Tracer.uninstall`` puts the originals back.
- ``read_event_log`` parses the Spark event log (a local JSON-lines file) into
  jobs and tasks; the job group the benchmark sets on every request x phase
  ties each job to its request, and its submission time to the spans open
  then (a job counts for a span and for every span enclosing it).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import statistics
import sys
import time
from collections import defaultdict

PACKAGE = "mapreduce_paradigm_spark"
OPERATOR_MODULES = ("components", "dedup", "similarity", "index")
SOURCE_MODULES = ("tables", "text", "files")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._bindings: list[tuple[object, str, object, object]] | None = None

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "layer": layer,
            "name": name,
            "t0": time.time(),
            "t1": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return traced

    def _find_bindings(self) -> list[tuple[object, str, object, object]]:
        """(module, name, original, wrapper) for every binding of a traced
        function: operator modules' public functions, and the sources'
        loaders (``load_*`` / ``read_*``)."""
        targets: dict[int, tuple[object, object]] = {}
        for layer, names, prefixes in (
            ("operators", OPERATOR_MODULES, ("",)),
            ("sources", SOURCE_MODULES, ("load_", "read_")),
        ):
            for short in names:
                mod = importlib.import_module(f"{PACKAGE}.{layer}.{short}")
                for attr, obj in vars(mod).items():
                    if (
                        inspect.isfunction(obj)
                        and obj.__module__ == mod.__name__
                        and not attr.startswith("_")
                        and attr.startswith(prefixes)
                    ):
                        targets[id(obj)] = (obj, self._wrap(layer, obj))
        bindings = []
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                hit = targets.get(id(val))
                if hit is not None and hit[0] is val:
                    bindings.append((mod, attr, val, hit[1]))
        return bindings

    def install(self) -> None:
        if self._bindings is None:
            self._bindings = self._find_bindings()
        for mod, attr, _orig, wrapper in self._bindings:
            setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, orig, _wrapper in self._bindings or ():
            setattr(mod, attr, orig)


def read_event_log(path: str) -> tuple[dict[int, dict], list[dict]]:
    """Return (jobs by id, tasks) from an uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit_ms": ev["Submission Time"],
                }
                for sid in ev.get("Stage IDs", ()):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "job": stage_job.get(ev["Stage ID"]),
                    "stage": ev["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "deser_ms": m.get("Executor Deserialize Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                })
    return jobs, tasks


def _children(spans: list[dict]) -> dict[int | None, list[dict]]:
    kids: dict[int | None, list[dict]] = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    return kids


def _open_at(spans_of_request: list[dict], t: float) -> list[dict]:
    """Spans of one request whose interval holds time ``t``."""
    return [s for s in spans_of_request if s["t0"] <= t <= s["t1"]]


def layer_metrics(
    spans: list[dict],
    jobs: dict[int, dict],
    tasks: list[dict],
    traced_passes: int,
    cores: int,
) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
    """Per-layer metrics per traced pass, and per-operator detail.

    ``spans`` holds the traced passes' request spans (layer ``request``) and
    everything under them; a job belongs to a request through its job group
    ``"<request span id>:<phase>"``.
    """
    n = max(1, traced_passes)
    kids = _children(spans)
    by_id = {s["id"]: s for s in spans}

    def dur(s: dict) -> float:
        return s["t1"] - s["t0"]

    def self_time(s: dict) -> float:
        return dur(s) - sum(dur(c) for c in kids.get(s["id"], ()))

    def subtree(root: dict) -> list[dict]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], ()))
        return out

    requests = [s for s in spans if s["layer"] == "request"]
    req_spans = {r["id"]: subtree(r) for r in requests}

    # attribute each job to its request and to every span open at submission
    span_jobs: dict[int, int] = defaultdict(int)
    phase_jobs: dict[str, int] = defaultdict(int)
    req_job_ids: set[int] = set()
    action_job_ids: set[int] = set()  # jobs of the sink phases (action, write)
    for jid, job in jobs.items():
        group = job["group"] or ""
        rid, _, phase = group.partition(":")
        if not rid.isdigit() or int(rid) not in req_spans:
            continue
        req_job_ids.add(jid)
        phase_jobs[phase] += 1
        if phase in ("action", "write"):
            action_job_ids.add(jid)
        for s in _open_at(req_spans[int(rid)], job["submit_ms"] / 1000.0):
            span_jobs[s["id"]] += 1

    def outermost(s: dict) -> bool:
        """No span of the same layer encloses ``s`` (so nested calls count once)."""
        parent = by_id.get(s["parent"])
        return parent is None or parent["layer"] != s["layer"]

    ops: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "self_s": 0.0, "jobs": 0})
    op_jobs = load_calls = load_s = load_jobs = 0.0
    for s in spans:
        if s["layer"] == "operators":
            rec = ops[s["name"]]
            rec["calls"] += 1
            rec["self_s"] += self_time(s)
            rec["jobs"] += span_jobs[s["id"]]
            op_jobs += span_jobs[s["id"]] if outermost(s) else 0
        elif s["layer"] == "sources" and outermost(s):
            load_calls += 1
            load_s += dur(s)
            load_jobs += span_jobs[s["id"]]

    request_s = sum(dur(r) for r in requests)
    build = [s for s in spans if s["layer"] == "registry"]
    build_s = sum(dur(s) for s in build)
    sink_spans = [s for s in spans if s["layer"] == "sinks"]
    writes = [s for s in sink_spans if s["name"] == "write_letter_partitioned"]
    action_s = sum(dur(s) for s in sink_spans)

    mine = [t for t in tasks if t["job"] in req_job_ids]
    stages: dict[int, list[float]] = defaultdict(list)
    for t in mine:
        stages[t["stage"]].append(t["run_ms"])
    wide = [v for v in stages.values() if len(v) >= 2]
    max_sum = sum(max(v) for v in wide)
    med_sum = sum(statistics.median(v) for v in wide)
    run_s = sum(t["run_ms"] for t in mine) / 1000.0
    action_run_s = sum(t["run_ms"] for t in mine if t["job"] in action_job_ids) / 1000.0
    mb = 1024.0 * 1024.0

    metrics = {
        "registry.build_s": build_s / n,
        "registry.build_jobs": phase_jobs["build"] / n,
        "registry.build_share": build_s / request_s if request_s else 0.0,
        "sources.load_calls": load_calls / n,
        "sources.load_s": load_s / n,
        "sources.load_jobs": load_jobs / n,
        "operators.calls": sum(r["calls"] for r in ops.values()) / n,
        "operators.self_s": sum(r["self_s"] for r in ops.values()) / n,
        "operators.jobs": op_jobs / n,
        "exec.jobs": len(req_job_ids) / n,
        "exec.stages": len(stages) / n,
        "exec.tasks": len(mine) / n,
        "exec.jobs_per_request": len(req_job_ids) / max(1, len(requests)),
        "exec.task_run_s": run_s / n,
        "exec.task_deser_s": sum(t["deser_ms"] for t in mine) / 1000.0 / n,
        "exec.gc_s": sum(t["gc_ms"] for t in mine) / 1000.0 / n,
        "exec.cpu_util": action_run_s / (action_s * cores) if action_s else 0.0,
        "exec.shuffle_read_mb": sum(t["shuffle_read"] for t in mine) / mb / n,
        "exec.shuffle_write_mb": sum(t["shuffle_write"] for t in mine) / mb / n,
        "exec.spill_mb": sum(t["spill"] for t in mine) / mb / n,
        "exec.task_max_over_median": max_sum / med_sum if med_sum else 1.0,
        "sinks.write_s": sum(dur(s) for s in writes) / n,
    }
    detail = {name: {k: v / n for k, v in rec.items()} for name, rec in sorted(ops.items())}
    return metrics, detail
