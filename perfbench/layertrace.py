"""Layer spans for the traced run.

``Tracer.install()`` wraps the public entry points of each engine layer
(see ``LAYER_TARGETS`` and the operator registry) in spans that record
name, start, end and parent; ``uninstall()`` restores the originals, so an
untraced pass runs the package exactly as shipped. Spark jobs, stages and
tasks are attributed to spans afterwards from the session's event log: a
job belongs to the innermost span open when it was submitted, whatever job
group or thread submitted it, so streaming micro-batch jobs count too.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import threading
import time
from collections import defaultdict
from typing import Any, Callable

PKG = "ssis_to_pyspark_agent_spark"

# operator modules reported under another module's name
OP_MODULE_ALIAS = {"joins_advanced": "joins", "maintenance": "other", "script": "other"}


def _graph_tasks(graph) -> int:
    """Tasks in a TaskGraph, counting container bodies."""
    n = 0
    for t in graph.tasks:
        n += 1
        body = getattr(t.payload, "body", t.payload)
        if hasattr(body, "tasks") and hasattr(body, "edges"):
            n += _graph_tasks(body)
    return n


def _count_runner(span, args, kwargs, result) -> None:
    span["counts"]["steps"] += sum(1 for s in args[1].steps if s.enabled)


def _count_control(span, args, kwargs, result) -> None:
    results = result[0]
    span["counts"]["tasks"] += len(results)
    span["counts"]["tasks_failed"] += sum(
        1 for r in results.values() if r.status == "failure")


def _count_parse(span, args, kwargs, result) -> None:
    span["counts"]["tasks"] += _graph_tasks(result.task_graph)


# (module, attribute path, layer, result counter)
LAYER_TARGETS: list[tuple[str, str, str, Callable | None]] = [
    (f"{PKG}.sources.catalog", "read_parquet", "sources", None),
    (f"{PKG}.functions.expr", "ExpressionCompiler.compile", "expr", None),
    (f"{PKG}.plans.runner", "Runner.run", "runner", _count_runner),
    (f"{PKG}.plans.control", "ControlFlowRunner.run", "control", _count_control),
    (f"{PKG}.parsing.dtsx", "parse_package", "parsing", _count_parse),
    (f"{PKG}.parsing", "parse_package", "parsing", _count_parse),
    (f"{PKG}.streaming.runner", "run_stream_to_memory", "streaming", None),
    (f"{PKG}.streaming", "run_stream_to_memory", "streaming", None),
    (f"{PKG}.streaming.runner", "stream_stream_join", "streaming", None),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self._restore: list[tuple[Any, str, Any, bool]] = []
        self._main = threading.get_ident()
        # recorded on every span: the harness sets it to the pass number
        self.tag: Any = None

    # -- spans ---------------------------------------------------------------

    def open(self, layer: str) -> dict[str, Any]:
        sp = {
            "layer": layer,
            "tag": self.tag,
            "parent": self._stack[-1] if self._stack else None,
            "t0": time.perf_counter(), "w0": time.time(),
            "t1": None, "w1": None,
            "counts": defaultdict(int),
        }
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        return sp

    def close(self, sp: dict[str, Any]) -> None:
        sp["t1"] = time.perf_counter()
        sp["w1"] = time.time()
        self._stack.pop()

    def close_all(self) -> None:
        """Close the spans an exception left open."""
        while self._stack:
            self.close(self.spans[self._stack[-1]])

    def _wrap(self, layer: str, fn: Callable, count: Callable | None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if threading.get_ident() != self._main:
                return fn(*args, **kwargs)
            sp = self.open(layer)
            sp["counts"]["calls"] += 1
            try:
                result = fn(*args, **kwargs)
                if count is not None:
                    count(sp, args, kwargs, result)
                return result
            finally:
                self.close(sp)

        return traced

    # -- patching ------------------------------------------------------------

    def _patch(self, owner: Any, attr: str, layer: str,
               count: Callable | None = None, item: bool = False) -> None:
        orig = owner[attr] if item else getattr(owner, attr)
        wrapped = self._wrap(layer, orig, count)
        if item:
            owner[attr] = wrapped
        else:
            setattr(owner, attr, wrapped)
        self._restore.append((owner, attr, orig, item))

    def install(self) -> None:
        for mod_name, path, layer, count in LAYER_TARGETS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            self._patch(owner, attr, layer, count)
        from ssis_to_pyspark_agent_spark.operators import _REGISTRY

        for name, fn in list(_REGISTRY.items()):
            mod = fn.__module__.rsplit(".", 1)[-1]
            self._patch(_REGISTRY, name, f"op.{OP_MODULE_ALIAS.get(mod, mod)}",
                        item=True)

    def uninstall(self) -> None:
        for owner, attr, orig, item in reversed(self._restore):
            if item:
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._restore.clear()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


_WANTED = tuple('{"Event":"' + e for e in (
    "SparkListenerJobStart", "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
    "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
))


def read_event_log(log_dir: str) -> dict[str, Any]:
    """Jobs (submission time, stages), completed stages, task ends and
    streaming progress timestamps from the session's event log."""
    jobs: dict[int, dict[str, Any]] = {}
    stage_job: dict[int, int] = {}
    stages: list[int] = []
    tasks: list[dict[str, Any]] = []
    progress: list[float] = []
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path) as f:
            for line in f:
                if not line.startswith(_WANTED):  # skip plans, SQL metrics
                    continue
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submit": ev["Submission Time"] / 1000.0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    stages.append(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    out = (ev.get("Task Metrics") or {}).get("Output Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "failed": bool(info.get("Failed")),
                        "bytes_written": int(out.get("Bytes Written", 0)),
                    })
                elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                    ts = ev.get("progress", {}).get("timestamp")
                    if ts:
                        progress.append(_iso_epoch(ts))
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages,
            "tasks": tasks, "progress": progress}


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


def attribute(spans: list[dict[str, Any]], log: dict[str, Any]) -> None:
    """Add self job/stage/task/bytes counts to each span from the log."""
    order = sorted(range(len(spans)), key=lambda i: spans[i]["w0"])

    def innermost(t: float) -> int | None:
        best = None
        for i in order:
            sp = spans[i]
            if sp["w0"] > t:
                break
            if sp["w1"] is not None and t <= sp["w1"]:
                best = i  # later-opened containing span is deeper
        return best

    job_span = {jid: innermost(j["submit"]) for jid, j in log["jobs"].items()}
    for jid, i in job_span.items():
        if i is not None:
            spans[i]["counts"]["jobs"] += 1
    for sid in log["stages"]:
        i = job_span.get(log["stage_job"].get(sid))
        if i is not None:
            spans[i]["counts"]["stages"] += 1
    for t in log["tasks"]:
        i = job_span.get(log["stage_job"].get(t["stage"]))
        if i is not None:
            spans[i]["counts"]["spark_tasks"] += 1
            spans[i]["counts"]["spark_tasks_failed"] += int(t["failed"])
            spans[i]["counts"]["bytes_written"] += t["bytes_written"]
    for ts in log["progress"]:
        i = innermost(ts)
        # a progress event is posted after its batch; charge it to the
        # nearest enclosing streaming span
        while i is not None and spans[i]["layer"] != "streaming":
            i = spans[i]["parent"]
        if i is not None:
            spans[i]["counts"]["batches"] += 1


# the published name of a layer's inclusive span time; the operator layers
# publish their self time only
TIME_METRIC = {
    "sources": "sources.read_s", "expr": "expr.compile_s",
    "runner": "runner.build_s", "control": "control.run_s",
    "parsing": "parsing.parse_s", "streaming": "streaming.run_s",
    "spark.plan": "spark.plan_s", "spark.action": "spark.action_s",
}


def layer_metrics(totals: dict[str, dict[str, float]]) -> dict[str, float]:
    """Flatten ``layer_totals`` into published metric names:
    ``TIME_METRIC`` for inclusive times, ``<layer>.<count>`` and
    ``<layer>.self_s`` for the rest."""
    out: dict[str, float] = {}
    for layer, t in totals.items():
        if layer in TIME_METRIC:
            out[TIME_METRIC[layer]] = t["incl_s"]
        for k, v in t.items():
            if k != "incl_s":
                out[f"{layer}.{k}"] = v
    return out


def layer_totals(spans: list[dict[str, Any]], tag: Any) -> dict[str, dict[str, float]]:
    """Per layer, over the spans tagged ``tag``: inclusive time (outermost
    span of the layer only), self time (span minus child spans) and summed
    counts."""
    child_time = defaultdict(float)
    for sp in spans:
        if sp["parent"] is not None:
            child_time[sp["parent"]] += sp["t1"] - sp["t0"]
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for i, sp in enumerate(spans):
        if sp["tag"] != tag:
            continue
        dur = sp["t1"] - sp["t0"]
        tot = out[sp["layer"]]
        tot["self_s"] += dur - child_time[i]
        p = sp["parent"]
        while p is not None and spans[p]["layer"] != sp["layer"]:
            p = spans[p]["parent"]
        if p is None:
            tot["incl_s"] += dur
        for k, v in sp["counts"].items():
            tot[k] += v
    return out
