"""Per-layer tracing from outside the package.

``Tracer`` wraps the public functions of each package module (the
layers) and keeps a span stack in memory: a layer's self time is its
span minus the time its child spans cover. At every layer boundary it
tags the calling thread with the local property ``perfbench.layer``,
so each Spark job records, in the event log, the innermost layer that
started it. The operation's build and action phases run under
``setJobGroup``. ``parse_event_log`` turns the uncompressed event log
into per-pass Spark job-layer figures.

Tagging uses only local properties and job groups, which start no job.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import statistics
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

PKG = "data_mining_map_reduce_spark"

# layer -> package modules whose public functions make up that layer
LAYER_MODULES = {
    "sources": ["sources.catalog", "sources.readers", "sources.writers"],
    "functions": ["functions.text", "functions.hashing", "functions.vectors"],
    **{
        m: [f"operators.{m}"]
        for m in (
            "relational sketches temporal itemsets similarity dedup ann "
            "clustering graph recommend text_analysis"
        ).split()
    },
}
# Column-expression builders: they never start a job, so their spans
# skip the local-property round trip to the JVM.
JOBLESS = {"functions"}
LAYER_PROP = "perfbench.layer"
GROUP_PREFIX = "perfbench"


class Tracer:
    """Span stack, per-layer counters and job tags for traced passes."""

    def __init__(self, sc):
        self.sc = sc
        self._stack: list[list] = []  # [layer, start, child seconds]
        self._tag: str | None = None
        self._patches: list[tuple[object, str, object]] = []
        self.reset()

    def reset(self) -> None:
        self.calls: Counter = Counter()
        self.self_s: Counter = Counter()

    # -- patching ---------------------------------------------------------
    def install(self) -> None:
        wrappers = {}
        for layer, mods in LAYER_MODULES.items():
            for m in mods:
                mod = importlib.import_module(f"{PKG}.{m}")
                for name, fn in vars(mod).items():
                    if (
                        not name.startswith("_")
                        and inspect.isfunction(fn)
                        and fn.__module__ == mod.__name__
                    ):
                        wrappers[fn] = self._wrap(layer, fn)
        # Replace every reference the package holds (module globals and
        # names imported into other modules), so calls between modules
        # go through the wrappers too.
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in wrappers:
                    setattr(mod, attr, wrappers[val])
                    self._patches.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches.clear()
        self._set_tag(None)
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self._enter(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self._exit()

        return wrapper

    # -- spans ------------------------------------------------------------
    def _set_tag(self, tag: str | None) -> None:
        if tag != self._tag:
            self.sc.setLocalProperty(LAYER_PROP, tag)
            self._tag = tag

    def _enter(self, layer: str) -> None:
        self.calls[layer] += 1
        self._stack.append([layer, time.perf_counter(), 0.0])
        if layer not in JOBLESS:
            self._set_tag(layer)

    def _exit(self) -> None:
        layer, start, child = self._stack.pop()
        dur = time.perf_counter() - start
        self.self_s[layer] += dur - child
        if self._stack:
            self._stack[-1][2] += dur
        self._set_tag(
            next((s[0] for s in reversed(self._stack) if s[0] not in JOBLESS), None)
        )

    @contextmanager
    def phase(self, pass_idx: int, op: str, phase: str):
        """Root span for one operation's build or action phase."""
        self.sc.setJobGroup(f"{GROUP_PREFIX}:{pass_idx}:{op}:{phase}", op)
        self._enter(f"queries.{phase}")
        try:
            yield
        finally:
            self._exit()


def _exchanges(plan: dict) -> int:
    name = plan.get("nodeName", "")
    own = int(name.endswith("Exchange") and not name.startswith("Reused"))
    return own + sum(_exchanges(c) for c in plan.get("children", ()))


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def parse_event_log(path: str) -> dict[int, dict[str, float]]:
    """Spark job-layer figures per traced pass, from one event log.

    Only jobs whose job group starts with ``perfbench:`` count, so the
    untraced passes that share the application are left out.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    plans: dict[str, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                # a stage belongs to the first job that lists it; later
                # jobs that reuse its shuffle output skip it
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
                props = ev.get("Properties") or {}
                parts = (props.get("spark.jobGroup.id") or "").split(":")
                if len(parts) != 4 or parts[0] != GROUP_PREFIX:
                    continue
                jobs[jid] = {
                    "pass": int(parts[1]),
                    "phase": parts[3],
                    "layer": props.get(LAYER_PROP) or "",
                    "exec": props.get("spark.sql.execution.id"),
                    "start": ev["Submission Time"],
                    "end": None,
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tasks[ev["Stage ID"]].append(ev)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                plans[str(ev["executionId"])] = ev["sparkPlanInfo"]

    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    intervals: dict[int, list] = defaultdict(list)
    execs: dict[int, set] = defaultdict(set)
    for jid, j in jobs.items():
        m = out[j["pass"]]
        m["spark.jobs"] += 1
        m[f"queries.{j['phase']}_jobs"] += 1
        if j["layer"] and not j["layer"].startswith("queries."):
            m[f"{j['layer']}.jobs"] += 1
        intervals[j["pass"]].append((j["start"], j["end"] or j["start"]))
        if j["exec"] is not None:
            execs[j["pass"]].add(j["exec"])
    skew: dict[int, float] = defaultdict(lambda: 1.0)
    for sid, evs in tasks.items():
        jid = stage_job.get(sid)
        if jid not in jobs:
            continue
        p = jobs[jid]["pass"]
        m = out[p]
        m["spark.stages"] += 1
        run_ms = []
        for ev in evs:
            m["spark.tasks"] += 1
            if ev["Task Info"].get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
                m["spark.failed_tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            if not tm:
                continue
            run_ms.append(tm["Executor Run Time"])
            m["spark.executor_run_s"] += tm["Executor Run Time"] / 1e3
            m["spark.executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
            m["spark.gc_s"] += tm["JVM GC Time"] / 1e3
            m["spark.input_mb"] += tm["Input Metrics"]["Bytes Read"] / 2**20
            sr = tm["Shuffle Read Metrics"]
            m["spark.shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / 2**20
            m["spark.shuffle_write_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
            m["spark.spill_mb"] += (tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]) / 2**20
        if len(run_ms) > 1:
            med = statistics.median(run_ms)
            skew[p] = max(skew[p], max(run_ms) / med if med > 0 else 1.0)
    for p, m in out.items():
        m["spark.job_s"] = _union_s(intervals[p])
        m["spark.task_skew"] = skew[p]
        m["plan.exchanges"] = sum(_exchanges(plans[e]) for e in execs[p] if e in plans)
    return {p: dict(m) for p, m in out.items()}
